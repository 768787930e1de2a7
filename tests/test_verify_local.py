"""tools/verify_local.py without Spark: the result file write and the
oracle compare every correctness check shares."""

from __future__ import annotations

import json
from types import SimpleNamespace

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tools.verify_local import (canon, check_query, oracle_con, str_equal,
                                write_results)


def _rec(rows):
    return {"err": None, "rows_match": True, "spark_rows": rows}


def test_partial_run_merges_into_existing_file(tmp_path):
    out = tmp_path / "verify_local_out_sf0.1_partial.json"
    write_results(str(out), {"q04": _rec(5), "q29": _rec(7)},
                  {"sf_dir": "a"}, partial=True)
    write_results(str(out), {"q29": _rec(8), "q88": _rec(1)},
                  {"sf_dir": "b"}, partial=True)
    got = json.loads(out.read_text())
    assert got == {
        "q04": _rec(5), "q29": _rec(8), "q88": _rec(1),
        "__meta__": {"sf_dir": "b"},
    }


def test_full_run_rewrites_file(tmp_path):
    out = tmp_path / "verify_local_out.json"
    out.write_text(json.dumps({"q04": _rec(5), "__meta__": {}}))
    write_results(str(out), {"q29": _rec(7)}, {"sf_dir": "c"}, partial=False)
    assert json.loads(out.read_text()) == {
        "q29": _rec(7), "__meta__": {"sf_dir": "c"},
    }


def _frame(**cols):
    return canon(pd.DataFrame(cols))


def test_str_equal_is_the_gate_rule():
    """Row and column order do not matter; value text, column names and
    the int/float and None/NaN spellings do (a dtype-lenient frame
    compare accepts the last two)."""
    assert str_equal(_frame(b=[2, 1], a=["y", "x"]), _frame(a=["x", "y"], b=[1, 2]))
    assert not str_equal(_frame(n=[600]), _frame(n=[600.0]))
    assert not str_equal(_frame(s=pd.Series([None], dtype=object)),
                         _frame(s=pd.Series([float("nan")], dtype=object)))
    assert not str_equal(_frame(a=[1]), _frame(b=[1]))


def test_oracle_con_views_only_present_tables(tmp_path):
    for t in ("region", "events"):
        pq.write_table(pa.table({"k": [1, 2]}), str(tmp_path / f"{t}.parquet"))
    with oracle_con(str(tmp_path)) as con:
        views = con.sql(
            "SELECT view_name FROM duckdb_views() WHERE NOT internal "
            "ORDER BY view_name").fetchall()
        assert views == [("events",), ("region",)]
        assert con.sql("SELECT count(*) FROM region").fetchone() == (2,)
        with pytest.raises(duckdb.CatalogException):
            con.sql("SELECT * FROM orders")


def test_check_query_records(tmp_path):
    """A Spark crash, an oracle error, a mismatch, a match and a
    rows-only query each leave their own record."""
    pq.write_table(pa.table({"n": [600]}), str(tmp_path / "region.parquet"))
    con = oracle_con(str(tmp_path))

    def check(n, oracle="SELECT n FROM region"):
        def fn(spark, sf_dir):  # stands in for a DataFrame builder
            if n is None:
                raise RuntimeError("boom")
            return SimpleNamespace(toPandas=lambda: pd.DataFrame({"n": n}))
        return check_query(None, str(tmp_path), fn, oracle, con)

    rec, got = check(None)
    assert got is None and "boom" in rec["err"]
    rec, got = check([600], "SELECT n FROM orders")
    assert got is not None and rec["hash_match"] is None and "orders" in rec["err"]
    rec, _ = check([600.0])
    assert rec["hash_match"] is False and "'600.0'" in rec["err"]
    assert check([600])[0] == {"rows_match": True, "schema_match": True,
                               "hash_match": True, "err": None,
                               "spark_rows": 1, "oracle_rows": 1}
    rec, _ = check([1, 2], None)
    assert rec["err"] is None and rec["hash_match"] is None and rec["spark_rows"] == 2
