"""tools/verify_local.py's result file write, without Spark."""

from __future__ import annotations

import json

from tools.verify_local import write_results


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
