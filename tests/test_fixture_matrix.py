"""The crafted-fixture matrix: every query re-planned since r13
(``sanctum_spark.queries.REPLANNED``) over each crafted input in
``tools/fixtures.py``, compared with its oracle by the gate's rule
(``tools/verify_local.py``'s ``check_query``).

A cell runs only where the fixture can move the result: the query's
oracle SQL, or for a rows-only query (no oracle: it must not crash)
its source, names a table the fixture changes; any other cell would
repeat test_oracle_parity on unchanged tables.  A source that names no
table at all counts as reading every table.  Cells in a fixture's
documented divergences (``Fixture.diverges``) are strict xfails whose
reason names the test that pins the divergence.
"""

from __future__ import annotations

import inspect
import os
import re

import pyarrow.parquet as pq
import pytest

import sanctum_spark.queries as qreg
from sanctum_spark.io import TABLES
from tools.fixtures import CRAFTED, FIXTURES, materialize
from tools.verify_local import check_query, oracle_con

qreg.load_all_modules()


def _reads(name: str) -> set[str]:
    q = qreg.REGISTRY[name]
    text = q.oracle or inspect.getsource(q.fn)
    return {t for t in TABLES if re.search(rf"\b{t}\b", text)} or set(TABLES)


def _cells():
    for fixture in CRAFTED:
        fx = FIXTURES[fixture]
        for name in qreg.REPLANNED:
            if _reads(name).isdisjoint(fx.tables):
                continue
            marks = ([pytest.mark.xfail(strict=True, reason=fx.why)]
                     if name in fx.diverges else [])
            yield pytest.param(fixture, name, marks=marks,
                               id=f"{fixture}-{name}")


@pytest.fixture(scope="module")
def built(tmp_path_factory, sf_dir):
    """``built(fixture)`` -> (table dir, oracle connection), each fixture
    materialized on first use."""
    cache = {}

    def get(fixture):
        if fixture not in cache:
            d = materialize(fixture, sf_dir,
                            str(tmp_path_factory.mktemp(fixture)))
            cache[fixture] = (d, oracle_con(d))
        return cache[fixture]

    yield get
    for _, con in cache.values():
        con.close()


@pytest.mark.parametrize("fixture,name", list(_cells()))
def test_replanned_query_on_fixture(spark, built, fixture, name):
    sf, con = built(fixture)
    q = qreg.REGISTRY[name]
    rec, _ = check_query(spark, sf, q.fn, q.oracle, con)
    spark.catalog.clearCache()
    assert rec["err"] is None, f"{name} on {fixture}: {rec['err']}"


@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_builder_writes_declared_tables(tmp_path, sf_dir, fixture):
    """A builder writes exactly the tables it declares, each in its
    source schema, and two builds write equal tables."""
    fx = FIXTURES[fixture]
    builds = []
    for i in range(2):
        d = tmp_path / str(i)
        d.mkdir()
        fx.build(sf_dir, str(d))
        assert sorted(os.listdir(d)) == sorted(f"{t}.parquet"
                                               for t in fx.tables)
        builds.append({t: pq.read_table(d / f"{t}.parquet")
                       for t in fx.tables})
    for t, tbl in builds[0].items():
        want = pq.read_schema(f"{sf_dir}/{t}.parquet").remove_metadata()
        assert tbl.schema.remove_metadata().equals(want), (t, tbl.schema)
        # repr: NaN vectors (embeddings) are equal rows, not equal floats
        assert repr(tbl.to_pylist()) == repr(builds[1][t].to_pylist()), t
    assert set(fx.tables) <= set(TABLES) and fx.diverges <= set(qreg.REGISTRY)
