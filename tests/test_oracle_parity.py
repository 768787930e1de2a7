"""Mirror of the driver's correctness gate: every registered query runs on
Spark AND its DuckDB oracle at sf0.001 through the gate's own per-query
check, ``tools/verify_local.py``'s ``check_query``: ``canon`` +
``str_equal`` (columns sorted by name, rows by stringified value,
stringified frames equal; the driver hash-compares the same way at
sf0.01), failing with ``mismatch``'s diff or the exception."""

from __future__ import annotations

import pytest

from sanctum_spark import queries as qreg
from tools.verify_local import check_query, oracle_con

qreg.load_all_modules()
ORACLE_QUERIES = sorted(n for n, q in qreg.REGISTRY.items() if q.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    q = qreg.REGISTRY[name]
    with oracle_con(sf_dir) as con:
        rec, _ = check_query(spark, sf_dir, q.fn, q.oracle, con)
    assert rec["err"] is None, f"{name}: {rec['err']}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def test_registry_consistency():
    names = set(qreg.queries().keys())
    oracle_names = set(qreg.oracle_sql().keys())
    assert oracle_names <= names


def test_rotation_invariants():
    """The driver verifies the FIRST 50 registry entries; the rotation
    (VERIFY_FIRST) must stay exactly 50 unique registered names leading
    queries(), and the registry stays frozen at 159 (r6 verdict): the
    names themselves are pinned by their fingerprint, so a query lost or
    renamed in a module move fails here."""
    from bench import _registry_sha

    vf = qreg.VERIFY_FIRST
    assert len(vf) == 50 and len(set(vf)) == 50
    ordered = list(qreg.queries())
    assert len(ordered) == 159
    assert ordered[:50] == vf
    assert _registry_sha(qreg.REGISTRY) == "93d4e2606995"


def test_no_duplicate_column_names(spark, sf_dir):
    """The driver sorts columns by name before hashing — duplicate names
    would silently corrupt the compare for every query."""
    for name, q in sorted(qreg.REGISTRY.items()):
        cols = q.fn(spark, sf_dir).columns
        assert len(set(cols)) == len(cols), (name, cols)
