"""Empty-input robustness: an empty ingest day (all tables present,
zero rows) is routine at production scale and must not abort a
pipeline.  The full-registry sweep is ``tools/sweep.py empty`` over the
``empty`` fixture in tools/fixtures.py (156/159 cross-engine clean
after the fixes below); this file keeps the fast regression core,
checked by the same rule
(``tools/verify_local.py``'s ``check_query`` and ``oracle_con``):

- the ANN family (q78/q79/q94/q119) returns an EMPTY result instead of
  crashing on `.first()[0]` dim/query-vector inference;
- q160's dup rate is NULL via try_divide instead of an ANSI
  DIVIDE_BY_ZERO;
- a cross-family sample stays driver-equal to its oracle on empty
  input;
- the ONE documented divergence: rollup/cube/grouping-sets' ()
  grouping set — the SQL standard emits a grand-total row (COUNT 0) on
  an empty table, DuckDB does, Spark emits zero rows (q30/q31/q32
  docstrings).
"""

from __future__ import annotations

import pytest

import sanctum_spark.queries as qreg
from conftest import SF_DIR
from tools.fixtures import materialize
from tools.verify_local import check_query, oracle_con

qreg.load_all_modules()


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    return materialize("empty", SF_DIR,
                       str(tmp_path_factory.mktemp("sf_empty")))


def test_ann_family_returns_empty(spark, empty_sf):
    """The four `.first()`-parameterized ANN queries must yield an empty
    result on an empty corpus, never a NoneType crash."""
    for name in ("q78_ann_lsh_topk", "q79_embedding_neardup",
                 "q94_ann_ivf", "q119_pq_ann"):
        out = qreg.REGISTRY[name].fn(spark, empty_sf).toPandas()
        assert len(out) == 0, name


def test_sample_families_match_oracle_on_empty(spark, empty_sf):
    """A cross-family sample (agg, as-of join, jaccard, CDC, sessions,
    range frame, keeper, datasheet) stays driver-equal on empty input —
    q160 exercising the try_divide NULL dup rate."""
    sample = [
        "q01_pricing_summary", "q63_asof_join", "q91_ngram_jaccard",
        "q111_cdc_upsert", "q140_session_sequences",
        "q148_trailing_range_frame", "q158_quality_keeper",
        "q160_corpus_datasheet",
    ]
    con = oracle_con(empty_sf)
    for name in sample:
        q = qreg.REGISTRY[name]
        rec, _ = check_query(spark, empty_sf, q.fn, q.oracle, con)
        assert rec["err"] is None, f"{name}: {rec['err']}"


def test_rollup_grand_total_divergence_documented(spark, empty_sf):
    """The documented exception: on an empty table DuckDB's ROLLUP emits
    the standard () grand-total row (COUNT 0) while Spark's rollup emits
    none.  Pin BOTH behaviors so a silent change on either side is
    caught."""
    q = qreg.REGISTRY["q30_rollup"]
    got = q.fn(spark, empty_sf).toPandas()
    with oracle_con(empty_sf) as con:
        want = con.sql(q.oracle).df()
    assert len(got) == 0
    assert len(want) == 1 and str(want.iloc[0]["n"]) == "0"


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
