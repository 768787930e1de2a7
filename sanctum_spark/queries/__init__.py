"""Query registry backing ``__spark_entry__.py``.

Each registered query is a pair:
- a Spark callable ``(spark, sf_dir) -> DataFrame``
- an optional ANSI-SQL oracle string (DuckDB-runnable on the same parquet
  tables) — ``None`` for genuinely non-SQL-expressible operators, which the
  driver then checks rows-only.

Column-name discipline: the driver sorts columns by name and hash-compares
values, so every computed column is aliased identically in the Spark code
and the oracle SQL.  Float aggregates are rounded (2-6 dp) on BOTH sides so
summation-order differences between Spark partial aggregation and DuckDB
never flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a (spark_fn, oracle_sql) pair to the registry."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def load_all_modules() -> None:
    """Import every query module so registration side effects run."""
    from sanctum_spark.queries import (  # noqa: F401
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        events_q,
        llm_q,
        spells_q,
        ops_q,
        coverage_q,
        pipeline_q,
        pipeline2_q,
        pipeline3_q,
        pipeline4_q,
        pipeline5_q,
        pipeline6_q,
        pipeline7_q,
    )


# Driver-verification rotation.  The driver's correctness gate checks the
# FIRST 50 entries of ``queries()`` (observed: CORRECTNESS_r01–r06 each
# contain exactly the first 50 registry keys in insertion order).  With 159
# registered queries a fixed order would leave the tail permanently
# unverified, so each round the front slots rotate.
#
# STANDING POLICY (from the r6 verdict, task #1): OLDEST-FIRST.  Each round,
# fill the 50 slots with the queries whose most recent driver CORRECTNESS
# row is oldest; tie-break toward queries whose shared operators or oracle
# helpers changed since their last driver row.  The registry is frozen at
# 159 (r6 verdict task #6), so the rotation cycles the whole surface every
# ~3 rounds.
#
# Round 14 selection (r13 verdict task #3 orders this rotation
# explicitly: "seed the r14 front-50 with the 15 touched/replanned
# queries ... ahead of the 9 deferred r10-era rows, then the stalest
# remainder").  Census over CORRECTNESS_r01-r13 at round start:
# r10x9 (the rows the r13 rotation deferred), r11x50, r12x50, r13x50.
#   1. every query whose plan or code changed in the r13/r14
#      optimization rounds — the 15 the r13 verdict names (q85, q88,
#      q38, q74, q99, q109, q114, q122, q142, q147, q158, q81, q44,
#      q111, q161) plus the 8 further queries r14 itself touched
#      (q151 window rewrite, q119 probe removal, q90/q104/q75/q121
#      scan fan-outs, q79 candidate-dedup pin, q128 Morton fast path;
#      q99/q158/q161/q114 also carry the r14 CC/pagerank/linkage
#      operator changes) — externally-unverified rewrites lead,
#      with q145 (changed r16, last CORRECTNESS row r11) and q29
#      (re-planned r14, last CORRECTNESS row r12), which the standing
#      policy puts here too (``REPLANNED``);
#   2. the 9 rows deferred since r10 (now the staleness floor):
#      q70/q91 (bit-identity fuzz families A/G), q71/q72/q76/q92
#      (fused-pipeline equality, fuzz family O), q73 (numpy-replay
#      family D), q86 (stream-join-equals-batch-CEP pin), q89
#      (closed-form degenerate pins);
#   3. 16 of the 50 r11-era rows: q144/q146 first (their modules —
#      dedup.py, similarity.py — changed since their last driver row,
#      the standing tie-break), then name order.
# The FULL registry is still verified every round locally via
# ``tools/verify_local.py`` (driver-strength string compare since r6),
# so rotation never substitutes for whole-surface checking.

# Every query re-planned since r13 (section 1 of the rotation).  The
# rotation leads with them and tests/test_fixture_matrix.py runs each
# over every crafted fixture in tools/fixtures.py, so a later rewrite
# joins both by joining this list.
REPLANNED: list[str] = [
    "q85_grouped_map_normalize",
    "q88_user_correlation",
    "q38_excess_volume_suppliers",
    "q74_minhash_lsh_pairs",
    "q99_dedup_clusters",
    "q158_quality_keeper",
    "q161_entity_resolution",
    "q81_spell_loop",
    "q44_full_outer",
    "q111_cdc_upsert",
    "q142_cross_source_overlap",
    "q147_heavy_hitters",
    "q109_cooccurrence",
    "q114_textrank_keywords",
    "q122_lm_score",
    "q151_chi2_independence",
    "q119_pq_ann",
    "q90_multimodal_features",
    "q104_decontamination",
    "q79_embedding_neardup",
    "q128_zorder_key",
    "q75_simhash_pairs",
    "q121_cross_corpus_neardup",
    "q145_mad_outliers",
    "q29_min_cost_supplier",
]

VERIFY_FIRST: list[str] = [
    # --- 1. re-planned since r13 (externally unverified first) ---
    *REPLANNED,
    # --- 2. the r10 staleness floor (deferred twice, strongest
    #        independent in-suite evidence) ---
    "q70_exact_dedup",
    "q71_text_stats",
    "q72_lang_quality",
    "q73_cosine_topk",
    "q76_quality_profile",
    "q86_event_sequence",
    "q89_dispersion",
    "q91_ngram_jaccard",
    "q92_corpus_clean",
    # --- 3. stalest remainder (r11 cohort; q144/q146 by the
    #        changed-module tie-break, then name order) ---
    "q144_segment_dedup",
    "q146_embedding_clusters",
    "q112_cohort_retention",
    "q113_lateral_topk",
    "q116_winsorize",
    "q117_group_sample",
    "q118_histogram",
    "q124_train_shards",
    "q125_quality_classifier",
    "q126_weighted_sample",
    "q127_domain_mix",
    "q130_binned_range_join",
    "q132_column_stats",
    "q133_lateral_udtf",
    "q134_key_skew",
    "q135_ewma",
]


def _ordered() -> list[Query]:
    load_all_modules()
    front = [REGISTRY[n] for n in VERIFY_FIRST if n in REGISTRY]
    missing = [n for n in VERIFY_FIRST if n not in REGISTRY]
    if missing:
        raise KeyError(f"VERIFY_FIRST names not in registry: {missing}")
    rest = [q for q in REGISTRY.values() if q.name not in set(VERIFY_FIRST)]
    return front + rest


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}
