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

The queries live in five family modules, one per set of tables read
(the oracle SQL, or for a rows-only query its source): the spell-runtime
queries in ``spells_q``; any other query in ``vectors_q`` if it reads
``embeddings``, else in ``corpus_q`` if it reads ``documents``, else in
``events_q`` if it reads ``events``, else in ``relational`` (the star
tables).  ``util`` holds the cross-engine rounding pins they share.
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
        events_q,
        corpus_q,
        vectors_q,
        spells_q,
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
