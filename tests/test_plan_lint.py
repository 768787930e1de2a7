"""Registry-wide physical-plan lint: the global scale invariants every
registered query must satisfy, enforced over ALL of them so a new query
(or a refactor of a shared operator) cannot quietly ship a
scale-hostile plan.  Complements test_plans.py's per-query shape pins.

Rules:
- ``CartesianProduct`` is forbidden everywhere (an unbounded cross of
  corpus-grain inputs can never be the right plan at 100 TB).
- Python-evaluation nodes are allowed ONLY for the queries whose whole
  point is a Python kernel (the spell/UDF coverage surface, Arrow
  numeric kernels with no SQL equivalent, the native-UDTF op); each
  whitelist entry names its justification.
- ``Scan ExistingRDD`` (driver-materialized input) is allowed only for
  eager localCheckpoints of bounded intermediates and tiny literal
  frames.
- ``BroadcastNestedLoopJoin`` is allowed only where the build side is a
  bounded-row statistic or literal (single-row totals, band tables);
  corpus×corpus BNLJ is a bug.
"""

from __future__ import annotations

import sanctum_spark.queries as qreg

qreg.load_all_modules()

# name -> justification; a query NOT listed here must not carry the node.
PYTHON_NODE_OK = {
    "q80_spell_cast": "row-path spell cast IS the operator under test (O5)",
    "q81_spell_loop": "feedback-loop spell (O7) runs per event in-task",
    "q82_spell_cast_vectorized": "vectorized spell path (Arrow mapInPandas)",
    "q84_spell_fanout_udtf": "1->N spell fanout (N:M events, SURVEY 2.2)",
    "q90_multimodal_features": "binary media decode has no SQL form (pure-Python codecs)",
    "q94_ann_ivf": "IVF assignment is a measured Arrow numpy kernel (beat the Catalyst variant)",
    "q129_bpe_vocab": "BPE tokenization is inherently iterative per word (Arrow kernel, memoized)",
    "q133_lateral_udtf": "native SQL UDTF coverage op - the Python table function IS the surface",
    "q143_compression_ratio": "no SQL zlib exists; Arrow scalar UDF over stdlib zlib",
    "q153_dtw_similarity": "banded DTW DP is iterative per series; Arrow kernel over key-grain rows",
}

EXISTING_RDD_OK = {
    "q41_except_union": "tiny literal frame (createDataFrame of constants)",
    "q88_user_correlation": "eager localCheckpoint of the bounded 4-column pair table (prevents double-eval of the pairing aggregate)",
    "q99_dedup_clusters": "iterative CC localCheckpoint (lineage cut, measured) when the corpus exceeds the broadcast threshold or its candidate cap; a corpus under both is clustered on the driver and comes back as a LocalTableScan",
    "q114_textrank_keywords": "power-iteration checkpoint batching (lineage cut)",
    "q142_cross_source_overlap": "eager localCheckpoint of the sources^2-bounded result to release the persisted source-set table",
    "q147_heavy_hitters": "eager localCheckpoint of the (heavy-token, cnt) result to release the persisted token table",
    "q150_psi_drift": "2-row period literal frame",
    "q158_quality_keeper": "near_duplicate_clusters as in q99: the CC localCheckpoint above the broadcast threshold or candidate cap, a LocalTableScan below",
    "q161_entity_resolution": "inherits connected_components' iterative localCheckpoint (same justification as q99)",
    "q162_bm25_topk": "eager localCheckpoint of the k-row top-k result to release the persisted tf table (q142 pattern)",
}

BNLJ_OK = {
    "q28_above_avg_no_orders": "single-row global-average build side",
    "q36_important_parts": "single-row threshold build side",
    "q73_cosine_topk": "broadcast single query vector (the intended plan, pinned in test_plans)",
    "q106_tfidf_terms": "single-row corpus doc-count build side",
    "q114_textrank_keywords": "single-row rank-mass/count scalars per iteration",
    "q115_fuzzy_vocab": "length-band blocked Levenshtein: band-range build side (bounded bands, not corpus)",
    "q122_lm_score": "single-row (total, vocab) smoothing constants",
    "q127_domain_mix": "single-row corpus-total build side for mix rates",
    "q139_active_users": "day-spine literal (31 rows) against daily actives",
    "q141_mix_entropy": "single-row corpus token total",
    "q150_psi_drift": "single-row min/max stats + 2x10 literal grid",
    "q151_chi2_independence": "single-row N scalar",
    "q154_benford_digits": "single-row digit-total scalar",
    "q162_bm25_topk": "single-row corpus stats (N, avgdl) build sides",
}

PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "PythonUDTF",
    "MapInArrow",
)


def test_registry_wide_plan_invariants(spark, sf_dir):
    violations: list[str] = []
    for name, q in qreg.REGISTRY.items():
        plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if any(n in plan for n in PY_NODES) and name not in PYTHON_NODE_OK:
            violations.append(f"{name}: unwhitelisted Python evaluation node")
        if "Scan ExistingRDD" in plan and name not in EXISTING_RDD_OK:
            violations.append(f"{name}: unwhitelisted driver-materialized scan")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            violations.append(f"{name}: unwhitelisted BroadcastNestedLoopJoin")
    assert not violations, "\n".join(violations)


def test_whitelists_reference_real_queries():
    for wl in (PYTHON_NODE_OK, EXISTING_RDD_OK, BNLJ_OK):
        stale = set(wl) - set(qreg.REGISTRY)
        assert not stale, f"whitelist entries for unregistered queries: {stale}"


def test_capture_plans_normalizes_session_counters(spark, sf_dir):
    """Two builds of one query in one session print plans that differ
    in session counters only (expression ids, lambda variable names):
    ``tools/capture_plans.normalize`` makes them equal.  q91's shingle
    lambdas carry both counters."""
    from tools.capture_plans import normalize

    fn = qreg.REGISTRY["q91_ngram_jaccard"].fn
    a, b = (fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
            for _ in range(2))
    assert a != b
    assert normalize(a) == normalize(b)
