"""Plan-quality regression tests: the physical plans that make the
100 TB story true, asserted so a refactor can't silently lose them."""

from __future__ import annotations

import pytest

import sanctum_spark.queries as qreg
from conftest import broadcast_threshold

qreg.load_all_modules()


def plan_of(spark, sf_dir, name: str) -> str:
    df = qreg.REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_and_columns_pruned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7 of 11 lineitem columns read — projection reaches the scan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_q03_broadcast_joins_and_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q03_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_q05_dims_all_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q05_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 5


def test_q52_global_topk_no_full_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q52_sort_limit")
    assert "TakeOrderedAndProject" in plan
    # no global Sort node — losers never shuffle
    assert "Exchange rangepartitioning" not in plan


def test_q06_scan_only_needed_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q06_revenue_filter")
    assert "PushedFilters" in plan
    read = plan.split("ReadSchema")[1]
    for col in ["l_orderkey", "l_partkey", "l_returnflag"]:
        assert col not in read[:400]


def test_q10_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q10_semi_join")
    assert "LeftSemi" in plan


def test_q73_query_vector_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q73_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_q63_merge_asof_has_no_join(spark, sf_dir):
    """The merge-scan as-of is a union + one window — any Join node means
    the zero-fan-out property regressed to the pre-rank join shape."""
    plan = plan_of(spark, sf_dir, "q63_asof_join")
    assert "Join" not in plan
    assert "Union" in plan
    assert "Window" in plan
    # exactly one data shuffle: the per-user window partitioning
    assert plan.count("Exchange hashpartitioning") == 1


def test_q93_sampling_is_scan_side(spark, sf_dir):
    """Deterministic stratified sampling must stay a pure scan+filter —
    no Exchange, no aggregation, nothing wider than a projection."""
    plan = plan_of(spark, sf_dir, "q93_stratified_sample")
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_q96_higher_order_stays_jvm(spark, sf_dir):
    """Array fold/filter/transform/exists compile to JVM expressions: no
    Python runner nodes, no shuffle."""
    plan = plan_of(spark, sf_dir, "q96_array_higher_order")
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
    assert "Exchange" not in plan


def test_q92_dedup_single_shuffle_no_joinback(spark, sf_dir):
    """struct-min exact dedup: one hash aggregation over the digest, no
    join back to the corpus."""
    plan = plan_of(spark, sf_dir, "q92_corpus_clean")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q79_pair_join_payload_is_slim(spark, sf_dir):
    """The quadratic band join must ship only (band, id); vectors join
    back to candidates afterwards. The signature-bearing scan feeds a
    projection whose join output carries no array columns."""
    df = qreg.REGISTRY["q79_embedding_neardup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # vectors appear in the plan only below the candidate join (join-back);
    # the self-join keys are the slim band struct fields
    assert "SortMergeJoin" in plan or "Join" in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    import contextlib
    import io

    df = qreg.REGISTRY["q01_pricing_summary"].fn(spark, sf_dir)
    df.collect()  # AQE: codegen subtrees exist only in the final plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    out = buf.getvalue()
    # "Found N WholeStageCodegen subtrees" with N >= 2 (scan+partial agg,
    # final agg) — the whole pipeline stays inside generated code
    assert "WholeStageCodegen subtrees" in out
    n = int(out.split("Found ")[1].split(" ")[0])
    assert n >= 2


def test_q35_top20_is_take_ordered(spark, sf_dir):
    """The returned-revenue top-20 must be TakeOrderedAndProject, not a
    single-partition row_number window funnel over every customer."""
    plan = plan_of(spark, sf_dir, "q35_returned_revenue")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q100_rollup_is_two_level_partial_agg(spark, sf_dir):
    """Both rollup levels must keep map-side partial aggregation, and the
    raw events table must be scanned exactly once (coarser grains
    re-aggregate partials, never raw rows)."""
    plan = plan_of(spark, sf_dir, "q100_hypertable_rollup")
    assert plan.count("HashAggregate") >= 4  # partial+final at both grains
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_q101_vocab_topk_is_take_ordered_jvm_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q101_vocab_bigrams")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q104_broadcasts_benchmark_no_corpus_shuffle_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q104_decontamination")
    # benchmark shingle set must reach the corpus as a broadcast, never a
    # SortMergeJoin (which would shuffle every corpus shingle)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q105_repetition_is_shuffle_free(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q105_repetition_filter")
    assert "Exchange" not in plan  # per-row metrics: scan+project only


def test_q106_tfidf_broadcasts_stats_no_driver_collect(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q106_tfidf_terms")
    # df table and the single-row corpus count both reach the tf rows as
    # broadcasts; the only SortMergeJoin-free plan shuffles are the tf
    # aggregate and the per-doc ranking window
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q107_regr_single_aggregate_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q107_regression_aggs")
    # regr_* family reduces to moment partials: one shuffle, map-side agg
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan


def test_q108_packing_block_offsets_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q108_sequence_packing")
    # the tiny block-offset table joins back as a broadcast; the corpus
    # never reaches a single-partition global window
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q109_cooccurrence_topk_no_full_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q109_cooccurrence")
    assert "TakeOrderedAndProject" in plan


def test_q110_chunking_is_shuffle_free(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q110_context_chunks")
    assert "Exchange" not in plan  # pure map over the scan


def test_q111_upsert_latest_is_aggregate_not_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q111_cdc_upsert")
    # latest-per-key via struct-max: combinable aggregate, no window sort
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_q113_lateral_decorrelates_to_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q113_lateral_topk")
    # Catalyst turns the correlated LATERAL LIMIT into partial+final
    # WindowGroupLimit — bounded shuffle, no per-customer execution
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_q116_percentile_table_broadcast_back(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q116_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q117_sample_uses_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q117_group_sample")
    # hash-ordered per-group top-k: partial WindowGroupLimit bounds the
    # shuffle to k rows per group per task
    assert "WindowGroupLimit" in plan


def test_q118_minmax_broadcast_back(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q118_histogram")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q126_weighted_sample_is_scan_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q126_weighted_sample")
    # pure scan-side filter: no shuffle, no join — the keep/drop decision
    # never moves a row
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_q127_domain_mix_counts_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q127_domain_mix")
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "SortMergeJoin" not in plan


def test_q128_zorder_key_takeordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q128_zorder_key")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q130_binned_range_join_is_hash_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q130_binned_range_join")
    # the whole point: a keyless interval join that does NOT nested-loop
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_zorder_by_no_single_partition_exchange(spark, sf_dir):
    """zorder_by's default (approx-quantile) path must never plan the
    global-window shape: no Window operator, no Exchange
    SinglePartition — the only Exchange is the layout's own range
    repartition.  The rank normalization is a broadcast bounds literal
    searched scan-side."""
    from pyspark.sql import functions as F

    from sanctum_spark.operators.layout import zorder_by

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            "o_orderkey",
            "o_custkey",
            F.datediff("o_orderdate", F.lit("1992-01-01")).alias("d"),
        )
    )
    z = zorder_by(orders, ["o_custkey", "d"], n_partitions=8)
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") == 1  # the range repartition only
    assert "rangepartitioning" in plan


def test_bucketed_checkpoint_join_no_label_exchange(spark):
    """connected_components(checkpoint_table=...) persists edges and
    per-round labels as co-bucketed tables: round >=2's label join must
    be a sort-merge join over two bucketed scans with NO Exchange on
    either input — the only Exchange left is the groupBy(dst) above it."""
    from pyspark.sql import functions as F

    from sanctum_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    try:
        with broadcast_threshold(spark, "-1"):
            cc = connected_components(pairs, checkpoint_table="ccpin", n_buckets=4)
            got = {r["id"]: r["component"] for r in cc.collect()}
            assert got == {
                1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20
            }
            # rebuild the per-round join exactly as the operator issues it:
            # bucketed edges x bucketed labels (cc IS the last labels table)
            sym = spark.table("ccpin_edges")
            j = (
                sym.join(cc, sym.src == cc.id)
                .groupBy("dst")
                .agg(F.min("component").alias("nbr_min"))
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert plan.count("Exchange") == 1, plan  # groupBy only; inputs bucketed
            assert "Bucketed: true" in plan
    finally:
        for t in ("ccpin_edges", "ccpin_labels_a", "ccpin_labels_b", "ccpin_labels_c"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_checkpoint_jump_path(spark):
    """jump=True + checkpoint_table (r13 ADVICE item 4): the mid-round
    pointer-jumping cut must rotate through the SAME bucketed ping-pong
    tables (three of them, so a round never overwrites what it reads) —
    never an executor-memory localCheckpoint — and the combination must
    converge on a path graph whose diameter exceeds plain max_iter.
    Threshold -1 keeps this small graph off the driver-side path, so the
    round loop and its ping-pong tables run."""
    from sanctum_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "id_a long, id_b long"
    )
    try:
        with broadcast_threshold(spark, "-1"):
            cc = connected_components(
                edges, max_iter=8, jump=True, checkpoint_table="ccjump",
                n_buckets=4,
            )
            got = {r["id"]: r["component"] for r in cc.collect()}
        assert got == {i: 0 for i in range(26)}
        # all three ping-pong tables were used (per round: one jump cut
        # + one round-end write), proving the jump cut went through the
        # bucketed rotation, not localCheckpoint
        tables = {
            t.name for t in spark.catalog.listTables() if t.name.startswith("ccjump")
        }
        assert {"ccjump_labels_a", "ccjump_labels_b", "ccjump_labels_c"} <= tables
    finally:
        for t in (
            "ccjump_edges",
            "ccjump_labels_a",
            "ccjump_labels_b",
            "ccjump_labels_c",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_q140_single_exchange(spark, sf_dir):
    """Sessionization + sequence build: lag window, session-id running
    sum and the per-session aggregation all share the user_id hash
    partitioning — exactly ONE Exchange in the whole plan (HashPartitioning
    on user_id satisfies the (user_id, session_id) aggregate's clustering)."""
    plan = plan_of(spark, sf_dir, "q140_session_sequences")
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan


def test_q142_no_cartesian_and_broadcast_sizes(spark, sf_dir):
    """Cross-source overlap: the shingle self-join must be a hash join
    (never nested-loop/cartesian) and the source-size join-back a
    broadcast."""
    from sanctum_spark.queries.corpus_q import _q142_build

    out, srcs_all = _q142_build(spark, sf_dir)
    out.count()  # materialize the cache so InMemoryTableScan appears
    plan = out._jdf.queryExecution().executedPlan().toString()
    srcs_all.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # single corpus pass: both consumers (sizes + pair expansion) read the
    # persisted vocabulary-grain source-set table, not the corpus again
    assert plan.count("InMemoryTableScan") >= 2


def test_q144_two_exchanges_no_joins(spark, sf_dir):
    """Segment dedup: explode -> window at segment grain -> doc-grain
    aggregate is exactly two Exchanges (segment hash, then doc_id hash),
    with no join anywhere — first-occurrence detection is a rank, not a
    join-back."""
    plan = plan_of(spark, sf_dir, "q144_segment_dedup")
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_q145_one_exchange_no_joins(spark, sf_dir):
    """MAD outliers (r14 form): both exact percentiles are window
    aggregates over the same event_type partitioning and the final
    groupBy reuses it — ONE shuffle of (event_type, value), zero joins,
    zero extra scans (the r13 form scanned events three times and
    broadcast each percentile table back)."""
    plan = plan_of(spark, sf_dir, "q145_mad_outliers")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan


def test_q146_centroids_broadcast(spark, sf_dir):
    """Embedding cluster profile: the (label, dim) centroid table joins
    the exploded member table as a broadcast hash join (labels*dim rows,
    tiny at any corpus size); no sort-merge join, no cartesian."""
    plan = plan_of(spark, sf_dir, "q146_embedding_clusters")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q147_candidates_broadcast_semi(spark, sf_dir):
    """Two-pass heavy hitters: the candidate filter on the exact-count
    pass must be a broadcast LEFT-SEMI hash join at the scan side —
    the long-tail vocabulary never reaches the wide shuffle.  Pinned on
    the pre-checkpoint plan (the registered query checkpoints its small
    result, which truncates the visible lineage)."""
    import pyspark.sql.functions as F

    from sanctum_spark.io import load_table
    from sanctum_spark.queries.corpus_q import u16_spark

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        u16_spark().alias("u"),
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    )
    cand = (
        tok.filter(F.col("u") < 16384)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 1)
        .select("token")
    )
    out = (
        tok.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan


def test_q148_range_frame_daily_grain_exchanges(spark, sf_dir):
    """Trailing range frame: exactly two Exchanges and BOTH at daily
    grain — the first ships map-side-combined partial sums (partial_sum
    precedes it in the plan), the second re-keys the finished daily rows
    to user_id for the window.  (A single-Exchange variant exists —
    repartition(user_id) before the rollup — but it ships RAW events;
    two daily-grain exchanges are strictly cheaper at scale.)"""
    plan = plan_of(spark, sf_dir, "q148_trailing_range_frame")
    assert plan.count("Exchange") == 2, plan
    assert "SinglePartition" not in plan
    # map-side combine runs before the first exchange
    assert plan.index("partial_sum") > plan.index("Exchange"), (
        "partial aggregation must be upstream (later in toString) of "
        "the first Exchange"
    )


def test_q149_stacked_windows_one_exchange(spark, sf_dir):
    """SCD2 intervals: the change-detection lag window and the interval-
    closing lead window both run on the user_id partitioning — one
    Exchange total."""
    plan = plan_of(spark, sf_dir, "q149_scd2_intervals")
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan


def test_q150_q151_no_wide_joins(spark, sf_dir):
    """Drift/independence stats: every join is a broadcast (the 1-row
    min/max stats, the 2x10 grid, the contingency-grain totals) — never
    a sort-merge join or cartesian over corpus rows; the only
    corpus-grain stages are the map-side-combined counts."""
    for name in ("q150_psi_drift", "q151_chi2_independence"):
        plan = plan_of(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_q152_cep_join_free_single_exchange(spark, sf_dir):
    """CEP pattern instances: the NFA collapses to two stacked suffix-min
    windows on one user_id partitioning — no Join node anywhere, exactly
    one Exchange."""
    plan = plan_of(spark, sf_dir, "q152_cep_pattern")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan


def test_q155_reservoir_uses_group_limit(spark, sf_dir):
    """A-ES weighted reservoir: the per-language top-10-by-key must be a
    WindowGroupLimit (losers pruned map-side before the shuffle), never a
    full per-group sort of the corpus."""
    plan = plan_of(spark, sf_dir, "q155_weighted_reservoir")
    assert "WindowGroupLimit" in plan, plan


def test_q161_er_blocked_equi_join(spark, sf_dir):
    """Entity resolution must candidate-pair via an EQUI join on the
    (brand, kind) block key — a BroadcastNestedLoopJoin or cartesian on
    the record table means blocking regressed to all-pairs Levenshtein.
    Inspect the pre-clustering stage: connected_components' eager
    checkpoint truncates the registered query's plan."""
    from sanctum_spark.operators.linkage import blocked_candidate_pairs
    from sanctum_spark.queries.relational import _q161_records

    pairs = blocked_candidate_pairs(
        _q161_records(spark, sf_dir),
        "id",
        block_cols=["brand", "kind"],
        fuzzy_col="name",
        max_dist=1,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan.lower()
    # the block key must be the join's equi keys (hash/sort-merge join
    # keyed on brand+kind), keeping the fuzzy predicate in-block only
    assert "Join" in plan, plan


def test_q162_bm25_topk_plan(spark, sf_dir):
    """BM25 must (a) tokenize the corpus exactly ONCE (one Generate
    explode in the whole build — the lazy two-branch form re-ran it),
    (b) cut the token stream to the query terms before the (doc, term)
    shuffle (the Filter with the term literals sits BETWEEN the first
    Exchange and the Generate in the printed tree — parents print above
    children), and (c) take the final top-k via TakeOrderedAndProject,
    never a global Sort.  Inspect the pre-checkpoint build: the
    registered fn's eager checkpoint truncates the executed plan."""
    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table
    from sanctum_spark.operators.retrieval import _bm25_build
    from sanctum_spark.queries.corpus_q import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored, tf = _bm25_build(
        docs, BM25_TERMS, "text", "doc_id", BM25_K1, BM25_B, 6
    )
    try:
        topk = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOPK)
        plan = topk._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan
        # the tokenize/explode must live ONLY inside the persisted tf
        # subtree (InMemoryRelation = evaluated once, even though plan
        # printing repeats the cached subtree under every table scan)
        imr = plan.find("InMemoryRelation")
        gen = plan.find("Generate explode")
        assert imr != -1 and gen != -1 and imr < gen, (imr, gen, plan)
        assert plan.count("InMemoryTableScan") >= 2, plan  # both branches reuse it
        # term filter sits between the (doc,term) Exchange and the
        # explode: scan-side, before any shuffle
        sub = plan[imr:]
        ex = sub.find("Exchange hashpartitioning(doc_id")
        filt = sub.find("Filter term")
        gen2 = sub.find("Generate explode")
        assert ex != -1 and filt != -1 and gen2 != -1, plan
        assert ex < filt < gen2, (ex, filt, gen2, plan)
        assert "spark" in sub[filt:gen2], sub[filt:gen2]
    finally:
        tf.unpersist()


def test_curation_pipeline_plan_shapes(spark, sf_dir):
    """The fused curation chain's scale-critical plan shapes (r11):
    the benchmark's distinct-shingle side of decontamination and the
    pack stage's block-offset table join as BROADCASTs, while every
    SortMergeJoin in the plan is a LEFT ANTI drop-list application —
    the scale-CORRECT shape, because at 100 TB the near-dup loser list
    and the contaminated-id list are corpus-sized (web corpora dedup
    away 30-50%), so broadcasting them would be the error this pin
    guards against in both directions."""
    import re

    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table
    from sanctum_spark.operators.curation import curate_and_pack

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    # The near-dup stage's connected_components runs while the chain is
    # built.  Threshold -1 there sends it down its round path, whose
    # checkpointed labels carry no size bound — the corpus-sized loser
    # list this pin is about.  (This fixture's graph is small, so by
    # default its labels would be an exact-size local frame, which is
    # rightly broadcast.)  The plan itself is made under the session's
    # threshold at collect().
    with broadcast_threshold(spark, "-1"):
        df = curate_and_pack(corpus, bench)
    # Execute df's OWN QueryExecution — df.count() would run a derived
    # aggregate Dataset and leave this executedPlan pre-AQE (initial shape),
    # so the assertions below would never see a runtime join-strategy flip.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "AdaptiveSparkPlan" in plan:
        assert "isFinalPlan=true" in plan
    # broadcast sides: bench shingles (decontaminate, x2 plan branches)
    # + pack block offsets
    assert plan.count("BroadcastHashJoin") >= 2
    smj_lines = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert smj_lines, "anti-joins should exist"
    assert all("LeftAnti" in ln for ln in smj_lines), smj_lines
    # Text placement in the shuffles (corrected in r12 — the r11 form of
    # this pin scanned whole Exchange LINES for "text#", which on the
    # initial plan only ever contained the partitioning expressions, so
    # it asserted less than its comment claimed; the AQE-final plan
    # prints output schemas on ReusedExchange lines and exposed the
    # full picture):
    # 1. text is NEVER a partitioning KEY — shuffling ON content would
    #    be the unambiguous scale error;
    for ln in plan.splitlines():
        for m in re.finditer(r"hashpartitioning\(([^)]*)\)", ln):
            assert "text#" not in m.group(1), ln
    # 2. the corpus rows DO cross exchanges carrying text — that is the
    #    honest cost of non-broadcastable LeftAnti drops (the drop lists
    #    are corpus-sized at 100 TB, so the corpus side must co-locate
    #    by doc_id) — but any such exchange the final plan exposes must
    #    BE that doc_id co-location (never a second content shuffle on
    #    some other key), and when AQE shares it between the two drops
    #    it shows up as a ReusedExchange rather than a repeated one.
    for ln in plan.splitlines():
        if "ReusedExchange" in ln and "text#" in ln:
            assert re.search(r"hashpartitioning\(doc_id#\d+", ln), ln
