"""Structured Streaming tests: file-source replay of the events table,
windowed aggregation vs batch equivalence, late-data drop, streaming
dedup, session windows vs batch sessionization, stateful spells, and
topic demux."""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from sanctum_spark.io import load_table
from sanctum_spark.streaming import sources as SRC
from sanctum_spark.streaming import stateful as ST
from sanctum_spark.streaming import windows as WIN
from sanctum_spark.streaming.routing import demux_foreach_batch
from sanctum_spark.spells.registry import Spell
from tools.verify_local import confs


@pytest.fixture()
def tmpdir_factory_local(tmp_path):
    return tmp_path


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("evstream"))
    SRC.stage_event_stream(spark, sf_dir, d, n_files=4)
    return d


def _drain(stream_df, name, mode="append", checkpoint=None):
    q = SRC.run_to_memory(stream_df, name, output_mode=mode, checkpoint=checkpoint)
    return q


def test_file_stream_replays_all_events(spark, sf_dir, staged):
    stream = SRC.events_file_stream(spark, staged)
    name = f"replay_{uuid.uuid4().hex[:8]}"
    _drain(stream, name)
    got = spark.table(name).count()
    want = load_table(spark, sf_dir, "events").count()
    assert got == want


def test_tumbling_window_matches_batch(spark, sf_dir, staged):
    stream = SRC.events_file_stream(spark, staged)
    agg = WIN.tumbling_window_agg(stream, "1 hour", "1 hour")
    name = f"tumble_{uuid.uuid4().hex[:8]}"
    _drain(agg, name, mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table(name).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in (
            ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("win.start").alias("window_start"), "event_type", "n", "total_value")
        ).collect()
    }
    assert got == want


def test_late_data_dropped(spark, tmp_path):
    """A watermark must drop events arriving after it passed: the first
    file carries day-30 data (watermark → day 30 - 1h); once a batch has
    committed that watermark, a replayed day-1 event must NOT create a
    window.  Uses a live trigger: availableNow's back-to-back batches have
    a one-batch watermark lag, so the drop guarantee is only observable in
    steady-state streaming."""
    d = str(tmp_path / "late")
    ev = load_table(spark, os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001"), "events")
    recent = ev.orderBy(F.col("ts_ns").desc()).limit(100)
    late_one = ev.orderBy(F.col("ts_ns").asc()).limit(1)
    recent.coalesce(1).write.parquet(d)

    stream = SRC.events_file_stream(spark, d, max_files_per_trigger=1)
    agg = WIN.tumbling_window_agg(stream, "1 hour", "1 hour")
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # wait until a committed batch carries the advanced watermark
        def wm_advanced():
            p = q.lastProgress
            return p and p["eventTime"].get("watermark", "1970").startswith("2024")

        for _ in range(60):
            if wm_advanced():
                break
            time.sleep(0.5)
        assert wm_advanced(), "watermark never advanced"

        late_one.coalesce(1).write.mode("append").parquet(d)

        def late_processed():
            return any(
                p["stateOperators"]
                and p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) > 0
                for p in q.recentProgress
            )

        for _ in range(60):
            if late_processed():
                break
            time.sleep(0.5)
        assert late_processed(), "late row was never seen/dropped by the operator"
    finally:
        q.stop()
        q.awaitTermination()

    out = spark.table(name)
    late_ts = late_one.first()["ts"]
    hit = out.filter(
        (F.col("window_start") <= late_ts) & (F.col("window_end") > late_ts)
    ).count()
    assert hit == 0, "late event beyond the watermark must be dropped"
    assert out.count() > 0


def test_streaming_dedup(spark, sf_dir, tmp_path):
    """The same file staged twice: exact streaming dedup on event_id must
    collapse the replay to the distinct set (the durable-log at-least-once
    delivery case)."""
    d = str(tmp_path / "dup")
    ev = load_table(spark, sf_dir, "events").limit(200)
    ev.coalesce(1).write.parquet(d)
    time.sleep(1.1)
    ev.coalesce(1).write.mode("append").parquet(d)

    stream = SRC.events_file_stream(spark, d, max_files_per_trigger=1)
    deduped = WIN.streaming_dedup(stream, ["event_id"])
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _drain(deduped, name, checkpoint=str(tmp_path / "ckpt2"))
    assert spark.table(name).count() == 200


def test_session_window_matches_batch_sessionize(spark, sf_dir, staged):
    """Streaming session windows (30-min gap) must produce the same
    per-user session-size multisets as the batch q62 sessionization."""
    stream = SRC.events_file_stream(spark, staged)
    sess = WIN.session_window_agg(stream, gap="30 minutes", watermark="10 minutes")
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _drain(sess, name, mode="complete")
    got = sorted(
        (r["user_id"], r["n_events"]) for r in spark.table(name).collect()
    )
    from sanctum_spark.queries.events_q import q62

    want = sorted((r["user_id"], r["n_events"]) for r in q62(spark, sf_dir).collect())
    assert got == want


def test_stateful_counter_spell(spark, sf_dir, staged, tmp_path):
    """Per-key durable state across micro-batches: the final emitted state
    per (user_id, event_type) equals the batch groupBy."""
    stream = SRC.events_file_stream(spark, staged).select(
        "user_id", "event_type", "value"
    )
    spell = ST.counter_spell()
    out = ST.apply_stateful_spell(stream, spell, ["user_id", "event_type"])
    name = f"state_{uuid.uuid4().hex[:8]}"
    _drain(out, name, mode="update", checkpoint=str(tmp_path / "ckpt3"))
    # update mode emits one row per key per micro-batch; the final value
    # per key is the max n (counts are monotone)
    emitted = spark.table(name)
    final = (
        emitted.groupBy("user_id", "event_type")
        .agg(F.max("n").alias("n"))
        .collect()
    )
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(final) == len(want)
    for r in final:
        assert want[(r["user_id"], r["event_type"])] == r["n"]


def test_topic_demux(spark, sf_dir, staged):
    """One stream fanned to three spell subscriptions (two topic-routed,
    one predicate-routed) — counts must match batch filters."""
    stream = SRC.events_file_stream(spark, staged, max_files_per_trigger=2)
    received: dict[str, int] = {}

    def sink(name, df, batch_id):
        received[name] = received.get(name, 0) + df.count()

    subs = [
        (Spell(name="clicks", cast=lambda e: e, topic="click"), None, sink),
        (Spell(name="purchases", cast=lambda e: e, topic="purchase"), None, sink),
        (Spell(name="bigvals", cast=lambda e: e), "value > 150", sink),
    ]
    q = (
        stream.writeStream.foreachBatch(demux_foreach_batch(subs))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ev = load_table(spark, sf_dir, "events")
    assert received["clicks"] == ev.filter("event_type = 'click'").count()
    assert received["purchases"] == ev.filter("event_type = 'purchase'").count()
    assert received["bigvals"] == ev.filter("value > 150").count()


def test_kv_store_range_query(spark, sf_dir, staged, tmp_path):
    """Reference roadmap (README.md:110): range queries over durable spell
    state — 'SELECT * FROM state WHERE v > 10 AND v < 20'.  The final
    per-key state must also count every user's events exactly as the
    batch groupBy does, across all micro-batches."""
    stream = SRC.events_file_stream(spark, staged).select("user_id", "value")
    out = ST.apply_stateful_spell(stream, ST.kv_store_spell(), ["user_id"])
    name = f"kv_{uuid.uuid4().hex[:8]}"
    _drain(out, name, mode="update", checkpoint=str(tmp_path / "ckpt_kv"))
    snapshot = spark.table(name)
    ev = load_table(spark, sf_dir, "events")
    final = snapshot.groupBy("user_id").agg(F.max("n").alias("n")).collect()
    assert {r["user_id"]: r["n"] for r in final} == {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    ranged = ST.range_query_state(snapshot, "v_avg > 45 AND v_avg < 55")
    got = {r["user_id"]: r["n"] for r in ranged.collect()}

    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("v_avg"))
        .filter("v_avg > 45 AND v_avg < 55")
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_rate_source_event_stream(spark):
    """Synthetic rate-source events: same envelope as the events table,
    usable as a soak/throughput source."""
    stream = SRC.rate_stream(spark, rows_per_second=500)
    assert [f.name for f in stream.schema.fields] == [
        "event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props",
    ]
    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(processingTime="500 milliseconds").start()
    )
    try:
        for _ in range(40):
            if spark.table(name).count() > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.table(name).collect()
    assert len(rows) > 0
    for r in rows[:10]:
        assert r["event_type"] in {"click", "view", "purchase", "signup", "error"}
        assert r["ts_ns"] == int(r["ts"].timestamp() * 1_000_000) * 1000


def test_streaming_rollup_partials_merge_to_batch(spark, sf_dir, staged):
    """Lambda-architecture rollup: hour-grain mergeable partials computed
    ON THE STREAM (complete mode), then merged to the day grain in batch —
    must equal the daily rollup computed directly from the raw table.
    Proves the partial-aggregate schema is stream/batch portable."""
    from sanctum_spark.operators import rollup as R

    stream = SRC.events_file_stream(spark, staged)
    partials = R.partial_rollup(stream, "ts", "hour", ["event_type"], "value")
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    _drain(partials, name, mode="complete")

    daily_from_stream = R.merge_rollup(spark.table(name), "day", ["event_type"])
    daily_direct = R.partial_rollup(
        load_table(spark, sf_dir, "events"), "ts", "day", ["event_type"], "value"
    )
    got = {(r["bucket"], r["event_type"]): r for r in daily_from_stream.collect()}
    want = {(r["bucket"], r["event_type"]): r for r in daily_direct.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n"] == want[k]["n"]
        assert abs(got[k]["sum_value"] - want[k]["sum_value"]) < 1e-6
        assert got[k]["min_value"] == want[k]["min_value"]
        assert got[k]["max_value"] == want[k]["max_value"]


def test_streaming_partial_rollup_append_merges_to_batch(spark, sf_dir, staged):
    """Watermarked append-mode partials: every FINALIZED bucket must equal
    the batch partial exactly, and days whose hour-buckets all finalized
    must merge to the batch daily rollup — the stream/backfill join point.
    (availableNow carries a one-batch watermark lag, so the tail bucket
    legitimately stays open; completeness is asserted up to that lag.)"""
    from sanctum_spark.operators import rollup as R

    stream = SRC.events_file_stream(spark, staged)
    partials = WIN.streaming_partial_rollup(stream, "1 hour", "1 hour")
    name = f"srollup_{uuid.uuid4().hex[:8]}"
    _drain(partials, name, mode="append")

    got_hourly = {
        (r["bucket"], r["event_type"]): r for r in spark.table(name).collect()
    }
    assert got_hourly, "append mode emitted nothing"
    want_hourly = {
        (r["bucket"], r["event_type"]): r
        for r in R.partial_rollup(
            load_table(spark, sf_dir, "events"), "ts", "hour", ["event_type"], "value"
        ).collect()
    }
    # (a) every emitted (finalized) bucket is exactly the batch partial
    for k, g in got_hourly.items():
        w = want_hourly[k]
        assert g["n"] == w["n"] and g["min_value"] == w["min_value"]
        assert abs(g["sum_value"] - w["sum_value"]) < 1e-6
    # (b) only the watermark-lag tail may be missing
    missing = set(want_hourly) - set(got_hourly)
    newest_finalized = max(b for b, _ in got_hourly)
    assert all(b > newest_finalized for b, _ in missing), (
        "a bucket OLDER than a finalized one was never emitted"
    )
    # (c) fully-finalized days merge to the batch daily rollup
    from collections import Counter

    want_hours_per_day = Counter(b.date() for b, _ in want_hourly)
    got_hours_per_day = Counter(b.date() for b, _ in got_hourly)
    full_days = {d for d, c in want_hours_per_day.items() if got_hours_per_day[d] == c}
    assert full_days, "no fully-finalized day to compare"
    daily_stream = {
        (r["bucket"], r["event_type"]): r
        for r in R.merge_rollup(spark.table(name), "day", ["event_type"]).collect()
        if r["bucket"].date() in full_days
    }
    daily_batch = {
        (r["bucket"], r["event_type"]): r
        for r in R.partial_rollup(
            load_table(spark, sf_dir, "events"), "ts", "day", ["event_type"], "value"
        ).collect()
        if r["bucket"].date() in full_days
    }
    assert set(daily_stream) == set(daily_batch)
    for k in daily_batch:
        assert daily_stream[k]["n"] == daily_batch[k]["n"]
        assert abs(daily_stream[k]["sum_value"] - daily_batch[k]["sum_value"]) < 1e-6


def test_streaming_ewma_matches_batch_fold(spark, sf_dir, staged, tmp_path):
    """The stateful streaming EWMA (unbounded-history recurrence in
    per-key state) converges to exactly the q135 batch fold when batches
    arrive time-ordered."""
    from sanctum_spark.queries.pipeline4_q import q135

    stream = SRC.events_file_stream(spark, staged).select(
        "user_id", "ts", "event_id", "value"
    )
    out = ST.apply_stateful_spell(stream, ST.ewma_spell(), ["user_id"])
    name = f"ewma_{uuid.uuid4().hex[:8]}"
    _drain(out, name, mode="update", checkpoint=str(tmp_path / "ckpt_ewma"))
    emitted = spark.table(name)
    # update mode: last emission per key carries the final state
    final = {
        r["user_id"]: (round(r["ewma"] + 1e-9, 6), r["n"])
        for r in emitted.groupBy("user_id")
        .agg(F.max(F.struct("n", "ewma")).alias("s"))
        .select("user_id", "s.ewma", "s.n")
        .collect()
    }
    want = {
        r["user_id"]: (r["ewma"], r["n_events"])
        for r in q135(spark, sf_dir).collect()
    }
    assert final == want


def test_stateful_ewma_multi_chunk_ordering(spark, sf_dir, staged, tmp_path):
    """applyInPandasWithState splits a key's micro-batch into several
    arbitrary-order pandas chunks once it exceeds
    arrow.maxRecordsPerBatch.  An order-sensitive spell (order_by set)
    must still fold the WHOLE batch in (ts, event_id) order — per-chunk
    sorting is not enough.  Force tiny chunks and require the exact q135
    batch fold."""
    from sanctum_spark.queries.pipeline4_q import q135

    # every key's batch spans many chunks
    with confs(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
        stream = SRC.events_file_stream(spark, staged).select(
            "user_id", "ts", "event_id", "value"
        )
        out = ST.apply_stateful_spell(stream, ST.ewma_spell(), ["user_id"])
        name = f"ewma_chunks_{uuid.uuid4().hex[:8]}"
        _drain(out, name, mode="update", checkpoint=str(tmp_path / "ckpt_ewma_mc"))
        final = {
            r["user_id"]: (round(r["ewma"] + 1e-9, 6), r["n"])
            for r in spark.table(name)
            .groupBy("user_id")
            .agg(F.max(F.struct("n", "ewma")).alias("s"))
            .select("user_id", "s.ewma", "s.n")
            .collect()
        }
        want = {
            r["user_id"]: (r["ewma"], r["n_events"])
            for r in q135(spark, sf_dir).collect()
        }
        assert final == want


def test_windowed_psi_drift_matches_batch(spark, sf_dir, staged):
    """Streaming drift monitor: windowed bin counts from the stream +
    bin-grain PSI algebra must equal the same computation done directly
    in batch over the staged events (complete mode: availableNow's
    watermark lag must not drop tail windows from the count table)."""
    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table
    from sanctum_spark.streaming.windows import (
        psi_from_counts,
        windowed_bin_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    mn, mx = ev.agg(F.min("value"), F.max("value")).first()
    # baseline: whole-table smoothed shares over the same fixed bins
    width = (mx - mn) / 10.0
    b = ev.select(
        F.least(F.lit(9), F.floor((F.col("value") - mn) / width))
        .cast("long")
        .alias("bin")
    )
    nt = b.count()
    baseline = (
        spark.range(10)
        .withColumnRenamed("id", "bin")
        .join(b.groupBy("bin").agg(F.count(F.lit(1)).alias("n")), "bin", "left")
        .fillna(0, ["n"])
        .select("bin", ((F.col("n") + 1.0) / (nt + 10.0)).alias("share"))
    )

    stream = SRC.events_file_stream(spark, staged)
    counts = windowed_bin_counts(stream, float(mn), float(mx), 10, "6 hours")
    name = f"psi_{uuid.uuid4().hex[:8]}"
    _drain(counts, name, mode="complete")
    got = {
        r["window_start"]: r["psi"]
        for r in psi_from_counts(spark.table(name), baseline).collect()
    }

    batch_counts = (
        ev.groupBy(
            F.window("ts", "6 hours").alias("win"),
            F.least(F.lit(9), F.floor((F.col("value") - mn) / width))
            .cast("long")
            .alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), "bin", "n")
    )
    want = {
        r["window_start"]: r["psi"]
        for r in psi_from_counts(batch_counts, baseline).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_cep_matches_batch_q152(spark, sf_dir, staged):
    """The streaming NFA must emit exactly the batch q152 match set over
    the replayed event log (completions appear in the micro-batch whose
    purchase closes them; state carries partial matches across batches)."""
    import sanctum_spark.queries as qreg
    from sanctum_spark.queries.pipeline6_q import CEP_WINDOW_NS
    from sanctum_spark.streaming.cep import streaming_cep_pattern

    qreg.load_all_modules()
    stream = SRC.events_file_stream(spark, staged)
    matches = streaming_cep_pattern(stream, CEP_WINDOW_NS)
    name = f"cep_{uuid.uuid4().hex[:8]}"
    _drain(matches, name)
    got = {
        (r["user_id"], r["view_ts"], r["click_ts"], r["purchase_ts"])
        for r in spark.table(name).collect()
    }
    want = {
        (r["user_id"], r["view_ts"], r["click_ts"], r["purchase_ts"])
        for r in qreg.REGISTRY["q152_cep_pattern"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_windowed_bin_counts_clamps_out_of_range(spark):
    """Live values outside the historical baseline's [mn, mx) must land
    in the edge bins (visible drift), never in negative/overflow bins
    that would silently drop out of the PSI join."""
    from sanctum_spark.streaming.windows import windowed_bin_counts

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", -50.0), ("2024-01-01 00:00:01", 999.0)],
        ["ts", "value"],
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "value")
    rows = windowed_bin_counts(df, mn=0.0, mx=100.0, n_bins=10).collect()
    bins = sorted(r["bin"] for r in rows)
    assert bins == [0, 9]


def test_streaming_cep_equal_timestamp_ties(spark, tmp_path):
    """A click sharing ts_ns with a view (higher event_id) IS 'following'
    in row order — both the batch window form and the streaming NFA must
    match it; same for a click/purchase tie. Crafted log:
      u1: view(t=100,id=1) click(t=100,id=2) purchase(t=150,id=3) -> match
      u2: click(t=100,id=1) view(t=100,id=2) purchase(t=150,id=3) -> none
          (the click PRECEDES the view in row order)
      u3: view(t=100,id=1) click(t=120,id=2) purchase(t=120,id=3) -> match
    """
    import glob
    import os

    from pyspark.sql import functions as F

    from sanctum_spark.streaming.cep import streaming_cep_pattern

    rows = [
        (1, 100, 1, "view"), (1, 100, 2, "click"), (1, 150, 3, "purchase"),
        (2, 100, 1, "click"), (2, 100, 2, "view"), (2, 150, 3, "purchase"),
        (3, 100, 1, "view"), (3, 120, 2, "click"), (3, 120, 3, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts_ns", "event_id", "event_type"]
    )
    d = str(tmp_path / "tie_log")
    df.coalesce(1).write.parquet(d)

    # batch form: same suffix-min construction as q152 on this tiny log
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    b = df.withColumn(
        "np",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_ns"))).over(w),
    )
    b2 = b.withColumn(
        "nc",
        F.min(F.when(F.col("event_type") == "click", F.col("ts_ns"))).over(w),
    ).withColumn(
        "ncp",
        F.min(F.when(F.col("event_type") == "click", F.col("np"))).over(w),
    )
    deadline = F.col("ts_ns") + F.lit(1000)
    batch = {
        (r["user_id"], r["ts_ns"], r["nc"], r["ncp"])
        for r in b2.filter(
            (F.col("event_type") == "view")
            & F.col("nc").isNotNull()
            & F.col("ncp").isNotNull()
            & (F.col("nc") <= deadline)
            & (F.col("ncp") <= deadline)
        ).collect()
    }
    assert batch == {(1, 100, 100, 150), (3, 100, 120, 120)}

    stream = (
        spark.readStream.schema(df.schema).parquet(d)
    )
    matches = streaming_cep_pattern(stream, 1000)
    name = f"tie_{uuid.uuid4().hex[:8]}"
    _drain(matches, name)
    got = {
        (r["user_id"], r["view_ts"], r["click_ts"], r["purchase_ts"])
        for r in spark.table(name).collect()
    }
    assert got == batch


def test_expression_spell_streams_equal_batch(spark, sf_dir, staged):
    """The zero-Python expression tier is pure Catalyst filter+project,
    so the SAME ExpressionSpell applies unchanged to a streaming
    DataFrame — pin that the streamed result equals the batch result
    (the new tier must not be batch-only)."""
    from sanctum_spark.queries.spells_q import BOOST_EXPR_SPELL
    from sanctum_spark.spells import apply_expression_spell

    stream = SRC.events_file_stream(spark, staged)
    out = apply_expression_spell(stream, BOOST_EXPR_SPELL, "event_type")
    assert out.isStreaming
    name = f"exprspell_{uuid.uuid4().hex[:8]}"
    _drain(out, name)
    got = sorted(tuple(r) for r in spark.table(name).collect())

    ev = load_table(spark, sf_dir, "events")
    want = sorted(
        tuple(r)
        for r in apply_expression_spell(ev, BOOST_EXPR_SPELL, "event_type")
        .collect()
    )
    assert got == want and len(got) > 0


_CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_checkpoint_manager_is_filesystem_based(spark, sf_dir, tmp_path):
    """Streaming checkpoints go through the FileSystem-based manager (no
    forked readlink per file: see sanctum_spark/session.py), and it
    writes, by name, the files Spark's FileContext default writes: the
    ``commits/.N.crc`` sidecars included, which
    test_eventdump.py::test_reshard_hands_off_after_sink_logged_uncommitted_batch
    deletes by name, and no ``.tmp`` left behind."""
    pkg = spark._jvm.org.apache.spark.sql.execution.streaming.checkpointing
    made = pkg.CheckpointFileManager.create(
        spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "probe")),
        spark._jsparkSession.sessionState().newHadoopConf())
    assert (made.getClass().getName()
            == _CKPT_PKG + "FileSystemBasedCheckpointFileManager")

    stage = SRC.stage_event_stream(spark, sf_dir, str(tmp_path / "stage"),
                                   n_files=2)
    trees = []
    for leg, mapping in (
        ("default", {}),
        ("filecontext",
         {"spark.sql.streaming.checkpointFileManagerClass":
          _CKPT_PKG + "FileContextBasedCheckpointFileManager"}),
    ):
        ck = tmp_path / leg
        with confs(spark, mapping):
            _drain(WIN.tumbling_window_agg(SRC.events_file_stream(spark, stage)),
                   f"ckmgr_{leg}_{uuid.uuid4().hex[:8]}", checkpoint=str(ck))
        trees.append(sorted(str(p.relative_to(ck)) for p in ck.rglob("*")
                            if p.is_file()))
    assert trees[0] == trees[1]
    assert {"commits/1", "commits/.1.crc", "offsets/.1.crc"} <= set(trees[0])
    assert any(f.startswith("state/") and f.endswith(".delta")
               for f in trees[0])
    assert not [f for f in trees[0] if f.endswith(".tmp")]
