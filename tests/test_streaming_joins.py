"""Streaming join tests: stream-static enrichment and the stream-stream
interval join checked against the batch CEP query (q86)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

import sanctum_spark.queries as qreg
from sanctum_spark.io import load_table
from sanctum_spark.streaming import joins as SJ
from sanctum_spark.streaming import sources as SRC

qreg.load_all_modules()


def test_stream_static_enrichment(spark, sf_dir, tmp_path):
    stage = str(tmp_path / "stage")
    SRC.stage_event_stream(spark, sf_dir, stage, n_files=3)
    stream = SRC.events_file_stream(spark, stage)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = SJ.enrich_with_dimension(stream, cust, on="user_id")
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    SRC.run_to_memory(enriched, name)
    out = spark.table(name)
    ev = load_table(spark, sf_dir, "events")
    assert out.count() == ev.count()
    # every user 0..14 exists in customer → no null segments
    assert out.filter(F.col("c_mktsegment").isNull()).count() == 0


def test_stream_stream_interval_join_matches_batch_cep(spark, sf_dir, tmp_path):
    stage = str(tmp_path / "stage2")
    SRC.stage_event_stream(spark, sf_dir, stage, n_files=3)
    clicks = SRC.events_file_stream(spark, stage).filter(F.col("event_type") == "click")
    purchases = SRC.events_file_stream(spark, stage).filter(
        F.col("event_type") == "purchase"
    )
    joined = SJ.stream_stream_interval_join(
        clicks, purchases, key="user_id", within="30 minutes", watermark="1 hour"
    )
    agg_ready = joined.select(
        F.col("user_id_l").alias("user_id"), F.col("event_id_l").alias("click_id")
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    SRC.run_to_memory(agg_ready, name, checkpoint=str(tmp_path / "ck"))
    got = {
        (r["user_id"], r["n_converting_clicks"])
        for r in spark.table(name)
        .groupBy("user_id")
        .agg(F.countDistinct("click_id").alias("n_converting_clicks"))
        .collect()
    }

    q86 = qreg.REGISTRY["q86_event_sequence"].fn

    want = {
        (r["user_id"], r["n_converting_clicks"]) for r in q86(spark, sf_dir).collect()
    }
    # the streaming join matches on µs-truncated ts; the batch oracle on
    # exact ns — identical unless a click/purchase pair sits within 1 µs
    # of the 30-min boundary, which the seeded data never does
    assert got == want


def test_stream_stream_left_outer_emits_non_converting_clicks(spark, sf_dir, tmp_path):
    """Left-outer interval join: non-converting clicks must surface as
    (click, null) rows once the watermark proves no purchase can arrive;
    matched rows must equal the inner join. The availableNow watermark lag
    means only the tail of the stream may still be buffered."""
    stage = str(tmp_path / "stage3")
    SRC.stage_event_stream(spark, sf_dir, stage, n_files=3)
    clicks = SRC.events_file_stream(spark, stage).filter(F.col("event_type") == "click")
    purchases = SRC.events_file_stream(spark, stage).filter(
        F.col("event_type") == "purchase"
    )
    joined = SJ.stream_stream_interval_join_outer(
        clicks, purchases, key="user_id", within="30 minutes", watermark="1 hour"
    )
    name = f"ssjo_{uuid.uuid4().hex[:8]}"
    SRC.run_to_memory(joined, name, checkpoint=str(tmp_path / "cko"))
    out = spark.table(name)
    nulls = out.filter(F.col("event_id_r").isNull())
    assert nulls.count() > 0, "no non-converting click was ever finalized"

    # ground truth from batch: click ids that DO convert within 30 min
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    converting = {
        r["event_id"]
        for r in c.join(
            p,
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") > F.col("c.ts"))
            & (
                F.col("p.ts")
                <= F.col("c.ts") + F.expr("INTERVAL 30 minutes")
            ),
        )
        .select(F.col("c.event_id").alias("event_id"))
        .distinct()
        .collect()
    }
    # every emitted null row is truly non-converting
    emitted_nulls = {r["event_id_l"] for r in nulls.collect()}
    assert emitted_nulls.isdisjoint(converting)
    # and every matched row is truly converting
    matched = {
        r["event_id_l"] for r in out.filter(F.col("event_id_r").isNotNull()).collect()
    }
    assert matched <= converting
