"""Delivery-perturbation invariance for the streaming operators.

The streaming-equals-batch pins in test_streaming.py replay the event
log as 4 time-ordered, internally-sorted micro-batches.  A real ingest
differs in exactly two ways a cluster cannot control: how many
micro-batches the same data spans (trigger pacing / file arrival), and
the row order INSIDE each micro-batch (rows land from many source
partitions in no particular order).  Final results must depend on
neither.  Here the same events replay as EIGHT micro-batches whose rows
are hash-permuted within each file (event-time ranges across files stay
disjoint, as a durable log guarantees), and every stateful family must
still reproduce the batch answer exactly:

- tumbling window aggregation (commutative agg — order-free by algebra);
- session windows (gap merging across perturbed arrival);
- stateful EWMA (order-SENSITIVE fold: the spell's ``order_by`` must
  re-sort the whole batch, not trust arrival order);
- CEP NFA (order-sensitive pattern matching with cross-batch state).
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

import sanctum_spark.queries as qreg
from sanctum_spark.io import load_table
from sanctum_spark.streaming import sources as SRC
from sanctum_spark.streaming import stateful as ST
from sanctum_spark.streaming import windows as WIN

qreg.load_all_modules()


@pytest.fixture(scope="module")
def staged_perturbed(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("evstream_perturbed"))
    SRC.stage_event_stream(spark, sf_dir, d, n_files=8, shuffle_within=True)
    return d


def _drain(stream_df, name, mode="append", checkpoint=None):
    return SRC.run_to_memory(
        stream_df, name, output_mode=mode, checkpoint=checkpoint
    )


def test_perturbed_tumbling_window_matches_batch(spark, sf_dir, staged_perturbed):
    stream = SRC.events_file_stream(spark, staged_perturbed)
    agg = WIN.tumbling_window_agg(stream, "1 hour", "1 hour")
    name = f"tumble_p_{uuid.uuid4().hex[:8]}"
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
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.col("win.start").alias("window_start"), "event_type", "n", "total_value"
            )
        ).collect()
    }
    assert got == want


def test_perturbed_session_window_matches_batch(spark, sf_dir, staged_perturbed):
    stream = SRC.events_file_stream(spark, staged_perturbed)
    sess = WIN.session_window_agg(stream, gap="30 minutes", watermark="10 minutes")
    name = f"sess_p_{uuid.uuid4().hex[:8]}"
    _drain(sess, name, mode="complete")
    got = sorted(
        (r["user_id"], r["n_events"]) for r in spark.table(name).collect()
    )
    q62 = qreg.REGISTRY["q62_sessionize"].fn

    want = sorted((r["user_id"], r["n_events"]) for r in q62(spark, sf_dir).collect())
    assert got == want


def test_perturbed_stateful_ewma_matches_batch(spark, sf_dir, staged_perturbed, tmp_path):
    q135 = qreg.REGISTRY["q135_ewma"].fn

    stream = SRC.events_file_stream(spark, staged_perturbed).select(
        "user_id", "ts", "event_id", "value"
    )
    out = ST.apply_stateful_spell(stream, ST.ewma_spell(), ["user_id"])
    name = f"ewma_p_{uuid.uuid4().hex[:8]}"
    _drain(out, name, mode="update", checkpoint=str(tmp_path / "ckpt_ewma_p"))
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


def test_perturbed_cep_matches_batch(spark, sf_dir, staged_perturbed):
    from sanctum_spark.queries.events_q import CEP_WINDOW_NS
    from sanctum_spark.streaming.cep import streaming_cep_pattern

    stream = SRC.events_file_stream(spark, staged_perturbed)
    matches = streaming_cep_pattern(stream, CEP_WINDOW_NS)
    name = f"cep_p_{uuid.uuid4().hex[:8]}"
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
