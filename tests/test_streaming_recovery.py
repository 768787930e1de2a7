"""Checkpoint restart/recovery: exactly-once across two query runs.

A production stream does not run once over all its input — it stops
(deploy, failure, rescale) and resumes from the checkpoint, with the
state store carrying partial per-key state across runs.  This pins the
full recovery contract on the hardest operator (the CEP NFA, whose
partial matches span micro-batches): the event log is staged as eight
files, the first four are processed by one availableNow run into a
parquet sink, the query is stopped, the remaining four files appear,
and a SECOND run with the same checkpoint + sink must (a) process only
the new files (file-source offset tracking), (b) restore NFA state for
in-flight matches that straddle the stop, and (c) append without
duplicating run-1 output — the final match set must equal the batch
q152 answer exactly.
"""

from __future__ import annotations

import os
import shutil

from sanctum_spark.streaming import sources as SRC


def _drain_to_parquet(stream_df, out_dir, checkpoint):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_cep_restart_recovers_state_exactly_once(spark, sf_dir, tmp_path):
    import sanctum_spark.queries as qreg
    from sanctum_spark.queries.pipeline6_q import CEP_WINDOW_NS
    from sanctum_spark.streaming.cep import streaming_cep_pattern

    qreg.load_all_modules()

    full = str(tmp_path / "staged_full")
    SRC.stage_event_stream(spark, sf_dir, full, n_files=8)
    parts = sorted(
        f for f in os.listdir(full)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) == 8

    live = str(tmp_path / "live")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(live)

    # run 1: only the first half of the log exists
    for f in parts[:4]:
        shutil.copy2(os.path.join(full, f), os.path.join(live, f))
    _drain_to_parquet(
        streaming_cep_pattern(SRC.events_file_stream(spark, live), CEP_WINDOW_NS),
        out, ck,
    )
    run1 = spark.read.parquet(out).count()

    # the rest of the log arrives; resume from the same checkpoint
    for f in parts[4:]:
        shutil.copy2(os.path.join(full, f), os.path.join(live, f))
    _drain_to_parquet(
        streaming_cep_pattern(SRC.events_file_stream(spark, live), CEP_WINDOW_NS),
        out, ck,
    )

    got = {
        (r["user_id"], r["view_ts"], r["click_ts"], r["purchase_ts"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["user_id"], r["view_ts"], r["click_ts"], r["purchase_ts"])
        for r in qreg.REGISTRY["q152_cep_pattern"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    # run 2 must have added matches (state carried across the restart,
    # not a fresh start that reprocessed everything)
    assert run1 < len(got)


def test_filecontext_checkpoint_resumes_exactly_once(spark, sf_dir, tmp_path):
    """A checkpoint written by Spark's default FileContext manager (as
    every checkpoint was before the session switched to the FileSystem
    one) resumes under the session's manager.  Batch 0 of a streaming
    dedup runs under FileContext over 200 events; then a file replaying
    them beside 100 new ones arrives, and the resumed run must read only
    that file (offsets), drop the replayed 200 (dedup state) and append
    to the sink log: each of the 300 events lands exactly once."""
    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table
    from sanctum_spark.streaming.windows import streaming_dedup
    from tools.verify_local import confs

    ev = load_table(spark, sf_dir, "events")
    ids = [r["event_id"] for r in
           ev.select("event_id").orderBy("event_id").limit(300).collect()]
    assert len(ids) == 300
    live, out, ck = (str(tmp_path / d) for d in ("live", "out", "ck"))

    def drain():
        return _drain_to_parquet(
            streaming_dedup(SRC.events_file_stream(spark, live), ["event_id"]),
            out, ck,
        )

    ev.filter(F.col("event_id") <= ids[199]).coalesce(1).write.parquet(live)
    filecontext = ("org.apache.spark.sql.execution.streaming.checkpointing."
                   "FileContextBasedCheckpointFileManager")
    with confs(spark, {"spark.sql.streaming.checkpointFileManagerClass":
                       filecontext}):
        drain()
    assert spark.read.parquet(out).count() == 200

    ev.filter(F.col("event_id") <= ids[299]).coalesce(1) \
        .write.mode("append").parquet(live)
    q = drain()
    assert [p["batchId"] for p in q.recentProgress] == [1]
    assert q.recentProgress[0]["numInputRows"] == 300
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == ids
