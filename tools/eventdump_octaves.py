"""Eventdump STREAMING-source throughput at octave scale (r10 verdict
task #7).

The ingest ladders (tools/streaming_octaves.py, SCALE.md) cover the
parquet file source; fuzz family M covers the eventdump source's
delivery + restart CORRECTNESS — but its throughput had never been
measured at octave scale.  This runner stages each octave's events
table as a log-rolled dump tree (fixed ~ROWS_PER_FILE rows per file, so
the FILE COUNT doubles per octave — the real producer shape: log rolls
at a size threshold) and measures:

- write_rows_per_sec — the distributed eventdump SINK (one file per
  task partition, pure-Python msgpack+base64 encode);
- drain med_sec / rows_per_sec — a multi-batch processingTime drain of
  the eventdump STREAM through a global count into a memory sink,
  stopped when the count reaches the staged row total (the fuzz family
  M protocol), interleaved A B A B per round so host drift cancels in
  the per-round ratio (the tools/perf.py protocol).

DRAIN PROTOCOL NOTE: the first r11 attempt used Trigger.AvailableNow +
noop, which silently consumed ONE read window (maxFilesPerTrigger
files) and measured identical 1.6M-row work at both octaves — a flat
0.95 "slope" that was an artifact.  Root cause: availableNow snapshots
"available" with one latestOffset call, and the simple-reader wrapper
maps each latestOffset to exactly one read() window (now pinned in
tests/test_eventdump.py and documented in eventdump_source.py).  The
processingTime protocol below drains the full backlog in
n_files/maxFilesPerTrigger micro-batches.

Scale context the numbers must be read against: the stream reader is a
``SimpleDataSourceStreamReader`` — Spark's simple Python-datasource
streaming API prefetches each micro-batch's rows ON THE DRIVER.  That
is the documented trade (exactly-once offsets without a partition
planner) and makes drain throughput a DRIVER-side pure-Python decode
rate, flat per octave by construction: the honest expectation is
~2x/doubling wall-clock with a roughly constant rows/s, and the 100 TB
path for bulk backfill is the BATCH reader (partition-parallel, one
partition per file) — the stream exists for tailing live dumps, not
for replaying 100 TB.

Usage:
    python tools/eventdump_octaves.py [rounds [dirA dirB ...]]
    python tools/eventdump_octaves.py --sharded [n_shards [dir [rounds]]]
Defaults: 3 rounds over .scalefix/sf3.2 and .scalefix/sf6.4.
Prints one JSON line.

``--sharded`` measures the r12 TAILING RECIPES against the single-stream
drain on one staged octave rung: (a) one stream (the serial driver
decoder), (b) n_shards concurrent shard streams (streaming/tailing.
start_sharded_tail — N independent driver-side Python runners over
CRC-disjoint file shards), (c) the batch-on-schedule DumpTailer
(partition-parallel batch reader over (after, upto] windows).  All three
drain through the same parquet sink shape, interleaved a/b/c per round so
host drift cancels in the ratios; every drain's delivered row count is
asserted == staged before its time is accepted.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS_PER_FILE = 100_000
MAX_FILES_PER_TRIGGER = 16


def _stage_dump(spark, src_dir: str, work: str, label: str) -> tuple[str, int, int]:
    """Stage one octave's events table as a log-rolled dump tree."""
    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table

    stage = os.path.join(work, f"dump_{label}")
    ev = (
        load_table(spark, src_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .withColumn("payload", F.lit(None).cast("binary"))
    )
    n = ev.count()
    n_files = max(1, math.ceil(n / ROWS_PER_FILE))
    ev.repartition(n_files).write.format("sanctum_eventdump").mode(
        "append"
    ).save(stage)
    print(f"# staged {label}: {n} rows, {n_files} files", file=sys.stderr)
    return stage, n, n_files


def sharded_main() -> None:
    n_shards = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    src = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        REPO_ROOT, ".scalefix", "sf3.2"
    )
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    if not os.path.isdir(src):
        sys.exit(f"missing fixture dir {src} (tools/gen_scale_fixtures.py)")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from sanctum_spark.eventdump_source import EventDumpDataSource
    from sanctum_spark.session import get_spark
    from sanctum_spark.streaming.tailing import DumpTailer, start_sharded_tail

    spark = get_spark("eventdump_sharded")
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(EventDumpDataSource)

    work = tempfile.mkdtemp(prefix="eventdump_sharded_")
    try:
        stage, target, n_files = _stage_dump(spark, src, work, "tail")

        def stream_drain(n: int) -> float:
            """n shard streams → parquet sinks; wall time to full delivery."""
            run = os.path.join(work, f"run_{uuid.uuid4().hex[:8]}")
            sink, ck = os.path.join(run, "sink"), os.path.join(run, "ck")
            qs = start_sharded_tail(
                spark, stage, n, sink, ck,
                max_files_per_trigger=MAX_FILES_PER_TRIGGER,
            )
            t0 = time.perf_counter()
            try:
                deadline = t0 + 3600
                shard_dirs = [os.path.join(sink, f"shard={i}") for i in range(n)]

                def delivered() -> int:
                    live = [d for d in shard_dirs if os.path.isdir(d)]
                    if not live:
                        return 0
                    try:
                        return spark.read.parquet(*live).count()
                    except Exception:
                        return 0

                while time.perf_counter() < deadline:
                    if delivered() >= target:
                        break
                    time.sleep(0.2)
                else:
                    raise AssertionError("sharded drain timed out")
                dt = time.perf_counter() - t0
                got = spark.read.parquet(*shard_dirs).count()
                assert got == target, (got, target)
            finally:
                for q in qs:
                    q.stop()
            shutil.rmtree(run, ignore_errors=True)
            return dt

        def tailer_drain() -> float:
            """DumpTailer batch-on-schedule: windows of the batch reader."""
            run = os.path.join(work, f"run_{uuid.uuid4().hex[:8]}")
            os.makedirs(run)
            sink = os.path.join(run, "sink")
            tailer = DumpTailer(
                stage, os.path.join(run, "offsets.json"),
                max_files_per_batch=MAX_FILES_PER_TRIGGER,
            )
            t0 = time.perf_counter()
            tailer.drain(
                spark,
                lambda df: df.write.mode("append").parquet(sink),
            )
            dt = time.perf_counter() - t0
            got = spark.read.parquet(sink).count()
            assert got == target, (got, target)
            shutil.rmtree(run, ignore_errors=True)
            return dt

        # warm codegen/page cache once per protocol
        stream_drain(1); stream_drain(n_shards); tailer_drain()
        singles, shards, tails = [], [], []
        for r in range(rounds):
            singles.append(stream_drain(1))
            shards.append(stream_drain(n_shards))
            tails.append(tailer_drain())
            print(
                f"# round {r}: single={singles[-1]:.1f}s "
                f"sharded[{n_shards}]={shards[-1]:.1f}s "
                f"tailer={tails[-1]:.1f}s",
                file=sys.stderr,
            )
        s1, sn, tb = map(statistics.median, (singles, shards, tails))
        print(json.dumps({
            "mode": "sharded",
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "src": src, "rows": target, "n_files": n_files,
            "n_shards": n_shards, "rounds": rounds,
            "single_stream": {"med_sec": round(s1, 2),
                              "rows_per_sec": int(target / s1)},
            "sharded_streams": {"med_sec": round(sn, 2),
                                "rows_per_sec": int(target / sn),
                                "speedup_vs_single": round(s1 / sn, 2)},
            "batch_tailer": {"med_sec": round(tb, 2),
                             "rows_per_sec": int(target / tb),
                             "speedup_vs_single": round(s1 / tb, 2)},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--sharded":
        return sharded_main()
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    dirs = sys.argv[2:] if len(sys.argv) > 2 else [
        os.path.join(REPO_ROOT, ".scalefix", "sf3.2"),
        os.path.join(REPO_ROOT, ".scalefix", "sf6.4"),
    ]
    for d in dirs:
        if not os.path.isdir(d):
            sys.exit(f"missing fixture dir {d} (tools/gen_scale_fixtures.py)")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from sanctum_spark.eventdump_source import EventDumpDataSource
    from sanctum_spark.io import load_table
    from sanctum_spark.session import get_spark

    spark = get_spark("eventdump_octaves")
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(EventDumpDataSource)

    work = tempfile.mkdtemp(prefix="eventdump_octaves_")
    labels: list[str] = []
    stages: dict[str, str] = {}
    n_rows: dict[str, int] = {}
    write_stats: dict[str, dict] = {}
    try:
        for d in dirs:
            label = os.path.basename(d.rstrip("/"))
            labels.append(label)
            stage = os.path.join(work, f"dump_{label}")
            ev = (
                load_table(spark, d, "events")
                .select("event_id", "user_id", "event_type", "value")
                .withColumn("payload", F.lit(None).cast("binary"))
            )
            n = ev.count()
            n_files = max(1, math.ceil(n / ROWS_PER_FILE))
            t0 = time.perf_counter()
            ev.repartition(n_files).write.format("sanctum_eventdump").mode(
                "append"
            ).save(stage)
            dt = time.perf_counter() - t0
            stages[label] = stage
            n_rows[label] = n
            write_stats[label] = {
                "n_files": n_files,
                "write_sec": round(dt, 2),
                "write_rows_per_sec": int(n / dt),
            }
            print(f"# staged {label}: {n} rows, {n_files} files, "
                  f"{dt:.1f}s", file=sys.stderr)

        def drain(label: str) -> float:
            name = f"edo_{uuid.uuid4().hex[:8]}"
            ck = os.path.join(work, f"ck_{name}")
            target = n_rows[label]
            q = (
                spark.readStream.format("sanctum_eventdump")
                .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
                .load(stages[label])
                .groupBy()
                .count()
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ck)
                .trigger(processingTime="200 milliseconds")
                .start()
            )
            t0 = time.perf_counter()
            try:
                deadline = t0 + 3600
                while time.perf_counter() < deadline:
                    rows = spark.table(name).collect()
                    if rows and rows[0][0] >= target:
                        break
                    time.sleep(0.2)
                else:
                    raise AssertionError(f"drain of {label} timed out")
                got = spark.table(name).collect()[0][0]
                assert got == target, (got, target)
                dt = time.perf_counter() - t0
            finally:
                q.stop()
            spark.catalog.dropTempView(name)
            shutil.rmtree(ck, ignore_errors=True)
            return dt

        for label in labels:  # warm page cache / codegen once per side
            drain(label)
        per_label: dict[str, list[float]] = {lb: [] for lb in labels}
        for r in range(rounds):
            for label in labels:  # interleaved ladder per round
                per_label[label].append(drain(label))
            print(f"# round {r}: " + " ".join(
                f"{lb}={per_label[lb][-1]:.1f}s" for lb in labels),
                file=sys.stderr)

        out: dict[str, object] = {
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "rounds": rounds,
            "rows": n_rows,
            "write": write_stats,
        }
        meds = []
        drain_res = {}
        for label in labels:
            med = statistics.median(per_label[label])
            meds.append(med)
            drain_res[label] = {
                "med_sec": round(med, 2),
                "rows_per_sec": int(n_rows[label] / med),
            }
        drain_res["slopes"] = [round(b / a, 2) for a, b in zip(meds, meds[1:])]
        out["drain"] = drain_res
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
