"""Streaming ingest scaling measurement (r9): the SCALE.md ledger's
streaming row was the one family whose 100 TB shape was argued from plan
structure but never measured.  This runner stages each octave's events
table as a 4-file replayed stream (the durable-log delivery model,
intra-file order hash-permuted) and measures the availableNow drain wall
for the three stateful families:

- tumbling_window_agg  — watermarked windowed aggregation (JVM state);
- ewma stateful spell  — applyInPandasWithState (Python state, the
  worst-case per-event path);
- streaming CEP NFA    — applyInPandasWithState with pattern state.

Protocol: the interleaved shape of tools/perf.py, widened to N sides — all
octaves of one operator run inside each round back-to-back in one warm
session, so host drift multiplies every octave equally and per-round
ratios stay clean.  Staging cost is excluded (measured once, reported
separately); each drain gets a fresh memory sink + checkpoint.

Usage:
    python tools/streaming_octaves.py [rounds [dirA dirB ...]]
Defaults: 3 rounds over /root/testdata/sf0.1 plus .scalefix/sf{0.2,0.4,0.8}
(generate with tools/gen_scale_fixtures.py --octave4).
Prints one JSON line: {op: {sf_label: {"med_sec": s, "rows_per_sec": r},
..., "slopes": [r1, r2, ...]}}.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CEP_WINDOW_NS = 2 * 3600 * 1_000_000_000  # q152's deadline


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    dirs = sys.argv[2:] if len(sys.argv) > 2 else [
        "/root/testdata/sf0.1",
        os.path.join(REPO_ROOT, ".scalefix", "sf0.2"),
        os.path.join(REPO_ROOT, ".scalefix", "sf0.4"),
        os.path.join(REPO_ROOT, ".scalefix", "sf0.8"),
    ]
    for d in dirs:
        if not os.path.isdir(d):
            sys.exit(f"missing fixture dir {d} (gen_scale_fixtures.py --octave4)")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table
    from sanctum_spark.session import get_spark
    from sanctum_spark.streaming import sources as SRC
    from sanctum_spark.streaming import stateful as ST
    from sanctum_spark.streaming import windows as WIN
    from sanctum_spark.streaming.cep import streaming_cep_pattern

    spark = get_spark("streaming_octaves")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="stream_octaves_")
    labels, stages, n_rows, stage_secs = [], {}, {}, {}
    for d in dirs:
        label = os.path.basename(d.rstrip("/"))
        labels.append(label)
        stage = os.path.join(work, f"stage_{label}")
        t0 = time.perf_counter()
        SRC.stage_event_stream(spark, d, stage, n_files=4, shuffle_within=True)
        stage_secs[label] = round(time.perf_counter() - t0, 2)
        stages[label] = stage
        n_rows[label] = load_table(spark, d, "events").count()
    print(json.dumps({"rows": n_rows, "stage_secs": stage_secs,
                      "cpus": os.environ["SPARK_GRAFT_CPUS"],
                      "rounds": rounds}), file=sys.stderr)

    def drain_tumbling(label: str) -> float:
        name = f"so_tum_{uuid.uuid4().hex[:8]}"
        agg = WIN.tumbling_window_agg(
            SRC.events_file_stream(spark, stages[label]), "1 hour", "1 hour"
        )
        t0 = time.perf_counter()
        SRC.run_to_memory(agg, name, output_mode="complete")
        dt = time.perf_counter() - t0
        spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
        return dt

    def drain_ewma(label: str) -> float:
        name = f"so_ewma_{uuid.uuid4().hex[:8]}"
        ckpt = os.path.join(work, f"ckpt_{name}")
        out = ST.apply_stateful_spell(
            SRC.events_file_stream(spark, stages[label]).select(
                "user_id", "ts", "event_id", "value"
            ),
            ST.ewma_spell(), ["user_id"],
        )
        t0 = time.perf_counter()
        SRC.run_to_memory(out, name, output_mode="update", checkpoint=ckpt)
        dt = time.perf_counter() - t0
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
        return dt

    def drain_cep(label: str) -> float:
        name = f"so_cep_{uuid.uuid4().hex[:8]}"
        matches = streaming_cep_pattern(
            SRC.events_file_stream(spark, stages[label]), CEP_WINDOW_NS
        )
        t0 = time.perf_counter()
        SRC.run_to_memory(matches, name)
        dt = time.perf_counter() - t0
        spark.catalog.dropTempView(name) if spark.catalog.tableExists(name) else None
        return dt

    ops = {"tumbling": drain_tumbling, "ewma": drain_ewma, "cep": drain_cep}
    out: dict = {}
    for op, fn in ops.items():
        for label in labels:  # warm codegen / python workers once per octave
            fn(label)
        per_label: dict[str, list[float]] = {lb: [] for lb in labels}
        for _ in range(rounds):
            for label in labels:  # interleaved: one full octave ladder per round
                per_label[label].append(fn(label))
        res = {}
        meds = []
        for label in labels:
            med = statistics.median(per_label[label])
            meds.append(med)
            res[label] = {
                "med_sec": round(med, 2),
                "rows_per_sec": int(n_rows[label] / med),
            }
        res["slopes"] = [round(b / a, 2) for a, b in zip(meds, meds[1:])]
        out[op] = res
        print(f"# {op}: {res}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
