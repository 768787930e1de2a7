"""The benchmark's three workloads and the pass loop that times them.

Every workload is a closed loop over a fixed set of operations ("ops"):
one op runs only after the previous one finished, on one Spark session.
A *pass* runs every op once. The first pass after set-up is cold; it
collects every op's output and checks it. The timed passes that follow
are warm and only count.

- ``queries``: registry queries over seeded star-schema tables. Catalyst,
  shuffle and scan work next to a builder that loops on the Spark driver.
- ``spells``: the spell tiers over cached events, plus the driver-side
  ``simulate`` path with its msgpack round trip between casts.
- ``stream``: ``availableNow`` drains over staged event files: a
  watermarked window, a stateful spell, a file-sink log and its
  date-bounded read-back.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pandas as pd

import spans

# Per-layer metrics every run reports with --trace 1, name -> unit. A layer
# a workload does not touch reads 0.
LAYERS: dict[str, str] = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "inputs.stage_s": "s",
    "build_s": "s",
    "build_jobs": "count",
    "action_s": "s",
    "catalyst.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "io.input_bytes": "bytes",
    "python.bytes_in": "bytes",
    "python.bytes_out": "bytes",
    "python.time_s": "s",
    "codec.roundtrips": "count",
    "codec.roundtrip_s": "s",
    "spells.simulate_s": "s",
    "stream.batches": "count",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_ms": "ms",
    "stream.trigger_p50_ms": "ms",
    "stream.trigger_max_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.updates_ms": "ms",
    "state.dropped_by_watermark": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.read_s": "s",
    "sinks.read_files": "count",
    "trace.pass_overhead_s": "s",
}


@dataclass
class Op:
    """One operation of a pass.

    ``build(tag)`` makes what the action consumes (a DataFrame, a
    streaming DataFrame or a plain value; builders may launch Spark jobs
    of their own). ``act(built, tag, mode)`` executes it and returns
    ``(output, query_execution_or_None)``; ``mode`` is ``check`` (return
    the output itself), ``time`` or ``trace``. ``rows`` is the input rows
    one execution consumes."""

    name: str
    rows: int
    build: Callable
    act: Callable
    layers: Callable | None = None  # (built, output, tag) -> extra layer counters
    action_layer: str | None = None  # a layer metric that is this op's action time


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: spans.Tracer
    data: str
    state: dict = field(default_factory=dict)


def frame_act(df, tag, mode):
    """Action of a DataFrame op: ``count()`` when timed; the same count
    planned through an explicit ``QueryExecution`` when traced; the
    collected rows when checked."""
    if mode == "check":
        return df.toPandas(), None
    if mode == "trace":
        cdf = df.groupBy().count()
        qe = cdf._jdf.queryExecution()
        return cdf.collect()[0][0], qe
    return df.count(), None


def frame_op(name: str, rows: int, build: Callable, **kw) -> Op:
    return Op(name, rows, build, frame_act, **kw)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows by value: the compare of
    tests/test_oracle_parity.py."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df.reset_index(drop=True)
    order = df.astype(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame, what: str, atol: float | None = None) -> str | None:
    got, want = canon(got), canon(want)
    if len(got) != len(want):
        return f"{what}: {len(got)} rows, expected {len(want)}"
    try:
        if atol is None:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        else:
            pd.testing.assert_frame_equal(
                got, want, check_dtype=False, check_exact=False, rtol=0, atol=atol
            )
    except AssertionError as e:
        return f"{what}: {str(e).splitlines()[0]}"
    return None


# ---------------------------------------------------------------- queries

QUERIES_SF = 0.02
# query -> the input tables it reads (rows of these count as its input)
QUERY_SET = {
    "q01_pricing_summary": ("lineitem",),
    "q05_local_supplier_volume": ("region", "nation", "customer", "supplier", "orders", "lineitem"),
    "q18_big_orders": ("orders", "lineitem"),
    "q38_excess_volume_suppliers": ("supplier", "lineitem"),
    "q152_cep_pattern": ("events",),
    # connected components: a driver loop of Spark jobs inside the builder
    "q99_dedup_clusters": ("documents",),
}


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


class Workload:
    """What a workload defines: its input scale, how inputs are staged,
    its ops, the output check of the cold pass and per-pass clean-up."""

    name = ""
    sf = 0.0
    clear_cache = False  # clearCache() after every pass
    # untimed warm passes after the cold one, part of set-up: the timed
    # passes start once a workload's passes stop speeding up
    warm_passes = 0

    def stage(self, ctx: Ctx) -> None:
        pass

    def ops(self, ctx: Ctx) -> list[Op]:
        raise NotImplementedError

    def check(self, ctx: Ctx, outputs: dict, tag: str) -> list[str]:
        raise NotImplementedError

    def after_pass(self, ctx: Ctx, tag: str) -> None:
        pass


class Queries(Workload):
    name = "queries"
    sf = QUERIES_SF
    clear_cache = True

    def stage(self, ctx: Ctx) -> None:
        from sanctum_spark.queries import load_all_modules

        load_all_modules()

    def ops(self, ctx: Ctx) -> list[Op]:
        from sanctum_spark.queries import REGISTRY

        def builder(fn):
            return lambda tag: fn(ctx.spark, ctx.data)

        ops = []
        for qname, tables in QUERY_SET.items():
            rows = sum(_parquet_rows(os.path.join(ctx.data, f"{t}.parquet")) for t in tables)
            ops.append(frame_op(qname, rows, builder(REGISTRY[qname].fn)))
        random.Random(ctx.seed).shuffle(ops)
        return ops

    def check(self, ctx: Ctx, outputs: dict, tag: str) -> list[str]:
        from sanctum_spark.queries import REGISTRY

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(ctx.data)):
                table = f.removesuffix(".parquet")
                path = os.path.join(ctx.data, f)
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            errors = []
            for qname, got in outputs.items():
                want = con.sql(REGISTRY[qname].oracle).df()
                err = same_frame(got, want, f"{qname} vs oracle")
                if err:
                    errors.append(err)
            return errors
        finally:
            con.close()


# ---------------------------------------------------------------- spells

SPELLS_SF = 0.02
SPELLS_REPLICAS = 8  # events are replicated this many times and cached
SPELLS_LOOP_SHARE = 4  # the loop tier runs on 1 in this many events
SPELLS_SIM_SEEDS = 600  # seeds the driver-side simulate leg casts


class Spells(Workload):
    name = "spells"
    sf = SPELLS_SF
    # measured: the 1st warm pass runs 10-25 % slower than the 2nd
    warm_passes = 1

    def stage(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from sanctum_spark.io import load_table
        from sanctum_spark.session import default_parallelism

        salt = ctx.seed % 9973
        ev = load_table(ctx.spark, ctx.data, "events")
        reps = ctx.spark.range(SPELLS_REPLICAS).withColumnRenamed("id", "r")
        big = (
            ev.crossJoin(reps)
            .select(
                # seeded id remap: replicas interleave differently per seed
                (F.col("event_id") * SPELLS_REPLICAS + (F.col("r") + salt) % SPELLS_REPLICAS).alias(
                    "event_id"
                ),
                "user_id",
                "event_type",
                "value",
                # seeded loop counters: 0..99 shifted by the salt
                ((F.get_json_object("props", "$.k").cast("long") + F.col("r") + salt) % 100).alias(
                    "counter"
                ),
            )
            .repartition(default_parallelism())
            .cache()
        )
        ctx.state["n"] = big.count()
        ctx.state["big"] = big
        rng = random.Random(ctx.seed)
        ctx.state["seeds"] = [rng.randint(0, 60) for _ in range(SPELLS_SIM_SEEDS)]

    def ops(self, ctx: Ctx) -> list[Op]:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from sanctum_spark.queries.spells_q import (
            BOOST_EXPR_SPELL,
            _boost_cast,
            _boost_cast_vectorized,
            _decrement_cast,
        )
        from sanctum_spark.spells import Spell, apply_spell, loop_spell

        big, n = ctx.state["big"], ctx.state["n"]
        boost_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("boosted_value", T.DoubleType()),
            ]
        )
        loop_schema = T.StructType(
            [T.StructField("event_id", T.LongType()), T.StructField("n_casts", T.LongType())]
        )
        row = Spell(name="boost", cast=_boost_cast, topic="purchase")
        vec = Spell(name="boost_vec", cast=_boost_cast_vectorized, topic="purchase", vectorized=True)
        dec = Spell(name="decrement", cast=_decrement_cast)
        loop_in = big.filter(F.col("event_id") % SPELLS_LOOP_SHARE == 0).select("event_id", "counter")
        ops = [
            frame_op("row", n, lambda tag: apply_spell(big, row, boost_schema, topic_col="event_type")),
            frame_op("vec", n, lambda tag: apply_spell(big, vec, boost_schema, topic_col="event_type")),
            frame_op(
                "expr", n, lambda tag: apply_spell(big, BOOST_EXPR_SPELL, None, topic_col="event_type")
            ),
            frame_op("loop", n // SPELLS_LOOP_SHARE, lambda tag: loop_spell(loop_in, dec, loop_schema)),
            Simulate(ctx.state["seeds"]).op(),
        ]
        random.Random(ctx.seed).shuffle(ops)
        return ops

    def check(self, ctx: Ctx, outputs: dict, tag: str) -> list[str]:
        import numpy as np

        errors = []
        inp = ctx.state["big"].toPandas()
        # q80 closed form: purchase events (or NULL topic) not below 50, value doubled
        keep = (inp["event_type"].isna() | (inp["event_type"] == "purchase")) & ~(inp["value"] < 50)
        want = inp.loc[keep, ["event_id", "user_id"]].copy()
        want["boosted_value"] = (inp.loc[keep, "value"] * 2).round(2)
        for tier in ("row", "vec", "expr"):
            err = same_frame(outputs[tier], want, f"{tier} tier vs closed form", 1e-9)
            if err:
                errors.append(err)
        for tier in ("vec", "expr"):
            err = same_frame(outputs[tier], outputs["row"], f"{tier} tier vs row tier")
            if err:
                errors.append(err)
        # q81 closed form: the decrement loop casts clamp(counter, 1, 1000) times
        looped = inp[inp["event_id"] % SPELLS_LOOP_SHARE == 0]
        want = pd.DataFrame(
            {
                "event_id": looped["event_id"],
                "n_casts": np.where(
                    looped["counter"].isna(), 1000, looped["counter"].fillna(0).clip(1, 1000)
                ).astype("int64"),
            }
        )
        err = same_frame(outputs["loop"], want, "loop tier vs closed form")
        if err:
            errors.append(err)
        want_casts = sum(min(max(c, 1), 1000) for c in ctx.state["seeds"])
        if outputs["simulate"] != want_casts:
            errors.append(f"simulate: {outputs['simulate']} casts, expected {want_casts}")
        return errors


class Simulate:
    """The reference CLI path: one driver-side event loop per seed, with a
    msgpack round trip between casts. Traced, the round trips are timed
    through a wrapper around the codec function the runtime calls."""

    def __init__(self, seeds: list[int]):
        self.seeds = seeds
        self.calls = 0
        self.seconds = 0.0

    def op(self) -> Op:
        return Op(
            "simulate",
            len(self.seeds),
            lambda tag: self.seeds,
            self.act,
            layers=lambda built, out, tag: {
                "codec.roundtrips": self.calls,
                "codec.roundtrip_s": self.seconds,
            },
            action_layer="spells.simulate_s",
        )

    def act(self, seeds, tag, mode):
        from sanctum_spark.queries.spells_q import _decrement_cast
        from sanctum_spark.spells import runtime

        inner = runtime.roundtrip
        self.calls, self.seconds = 0, 0.0

        def timed(event):
            t = time.perf_counter()
            try:
                return inner(event)
            finally:
                self.seconds += time.perf_counter() - t
                self.calls += 1

        if mode == "trace":
            runtime.roundtrip = timed
        casts = 0
        try:
            for c in seeds:
                seed = {"counter": c, "hello_world": "hello", "is_abc": True, "xyz": {"ok": True}}
                casts += runtime.simulate(_decrement_cast, seed).casts
        finally:
            runtime.roundtrip = inner
        return casts, None


# ---------------------------------------------------------------- stream

STREAM_SF = 0.02
STREAM_FILES = 2  # staged files == micro-batches per drain
STREAM_KEYS = 100  # users, i.e. keys of the stateful spell's state
LOG_DAYS = ("2024-01-02", "2024-01-04")  # date bounds of the log read-back


class Stream(Workload):
    name = "stream"
    sf = STREAM_SF

    def stage(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from sanctum_spark.io import load_table
        from sanctum_spark.streaming.sources import stage_events_df

        salt = ctx.seed % 9973
        ev = load_table(ctx.spark, ctx.data, "events")
        # seeded id remap: shuffle_within orders rows by a hash of the id,
        # so the salt gives each seed its own order inside every file
        ev = ev.withColumn("event_id", F.col("event_id") * 10007 + salt).withColumn(
            "user_id", F.col("user_id") % STREAM_KEYS
        )
        stage = os.path.join(ctx.work, "stage")
        stage_events_df(ev, stage, n_files=STREAM_FILES, shuffle_within=True)
        ctx.state["stage"] = stage
        ctx.state["n"] = ctx.spark.read.parquet(stage).count()

    def _dirs(self, ctx: Ctx, tag: str, what: str) -> tuple[str, str]:
        base = os.path.join(ctx.work, "passes", tag)
        return os.path.join(base, f"{what}.ckpt"), os.path.join(base, f"{what}.out")

    def ops(self, ctx: Ctx) -> list[Op]:
        from sanctum_spark.sinks import read_event_log, stream_to_event_log
        from sanctum_spark.streaming.sources import events_file_stream, run_to_memory
        from sanctum_spark.streaming.stateful import apply_stateful_spell, ewma_spell
        from sanctum_spark.streaming.windows import tumbling_window_agg

        spark, stage, n = ctx.spark, ctx.state["stage"], ctx.state["n"]

        def to_memory(what: str, mode: str):
            def act(sdf, tag, run_mode):
                ckpt, _ = self._dirs(ctx, tag, what)
                return run_to_memory(sdf, f"{what}_{tag}", mode, ckpt), None

            return act

        def log_act(sdf, tag, run_mode):
            ckpt, out = self._dirs(ctx, tag, "log")
            q = stream_to_event_log(sdf, out, ckpt)
            q.awaitTermination()
            return q, None

        def log_layers(built, q, tag):
            _, out = self._dirs(ctx, tag, "log")
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(out)
                for f in fs
                if f.endswith(".parquet")
            ]
            return {
                "sinks.files_written": len(files),
                "sinks.bytes_written": sum(os.path.getsize(f) for f in files),
            }

        def read_build(tag):
            _, out = self._dirs(ctx, tag, "log")
            return read_event_log(spark, out, *LOG_DAYS)

        return [
            Op(
                "window",
                n,
                lambda tag: tumbling_window_agg(events_file_stream(spark, stage)),
                to_memory("window", "append"),
            ),
            Op(
                "stateful",
                n,
                lambda tag: apply_stateful_spell(
                    events_file_stream(spark, stage), ewma_spell(), ["user_id"]
                ),
                to_memory("stateful", "update"),
            ),
            Op("log", n, lambda tag: events_file_stream(spark, stage), log_act, log_layers),
            frame_op("log_read", n, read_build, action_layer="sinks.read_s"),
        ]

    def after_pass(self, ctx: Ctx, tag: str) -> None:
        for what in ("window", "stateful"):
            ctx.spark.catalog.dropTempView(f"{what}_{tag}")
        shutil.rmtree(os.path.join(ctx.work, "passes", tag), ignore_errors=True)

    def check(self, ctx: Ctx, outputs: dict, tag: str) -> list[str]:
        from pyspark.sql import functions as F

        from sanctum_spark.streaming.windows import tumbling_window_agg

        spark = ctx.spark
        errors = []
        staged = spark.read.parquet(ctx.state["stage"])

        # window: the emitted windows are exactly the batch aggregate's
        # windows that the final watermark closed
        wq = outputs["window"]
        marks = [
            p["eventTime"]["watermark"]
            for p in wq.recentProgress
            if p.get("eventTime", {}).get("watermark")
        ]
        wm = pd.Timestamp(max(marks)).tz_convert(None)
        got = spark.table(f"window_{tag}").toPandas()
        want = tumbling_window_agg(staged).toPandas()
        want = want[pd.to_datetime(want["window_end"]) <= wm]
        # sums of the same values in another order may round 0.01 apart
        err = same_frame(got, want, "tumbling window vs batch aggregate", atol=0.0100001)
        if err:
            errors.append(err)
        if len(got) == 0:
            errors.append("tumbling window: no window closed")

        # stateful: the last EWMA state per user equals the recurrence
        # folded over that user's events in (ts, event_id) order
        emitted = spark.table(f"stateful_{tag}").toPandas()
        final = emitted.sort_values("n").groupby("user_id").tail(1)[["user_id", "ewma", "n"]]
        ev = staged.select("user_id", "ts", "event_id", "value").toPandas()
        ev = ev.sort_values(["user_id", "ts", "event_id"])
        rows = []
        for uid, grp in ev.groupby("user_id", sort=False):
            acc, k = None, 0
            for x in grp["value"].astype(float):
                acc = x if k == 0 else 0.2 * x + 0.8 * acc
                k += 1
            rows.append((uid, acc, k))
        want = pd.DataFrame(rows, columns=["user_id", "ewma", "n"])
        err = same_frame(final, want, "EWMA state vs pandas recurrence", atol=1e-9)
        if err:
            errors.append(err)

        # log: everything staged reads back, and the date-bounded read
        # returns exactly the staged events of those days
        _, out = self._dirs(ctx, tag, "log")
        cols = ["event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props"]

        def digest(df):
            h = F.xxhash64(*cols).cast("decimal(38,0)")
            r = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
            return int(r["n"]), int(r["h"] or 0)

        logged = spark.read.parquet(out).select(*cols)
        if digest(logged) != digest(staged.select(*cols)):
            errors.append("event log read-back differs from the staged input")
        days = F.to_date("ts")
        want_n = staged.filter((days >= LOG_DAYS[0]) & (days < LOG_DAYS[1])).count()
        got_n = len(outputs["log_read"])
        if got_n != want_n or want_n == 0:
            errors.append(f"date-bounded log read: {got_n} rows, expected {want_n} (> 0)")
        return errors


WORKLOADS = {w.name: w for w in (Queries, Spells, Stream)}


# ---------------------------------------------------------------- passes


def run_op(ctx: Ctx, op: Op, tag: str, mode: str) -> tuple[object, dict]:
    """Run one op; with ``mode == "trace"`` also read its layer counters."""
    sc = ctx.spark.sparkContext
    traced = mode == "trace"
    group = f"{ctx.tracer.run_id}/{tag}/{op.name}"
    layer: dict = {}
    with ctx.tracer.span(f"op:{op.name}", tag=tag) as sp:
        if traced:
            sc.setJobGroup(f"{group}/build", op.name)
        t0 = time.perf_counter()
        with ctx.tracer.span("build"):
            built = op.build(tag)
        t1 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"{group}/action", op.name)
        with ctx.tracer.span("action"):
            out, qe = op.act(built, tag, mode)
        t2 = time.perf_counter()
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            layer = op_layers(sc, op, group, built, out, qe, tag)
            layer["build_s"] = t1 - t0
            layer["action_s"] = t2 - t1
            if op.action_layer:
                layer[op.action_layer] = t2 - t1
            sp.update(layer)
    return out, layer


def op_layers(sc, op: Op, group: str, built, out, qe, tag: str) -> dict:
    layer: dict = {}
    groups = [f"{group}/build", f"{group}/action"]
    if hasattr(out, "runId"):  # a drained streaming query: its jobs run under its run id
        groups.append(str(out.runId))
        layer.update(spans.stream_progress(out))
    for g in groups:
        counters = spans.job_group_exec(sc, g)
        if g == groups[0]:
            layer["build_jobs"] = counters["exec.jobs"]
        for k, v in counters.items():
            layer[k] = layer.get(k, 0) + v
    if qe is not None:
        layer["catalyst.plan_s"] = spans.plan_phases_s(qe)
        pm = spans.plan_metrics(qe)
        files = pm.pop("scan.files")
        layer.update(pm)
        if op.action_layer == "sinks.read_s":
            layer["sinks.read_files"] = files
    if op.layers is not None:
        layer.update(op.layers(built, out, tag))
    return layer


@dataclass
class PassResult:
    wall_s: float
    outputs: dict  # op name -> output
    op_s: dict  # op name -> seconds
    op_layers: dict  # op name -> layer counters (traced passes)
    layers: dict  # layer counters summed over the ops


def run_pass(ctx: Ctx, workload: Workload, ops: list[Op], tag: str, mode: str, counts: dict) -> PassResult:
    """One pass over ``ops``. An op that raises counts as failed and the
    pass goes on."""
    res = PassResult(0.0, {}, {}, {}, {})
    with ctx.tracer.span("pass", tag=tag, mode=mode):
        t0 = time.perf_counter()
        for op in ops:
            counts["attempted"] += 1
            ts = time.perf_counter()
            try:
                out, layer = run_op(ctx, op, tag, mode)
            except Exception:
                counts["failed"] += 1
                traceback.print_exc()
                continue
            res.op_s[op.name] = time.perf_counter() - ts
            res.outputs[op.name] = out
            if layer:
                res.op_layers[op.name] = layer
            for k, v in layer.items():
                res.layers[k] = res.layers.get(k, 0) + v
        if workload.clear_cache:
            ctx.spark.catalog.clearCache()
        res.wall_s = time.perf_counter() - t0
    return res
