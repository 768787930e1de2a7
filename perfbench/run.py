"""Benchmark runner.

    python3 perfbench/run.py --workload {queries,spells,stream} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One run:

1. pins its environment (half the cores, a driver heap sized to the
   machine, every temporary directory inside ``perfbench/_work/<run>``);
2. writes the workload's input tables from ``--seed``;
3. sets up: starts the Spark session, stages or caches the inputs and
   runs one cold pass whose outputs are checked;
4. runs warm passes until ``--seconds`` have passed (at least two);
5. prints one JSON line last on stdout: ``correct``, ``attempted``,
   ``failed`` and the metrics, end-to-end with ``--trace 0`` and per-layer
   with ``--trace 1``.

With ``--trace 1`` every second warm pass is traced, the others are not,
and the difference of their medians is printed as the tracing overhead.
The spans go to ``perfbench/_out/trace-<run>.json``. A per-run summary,
with load average and a fixed CPU canary as context (never used to
rescale a metric), goes to stderr.
"""

from __future__ import annotations

import time

_LOADED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")
OUT_DIR = os.path.join(HERE, "_out")
MIN_PASSES = 2


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _LOADED - _process_age_s()


def cpu_canary_s() -> float:
    """Time of a fixed pure-Python loop: context for a run, not a metric."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_env(work: str) -> dict:
    """Pin the knobs the program reads, before the JVM starts."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    mem_mb = min(4096, max(1024, _mem_total_mb() // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        # Python workers import sanctum_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # the short-lived launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, run_id: str, work: str) -> dict:
    import metrics
    import spans
    import workloads as W

    wl = W.WORKLOADS[args.workload]()
    context = {
        "run_id": run_id,
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "loadavg_start": os.getloadavg(),
        "canary_start_s": cpu_canary_s(),
    }
    context["env"] = pin_env(work)
    os.chdir(work)

    import gen

    t = time.perf_counter()
    data = gen.write_tables(os.path.join(work, "data"), args.seed, wl.sf)
    gen_s = time.perf_counter() - t

    from sanctum_spark.session import get_spark

    spark = get_spark(f"perfbench-{wl.name}", spark_conf(work))
    # process start until the session is up, less the input generation
    start_s = time.perf_counter() - PROCESS_START - gen_s
    tracer = spans.Tracer(run_id, enabled=bool(args.trace))
    ctx = W.Ctx(spark, work, args.seed, tracer, data)
    counts = {"attempted": 0, "failed": 0}

    with tracer.span("setup"):
        t = time.perf_counter()
        with tracer.span("inputs.stage"):
            wl.stage(ctx)
        stage_s = time.perf_counter() - t
        ops = wl.ops(ctx)
        t = time.perf_counter()
        with tracer.span("session.warm"):
            outputs = W.run_pass(ctx, wl, ops, "cold", "check", counts).outputs
        warm_s = time.perf_counter() - t

        t = time.perf_counter()
        counts["attempted"] += 1
        try:
            errors = wl.check(ctx, outputs, "cold")
        except Exception as e:  # a check that cannot run is a failed check
            errors = [f"output check raised {type(e).__name__}: {e}"]
        if errors:
            counts["failed"] += 1
            for err in errors:
                print(f"perfbench: CHECK FAILED: {err}", file=sys.stderr)
        wl.after_pass(ctx, "cold")
        check_s = time.perf_counter() - t

        t = time.perf_counter()
        with tracer.span("session.warm"):
            for w in range(wl.warm_passes):
                W.run_pass(ctx, wl, ops, f"w{w}", "time", counts)
                wl.after_pass(ctx, f"w{w}")
        warm_s += time.perf_counter() - t
    setup_s = start_s + stage_s + warm_s

    walls: dict[str, list[float]] = {"time": [], "trace": []}
    traced: list[W.PassResult] = []
    op_s: dict[str, list[float]] = {}
    end = time.perf_counter() + args.seconds
    i = 0
    while (
        time.perf_counter() < end
        or len(walls["time"]) < MIN_PASSES
        or (args.trace and not walls["trace"])
    ):
        mode = "trace" if args.trace and i % 2 == 1 else "time"
        tag = f"p{i}"
        res = W.run_pass(ctx, wl, ops, tag, mode, counts)
        wl.after_pass(ctx, tag)
        walls[mode].append(res.wall_s)
        if mode == "trace":
            traced.append(res)
        else:
            for name, s in res.op_s.items():
                op_s.setdefault(name, []).append(s)
        i += 1

    rows = sum(op.rows for op in ops)
    pass_s = metrics.median(walls["time"])
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (metrics.rate(rows, pass_s), "1/s"),
    }
    context.update(
        failed_share=metrics.failed_share(counts["failed"], counts["attempted"]),
        gen_s=gen_s,
        check_s=check_s,
        setup_parts_s={"session.start_s": start_s, "inputs.stage_s": stage_s, "session.warm_s": warm_s},
        pass_walls_s=walls,
        rows_per_pass=rows,
        op_median_s={k: metrics.median(v) for k, v in op_s.items()},
        loadavg_end=os.getloadavg(),
        canary_end_s=cpu_canary_s(),
    )
    tail = metrics.tail_percentile(walls["time"])
    context["pass_tail"] = {"samples": len(walls["time"]), "percentile": tail}

    if args.trace:
        traced_pass = metrics.median(walls["trace"])
        overhead = {
            "pass_s": metrics.overhead(traced_pass, pass_s),
            "rows_per_s": metrics.overhead(metrics.rate(rows, traced_pass), e2e["rows_per_s"][0]),
        }
        for name, (diff, share) in overhead.items():
            print(
                f"perfbench: tracing overhead {name}: {diff:+.4f} ({share:+.1%}) "
                "traced minus untraced passes",
                file=sys.stderr,
            )
        print(
            "perfbench: tracing overhead setup_s: n/a, set-up runs once per process; "
            "compare setup_s of a --trace 0 run",
            file=sys.stderr,
        )
        layer_values = {name: 0.0 for name in W.LAYERS}
        for name in W.LAYERS:
            samples = [r.layers[name] for r in traced if name in r.layers]
            if samples:
                layer_values[name] = metrics.median(samples)
        layer_values.update(context["setup_parts_s"])
        layer_values["trace.pass_overhead_s"] = overhead["pass_s"][0]
        out_metrics = {k: {"value": v, "unit": W.LAYERS[k]} for k, v in layer_values.items()}
        context["overhead"] = overhead
        context["op_layers"] = [r.op_layers for r in traced]
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"trace-{run_id}.json")
        tracer.write(path, {"context": context, "layers": layer_values})
        print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(f"perfbench: {json.dumps(context, default=str)}", file=sys.stderr)
    return {
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": out_metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("queries", "spells", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sanctum_spark", "__init__.py")):
        print(
            f"perfbench: no sanctum_spark package under {ROOT}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        result = run(args, run_id, work)
    finally:
        stop_spark()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
