"""Paired A/B of two DataFrame builders in one warm Spark session.

    python tools/perf.py OLD NEW [--pairs N] [--sf-dir D] [--new-sf-dir D2]

Each side is a registry query name or ``FILE.py:FN`` with
``FN(spark, sf_dir) -> DataFrame``; FILE.py is loaded under a private
module name, so a file copied out of another checkout can be one side.
``--new-sf-dir`` runs the same kind of A/B over two table directories
(an octave A/B: NEW is built over D2, so ``identical`` reads false).
Prints one JSON line.

Protocol (``paired_ab``):

1. Identity: collect each side once and compare them as the oracle gate
   does (``verify_local.canon`` + ``verify_local.str_equal``).  That collect
   executes each frame's own QueryExecution, so its AQE-final plan
   signature is read at no extra cost.
2. Warm-up: one discarded run of each side.
3. ``pairs`` rounds that alternate which side runs first, so host drift
   multiplies both sides of a round alike.  A run is build + ``count()``,
   then ``clearCache()``.  The builder's Spark jobs and the count's are
   counted in two job groups, reported per side as the medians
   ``build_jobs`` and ``action_jobs``: eager work inside a builder
   (collects, checkpoints, driver loops) shows apart from the plan the
   count executes.

The reported ratio is the median of per-pair new/old seconds.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import statistics
import sys
import time
import uuid
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.verify_local import canon, str_equal  # noqa: E402


def plan_signature(df) -> dict[str, int]:
    """Join-type, Exchange and aggregate counts of ``df``'s AQE-final plan.

    ``df``'s own QueryExecution must have run (``toPandas``/``collect``
    do; ``count()`` runs a derived Dataset and leaves this plan at its
    initial shape, blind to runtime join-strategy flips)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "AdaptiveSparkPlan" in plan:
        assert "isFinalPlan=true" in plan, "plan_signature read a pre-AQE plan"
    sig: dict[str, int] = {}
    for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "Exchange", "HashAggregate",
               "ObjectHashAggregate", "SortAggregate", "Window"):
        n = len(re.findall(rf"\b{op}\b", plan))
        if n:
            sig[op] = n
    return sig


def _run(spark, build: Callable) -> tuple[float, int, int]:
    """Seconds for build + count(), and the Spark jobs the builder and
    the count each launched."""
    sc = spark.sparkContext
    group = f"perf-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(f"{group}/build", "tools/perf.py build")
        t0 = time.perf_counter()
        df = build()
        sc.setJobGroup(f"{group}/action", "tools/perf.py count")
        df.count()
        dt = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark.catalog.clearCache()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    build_jobs, action_jobs = (
        len(sc.statusTracker().getJobIdsForGroup(f"{group}/{layer}"))
        for layer in ("build", "action")
    )
    return dt, build_jobs, action_jobs


def paired_ab(spark, old: Callable, new: Callable, pairs: int) -> dict:
    """Interleaved paired A/B of two zero-argument DataFrame builders."""
    sides = {"old": old, "new": new}
    frames, plans = {}, {}
    for tag, build in sides.items():
        df = build()
        frames[tag] = canon(df.toPandas())
        plans[tag] = plan_signature(df)
        spark.catalog.clearCache()
    for build in sides.values():
        _run(spark, build)
    secs: list[dict[str, float]] = []
    jobs: dict[str, dict[str, list[int]]] = {
        layer: {"old": [], "new": []} for layer in ("build_jobs", "action_jobs")
    }
    for i in range(pairs):
        pair = {}
        for tag in ("old", "new") if i % 2 == 0 else ("new", "old"):
            pair[tag], n_build, n_action = _run(spark, sides[tag])
            jobs["build_jobs"][tag].append(n_build)
            jobs["action_jobs"][tag].append(n_action)
        secs.append(pair)
    ratios = [p["new"] / p["old"] for p in secs]
    return {
        "pairs": [[round(p["old"], 4), round(p["new"], 4)] for p in secs],
        "ratio_median": round(statistics.median(ratios), 3),
        "wins": {"old": sum(r > 1 for r in ratios),
                 "new": sum(r < 1 for r in ratios)},
        "identical": str_equal(frames["old"], frames["new"]),
        "rows": {tag: len(f) for tag, f in frames.items()},
        "plan": plans,
        **{layer: {tag: statistics.median_low(js) for tag, js in by_tag.items()}
           for layer, by_tag in jobs.items()},
    }


def resolve(spec: str, private_name: str) -> Callable:
    """``FILE.py:FN`` loaded as module ``private_name``, else a registry name."""
    path, _, fn = spec.rpartition(":")
    if path.endswith(".py"):
        loader = importlib.util.spec_from_file_location(private_name, path)
        mod = importlib.util.module_from_spec(loader)
        loader.loader.exec_module(mod)
        return getattr(mod, fn)
    from sanctum_spark import queries as qreg

    registry = qreg.queries()
    if spec not in registry:
        raise SystemExit(f"{spec!r} is neither FILE.py:FN nor a registry name")
    return registry[spec]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--pairs", type=int, default=6)
    env_sf = os.environ.get("SPARK_GRAFT_SF_DIR") or None
    ap.add_argument("--sf-dir", default=env_sf, required=env_sf is None,
                    help="table directory (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--new-sf-dir")
    args = ap.parse_args()
    new_sf_dir = args.new_sf_dir or args.sf_dir

    import bench
    from sanctum_spark.session import get_spark

    old_fn = resolve(args.old, "_perf_old")
    new_fn = resolve(args.new, "_perf_new")
    spark = get_spark("perf_ab")
    bench.warm(spark, args.sf_dir)
    out = paired_ab(
        spark,
        lambda: old_fn(spark, args.sf_dir),
        lambda: new_fn(spark, new_sf_dir),
        args.pairs,
    )
    print(json.dumps({
        "old": args.old, "new": args.new,
        "sf_dir": args.sf_dir, "new_sf_dir": new_sf_dir,
        "cpus": spark.sparkContext.defaultParallelism, **out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
