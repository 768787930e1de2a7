"""Task-parallelism invariance sweep (eleventh robustness family).

The one cluster-vs-local axis the other ten families hold fixed is the
MASTER itself: every sweep runs local[$SPARK_GRAFT_CPUS] with the same
core count on both sides.  Executor/core count is exactly what a real
cluster changes first — and it moves things no other axis moves
together: ``spark.default.parallelism`` (parallelize/range partition
counts), the number of concurrent tasks per stage, how many partitions
the Python-worker lifecycle hooks (prepare/unprepare) see, accumulator
merge fan-in, and AQE's runtime coalescing decisions at a different
initial parallelism.  A query whose answer depends on any of those —
a per-partition counter leaking into output, a sample keyed on
partition id, ties broken by task completion order — returns DIFFERENT
ANSWERS on a 1000-executor cluster than in CI.

Protocol: the full registry runs in two SUBPROCESS legs (a master
cannot change inside one JVM) — leg A local[8] (the sweep default
elsewhere), leg B local[3] (odd, small, not a divisor of 8, so every
partition boundary moves).  Each leg writes {query: {rows, cols,
sha}}, the sha being ``verify_local.digest`` of the query's
``verify_local.registry_frames`` frame (the oracle gate's canon:
columns sorted by name, rows sorted by stringified values); the parent
compares, so any value divergence — not just row counts — fails.

Usage: PYTHONPATH=. python tools/parallelism_sweep.py
       (internal)  ... --leg <out.json>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, ".")

SF = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")


def run_leg(out_path: str) -> int:
    from sanctum_spark.session import get_spark
    from tools.verify_local import digest, registry_frames

    spark = get_spark("parallelism_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out = {
        name: {"crash": c} if isinstance(c, str)
        else {"rows": len(c), "cols": list(c.columns), "sha": digest(c)}
        for name, c in registry_frames(spark, SF).items()
    }
    with open(out_path, "w") as f:
        json.dump(out, f)
    return 0


def main() -> int:
    if "--leg" in sys.argv:
        return run_leg(sys.argv[sys.argv.index("--leg") + 1])

    legs = {}
    for label, cpus in (("a", "8"), ("b", "3")):
        out = f"/tmp/parallelism_leg_{label}.json"
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, PYTHONPATH=".")
        subprocess.run(
            [sys.executable, __file__, "--leg", out],
            env=env, check=True,
        )
        legs[label] = json.load(open(out))

    a, b = legs["a"], legs["b"]
    problems = {}
    for name in sorted(set(a) | set(b)):
        ra, rb = a.get(name), b.get(name)
        if ra != rb:
            problems[name] = {"local[8]": ra, "local[3]": rb}
    n = len(set(a) | set(b))
    print(json.dumps({"queries": n, "problems": problems}))
    print(
        f"# parallelism sweep: {n} queries, {len(problems)} divergent "
        f"(local[8] vs local[3], sf={SF})",
        file=sys.stderr,
    )
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
