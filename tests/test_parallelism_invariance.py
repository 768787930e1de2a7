"""Fast regression core for the task-parallelism invariance axis
(eleventh robustness family — full-registry evidence pass:
``tools/sweep.py parallelism``, 159/159 clean at sf0.001).

The master's core count is the one cluster-vs-local axis no in-session
conf can perturb (a JVM cannot change master), so this core runs ONE
subprocess leg (``tools/sweep.py``'s ``run_leg``, the one the full sweep
runs) at local[3] — odd, small, not a divisor of the session's 8, so
every partition boundary moves — over the most parallelism-shaped
queries and compares its ``record``s (row count, columns and
``tools/verify_local.py``'s digest of the canon frame) against the
in-session local[8] results.
Divergence means an answer depends on task count: a per-partition
counter in output, partition-id-keyed sampling, accumulator fan-in
ordering, lifecycle hooks counted per partition.

The core picks the surfaces where parallelism plausibly leaks:
sketch merges (HLL), seeded reservoir sampling, per-partition
prepare/unprepare spell lifecycle, and a heavy-hitters sketch whose
merge tree depends on partition count.
"""

from __future__ import annotations

from tools.sweep import record, run_leg
from tools.verify_local import registry_frames

CORE = [
    "q26_approx_distinct",
    "q98_hll_mergeable",
    "q155_weighted_reservoir",
    "q147_heavy_hitters",
    "q81_spell_loop",
]


def test_parallelism_invariant_core(spark, sf_dir, tmp_path):
    # The comparison is vacuous if both legs run at the same core count:
    # the session fixture's master comes from the ambient SPARK_GRAFT_CPUS
    # (default 32), so an environment exporting SPARK_GRAFT_CPUS=3 would
    # silently make this local[3] vs local[3].  Pick a leg value that
    # provably differs from the session's actual parallelism.
    session_cores = spark.sparkContext.defaultParallelism
    leg_cores = "3" if session_cores != 3 else "5"
    assert int(leg_cores) != session_cores

    base = {n: record(c)
            for n, c in registry_frames(spark, sf_dir, CORE).items()}
    crashed = sorted(n for n in CORE if "crash" in base[n])
    assert not crashed, {n: base[n]["crash"] for n in crashed}

    leg = run_leg(leg_cores, str(tmp_path / "leg.json"), CORE, sf_dir,
                  timeout=600)
    diverged = {n for n in CORE if leg[n] != base[n]}
    assert not diverged, f"parallelism-dependent results: {sorted(diverged)}"
