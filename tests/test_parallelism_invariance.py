"""Fast regression core for the task-parallelism invariance axis
(eleventh robustness family — full-registry evidence pass:
``tools/sweep.py parallelism``, 159/159 clean at sf0.001).

The master's core count is the one cluster-vs-local axis no in-session
conf can perturb (a JVM cannot change master), so this core runs ONE
subprocess leg at local[3] — odd, small, not a divisor of the session's
8, so every partition boundary moves — over the most parallelism-shaped
queries and compares ``tools/verify_local.py`` digests (sha256 of the
stringified canon frame) against the in-session local[8] results.
Divergence means an answer depends on task count: a per-partition
counter in output, partition-id-keyed sampling, accumulator fan-in
ordering, lifecycle hooks counted per partition.

The core picks the surfaces where parallelism plausibly leaks:
sketch merges (HLL), seeded reservoir sampling, per-partition
prepare/unprepare spell lifecycle, and a heavy-hitters sketch whose
merge tree depends on partition count.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tools.verify_local import canon, digest

CORE = [
    "q26_approx_distinct",
    "q98_hll_mergeable",
    "q155_weighted_reservoir",
    "q147_heavy_hitters",
    "q81_spell_loop",
]


_LEG_SRC = r"""
import json, sys
import sanctum_spark.queries as qreg
from sanctum_spark.session import get_spark
from tools.verify_local import canon, digest

names, sf = json.loads(sys.argv[1]), sys.argv[2]
qreg.load_all_modules()
spark = get_spark("parallelism_core_leg")
spark.sparkContext.setLogLevel("ERROR")
out = {}
for n in names:
    out[n] = digest(canon(qreg.REGISTRY[n].fn(spark, sf).toPandas()))
print("LEG_JSON:" + json.dumps(out))
"""


def test_parallelism_invariant_core(spark, sf_dir):
    import sanctum_spark.queries as qreg

    # The comparison is vacuous if both legs run at the same core count:
    # the session fixture's master comes from the ambient SPARK_GRAFT_CPUS
    # (default 32), so an environment exporting SPARK_GRAFT_CPUS=3 would
    # silently make this local[3] vs local[3].  Pick a leg value that
    # provably differs from the session's actual parallelism.
    session_cores = spark.sparkContext.defaultParallelism
    leg_cores = "3" if session_cores != 3 else "5"
    assert int(leg_cores) != session_cores

    qreg.load_all_modules()
    base = {
        n: digest(canon(qreg.REGISTRY[n].fn(spark, sf_dir).toPandas()))
        for n in CORE
    }

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=leg_cores, PYTHONPATH=repo)
    proc = subprocess.run(
        [sys.executable, "-c", _LEG_SRC, json.dumps(CORE), sf_dir],
        env=env, cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("LEG_JSON:")
    )
    leg = json.loads(line[len("LEG_JSON:"):])
    diverged = {n for n in CORE if leg[n] != base[n]}
    assert not diverged, f"parallelism-dependent results: {sorted(diverged)}"
