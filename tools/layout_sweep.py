"""Physical-layout invariance sweep (eighth robustness family).

A 1000-executor cluster differs from local[32] in exactly the ways this
sweep perturbs: input row order (splits arrive in arbitrary order),
scan partition count (``maxPartitionBytes`` / split planning), and
shuffle partition count.  Every registered query must be a pure
function of table CONTENT — identical results under:

  run A: tables as-written, session defaults (shuffle.partitions=32);
  run B: every table row-permuted (seeded numpy permutation) and
         rewritten with many small row groups, read with
         maxPartitionBytes=32 KiB / openCostInBytes=0 (more, different
         scan splits) and shuffle.partitions=7.

Anything that diverges depends on physical layout — top-k ties broken
by partition order, ``first``/``any_value`` without an order, rand()
leaking into output — and would return DIFFERENT ANSWERS on a real
cluster than in CI.  Comparison is the oracle gate's
(``verify_local.registry_frames`` + ``diverged``: canon frames,
``str_equal``).

Usage: PYTHONPATH=. python tools/layout_sweep.py [--exec]

``--exec`` swaps the perturbation: same as-written tables, but AQE
disabled, whole-stage codegen disabled, planner broadcast joins forced
to sort-merge (threshold -1), shuffle.partitions=5 — the
physical-strategy axis a real cluster varies that the layout axis
doesn't.  Explicit ``F.broadcast()`` hints still apply (hints are
semantics-free, so that is the production contract being checked).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, ".")
import numpy as np
import pyarrow.parquet as pq

from sanctum_spark.io import TABLES
from tools.verify_local import diverged, registry_frames

SRC = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")

PERTURB_CONFS = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "32768",
    "spark.sql.files.openCostInBytes": "0",
}

# ``--exec`` mode: same tables, different PHYSICAL STRATEGY.  A real
# cluster picks different plans than local[32] (AQE re-plans at runtime,
# broadcast thresholds differ with executor memory, codegen can be
# disabled by config) — results must not depend on any of it.
# autoBroadcastJoinThreshold=-1 forces every planner-chosen broadcast
# join to sort-merge; explicit ``F.broadcast()`` hints still apply,
# which is exactly the production contract (hints are semantics-free).
EXEC_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "5",
}


def build_perturbed(dst: str) -> None:
    rng = np.random.RandomState(20260814)
    for t in TABLES:
        tbl = pq.read_table(f"{SRC}/{t}.parquet")
        perm = rng.permutation(len(tbl))
        shuffled = tbl.take(perm)
        # Many small row groups -> many scan splits under the tiny
        # maxPartitionBytes of run B.
        rg = max(16, len(tbl) // 8)
        pq.write_table(shuffled, f"{dst}/{t}.parquet", row_group_size=rg)


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    exec_mode = "--exec" in sys.argv
    confs = EXEC_CONFS if exec_mode else PERTURB_CONFS

    from sanctum_spark.session import get_spark

    spark = get_spark("layout_sweep")

    if exec_mode:
        dst = SRC  # same tables; only the physical strategy changes
    else:
        dst = tempfile.mkdtemp(prefix="sf_layout_")
        build_perturbed(dst)

    base = registry_frames(spark, SRC)

    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        pert = registry_frames(spark, dst)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    bad = diverged(base, pert)
    print(json.dumps(bad, indent=1))
    label = "exec-strategy" if exec_mode else "layout"
    print(
        f"summary: {len(base)} queries; {len(base) - len(bad)} "
        f"{label}-invariant; {len(bad)} problems"
    )
    print("src:", SRC, "perturbed:", dst, "confs:", confs)
    if not exec_mode:
        shutil.rmtree(dst, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
