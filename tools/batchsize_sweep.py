"""Arrow-batch-size invariance sweep (tenth robustness family).

The nine existing families perturb data content, physical layout, and
execution strategy — none perturbs the ARROW BATCH BOUNDARY.  Every
Python-boundary operator (scalar ``pandas_udf``, ``mapInPandas``,
``mapInArrow``, UDTF eval) receives its input as a stream of Arrow
batches whose size is an ENGINE TUNABLE (``spark.sql.execution.arrow.
maxRecordsPerBatch`` — 131072 in this repo's sessions, 10000 stock, and
anything at all on a real cluster where memory pressure or a different
operator upstream changes batching).  Correct operators are pure
per-row (scalar UDFs) or explicitly batch-iterating (mapInPandas);
a bug in this axis looks like: a "vectorized" cast normalizing by a
batch-local mean, state carried across ``yield`` without per-key
grouping, first/last-row-of-batch special-casing.  Such a bug passes
every content/layout sweep (those hold batch size fixed) and then
returns DIFFERENT ANSWERS at scale.

Run A: session defaults (maxRecordsPerBatch=131072 — at sf0.001 every
       Python boundary sees exactly one batch per partition).
Run B: maxRecordsPerBatch=7 — every boundary sees many tiny batches,
       so any cross-batch assumption must change the answer.

Both runs over the SAME tables; comparison is the oracle gate's
(``verify_local.registry_frames`` + ``diverged``: canon frames,
``str_equal``) — Spark-vs-Spark, since the invariance claim is internal.

Grouped-map (``applyInPandas``) semantics present one DataFrame per
GROUP regardless of wire batching, so this axis exercises it only at
the transport layer; the per-group contract is covered by the layout
sweep's partition-count perturbation.

Usage: PYTHONPATH=. python tools/batchsize_sweep.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

from tools.verify_local import diverged, registry_frames

SRC = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")
TINY_BATCH = "7"


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

    from sanctum_spark.session import get_spark

    spark = get_spark("batchsize_sweep")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    base = registry_frames(spark, SRC)

    saved = spark.conf.get(key)
    spark.conf.set(key, TINY_BATCH)
    try:
        tiny = registry_frames(spark, SRC)
    finally:
        spark.conf.set(key, saved)

    bad = diverged(base, tiny)
    print(json.dumps(bad, indent=1))
    print(
        f"summary: {len(base)} queries; {len(base) - len(bad)} "
        f"batch-size-invariant (batch={TINY_BATCH} vs default); "
        f"{len(bad)} problems"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
