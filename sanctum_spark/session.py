"""SparkSession factory.

Local-mode settings mirror the harness (local[$SPARK_GRAFT_CPUS], single
JVM).  The config block is written so the same code is cluster-ready: AQE,
adaptive coalescing and skew-join handling are on, shuffle partitions track
core count locally but should be raised (or left to AQE) on a real cluster.

Python workers start from ``sanctum_spark.worker_daemon``
(``spark.python.daemon.module``), not ``pyspark.daemon`` directly.  PySpark's
worker calls ``importlib.invalidate_caches()`` once per task, and on
CPython 3.11 that re-reads the whole directory of pyspark.zip (1328 entries,
6.7 ms) once per cached zipimporter: timestamps inside the worker put it at
0.24-0.33 s per task, before the UDF runs.  The daemon skips the re-read
while the archive is unchanged and then runs ``pyspark.daemon``, so every
Python UDF (spell tiers, stateful streaming, pandas UDFs) starts its tasks
without that cost.  ``spark.executorEnv.PYTHONPATH`` is set to the
package root so the daemon resolves from any working directory.  Cluster
note: the package must be installed (or shipped) on the executors, which
the spell runners already require, because cloudpickle pickles the
``spells.runtime`` helpers by reference.

Streaming checkpoints are written through Spark's
``FileSystemBasedCheckpointFileManager``
(``spark.sql.streaming.checkpointFileManagerClass``), not the default
``FileContextBasedCheckpointFileManager``.  The default resolves every
offset, commit, source-log, sink-log and state-delta file through
``RawLocalFileSystem.getFileLinkStatus``; without Hadoop's native library
that call is ``FileUtil.readLink``, which forks a ``readlink`` process.
Counted with logging ``readlink``/``chmod`` wrappers first on ``PATH``
over one window + stateful + event-log drain set (sf0.001 events staged
as two files, local[2]), the default forked 392 ``readlink`` and 219
``chmod``; this manager forks 0 ``readlink`` and the same 219 ``chmod``
(``RawLocalFileSystem.setPermission``, also native-less), and writes
the same checkpoint files, ``.crc`` sidecars included.  On local
paths nothing is lost: POSIX ``rename(2)`` is atomic and replaces its
target.  A deployment whose checkpoints live on HDFS may drop the conf
to regain ``FileContext``'s atomic rename-with-overwrite for state
files; ``FileSystem.rename`` is atomic there for the non-overwrite
metadata logs either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Half of physical memory, at most 48g.  A fixed 48g let a
    full-registry JVM grow to 11.8 GB resident on a 15 GB host, and a
    second JVM beside it died; a heap bounded by the host keeps two
    side by side.  ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // (1 << 20)
    return f"{min(half_mb, 48 * 1024)}m"


def get_spark(app_name: str = "sanctum_spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession.

    Design notes for 100 TB scale:
    - AQE enabled: runtime partition coalescing + skew-join splitting replace
      hand-tuned shuffle partition counts per stage.
    - ``spark.sql.shuffle.partitions`` is only the AQE *initial* value; on a
      1000-executor cluster this should be ~2-4x total cores — here it tracks
      local cores so local runs don't schedule 200 empty tasks.
    - Arrow enabled so every pandas-UDF boundary is columnar-batched.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffled-hash over sort-merge when the per-partition build side
        # fits (guide §3.1/§9): skips both sort passes.  Memory-bound
        # honestly (r14, per advisory review): only the AQE path
        # (maxShuffledHashJoinLocalMapThreshold, matched to
        # advisoryPartitionSizeInBytes) checks REAL post-shuffle sizes —
        # a partition AQE considers healthy is exactly one it may
        # hash-build.  preferSortMergeJoin=false ALSO lets the STATIC
        # planner pick SHJ from size ESTIMATES (canBuildLocalHashMap
        # allows up to autoBroadcastJoinThreshold x numShufflePartitions
        # estimated per side), and SHJ's build side cannot spill, so a
        # bad estimate downstream of explode-heavy derivations is an OOM
        # risk at production scale.  Kept despite that because (a) the
        # guide's §9 baseline sets it, (b) dropping it and relying on
        # AQE promotion alone was A/B-measured r14 across 4 fresh JVMs:
        # q114 pays 10-60% without the static flip (AQE re-plans per
        # stage, after sorts may already be planned), and (c) the
        # estimate risk is absent here (no explode feeds a non-broadcast
        # join's build side in any registered plan).  A production
        # deployment inheriting this config with stats-blind inputs
        # should drop this one flag and keep the AQE threshold.
        # Measured r13
        # (full-registry static-plan diff at sf0.1): flips exactly the
        # five non-broadcastable shapes — q44 full-outer, q111 CDC merge,
        # and the q114/q158/q161 corpus-grain graph/CC joins — SMJ -> SHJ
        # with identical exchange counts; every other registered plan is
        # byte-identical (the 64 MB broadcast threshold covers them at
        # this SF), values identical everywhere.  Cluster note:
        # byte-based, not core-count-based — production keeps both as-is
        # or raises them together.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128k-row Arrow batches: the Python-UDF boundary is dominated by
        # per-batch overhead, and the narrow event/doc rows here are
        # ~32-200 B, so even 128k rows is a few tens of MB per batch.
        # Measured on the sustained spell pipeline (sf0.1, 32 cores):
        # 3.03M ev/s @ 10k rows -> 3.83M ev/s @ 128k (+26%).  Wide-row
        # jobs should lower this at the call site.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "sanctum_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.parquet.filterPushdown", "true")
        # No forked readlink per checkpoint file (module docstring).
        # Checkpoints on HDFS may drop this line to regain FileContext's
        # atomic rename-with-overwrite for state files; extra_conf can
        # set it back per session.  Measured on perfbench ``stream``
        # (window + stateful + event-log drains; 4 vCPUs, local[2]):
        # pass_s 5.04 -> 4.10 s median of 10 pairs; one traced pass,
        # walCommit+commitOffsets 524 -> 165 ms, state commit
        # 461 -> 63 ms, latestOffset 253 -> 81 ms.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # spill-aware sizing: ~128 MB scan splits and ~64 MB post-shuffle
        # partitions keep per-task working sets well inside executor
        # memory at any SF; AQE coalesces up from these, never down.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark's reader
        # rejects it unless nanos are surfaced as long (io.py re-derives a
        # µs timestamp + exact ts_ns column from it).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # warehouse for bucketed managed tables (sinks.write_bucketed_table)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sanctum_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
