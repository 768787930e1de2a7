"""Scale-out tailing recipes for the event-dump source.

The reference's debug dump (``--dump-events``, src/main.zig:226-236) is a
line-per-event log; at 100 TB a live dump tree is tailed, not replayed.
PySpark's ``SimpleDataSourceStreamReader`` prefetches every micro-batch's
rows ON THE DRIVER, so a single eventdump stream drains at a serial
pure-Python decode rate (~85k rows/s, r11 octave ladder).  This module
turns the two safe drain protocols — previously prose in the source's
docstring — into code:

1. **Sharded streams** (``start_sharded_tail``): N concurrent streaming
   queries, each reading the CRC-disjoint file shard ``shard=i`` of
   ``numShards=N`` (eventdump_source._shard_of).  Each stream is still a
   serial driver-side decoder, but the N Python runners decode
   independently, so aggregate drain scales with N until the driver's
   cores saturate.  Per-shard offsets/checkpoints are independent:
   shards fail, restart, and recover exactly-once individually.

2. **Batch-on-schedule** (``DumpTailer``): run the partition-parallel
   BATCH reader (1.7-2.0M rows/s — the 100 TB path) over successive
   ``(after, upto]`` filename windows with durable offset bookkeeping.
   Under the producer contract (monotone log-roll names, atomic
   appearance via the writer's hidden-tmp + rename) a filename window is
   a stable snapshot even while new files keep arriving, because
   arrivals sort after the snapshot's ``upto``.

Delivery semantics of the tailer: ``poll`` → process → ``commit``.
A crash between process and commit replays the last window on restart —
at-least-once, upgraded to exactly-once by an idempotent or transactional
downstream write (the standard external-offset-store contract, same as
Kafka's commit-after-sink pattern).  Replay is EXACT: the window is
re-derived from the committed offset and the same (after, upto] listing
rule the batch reader applies.
"""

from __future__ import annotations

import json
import os

from sanctum_spark.eventdump_source import _list_dump_files

FORMAT = "sanctum_eventdump"


class DumpTailer:
    """Batch-on-schedule tailing with durable offset bookkeeping.

    Usage (one scheduled tick)::

        tailer = DumpTailer(dump_dir, offset_path)
        win = tailer.poll(spark)
        if win is not None:
            df, upto = win
            df.write.parquet(...)   # idempotent/transactional sink
            tailer.commit(upto)

    ``poll`` snapshots the next ``(last, upto]`` window (at most
    ``max_files_per_batch`` files) and returns a DataFrame over the
    partition-parallel batch reader bounded to exactly that window —
    the plan lists one input partition per file, so a 1000-file window
    fans out across the cluster instead of through one driver decoder.
    """

    def __init__(
        self,
        path: str,
        offset_path: str,
        max_files_per_batch: int = 1024,
        shard: int | None = None,
        num_shards: int | None = None,
    ):
        # Same rule as eventdump_source._shard_options: the pair comes
        # together or not at all, and shard must be in range — a shard
        # silently ignored (or a defaulted shard 0) is a data-loss
        # footgun, not a configuration.
        if (shard is None) != (num_shards is None):
            raise ValueError(
                "DumpTailer: shard and num_shards must be given together"
            )
        if num_shards is not None and (
            num_shards < 1 or not 0 <= shard < num_shards
        ):
            raise ValueError(
                f"DumpTailer: need 0 <= shard < num_shards, "
                f"got shard={shard} num_shards={num_shards}"
            )
        self.path = path
        self.offset_path = offset_path
        self.max_files = max_files_per_batch
        self.shard = shard
        self.num_shards = num_shards

    def last(self) -> str:
        """The committed offset (largest consumed basename; '' = none)."""
        if not os.path.exists(self.offset_path):
            return ""
        with open(self.offset_path) as fh:
            return json.load(fh)["last"]

    def poll(self, spark, bound: str | None = None):
        """Next unconsumed window as ``(DataFrame, upto)``; None if idle.

        ``bound``, when given, caps the window at files named ``<= bound``
        — ``drain`` uses it to snapshot the log at tick start so a
        producer appending faster than ``process`` cannot keep one tick
        alive forever.
        """
        last = self.last()
        files = _list_dump_files(
            self.path, last, bound, self.shard, self.num_shards
        )[: self.max_files]
        if not files:
            return None
        upto = os.path.basename(files[-1])
        reader = (
            spark.read.format(FORMAT)
            .option("after", last)
            .option("upto", upto)
        )
        if self.num_shards is not None:
            reader = reader.option("shard", str(self.shard)).option(
                "numShards", str(self.num_shards)
            )
        return reader.load(self.path), upto

    def commit(self, upto: str) -> None:
        """Durably advance the offset (atomic tmp+rename, crash-safe)."""
        if upto <= self.last():
            raise ValueError(
                f"non-monotone commit: {upto!r} <= {self.last()!r}"
            )
        tmp = self.offset_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"last": upto}, fh)
        os.replace(tmp, self.offset_path)

    def drain(
        self,
        spark,
        process,
        max_windows: int | None = None,
        bound: str | None = None,
    ) -> int:
        """Poll/process/commit until idle; returns windows processed.

        ``process(df)`` must complete its side effect before returning —
        the offset commits only after it does.

        One ``drain`` call is guaranteed to terminate: the set of files
        to consume is SNAPSHOTTED at entry (the largest basename visible
        then becomes the tick's ``upto`` bound), so files a fast producer
        appends mid-drain roll over to the next scheduled tick instead of
        extending this one.  ``max_windows`` additionally caps the number
        of windows per tick for latency-bounded schedulers.  An explicit
        ``bound`` overrides the snapshot — re-sharding uses it to stop
        every old shard at exactly the common hand-off offset.
        """
        if bound is None:
            snapshot = _list_dump_files(
                self.path, self.last(), None, self.shard, self.num_shards
            )
            if not snapshot:
                return 0
            bound = os.path.basename(snapshot[-1])
        n = 0
        while (max_windows is None or n < max_windows) and (
            win := self.poll(spark, bound=bound)
        ) is not None:
            df, upto = win
            process(df)
            self.commit(upto)
            n += 1
        return n


def start_sharded_tail(
    spark,
    path: str,
    num_shards: int,
    sink_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 64,
    trigger_seconds: float = 0.2,
    transform=None,
    after: str = "",
):
    """Start N streaming queries tailing CRC-disjoint shards of ``path``.

    Each shard appends parquet under ``sink_dir/shard=i`` with its own
    checkpoint — independent offsets, independent recovery, N independent
    driver-side decoders.  Returns the list of StreamingQuery handles;
    the caller owns their lifecycle (``q.stop()``).  ``transform``, when
    given, maps each shard's streaming DataFrame before the sink (the
    same stateless transform for every shard, else shard-union equality
    with a single stream is forfeit).  ``after`` seeds the initial offset
    of FRESH checkpoints (files named ``<= after`` are skipped) — the
    re-shard hand-off; existing checkpoints ignore it.
    """
    queries = []
    for i in range(num_shards):
        df = (
            spark.readStream.format(FORMAT)
            .option("shard", str(i))
            .option("numShards", str(num_shards))
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .option("after", after)
            .load(path)
        )
        if transform is not None:
            df = transform(df)
        q = (
            df.writeStream.format("parquet")
            .option("path", os.path.join(sink_dir, f"shard={i}"))
            .option(
                "checkpointLocation", os.path.join(checkpoint_dir, f"shard={i}")
            )
            .trigger(processingTime=f"{int(trigger_seconds * 1000)} milliseconds")
            .start()
        )
        queries.append(q)
    return queries


def _batch_ids(log_dir: str) -> list[int]:
    """Batch ids of a streaming log directory (``<id>`` or ``<id>.compact``)."""
    if not os.path.isdir(log_dir):
        return []
    return [
        int(f.split(".")[0])
        for f in os.listdir(log_dir)
        if f.isdigit() or (f.endswith(".compact") and f.split(".")[0].isdigit())
    ]


def committed_stream_offset(checkpoint_dir: str, sink_dir: str) -> str:
    """The largest filename a (stopped) shard stream consumed into its sink.

    Reads the Structured Streaming checkpoint and the sink directly: the
    newest batch id in either ``commits/`` or the sink's
    ``_spark_metadata/`` log is the hand-off batch, and the final line of
    ``offsets/<id>`` is its end offset for the (single) eventdump source —
    the ``{"last": ...}`` JSON this source emits.  Returns ``""`` when
    nothing was consumed.

    The commit log alone is not the hand-off point: the file sink writes
    ``_spark_metadata/<id>`` inside ``addBatch``, before the commit-log
    entry, so a ``stop()`` between the two leaves batch ``id`` visible to
    log-aware reads of the sink but absent from ``commits/``.  Taking the
    newer of the two logs, hand-off from the returned offset neither
    re-reads nor skips a batch whose rows the sink shows.  A batch that
    wrote part files but no sink metadata stays hidden from log-aware
    reads and is re-read.
    """
    ids = _batch_ids(os.path.join(checkpoint_dir, "commits"))
    ids += _batch_ids(os.path.join(sink_dir, "_spark_metadata"))
    if not ids:
        return ""
    with open(os.path.join(checkpoint_dir, "offsets", str(max(ids)))) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    return json.loads(lines[-1])["last"]


def reshard_sharded_tail(
    spark,
    path: str,
    old_num_shards: int,
    old_sink_dir: str,
    old_checkpoint_dir: str,
    new_num_shards: int,
    new_sink_dir: str,
    new_checkpoint_dir: str,
    catchup_dir: str,
    queries=None,
    **start_kwargs,
):
    """Drain-then-restart re-sharding for ``start_sharded_tail`` streams.

    Changing ``numShards`` remaps the CRC file→shard assignment, so the
    old per-shard checkpoints say nothing about what a NEW shard may
    read — restarting at N′ naively either replays or loses files.  The
    safe hand-off (SCALE.md "shard count is the throughput lever"):

    1. **Quiesce**: stop the N old streams (done here when ``queries``
       is passed, else by the caller beforehand).
    2. **Converge**: pick ``target`` = the largest filename visible now
       (>= every shard's committed offset, since consumed files stay
       listed).  ``last_i`` is the end offset of the newest batch in
       shard ``i``'s commit log or its sink's ``_spark_metadata`` log
       (``committed_stream_offset``), so a batch the sink logged just
       before the stop is not read twice.  For each old shard ``i``,
       batch-read exactly its gap
       ``(last_i, target]`` under the OLD mapping and append it to
       ``catchup_dir`` — the partition-parallel batch reader, one
       bounded window per shard.  Afterwards every file ``<= target``
       is consumed exactly once across old sinks + catch-up.
    3. **Restart**: start N′ streams with ``after=target`` and FRESH
       sink + checkpoint directories.  Fresh dirs are load-bearing, not
       tidiness: a fresh checkpoint restarts batch ids at 0, and a
       reused sink's ``_spark_metadata`` log already contains batch 0,
       so the file sink would silently SKIP the new stream's first
       batches (silent data loss); likewise catch-up rows appended
       into a log-managed sink dir would be invisible to log-aware
       reads.  Complete rows = old sinks ∪ catchup_dir ∪ new sinks.

    Returns ``(new_queries, target)``.  Files named ``> target``
    (including any the producer appends mid-recipe) belong exclusively
    to the new shard set — monotone log-roll names make the hand-off
    point a clean prefix boundary.
    """
    if queries:
        for q in queries:
            q.stop()
    lasts = [
        committed_stream_offset(
            os.path.join(old_checkpoint_dir, f"shard={i}"),
            os.path.join(old_sink_dir, f"shard={i}"),
        )
        for i in range(old_num_shards)
    ]
    visible = [
        os.path.basename(p) for p in _list_dump_files(path, "", None, None, None)
    ]
    target = max(visible + lasts) if (visible or any(lasts)) else ""
    for i, last in enumerate(lasts):
        if last >= target:
            continue
        gap = (
            spark.read.format(FORMAT)
            .option("after", last)
            .option("upto", target)
            .option("shard", str(i))
            .option("numShards", str(old_num_shards))
            .load(path)
        )
        gap.write.mode("append").parquet(catchup_dir)
    new_queries = start_sharded_tail(
        spark,
        path,
        new_num_shards,
        new_sink_dir,
        new_checkpoint_dir,
        after=target,
        **start_kwargs,
    )
    return new_queries, target


def reshard_tailers(
    spark,
    path: str,
    old_tailers: list,
    new_offset_paths: list,
    process,
) -> list:
    """Drain-then-restart re-sharding for per-shard ``DumpTailer``s.

    Same protocol as :func:`reshard_sharded_tail`, with DumpTailer
    offset files instead of streaming checkpoints: quiesce the old
    tailers' scheduler (caller's job), converge every old shard to the
    common ``target`` offset via bounded ``drain(bound=target)`` windows
    through ``process`` (the caller's idempotent sink — the same
    at-least-once→exactly-once contract as normal tailer operation),
    then seed one offset file per NEW shard at ``target`` and return the
    new tailers.  Files ``> target`` belong exclusively to the new set.
    """
    lasts = [t.last() for t in old_tailers]
    visible = [
        os.path.basename(p) for p in _list_dump_files(path, "", None, None, None)
    ]
    target = max(visible + lasts) if (visible or any(lasts)) else ""
    for t in old_tailers:
        t.drain(spark, process, bound=target)
    new_n = len(new_offset_paths)
    tailers = []
    for j, off in enumerate(new_offset_paths):
        if os.path.exists(off):
            raise ValueError(f"refusing to clobber existing offset file {off!r}")
        tmp = off + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"last": target}, fh)
        os.replace(tmp, off)
        tailers.append(
            DumpTailer(path, off, shard=j, num_shards=new_n)
        )
    return tailers
