"""Custom Spark 4 Python DataSource: the event-dump format as a
first-class partition-parallel source/sink (reference --dump-events,
src/main.zig:226-236, incl. the '=%3D' padding quirk)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sanctum_spark.codec.msgpack_codec import pack
from sanctum_spark.eventdump_source import (
    EventDumpDataSource,
    _decode_line,
    _encode_line,
)
from sanctum_spark.io import load_table


def test_dump_line_roundtrip_with_padding_quirk():
    ev = {"event_id": 7, "note": "x"}  # packs to a length needing padding?
    payload = pack(ev)
    line = _encode_line(payload)
    # reference quirk: the LAST '=' (and only it) is %3D-escaped
    assert "=" not in line.split("base64=")[1] or line.endswith("%3D")
    assert _decode_line(line) == payload


def test_eventdump_source_roundtrip_parallel(spark, sf_dir, tmp_path):
    spark.dataSource.register(EventDumpDataSource)
    out1 = str(tmp_path / "d1")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(300)
        .withColumn("payload", F.lit(None).cast("binary"))
        .repartition(4)  # multiple writer tasks -> multiple files
    )
    ev.write.format("sanctum_eventdump").mode("append").save(out1)
    assert len([f for f in os.listdir(out1) if f.endswith(".dump")]) >= 2

    back = spark.read.format("sanctum_eventdump").load(out1)
    want = {
        (r["event_id"], r["user_id"], r["event_type"], r["value"])
        for r in ev.collect()
    }
    got = {
        (r["event_id"], r["user_id"], r["event_type"], r["value"])
        for r in back.collect()
    }
    assert got == want

    # second trip re-emits the stored payload bytes verbatim
    out2 = str(tmp_path / "d2")
    back.write.format("sanctum_eventdump").mode("append").save(out2)
    again = spark.read.format("sanctum_eventdump").load(out2)
    assert sorted(bytes(r["payload"]) for r in again.collect()) == sorted(
        bytes(r["payload"]) for r in back.collect()
    )


def test_eventdump_streaming_source_picks_up_new_files(spark, tmp_path):
    import time
    import uuid as _uuid

    from sanctum_spark.codec.msgpack_codec import pack

    d = str(tmp_path / "stream_dumps")
    os.makedirs(d)

    def write_file(seq: int, ids: range) -> None:
        # log-roll naming: zero-padded sequence = lexicographically increasing
        with open(os.path.join(d, f"dump-{seq:06d}.log"), "w") as fh:
            from sanctum_spark.eventdump_source import _encode_line

            for i in ids:
                fh.write(
                    _encode_line(
                        pack({"event_id": i, "user_id": i % 5, "value": float(i)})
                    )
                    + "\n"
                )

    write_file(1, range(0, 50))
    spark.dataSource.register(EventDumpDataSource)
    name = f"evstream_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("sanctum_eventdump")
        .load(d)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while spark.table(name).count() < 50 and time.time() < deadline:
            time.sleep(0.5)
        assert spark.table(name).count() == 50
        # a file appearing AFTER the stream started must be picked up
        write_file(2, range(50, 80))
        while spark.table(name).count() < 80 and time.time() < deadline:
            time.sleep(0.5)
        assert spark.table(name).count() == 80
        got = {r["event_id"] for r in spark.table(name).collect()}
        assert got == set(range(80))
    finally:
        q.stop()


def test_eventdump_overwrite_replaces_not_appends(spark, tmp_path):
    spark.dataSource.register(EventDumpDataSource)
    out = str(tmp_path / "ow")
    ev = (
        load_table(spark, os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001"), "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(50)
        .withColumn("payload", F.lit(None).cast("binary"))
    )
    ev.write.format("sanctum_eventdump").mode("append").save(out)
    ev.write.format("sanctum_eventdump").mode("overwrite").save(out)
    back = spark.read.format("sanctum_eventdump").load(out)
    assert back.count() == 50  # not 100: overwrite replaced the old files
    # no staging leftovers are visible or present
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_eventdump_available_now_is_one_read_window(spark, tmp_path):
    """Trigger.AvailableNow consumes AT MOST maxFilesPerTrigger files,
    then terminates (r11 ladder root-cause): the engine snapshots
    "available" with ONE latestOffset call, and PySpark's simple-reader
    wrapper maps each latestOffset to exactly one read() window.  The
    Python datasource API has no admission control, so this is engine
    behavior to PIN, not source behavior to fix — backlog drains must
    use a processingTime trigger (family M protocol) or
    maxFilesPerTrigger >= the backlog file count.  If a pyspark upgrade
    makes availableNow drain the full backlog, this pin fails and the
    docstring caveat (eventdump_source.py) comes out."""
    import uuid as _uuid

    from sanctum_spark.codec.msgpack_codec import pack
    from sanctum_spark.eventdump_source import _encode_line

    d = str(tmp_path / "an_dumps")
    os.makedirs(d)
    per_file = 10
    n_files = 4
    for seq in range(n_files):
        with open(os.path.join(d, f"dump-{seq:06d}.log"), "w") as fh:
            for i in range(seq * per_file, (seq + 1) * per_file):
                fh.write(_encode_line(pack({"event_id": i})) + "\n")
    spark.dataSource.register(EventDumpDataSource)

    def drain(mfpt: int) -> set[int]:
        name = f"an_{_uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.format("sanctum_eventdump")
            .option("maxFilesPerTrigger", str(mfpt))
            .load(d)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {r["event_id"] for r in spark.table(name).collect()}

    # window smaller than the backlog: exactly ONE window is consumed
    assert drain(2) == set(range(2 * per_file))
    # window covering the backlog: everything is consumed
    assert drain(n_files) == set(range(n_files * per_file))


def _plant(d: str, seq: int, ids: range) -> None:
    """One log-rolled dump file (zero-padded name = monotone)."""
    from sanctum_spark.eventdump_source import _encode_line

    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"dump-{seq:06d}.log"), "w") as fh:
        for i in ids:
            fh.write(
                _encode_line(pack({"event_id": i, "user_id": i % 7})) + "\n"
            )


def test_eventdump_shards_are_disjoint_and_covering(spark, tmp_path):
    """shard/numShards on the BATCH reader: the N shard reads partition
    the file set exactly — pairwise disjoint, union == unsharded read."""
    d = str(tmp_path / "sh")
    n_files, per_file, n_shards = 12, 5, 3
    for seq in range(n_files):
        _plant(d, seq, range(seq * per_file, (seq + 1) * per_file))
    spark.dataSource.register(EventDumpDataSource)

    def ids(**opts) -> set[int]:
        r = spark.read.format("sanctum_eventdump")
        for k, v in opts.items():
            r = r.option(k, str(v))
        return {row["event_id"] for row in r.load(d).collect()}

    full = ids()
    assert full == set(range(n_files * per_file))
    shards = [ids(shard=i, numShards=n_shards) for i in range(n_shards)]
    assert set().union(*shards) == full
    for i in range(n_shards):
        for j in range(i + 1, n_shards):
            assert not (shards[i] & shards[j])
    # CRC sharding actually splits a 12-file set (not all-in-one-shard)
    assert sum(1 for s in shards if s) >= 2
    # invalid combos fail loudly
    import pytest

    with pytest.raises(Exception):
        ids(shard=3, numShards=3)
    with pytest.raises(Exception):
        ids(shard=1)
    # numShards without shard used to silently default to shard 0
    # (reading ~1/N of the files); now it fails loudly
    with pytest.raises(Exception):
        ids(numShards=3)


def test_dump_tailer_batch_on_schedule_equivalence(spark, tmp_path):
    """DumpTailer (batch-on-schedule recipe): successive (after, upto]
    windows over a GROWING dump tree, with a restart mid-way from the
    durable offset file, deliver exactly the full batch read — no loss,
    no replay after commit."""
    from sanctum_spark.streaming.tailing import DumpTailer

    d = str(tmp_path / "bt")
    off = str(tmp_path / "offsets.json")
    spark.dataSource.register(EventDumpDataSource)
    for seq in range(5):
        _plant(d, seq, range(seq * 10, seq * 10 + 10))

    seen: list[int] = []

    def process(df):
        seen.extend(r["event_id"] for r in df.collect())

    t1 = DumpTailer(d, off, max_files_per_batch=2)
    win = t1.poll(spark)
    assert win is not None
    df, upto = win
    process(df)
    t1.commit(upto)
    assert sorted(seen) == list(range(20)) and upto == "dump-000001.log"
    # an uncommitted poll is replayed exactly (crash-before-commit)
    df2, upto2 = t1.poll(spark)
    assert upto2 == "dump-000003.log"
    # ...restart from the DURABLE offset: a fresh tailer resumes there
    t2 = DumpTailer(d, off, max_files_per_batch=2)
    assert t2.last() == "dump-000001.log"
    # new files arriving mid-drain are picked up by later windows
    _plant(d, 5, range(50, 60))
    n_windows = t2.drain(spark, process)
    assert n_windows == 2  # files 2-3, then 4-5
    assert sorted(seen) == list(range(60))
    assert t2.poll(spark) is None  # idle when caught up
    # commits must be monotone (stale/duplicate commit = caller bug)
    import pytest

    with pytest.raises(ValueError):
        t2.commit("dump-000000.log")


def test_dump_tailer_validates_shard_pair(tmp_path):
    """DumpTailer applies the same shard rule as the reader options:
    the pair comes together and shard is range-checked (a silently
    ignored or defaulted shard is a data-loss footgun, not a config)."""
    import pytest

    from sanctum_spark.streaming.tailing import DumpTailer

    d, off = str(tmp_path / "d"), str(tmp_path / "off.json")
    with pytest.raises(ValueError):
        DumpTailer(d, off, shard=1)  # shard without num_shards
    with pytest.raises(ValueError):
        DumpTailer(d, off, num_shards=4)  # num_shards without shard
    with pytest.raises(ValueError):
        DumpTailer(d, off, shard=4, num_shards=4)  # out of range
    with pytest.raises(ValueError):
        DumpTailer(d, off, shard=0, num_shards=0)  # degenerate
    DumpTailer(d, off, shard=3, num_shards=4)  # valid pair is fine


def test_dump_tailer_drain_tick_is_bounded(spark, tmp_path):
    """One drain() tick terminates even when the producer appends files
    faster than process() consumes them: the file set is snapshotted at
    tick entry, so mid-drain arrivals roll to the NEXT tick — and
    max_windows additionally caps a tick for latency-bounded schedulers."""
    from sanctum_spark.streaming.tailing import DumpTailer

    d = str(tmp_path / "fast")
    off = str(tmp_path / "offsets.json")
    spark.dataSource.register(EventDumpDataSource)
    for seq in range(3):
        _plant(d, seq, range(seq * 10, seq * 10 + 10))

    seen: list[int] = []
    next_seq = [3]

    def process(df):
        # adversarial producer: every window's processing plants one
        # MORE file — an unbounded tick would chase it forever
        seen.extend(r["event_id"] for r in df.collect())
        s = next_seq[0]
        _plant(d, s, range(s * 10, s * 10 + 10))
        next_seq[0] += 1

    t = DumpTailer(d, off, max_files_per_batch=1)
    n = t.drain(spark, process)
    assert n == 3  # exactly the snapshot at tick entry: files 0-2
    assert sorted(seen) == list(range(30))
    # the mid-tick arrivals (files 3-5) are all still pending...
    n2 = t.drain(spark, lambda df: seen.extend(
        r["event_id"] for r in df.collect()), max_windows=2)
    assert n2 == 2  # ...and max_windows caps the second tick at 2
    assert sorted(seen) == list(range(50))
    # a final tick finishes the backlog (file 5)
    while t.drain(spark, lambda df: seen.extend(
            r["event_id"] for r in df.collect())):
        pass
    assert sorted(seen) == list(range(next_seq[0] * 10))


def test_reshard_sharded_tail_delivery_equality(spark, tmp_path):
    """Safe re-sharding N=2 → N′=3 on a GROWING log: stop the old
    streams mid-backlog, converge each old shard's committed-offset gap
    through bounded batch catch-up windows, restart at N′ with
    after=target and fresh sink/checkpoint dirs — the union of old
    sinks + catch-up + new sinks is exactly every planted row, no loss,
    no duplicates across the transition."""
    import time

    from sanctum_spark.streaming.tailing import (
        committed_stream_offset,
        reshard_sharded_tail,
        start_sharded_tail,
    )

    d = str(tmp_path / "rs")
    for seq in range(8):
        _plant(d, seq, range(seq * 10, seq * 10 + 10))
    spark.dataSource.register(EventDumpDataSource)
    sink1, ck1 = str(tmp_path / "sink1"), str(tmp_path / "ck1")
    # maxFilesPerTrigger=1 so the old shards are still mid-backlog when
    # stopped — the catch-up windows have real work to do
    queries = start_sharded_tail(
        spark, d, 2, sink1, ck1, max_files_per_trigger=1
    )
    deadline = time.time() + 120

    def read_union(*dirs) -> list[int]:
        # one read per dir: a single-path read honors the file sink's
        # _spark_metadata log (multi-path reads bypass it and would see
        # in-flight part files)
        out = []
        for sd in dirs:
            try:
                out.extend(
                    r["event_id"] for r in spark.read.parquet(sd).collect()
                )
            except Exception:
                pass  # sink dir not created yet / empty
        return out

    old_sinks = [os.path.join(sink1, f"shard={i}") for i in range(2)]
    while not read_union(*old_sinks) and time.time() < deadline:
        time.sleep(0.2)
    # producer keeps going right up to the re-shard
    for seq in range(8, 10):
        _plant(d, seq, range(seq * 10, seq * 10 + 10))

    sink2, ck2 = str(tmp_path / "sink2"), str(tmp_path / "ck2")
    catchup = str(tmp_path / "catchup")
    new_queries, target = reshard_sharded_tail(
        spark, d, 2, sink1, ck1, 3, sink2, ck2, catchup, queries=queries
    )
    try:
        assert target == "dump-000009.log"
        # old offsets were mid-backlog (the recipe had a real gap to fill)
        lasts = [
            committed_stream_offset(
                os.path.join(ck1, f"shard={i}"), os.path.join(sink1, f"shard={i}")
            )
            for i in range(2)
        ]
        assert any(last < target for last in lasts)
        # everything <= target is already exactly-once in old sinks + catch-up
        pre = read_union(*old_sinks, catchup)
        assert sorted(pre) == list(range(100))
        # files arriving AFTER the hand-off go only to the new shard set
        _plant(d, 10, range(100, 110))
        new_sinks = [os.path.join(sink2, f"shard={j}") for j in range(3)]
        while len(read_union(*new_sinks)) < 10 and time.time() < deadline:
            time.sleep(0.3)
        assert sorted(read_union(*new_sinks)) == list(range(100, 110))
        assert sorted(read_union(*old_sinks, catchup, *new_sinks)) == list(
            range(110)
        )
    finally:
        for q in new_queries:
            q.stop()


def test_reshard_hands_off_after_sink_logged_uncommitted_batch(spark, tmp_path):
    """A stop() between the file sink's ``_spark_metadata/<id>`` write and
    the commit-log entry leaves batch ``id`` visible in the sink but not in
    ``commits/``.  Crafted without timing: drain 3 files (one per batch),
    then delete ``commits/2``.  The catch-up must not read file 2 again."""
    from sanctum_spark.streaming.tailing import (
        _batch_ids,
        committed_stream_offset,
        reshard_sharded_tail,
        start_sharded_tail,
    )

    d = str(tmp_path / "rs")
    for seq in range(3):
        _plant(d, seq, range(seq * 10, seq * 10 + 10))
    spark.dataSource.register(EventDumpDataSource)
    sink1, ck1 = str(tmp_path / "sink1"), str(tmp_path / "ck1")
    (q,) = start_sharded_tail(spark, d, 1, sink1, ck1, max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    shard_ck, shard_sink = os.path.join(ck1, "shard=0"), os.path.join(sink1, "shard=0")
    offsets = [f for f in os.listdir(os.path.join(shard_ck, "offsets")) if f.isdigit()]
    assert sorted(offsets) == ["0", "1", "2"]
    for f in ("2", ".2.crc"):
        os.remove(os.path.join(shard_ck, "commits", f))
    assert max(_batch_ids(os.path.join(shard_ck, "commits"))) == 1
    assert max(_batch_ids(os.path.join(shard_sink, "_spark_metadata"))) == 2
    assert committed_stream_offset(shard_ck, shard_sink) == "dump-000002.log"

    catchup = str(tmp_path / "catchup")
    new_queries, target = reshard_sharded_tail(
        spark, d, 1, sink1, ck1, 2, str(tmp_path / "sink2"), str(tmp_path / "ck2"), catchup
    )
    for nq in new_queries:
        nq.stop()
    assert target == "dump-000002.log"
    ids = [r["event_id"] for r in spark.read.parquet(shard_sink).collect()]
    if os.path.isdir(catchup):
        ids += [r["event_id"] for r in spark.read.parquet(catchup).collect()]
    assert sorted(ids) == list(range(30))


def test_reshard_tailers_delivery_equality(spark, tmp_path):
    """Safe re-sharding for per-shard DumpTailers (2 → 3): converge the
    old tailers to the common target via bounded drains, seed the new
    offset files at target — delivery across the transition is exactly
    once, and new files go only to the new shard set."""
    from sanctum_spark.streaming.tailing import DumpTailer, reshard_tailers

    d = str(tmp_path / "rt")
    spark.dataSource.register(EventDumpDataSource)
    for seq in range(6):
        _plant(d, seq, range(seq * 10, seq * 10 + 10))

    seen: list[int] = []

    def process(df):
        seen.extend(r["event_id"] for r in df.collect())

    old = [
        DumpTailer(
            d, str(tmp_path / f"off_old_{i}.json"),
            max_files_per_batch=1, shard=i, num_shards=2,
        )
        for i in range(2)
    ]
    # leave the old set mid-backlog: at most 2 windows each
    for t in old:
        t.drain(spark, process, max_windows=2)
    assert 0 < len(seen) < 60
    new_offsets = [str(tmp_path / f"off_new_{j}.json") for j in range(3)]
    new = reshard_tailers(spark, d, old, new_offsets, process)
    # converged: every pre-hand-off row delivered exactly once
    assert sorted(seen) == list(range(60))
    assert all(t.last() == "dump-000005.log" for t in new)
    # post-hand-off files land only in the new set, disjoint across shards
    _plant(d, 6, range(60, 70))
    _plant(d, 7, range(70, 80))
    per_new = []
    for t in new:
        got: list[int] = []
        t.drain(spark, lambda df, g=got: g.extend(
            r["event_id"] for r in df.collect()))
        per_new.append(got)
    flat = [x for g in per_new for x in g]
    assert sorted(flat) == list(range(60, 80))
    # seeding refuses to clobber an existing offset file
    import pytest

    with pytest.raises(ValueError):
        reshard_tailers(spark, d, new, new_offsets, process)


def test_sharded_tail_streams_equal_single_drain(spark, tmp_path):
    """start_sharded_tail (sharded-streams recipe): N concurrent shard
    streams over one dump tree deliver, in union, exactly the rows of
    the single-stream drain — including files planted AFTER the shards
    started."""
    import time

    from sanctum_spark.streaming.tailing import start_sharded_tail

    d = str(tmp_path / "st")
    n_shards = 3
    for seq in range(6):
        _plant(d, seq, range(seq * 10, seq * 10 + 10))
    spark.dataSource.register(EventDumpDataSource)
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    queries = start_sharded_tail(spark, d, n_shards, sink, ck)
    try:
        def delivered() -> int:
            try:
                return spark.read.parquet(
                    *(os.path.join(sink, f"shard={i}") for i in range(n_shards))
                ).count()
            except Exception:
                return 0  # a shard sink dir may not exist yet

        deadline = time.time() + 120
        while delivered() < 60 and time.time() < deadline:
            time.sleep(0.3)
        assert delivered() == 60
        # live tail: a file appearing after start reaches exactly one shard
        _plant(d, 6, range(60, 70))
        while delivered() < 70 and time.time() < deadline:
            time.sleep(0.3)
        assert delivered() == 70
    finally:
        for q in queries:
            q.stop()
    got = spark.read.parquet(
        *(os.path.join(sink, f"shard={i}") for i in range(n_shards))
    )
    assert {r["event_id"] for r in got.collect()} == set(range(70))
    assert got.count() == 70  # union has no duplicates either
