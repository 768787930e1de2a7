"""Stateful spells: the reference's durable-state roadmap
(README.md:106-110 — "durable spell state", KV store with range queries)
as per-key state over ``applyInPandasWithState``.

A stateful spell is three callables over a per-key KV dict:
- ``init() -> dict``                                  initial state
- ``update(state: dict, batch: pd.DataFrame) -> dict`` fold one event batch
- ``emit(key, state) -> dict | None``                 output row per batch

State survives across micro-batches via the Spark state store (RocksDB /
HDFS-backed provider on a cluster), which is the durable-KV semantics the
reference declares but never built.  Range queries over the state
(README.md:110) are served by emitting state snapshots and filtering —
see ``range_query_state`` in tests.

One backend: ``applyInPandasWithState`` with no timeout.  Spark 4's
``transformWithStateInPandas`` (typed ValueState/MapState/timers) is the
successor API; its Python runner needs ``google.protobuf``, which this
package does not depend on, so it is not wired in.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


@dataclass
class StatefulSpell:
    """Per-key stateful fold.

    ``update`` is called once per pandas CHUNK by default — Spark splits a
    key's micro-batch into multiple arbitrary-order chunks when it exceeds
    the Arrow batch size, so commutative/associative folds (sums, counts)
    are safe but order-sensitive recurrences are NOT.  An order-sensitive
    spell must set ``order_by``: the runner then concatenates the whole
    per-key batch, sorts it once on those columns, and calls ``update``
    exactly once per micro-batch.
    """

    name: str
    init: Callable[[], dict]
    update: Callable[[dict, pd.DataFrame], dict]
    emit: Callable[[tuple, dict], dict | None]
    state_schema: T.StructType = field(default_factory=lambda: T.StructType())
    output_schema: T.StructType = field(default_factory=lambda: T.StructType())
    order_by: list[str] | None = None


def apply_stateful_spell(
    events: DataFrame,
    spell: StatefulSpell,
    key_cols: list[str],
) -> DataFrame:
    """Run a stateful spell per key over a (streaming) DataFrame.

    The state dict is persisted as a tuple matching ``state_schema`` field
    order; emitted rows follow ``output_schema``.  State never times out:
    a key's state lives until the query's checkpoint is discarded.
    """
    state_fields = [f.name for f in spell.state_schema.fields]
    out_fields = [f.name for f in spell.output_schema.fields]
    init, update, emit = spell.init, spell.update, spell.emit
    order_by = spell.order_by

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            st = dict(zip(state_fields, state.get))
        else:
            st = init()
        if order_by:
            # Order-sensitive fold: a key's micro-batch may arrive as
            # several arbitrary-order chunks (arrow maxRecordsPerBatch
            # splits large groups), so sort the WHOLE batch once and fold
            # it in a single update call.
            chunks = list(pdf_iter)
            if chunks:
                whole = pd.concat(chunks, ignore_index=True)
                st = update(st, whole.sort_values(order_by, ignore_index=True))
        else:
            for pdf in pdf_iter:
                st = update(st, pdf)
        state.update(tuple(st[f] for f in state_fields))
        row = emit(key, st)
        if row is not None:
            yield pd.DataFrame({f: [row.get(f)] for f in out_fields})

    return events.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=spell.output_schema,
        stateStructType=spell.state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kv_store_spell(value_col: str = "value") -> StatefulSpell:
    """Durable per-key KV store with range-query semantics.

    The reference's state roadmap asks for "SELECT * FROM state WHERE
    v > 10 AND v < 20" over spell state (reference: README.md:110 — it
    staged SQLite for this but never wired it).  Spark-first reading: the
    state store holds the KV pairs; every micro-batch emits the key's
    current aggregate snapshot, and a range query is a DataFrame filter
    over the latest snapshot — the predicate stays in Catalyst, the state
    stays in the (RocksDB-capable) store.
    """
    return StatefulSpell(
        name="kv_store",
        init=lambda: {"n": 0, "v_min": None, "v_max": None, "v_sum": 0.0},
        update=lambda st, pdf: {
            "n": st["n"] + len(pdf),
            "v_min": min(
                x for x in [st["v_min"], float(pdf[value_col].min())] if x is not None
            ),
            "v_max": max(
                x for x in [st["v_max"], float(pdf[value_col].max())] if x is not None
            ),
            "v_sum": st["v_sum"] + float(pdf[value_col].sum()),
        },
        emit=lambda key, st: {
            "user_id": key[0],
            "n": st["n"],
            "v_min": st["v_min"],
            "v_max": st["v_max"],
            "v_avg": st["v_sum"] / st["n"] if st["n"] else None,
        },
        state_schema=T.StructType(
            [
                T.StructField("n", T.LongType()),
                T.StructField("v_min", T.DoubleType()),
                T.StructField("v_max", T.DoubleType()),
                T.StructField("v_sum", T.DoubleType()),
            ]
        ),
        output_schema=T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("n", T.LongType()),
                T.StructField("v_min", T.DoubleType()),
                T.StructField("v_max", T.DoubleType()),
                T.StructField("v_avg", T.DoubleType()),
            ]
        ),
    )


def range_query_state(snapshot: DataFrame, predicate: str) -> DataFrame:
    """Range query over the latest emitted state snapshots: keep each
    key's last emission, then apply the SQL predicate (the reference's
    state range-query surface)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n").desc())
    latest = (
        snapshot.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return latest.filter(predicate)


def counter_spell() -> StatefulSpell:
    """The decrement/counter family as durable per-key state: running event
    count + value sum per key (reference's per-spell counter state)."""
    return StatefulSpell(
        name="counter",
        init=lambda: {"n": 0, "total": 0.0},
        update=lambda st, pdf: {
            "n": st["n"] + len(pdf),
            "total": st["total"] + float(pdf["value"].sum()),
        },
        emit=lambda key, st: {
            "user_id": key[0],
            "event_type": key[1],
            "n": st["n"],
            "total": round(st["total"], 2),
        },
        state_schema=T.StructType(
            [
                T.StructField("n", T.LongType()),
                T.StructField("total", T.DoubleType()),
            ]
        ),
        output_schema=T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("total", T.DoubleType()),
            ]
        ),
    )


def ewma_spell(alpha: float = 0.2, value_col: str = "value") -> StatefulSpell:
    """Streaming EWMA per key — the unbounded-history form of q135.

    The batch query folds each key's full ordered history with
    ``aggregate()``; that assumes per-key history fits an executor. Here
    the recurrence lives in per-key state instead (one double + a count),
    so history length is unbounded: each micro-batch folds its rows in
    (ts, event_id) order into the carried value. Identical arithmetic —
    alpha*x + (1-alpha)*acc per row — so given time-ordered batches the
    final state equals the batch fold exactly.  ``order_by`` makes the
    runner assemble and sort the WHOLE per-key micro-batch before the
    fold — per-chunk sorting is not enough, since Spark may split a large
    group into several arbitrary-order chunks.
    """
    a = float(alpha)

    def update(st: dict, pdf: pd.DataFrame) -> dict:
        ew, n = st["ewma"], st["n"]
        for x in pdf[value_col].astype(float):
            ew = x if n == 0 else a * x + (1.0 - a) * ew
            n += 1
        return {"ewma": ew, "n": n}

    return StatefulSpell(
        name="ewma",
        init=lambda: {"ewma": None, "n": 0},
        update=update,
        order_by=["ts", "event_id"],
        emit=lambda key, st: {"user_id": key[0], "ewma": st["ewma"], "n": st["n"]},
        state_schema=T.StructType(
            [
                T.StructField("ewma", T.DoubleType()),
                T.StructField("n", T.LongType()),
            ]
        ),
        output_schema=T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ewma", T.DoubleType()),
                T.StructField("n", T.LongType()),
            ]
        ),
    )
