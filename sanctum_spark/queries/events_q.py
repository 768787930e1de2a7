"""Events family: queries that read the ``events`` table and no documents
or embeddings, alone or joined to the star tables.

They re-express the reference's event semantics relationally (reference:
src/main.zig:169-210 topic filter; docunomicon/README.md event model):
topic routing with null-tolerant matching, dynamic JSON payload access,
sessionization, event-time windows, as-of and range joins, grouped pandas
UDFs, complex-event patterns, time-series statistics and privacy release
gates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from sanctum_spark.io import load_table
from sanctum_spark.operators.joins import asof_join, binned_range_join
from sanctum_spark.operators.rollup import (
    merge_rollup,
    partial_rollup,
    with_avg,
)
from sanctum_spark.operators.timeseries import REF_PATTERN, dtw_to_ref
from sanctum_spark.operators.topk import grouped_topk
from sanctum_spark.queries import register
from sanctum_spark.queries.util import (
    int_grain,
    money_round,
    sql_int_grain,
    sql_json_int,
    sql_money_round,
    stable_round,
)


@register(
    "q60_topic_routing",
    f"""
    SELECT user_id,
           COUNT(*)                              AS n_events,
           {sql_money_round('SUM(value)')}       AS total_value
    FROM events
    WHERE event_type IS NULL OR event_type = 'click'
    GROUP BY user_id
    """,
    doc=(
        "Topic filter with the reference's null semantics: a NULL topic "
        "matches every spell (src/main.zig:192-196) — hence the IS NULL "
        "arm. total_value uses money_round (5e-7 eps, both sides): the "
        "prior bare ROUND(SUM(value), 2) diverged cross-engine when the "
        "float sum landed exactly on a .xx5 half boundary (r8 fuzz "
        "sweep, seed 7: 545.835 — Spark's BigDecimal shortest-repr "
        "rounding vs DuckDB's binary expansion)."
    ),
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    routed = ev.filter(F.col("event_type").isNull() | (F.col("event_type") == "click"))
    return routed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_round(F.sum("value")).alias("total_value"),
    )


@register(
    "q61_json_props",
    f"""
    SELECT {sql_json_int("props", "'$.k'")} AS k,
           COUNT(*)             AS n,
           ROUND(AVG(value) + 1e-9, 4) AS avg_value
    FROM events
    GROUP BY 1
    """,
    doc="dynamic JSON payload access (events.props is the schemaless payload).",
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").try_cast("long"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), stable_round(F.avg("value"), 4).alias("avg_value"))
    )


SESSION_GAP_NS = 1_800_000_000_000  # 30 min, exact nanos


def sessionize(ev: DataFrame) -> DataFrame:
    """``ev`` plus ``new_session`` (1 where a session starts) and the
    per-user ``session_id`` (long, from 1): a session starts at a user's
    first event and wherever the gap to the previous event, in (ts_ns,
    event_id) order, exceeds ``SESSION_GAP_NS``.  Gaps compare exact
    nanosecond epochs, as ``sessions_sql`` does."""
    w = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    prev_ts = F.lag("ts_ns").over(w)
    new_session = F.when(
        prev_ts.isNull() | (F.col("ts_ns") - prev_ts > SESSION_GAP_NS), 1
    ).otherwise(0)
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("long")
    )


def sessions_sql(*cols: str) -> str:
    """The oracle side of ``sessionize``: CTEs ``gaps`` and ``sess``,
    where ``sess`` holds user_id, ts_ns, event_id, ``cols`` and
    session_id for every event."""
    extra = "".join(f", {c}" for c in cols)
    return f"""gaps AS (
        SELECT user_id, epoch_ns(ts) AS ts_ns, event_id{extra},
               CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > {SESSION_GAP_NS}
                         OR LAG(epoch_ns(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts_ns, event_id{extra},
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_ns, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    )"""


@register(
    "q62_sessionize",
    f"""
    WITH {sessions_sql()}
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
    doc=(
        "batch sessionization: 30-min-gap session ids via lag + running "
        "sum; gaps compared on exact nanosecond epochs on both engines."
    ),
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        sessionize(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "q63_asof_join",
    """
    SELECT event_id, user_id, o_orderkey AS last_orderkey
    FROM (
        SELECT e.event_id, e.user_id, o.o_orderkey,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC NULLS LAST,
                            o.o_orderkey DESC NULLS LAST
               ) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) t
    WHERE rn = 1
    """,
    doc=(
        "as-of join: each event matched to the most recent prior order of "
        "the same user. Uses the merge-scan strategy (union + per-user "
        "last(ignorenulls) over the time-interleaved stream): zero "
        "fan-out, intermediate size |events| + |orders| regardless of "
        "per-user history depth — the rank strategy's pre-rank join grows "
        "linearly with order history per event. Oracle SQL stays the "
        "rank-based spec; identical results prove the strategies agree."
    ),
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("o_date_ts"),
        "o_orderkey",
    )
    return asof_join(
        ev,
        orders,
        on="user_id",
        left_time="ts",
        right_time="o_date_ts",
        strategy="merge",
    ).select("event_id", "user_id", F.col("o_orderkey").alias("last_orderkey"))


@register(
    "q64_tumbling_window",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*)             AS n,
           CAST(SUM({sql_int_grain('value', 3)}) AS BIGINT) AS total_value_e3
    FROM events
    GROUP BY 1, 2
    """,
    doc=(
        "event-time tumbling window (batch form of the streaming windowed "
        "agg). The value sum is pinned at integer e3 grain — each event's "
        "value becomes a BIGINT at the scan and the SUM is exact integer "
        "arithmetic on both engines. The prior ROUND(SUM(value), 2) pin "
        "diverged under the r6 fuzz sweep: engine summation ORDER shifts "
        "the double sum by ulps, and a sum within an ulp of a .xx5 "
        "boundary rounds differently per engine — per-row grain "
        "evaluates the identical double expression on identical inputs, "
        "so the ints (and their sum) match bit-exactly at any order."
    ),
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(int_grain(F.col("value"), 3)).alias("total_value_e3"),
        )
    )


@register(
    "q65_event_pivot",
    """
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'view')     AS view,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'error')    AS error
    FROM events GROUP BY user_id
    """,
    doc="pivot event types to columns (demux of a topic-routed stream).",
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    for k in kinds:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(0)))
    return out


@register(
    "q67_props_as_map",
    f"""
    SELECT k AS prop_key,
           COUNT(*) AS n,
           CAST(SUM({sql_json_int("props", "'$.' || k")}) AS BIGINT) AS total
    FROM (SELECT props, UNNEST(json_keys(TRY_CAST(props AS JSON))) AS k FROM events) t
    GROUP BY k
    """,
    doc=(
        "schemaless payload as a typed map: from_json to "
        "map<string,string> + per-value try_cast(long), explode, "
        "aggregate per key (the dynamic-event-field access path). The "
        "string-map parse survives mixed-type payloads — a typed "
        "map<string,long> would NULL the whole map on one bad value and "
        "drop the event from the key counts (r6 degenerate-row sweep)."
    ),
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # parse as map<string,string> then try_cast values: a typed
    # map<string,long> parse NULLs the ENTIRE map when any value fails
    # coercion, silently dropping the event from the key counts — with
    # string values the key count survives mixed-type payloads and
    # non-integer values contribute NULL to the sum, matching the
    # oracle's per-key json_type guard (r6 degenerate-row sweep)
    m = F.from_json("props", T.MapType(T.StringType(), T.StringType()))
    return (
        ev.select(F.explode(m).alias("prop_key", "vs"))
        .groupBy("prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("vs").try_cast("long")).alias("total"),
        )
    )


@register(
    "q83_grouped_agg_udf",
    """
    SELECT user_id,
           ROUND(CASE WHEN ABS(SUM(value)) <= 1e-9 * SUM(ABS(value))
                      THEN NULL
                      ELSE SUM(value * value) / SUM(value) END + 1e-9, 4)
               AS self_weighted
    FROM events
    GROUP BY user_id
    """,
    doc=(
        "grouped-aggregate pandas UDF (UDAF): Arrow-batched numpy "
        "reduction per group, oracle-checked against its closed form. "
        "Mixed-sign groups whose weight mass cancels (|sum| <= 1e-9 * "
        "sum|v|) yield NULL on BOTH engines via the same relative "
        "threshold — an exact ==0.0 guard left the knife-edge where one "
        "engine accumulates 0.0 and the other ~1e-13 (r6 ADVICE item 4)."
    ),
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    @F.pandas_udf("double")
    def self_weighted(v: pd.Series) -> float:
        # value-weighted mean of value: sum(v^2)/sum(v). NULL when the
        # weight mass cancels: a relative threshold (|sum| vs sum of
        # |v|) is derivable identically on both engines, unlike ==0.0.
        # RESIDUAL DOMAIN NOTE (cf. util.py pin-domain): a group whose
        # true |sum| sits within ~1 ulp of 1e-9*sum|v| itself can still
        # flip the CASE between engines via summation order — at that
        # boundary self_weighted is ~1e9x the data scale, i.e. outside
        # the pin's meaningful domain, like the |x|>=1e12 ROUND pins.
        s = float(v.sum())
        mass = float(v.abs().sum())
        return None if abs(s) <= 1e-9 * mass else float((v * v).sum() / s)

    return ev.groupBy("user_id").agg(
        stable_round(self_weighted("value"), 4).alias("self_weighted")
    )


@register(
    "q84_spell_fanout_udtf",
    f"""
    SELECT e.event_id, CAST(s.i AS BIGINT) AS copy_idx,
           {sql_int_grain("e.value / e.n", 2)} AS share_e2
    FROM (
        SELECT event_id, value,
               {sql_json_int("props", "'$.k'")} % 3 + 1 AS n
        FROM events
    ) e
    JOIN (SELECT UNNEST([1, 2, 3]) AS i) s ON s.i <= e.n
    """,
    doc=(
        "row-generating spell (UDTF, 1→N): each event fans out into "
        "k%3+1 equal shares — the reference's N:M roadmap (README.md:131) "
        "as a mapInPandas generator. The share is pinned at integer e2 "
        "grain with the identical IEEE expression floor(v/n*100+0.5+1e-9) "
        "in the Python generator and the SQL oracle: the prior "
        "ROUND(v/n, 2) pair diverged in the last digit when v/n sits "
        "within an ulp of a .xx5 boundary (engine round() implementations "
        "differ in op sequence — r6 fuzz sweep, seed 2)."
    ),
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.get_json_object("props", "$.k").try_cast("long") % 3 + 1).alias("n_copies"),
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("copy_idx", T.LongType()),
            T.StructField("share_e2", T.LongType()),
        ]
    )

    def fanout(batches):
        import numpy as np

        for pdf in batches:
            # Vectorized fan-out (r10 verdict task #3 — the former
            # to_dict("records") row loop was the only per-row Python in a
            # registered query's Arrow batch).  Row filter first, matching
            # the oracle's `s.i <= e.n`:
            #  - NULL/malformed $.k (n_copies NaN through Arrow) → no rows;
            #  - n < 1 (negative k: k%3 follows the dividend sign in both
            #    Spark and DuckDB, so n can be 0 or -1) → no rows, and the
            #    filter runs BEFORE the v/n division (r6 ADVICE item 1).
            n_f = pd.to_numeric(pdf["n_copies"], errors="coerce").to_numpy(
                dtype="float64", na_value=np.nan
            )
            keep = ~np.isnan(n_f) & (n_f >= 1)
            reps = n_f[keep].astype("int64")
            v = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)[keep]
            # The int_grain pin, written as the SAME IEEE double op
            # sequence the oracle evaluates — (v / n) * 100.0 + 0.5 +
            # 1e-9, then an exact floor.  numpy float64 executes the
            # identical op sequence elementwise that the scalar kernel
            # ran per row, so the pinned ints stay bit-exact (r6 fuzz
            # pin, seed 2).  NULL value with a parsable k: NaN flows
            # through to a masked (NULL) share while the fan-out rows
            # are still emitted, as the oracle does.
            share_f = np.floor((v / reps) * 100.0 + 0.5 + 1e-9)
            # 1→N expansion: repeat each source row n times and number
            # the copies 1..n with a repeated-group-start subtraction.
            row_idx = np.repeat(np.arange(reps.size, dtype="int64"), reps)
            starts = np.cumsum(reps) - reps
            copy_idx = (
                np.arange(row_idx.size, dtype="int64")
                - np.repeat(starts, reps)
                + 1
            )
            share_rep = share_f[row_idx]
            null_mask = np.isnan(share_rep)
            share = pd.arrays.IntegerArray(
                np.where(null_mask, 0, share_rep).astype("int64"), null_mask
            )
            # event_id is a non-null key in the fixtures, but a nullable
            # arrival through Arrow delivers float64-with-NaN and the raw
            # int64 cast is undefined — fail loudly instead of emitting
            # garbage ids.
            assert pdf["event_id"].notna().all(), "NULL event_id in batch"
            event_id = (
                pdf["event_id"].to_numpy(dtype="int64")[keep][row_idx]
                if row_idx.size
                else np.empty(0, dtype="int64")
            )
            yield pd.DataFrame({
                "event_id": pd.array(event_id, dtype="int64"),
                "copy_idx": pd.array(copy_idx, dtype="int64"),
                # nullable Int64: NULL-value shares stay NULL through Arrow
                "share_e2": share,
            })

    return ev.mapInPandas(fanout, schema=schema)


@register(
    "q85_grouped_map_normalize",
    """
    SELECT user_id, event_id,
           ROUND((value - AVG(value) OVER w) / stddev_samp(value) OVER w + 1e-9, 5)
               AS value_z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
    doc=(
        "per-user z-score normalization as pure-JVM window aggregates "
        "(one user_id exchange, zero Python — the r13 rewrite of the "
        "original grouped-map applyInPandas form; grouped-map coverage "
        "lives in tests/test_operators.py and q83's grouped-agg UDAF), "
        "oracle-checked against the identical window form."
    ),
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 optimization (guide §4.1): the original grouped-map
    # applyInPandas shipped EVERY event row JVM->Python->JVM
    # (FlatMapGroupsInPandas) just to compute a per-group mean/stddev —
    # the z-score is expressible as unbounded window aggregates, which
    # run inside whole-stage codegen on the same single user_id
    # exchange.  Semantics preserved exactly (oracle is this window
    # form): avg/stddev_samp skip NULLs like pandas mean/std skip NaN;
    # a single-row group's stddev_samp is NULL (pandas NaN -> both NaN
    # under the driver hash); try_divide maps the all-equal-group 0/0
    # to NULL where pandas produced NaN (ANSI mode would otherwise
    # raise DIVIDE_BY_ZERO).  The grouped-map surface itself stays
    # covered by tests/test_operators.py and the q83 grouped-agg UDAF.

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = W.partitionBy("user_id")
    z = F.try_divide(
        F.col("value") - F.avg("value").over(w),
        F.stddev_samp("value").over(w),
    )
    return ev.select(
        "user_id", "event_id", stable_round(z, 5).alias("value_z")
    )


@register(
    "q86_event_sequence",
    """
    SELECT c.user_id, COUNT(DISTINCT c.event_id) AS n_converting_clicks
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND epoch_ns(p.ts) > epoch_ns(c.ts)
     AND epoch_ns(p.ts) <= epoch_ns(c.ts) + 1800000000000
    WHERE c.event_type = 'click'
    GROUP BY c.user_id
    """,
    doc=(
        "CEP-style sequence pattern: click followed by a purchase within "
        "30 min by the same user (exact-ns band self-join — the batch "
        "form of MATCH_RECOGNIZE-style pattern detection)."
    ),
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id"),
        F.col("ts_ns").alias("c_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts_ns").alias("p_ts")
    )
    j = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.lit(1_800_000_000_000)),
    )
    return j.groupBy(F.col("c_user").alias("user_id")).agg(
        F.countDistinct("c_id").alias("n_converting_clicks")
    )


@register(
    "q88_user_correlation",
    f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST(SUM({sql_int_grain('value', 3)}) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    active AS (
        SELECT user_id FROM hourly GROUP BY 1 HAVING COUNT(*) >= 5
    ),
    ha AS (
        SELECT * FROM hourly WHERE user_id IN (SELECT user_id FROM active)
    ),
    pairs AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               ROUND(corr(a.v, b.v) + 1e-9, 4) AS value_corr,
               COUNT(*) AS n_hours
        FROM ha a JOIN ha b
          ON a.h = b.h AND a.user_id < b.user_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 5
    ),
    sym AS (
        SELECT user_a AS user_id, user_b AS partner_id, value_corr, n_hours
        FROM pairs
        UNION ALL
        SELECT user_b, user_a, value_corr, n_hours FROM pairs
    )
    SELECT user_id, partner_id, value_corr, n_hours
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id
            ORDER BY value_corr DESC NULLS LAST, n_hours DESC, partner_id ASC
        ) AS rn FROM sym
    )
    WHERE rn <= 3
    """,
    doc=(
        "time-series similarity: per-user hourly value series aligned on "
        "the hour bucket, pairwise Pearson correlation, reported as each "
        "user's TOP-3 most-correlated partners. Scale shape: the pairing "
        "stage runs on a (user_id, hour)-only projection (16-byte "
        "payload), a per-user >=5-active-hours pre-filter drops the "
        "one-off-user long tail first, and — critically — the OUTPUT is "
        "bounded O(users*k) by a per-user top-k (grouped_topk window), "
        "not Theta(users^2): at 100x users the answer grows 100x, not "
        "10,000x. Two-phase block-then-verify variants were measured and "
        "rejected at this density (see in-code note); the top-k bound is "
        "what survives any density. The hourly series is pinned at "
        "integer e3 grain (exact BIGINT sums both engines) — Pearson "
        "correlation is scale-invariant, so value_corr is unchanged, but "
        "the prior ROUND(SUM(value), 2) input pin flipped at .xx5 "
        "boundaries under engine summation-order ulps and swung small-n "
        "correlations by whole percents (r6 fuzz sweep)."
    ),
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(int_grain(F.col("value"), 3)).alias("v"))

    # A pair needs >=5 shared hours, so each member needs >=5 active
    # hours: a LINEAR pre-filter that removes the low-activity user tail
    # before the pairing join ever sees it. At 100 TB that tail (one-off
    # users) dominates row counts; here it is the only pruning that is
    # both exact and ahead of the quadratic stage.
    #
    # r14 (guide §2.4): the filter is a COUNT WINDOW over the hourly
    # aggregate, not a groupBy + semi-join back — the window rides the
    # user_id-compatible exchange, so the activity agg job, its
    # broadcast build, and (critically) the DOUBLE evaluation of the
    # un-persisted semi-join on both pairing sides all disappear; the
    # persisted cut moves to the FILTERED table, which is exactly what
    # both join sides read.  Paired A/B (6 pairs, one JVM, sf0.1):
    # median ratio 0.505, 14 -> 10 jobs, full symmetric diff identical.
    hourly = (
        hourly.withColumn(
            "_nh", F.count(F.lit(1)).over(W.partitionBy("user_id"))
        )
        .filter(F.col("_nh") >= 5)
        .drop("_nh")
    )
    # Reused by both sides of the pairing join; eager persist so AQE's
    # concurrent child stages don't race to recompute the aggregation
    # (see q74 note). On a cluster this would be a checkpoint / staged
    # parquet write instead.
    hourly = hourly.persist()
    hourly.count()

    # Single-pass pairing + one aggregation building all six corr partials
    # map-side. Two-phase "block then verify" variants (slim count join →
    # corr only on candidates) were built and MEASURED at sf0.1: 6.5 s
    # (candidates × series join-back) and 13.1 s (candidate-user semi +
    # re-pair) vs 4.2 s for this plan — because this dataset's output is
    # itself quadratic (~750k pairs from ~1.5k users, ~100% pair density),
    # so blocking prunes nothing and just pays the pairing join twice.
    # Blocking only wins when the >=5-shared-hours filter is selective;
    # the pre-filter above is what survives at any density.
    a = hourly.alias("a")
    b = hourly.alias("b")
    # pairwise deletion (the q89 pattern): corr() drops an hour when
    # EITHER series is NULL there (a user whose only events that hour
    # carried NULL values). stddev_pop over the raw column would use
    # that column's own non-null hours and diverge from DuckDB corr on
    # mixed-null series — found live by the r6 fuzz sweep.
    _both_nn = F.col("a.v").isNotNull() & F.col("b.v").isNotNull()
    av = F.when(_both_nn, F.col("a.v"))
    bv = F.when(_both_nn, F.col("b.v"))
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.user_id") < F.col("b.user_id")))
        .groupBy(
            F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b")
        )
        .agg(
            # Pearson corr from RAW INTEGER MOMENTS (r13, guide §2.3
            # "narrower types / aggregate before you shuffle"): v is an
            # exact BIGINT (e3 grain), so count/sum/sum-of-products are
            # exact integer partials — 6 narrow buffers instead of the
            # 11 doubles covar_pop + 2x stddev_pop carry, and the only
            # float rounding is the final closed form, so the result is
            # summation-order-independent (stronger than the Welford
            # buffers it replaces, not just equal: interleaved paired
            # A/B diff rows 0/0 at sf0.1, median pair ratio 0.91, and
            # the cold-window tail tightened 8.2 s -> 3.8 s).
            # Overflow bound (longs wrap silently in non-ANSI): the
            # largest term is n*sum(av*bv) <= n_hours^2 * max(v)^2; at
            # sf0.1 that is 720^2 * (5.6e5)^2 = 1.6e17, 57x under
            # 2^63 — safe while per-user-hour |v| < ~4.2e6 (e3-grain
            # |value| mass < ~4200/user-hour; measured max 560).
            # try_divide: degenerate series (n=1 or zero variance) have
            # a zero denominator and yield NULL — matching DuckDB corr's
            # NULL semantics, exactly as the covar_pop form did.  F.corr
            # itself stays an ANSI landmine (see git history).
            stable_round(
                F.try_divide(
                    (F.count(av) * F.sum(av * bv) - F.sum(av) * F.sum(bv)).cast(
                        "double"
                    ),
                    F.sqrt(
                        (F.count(av) * F.sum(av * av) - F.sum(av) * F.sum(av)).cast(
                            "double"
                        )
                    )
                    * F.sqrt(
                        (F.count(av) * F.sum(bv * bv) - F.sum(bv) * F.sum(bv)).cast(
                            "double"
                        )
                    ),
                ),
                4,
            ).alias("value_corr"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .filter(F.col("n_hours") >= 5)
    )
    # Bound the OUTPUT: each (a<b) pair serves both members, then a
    # per-user top-3 window keeps the result O(users*k) regardless of
    # pair density (rank on the ROUNDED corr so both engines see the
    # same order; ties broken by n_hours desc, partner asc — total).
    # The union references `pairs` twice, so materialize the (bounded,
    # 4-column) pair table first — without this the expensive pairing
    # aggregate executes twice (A/B in one JVM at sf0.1: ~3.2-4.4 s
    # double-eval vs ~0.7-1.6 s materialized; persist and localCheckpoint
    # measure the same, checkpoint chosen so downstream stages keep AQE
    # re-planning rights over the cut lineage).

    pairs = pairs.localCheckpoint(eager=True)
    sym = pairs.select(
        F.col("user_a").alias("user_id"),
        F.col("user_b").alias("partner_id"),
        "value_corr",
        "n_hours",
    ).unionAll(
        pairs.select(
            F.col("user_b").alias("user_id"),
            F.col("user_a").alias("partner_id"),
            "value_corr",
            "n_hours",
        )
    )
    return grouped_topk(
        sym,
        ["user_id"],
        [
            F.col("value_corr").desc_nulls_last(),
            F.col("n_hours").desc(),
            F.col("partner_id").asc(),
        ],
        3,
    )


@register(
    "q89_dispersion",
    f"""
    SELECT event_type,
           ROUND(stddev_samp(value) + 1e-9, 4)       AS sd,
           ROUND(var_samp(value) + 1e-9, 4)          AS var,
           ROUND(covar_samp(value,
                 {sql_json_int("props", "'$.k'")}) + 1e-9, 4)
                                                     AS cov_vk,
           ROUND(corr(value,
                 {sql_json_int("props", "'$.k'")}) + 1e-9, 6)
                                                     AS corr_vk
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "dispersion aggregates: stddev/variance/covariance/correlation. "
        "corr is computed as try_divide(covar_pop, sx_pop*sy_pop) over "
        "PAIRWISE-COMPLETE inputs (each stddev sees only rows where BOTH "
        "columns are non-null, the same deletion corr() applies) — "
        "identical to corr() on every input but a zero-variance group "
        "yields NULL instead of the ANSI DIVIDE_BY_ZERO raw F.corr "
        "throws (the q88 landmine; DuckDB corr returns NULL on the same "
        "input, pinned in tests/test_edge_invariants_b8.py)."
    ),
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # try_cast at the VALUE level too: a well-formed props whose $.k
    # is non-numeric ("abc") would abort an ANSI cast; DuckDB oracle
    # mirrors with TRY_CAST (r6 review finding)
    k = F.get_json_object("props", "$.k").try_cast("long")
    # pairwise deletion: corr() drops a row when EITHER side is null;
    # stddev_pop over the raw column would instead use that column's own
    # non-null rows and diverge from the oracle on mixed-null groups
    both = F.col("value").isNotNull() & k.isNotNull()
    vp = F.when(both, F.col("value"))
    kp = F.when(both, k)
    return ev.groupBy("event_type").agg(
        stable_round(F.stddev_samp("value"), 4).alias("sd"),
        stable_round(F.var_samp("value"), 4).alias("var"),
        stable_round(F.covar_samp(F.col("value"), k), 4).alias("cov_vk"),
        stable_round(
            F.try_divide(
                F.covar_pop(vp, kp), F.stddev_pop(vp) * F.stddev_pop(kp)
            ),
            6,
        ).alias("corr_vk"),
    )


@register(
    "q95_funnel",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY 1
    )
    SELECT v.user_id,
           epoch_us(t_view) AS t_view_us,
           epoch_us(t_click) AS t_click_us,
           epoch_us(t_purchase) AS t_purchase_us
    FROM v
    JOIN c ON c.user_id = v.user_id
    JOIN p ON p.user_id = v.user_id
    """,
    doc=(
        "ordered conversion funnel view -> click -> purchase: first view, "
        "first click strictly after it, first purchase strictly after "
        "that. Three semi-shaped aggregations on the user key (one "
        "shuffle each, broadcastable intermediates); timestamps exported "
        "as epoch micros for exact cross-engine compare."
    ),
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id")
        .join(p, "user_id")
        .select(
            "user_id",
            F.unix_micros("t_view").alias("t_view_us"),
            F.unix_micros("t_click").alias("t_click_us"),
            F.unix_micros("t_purchase").alias("t_purchase_us"),
        )
    )


@register(
    "q97_map_functions",
    """
    SELECT user_id, event_type AS key, COUNT(*) * 2 AS doubled
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY user_id, event_type
    HAVING COUNT(*) >= 10
    """,
    doc=(
        "map-typed column surface: per-user event_type->count map built "
        "with map_from_entries(collect_list(struct)), pruned with "
        "map_filter, rewritten with transform_values, flattened back with "
        "explode — the SQL oracle is the flat GROUP BY/HAVING equivalent, "
        "proving the map round trip is lossless."
    ),
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event_type cannot be a map key (Spark NULL_MAP_KEY); the map
    # surface covers the non-null types on both engines
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = F.map_from_entries(F.collect_list(F.struct("event_type", "n")))
    per_user = counts.groupBy("user_id").agg(m.alias("m"))
    pruned = F.transform_values(
        F.map_filter(F.col("m"), lambda k, v: v >= 10), lambda k, v: v * 2
    )
    return per_user.select(
        "user_id", F.explode(pruned).alias("key", "doubled")
    )


@register(
    "q98_hll_mergeable",
    None,
    doc=(
        "mergeable HyperLogLog sketches (Datasketches HLL): per-event-type "
        "hll_sketch_agg binary sketches, re-merged with hll_union_agg and "
        "estimated — the 100 TB pattern where per-partition/per-day "
        "sketches are unioned without rescanning. Rows-only (sketch bytes "
        "are engine-specific); union-estimate accuracy vs exact distinct "
        "asserted in tests/test_operators.py."
    ),
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_type.select(
        "event_type",
        "n_events",
        F.hll_sketch_estimate("sk").alias("approx_users"),
    ).unionByName(
        per_type.agg(
            F.lit("_all_types_union").alias("event_type"),
            F.sum("n_events").alias("n_events"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        )
    )


@register(
    "q100_hypertable_rollup",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value) + 1e-9, 2) AS total_value,
           ROUND(MIN(value) + 1e-9, 4) AS min_value,
           ROUND(MAX(value) + 1e-9, 4) AS max_value,
           ROUND(SUM(value) / COUNT(*) + 1e-9, 6) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc=(
        "hypertable rollup: raw events -> HOURLY mergeable partials "
        "(n/sum/min/max per hour+type) -> DAILY view by re-aggregating "
        "the partials only — the continuous-aggregate pattern where "
        "coarser grains never rescan raw data and avg is derived from "
        "(sum, n), not averaged across buckets. The oracle aggregates "
        "raw events directly, proving merge(partials) == direct(raw)."
    ),
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = partial_rollup(ev, "ts", "hour", ["event_type"], "value")
    daily = with_avg(merge_rollup(hourly, "day", ["event_type"]))
    return daily.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        stable_round(F.col("sum_value"), 2).alias("total_value"),
        stable_round(F.col("min_value"), 4).alias("min_value"),
        stable_round(F.col("max_value"), 4).alias("max_value"),
        "avg_value",
    )


@register(
    "q103_map_zip_with",
    """
    SELECT user_id,
           'n_' || event_type AS key,
           COUNT(*) AS n,
           ROUND(SUM(value) / COUNT(*) + 1e-9, 4) AS avg_value
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY user_id, event_type
    HAVING COUNT(*) >= 12
    """,
    doc=(
        "map combination surface: two per-user maps (event_type->count, "
        "event_type->value sum) built independently, aligned key-by-key "
        "with map_zip_with into (count, avg) structs, keys rewritten with "
        "transform_keys, flattened back — completes the map HOF family "
        "over q97 (map_filter/transform_values). Oracle is the flat "
        "GROUP BY equivalent, proving the zip loses no keys."
    ),
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event_type cannot be a map key (see q97)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    counts = F.map_from_entries(F.collect_list(F.struct("event_type", "n")))
    sums = F.map_from_entries(F.collect_list(F.struct("event_type", "s")))
    per_user = per.groupBy("user_id").agg(counts.alias("mc"), sums.alias("ms"))
    zipped = F.map_zip_with(
        F.col("mc"),
        F.col("ms"),
        lambda k, n, s: F.struct(n.alias("n"), (s / n).alias("avg")),
    )
    keyed = F.transform_keys(
        F.map_filter(zipped, lambda k, v: v["n"] >= 12),
        lambda k, v: F.concat(F.lit("n_"), k),
    )
    flat = per_user.select("user_id", F.explode(keyed).alias("key", "v"))
    return flat.select(
        "user_id",
        "key",
        F.col("v.n").alias("n"),
        stable_round(F.col("v.avg"), 4).alias("avg_value"),
    )


_WEEK_NS = 7 * 86_400 * 1_000_000_000


@register(
    "q111_cdc_upsert",
    r"""
    WITH latest AS (
        SELECT user_id AS key, event_type, ROUND(value + 1e-9, 2) AS val,
               epoch_us(ts) AS ts_us,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC)
                   AS rn
        FROM events
    ),
    chg AS (SELECT key, event_type, val, ts_us FROM latest WHERE rn = 1),
    base AS (SELECT c_custkey AS key, ROUND(c_acctbal + 1e-9, 2) AS val
             FROM customer)
    SELECT COALESCE(b.key, c.key) AS key,
           CASE WHEN c.key IS NULL THEN b.val ELSE c.val END AS val,
           CASE WHEN c.key IS NULL THEN 'base' ELSE 'changelog' END AS src,
           COALESCE(c.ts_us, 0) AS version_ts_us
    FROM base b FULL OUTER JOIN chg c ON b.key = c.key
    WHERE c.key IS NULL OR c.event_type <> 'error'
    """,
    doc=(
        "CDC upsert compaction (MERGE semantics without Delta): the event "
        "stream is a changelog keyed on user_id — the LATEST entry per key "
        "wins (error = tombstone deletes, anything else upserts value), "
        "applied to the customer base table via one full-outer join: "
        "untouched base rows survive, matched keys update or die, "
        "changelog-only keys insert. Latest-per-key uses a max_by struct "
        "aggregate ((ts_ns, event_id) is a total order) — ONE combinable "
        "shuffle, no window sort of the changelog. At 100 TB: base and "
        "changelog bucketed on the key make the outer join shuffle-free; "
        "this is the compaction loop of any snapshot+log table format."
    ),
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    # version precision is MICROSECONDS on both sides: DuckDB truncates
    # the parquet TIMESTAMP(NANOS) column to a us TIMESTAMP, so exact-ns
    # versions can never hash-match (ts_us == ts_ns div 1000 — same floor).
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    chg = (
        ev.groupBy(F.col("user_id").alias("key"))
        .agg(
            F.max(
                F.struct(
                    "ts_us", "event_id", F.col("event_type"), F.col("value")
                )
            ).alias("last")
        )
        .select(
            "key",
            F.col("last.event_type").alias("event_type"),
            stable_round(F.col("last.value"), 2).alias("cval"),
            F.col("last.ts_us").alias("ts_us"),
        )
    )
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("bkey"),
        stable_round(F.col("c_acctbal"), 2).alias("bval"),
    )
    joined = base.join(chg, base.bkey == chg.key, "full_outer")
    return joined.filter(
        F.col("key").isNull() | (F.col("event_type") != "error")
    ).select(
        F.coalesce("bkey", "key").alias("key"),
        F.when(F.col("key").isNull(), F.col("bval"))
        .otherwise(F.col("cval"))
        .alias("val"),
        F.when(F.col("key").isNull(), F.lit("base"))
        .otherwise(F.lit("changelog"))
        .alias("src"),
        F.coalesce("ts_us", F.lit(0)).alias("version_ts_us"),
    )


@register(
    "q112_cohort_retention",
    r"""
    WITH a AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk
               FROM events WHERE event_type = 'purchase'),
    f AS (SELECT user_id, MIN(wk) AS cohort FROM a GROUP BY user_id),
    act AS (SELECT DISTINCT a.user_id, f.cohort, a.wk - f.cohort
                AS weeks_since
            FROM a JOIN f USING (user_id))
    SELECT cohort, weeks_since, COUNT(*) AS n_users
    FROM act GROUP BY cohort, weeks_since
    """,
    doc=(
        "cohort retention triangle: users grouped by first-purchase week "
        "(integer epoch-week arithmetic — div on exact nanos, no calendar "
        "truncation to diverge across engines/timezones), counted as "
        "retained in each later week they purchased again. Three "
        "aggregations all keyed on user_id, so one repartition serves "
        "the whole pipeline; the cohort map is user-grain (broadcastable "
        "against the activity table at any event volume)."
    ),
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    a = ev.select(
        "user_id", F.expr(f"ts_ns div {_WEEK_NS}").alias("wk")
    )
    first = a.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = (
        a.join(first, "user_id")
        .select("user_id", "cohort", (F.col("wk") - F.col("cohort")).alias("weeks_since"))
        .distinct()
    )
    return act.groupBy("cohort", "weeks_since").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "q117_group_sample",
    r"""
    WITH r AS (SELECT user_id, event_id, value,
                      ROW_NUMBER() OVER (
                          PARTITION BY user_id
                          ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                          AS rn
               FROM events)
    SELECT user_id, event_id, ROUND(value + 1e-9, 2) AS val
    FROM r WHERE rn <= 5
    """,
    doc=(
        "deterministic per-group k-sample: exactly 5 events per user, "
        "chosen by md5-hash order — reproducible across engines, runs "
        "and cluster layouts (no RNG state, unlike rand()-based "
        "sampling), uniform-ish because the hash decorrelates from "
        "insertion order. The ranking window becomes partial+final "
        "WindowGroupLimit, so each task forwards at most k rows per "
        "group to the shuffle — per-group reservoir sampling at scale "
        "without a stateful pass."
    ),
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_id", stable_round(F.col("value"), 2).alias("val"))
    )


@register(
    "q118_histogram",
    r"""
    WITH mm AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
                FROM events GROUP BY event_type)
    SELECT e.event_type,
           COALESCE(LEAST(CAST(floor((value - lo) * 10 / NULLIF(hi - lo, 0))
                               AS BIGINT), 9), 0) AS bin,
           COUNT(*) AS n
    FROM events e JOIN mm USING (event_type)
    GROUP BY e.event_type, bin
    """,
    doc=(
        "two-pass equi-width histogram (10 bins per event type): pass 1 "
        "computes per-group min/max (group-grain, tiny, BROADCAST back), "
        "pass 2 bins every value JVM-side — the distribution profile "
        "step of data validation. Bin arithmetic is the identical IEEE "
        "expression ((v-lo)*10/(hi-lo), floor, clamp) on both engines, "
        "so bucket assignment is exactly reproducible; degenerate "
        "constant groups (hi == lo) collapse to bin 9: the NULLIF guard "
        "turns the bin expression NULL and LEAST(NULL, 9) skips NULLs on "
        "both engines — never a divide error (pinned in "
        "tests/test_edge_invariants_b6.py)."
    ),
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mm = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bin_col = F.coalesce(
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                * 10
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0))
            ).cast("long"),
            F.lit(9),
        ),
        F.lit(0),
    )
    return (
        ev.join(F.broadcast(mm), "event_type")
        .groupBy("event_type", bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q130_binned_range_join",
    """
    WITH wk AS (
        SELECT DISTINCT date_trunc('week', CAST(ts AS DATE)) AS week_start
        FROM events
    ),
    e AS (SELECT event_id, CAST(ts AS DATE) AS d FROM events)
    SELECT CAST(week_start AS TIMESTAMP) AS week_start,
           COUNT(*) AS n_events
    FROM e JOIN wk
      ON e.d >= week_start AND e.d < week_start + INTERVAL 7 DAY
    GROUP BY 1
    """,
    doc=(
        "keyless point-in-interval join via domain binning "
        "(operators/joins.py::binned_range_join): events matched to the "
        "calendar-week interval table derived from the event dates "
        "themselves (every event lands in exactly one week, so the "
        "result is a full weekly activity profile). A keyless range "
        "join is otherwise a nested-loop/cartesian plan; quantizing the "
        "day domain into width-7 bins turns it into a plain HASH join on "
        "the bin key with the band predicate as a residual — each point "
        "has one bin, each interval explodes into the bins it covers, so "
        "every true pair meets exactly once. Plan pinned: no "
        "BroadcastNestedLoopJoin, no CartesianProduct."
    ),
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weeks = (
        ev.select(
            F.unix_date(
                F.date_trunc("week", F.col("ts").cast("date")).cast("date")
            ).alias("ws_day")
        )
        .distinct()
        .select("ws_day", (F.col("ws_day") + 7).alias("we_day"))
    )
    pts = ev.select(
        "event_id", F.unix_date(F.col("ts").cast("date")).alias("d")
    )
    joined = binned_range_join(
        pts, weeks, left_point="d", right_lo="ws_day", right_hi="we_day", bin_width=7
    )
    return (
        joined.groupBy(
            F.date_from_unix_date("ws_day").cast("timestamp").alias("week_start")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "q135_ewma",
    """
    WITH s AS (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           ROUND(list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc) + 1e-9, 6)
               AS ewma,
           len(vs) AS n_events
    FROM s
    """,
    doc=(
        "exponentially weighted moving average per user (alpha=0.2) — a "
        "RECURSIVE per-row dependency no plain window frame can express. "
        "Done entirely JVM-side: per-key ordered fold via "
        "array_sort(collect_list) + aggregate(), one shuffle at user "
        "grain; the DuckDB oracle is the identical left fold "
        "(list_reduce), so both engines execute the same IEEE operation "
        "sequence and values hash-match exactly. Assumes per-key history "
        "fits an executor (true for session-scale keys); unbounded keys "
        "use the streaming stateful op instead (streaming/stateful.py)."
    ),
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vs = F.array_sort(
        F.collect_list(
            F.struct(F.col("ts"), F.col("event_id"), F.col("value").cast("double").alias("value"))
        )
    )
    grouped = ev.groupBy("user_id").agg(vs.alias("s"))
    return grouped.select(
        "user_id",
        stable_round(
            F.expr(
                "aggregate(slice(transform(s, x -> x.value), 2, "
                "greatest(size(s) - 1, 0)), transform(s, x -> x.value)[0], "
                "(acc, x) -> 0.2D * x + 0.8D * acc)"
            ),
            6,
        ).alias("ewma"),
        F.size("s").cast("long").alias("n_events"),
    )


@register(
    "q137_time_gaps",
    """
    WITH bounds AS (
        SELECT event_type,
               date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events GROUP BY event_type
    ),
    expected AS (
        SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    observed AS (
        SELECT DISTINCT event_type, date_trunc('hour', ts) AS h FROM events
    )
    SELECT e.event_type, COUNT(*) AS n_missing_hours
    FROM expected e
    WHERE NOT EXISTS (
        SELECT 1 FROM observed o
        WHERE o.event_type = e.event_type AND o.h = e.h
    )
    GROUP BY e.event_type
    """,
    doc=(
        "completeness / freshness validation: per event type, hours with "
        "ZERO events inside that type's own [first, last] hour span — the "
        "gap-detection pass of pipeline monitoring. Expected hours come "
        "from a sequence() over the per-type bounds (group-grain, tiny), "
        "observed hours from one distinct; the gap set is an anti-join of "
        "two hour-grain tables, never raw events. Exact SQL oracle "
        "(only types with gaps appear)."
    ),
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    expected = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    observed = ev.select(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    return (
        expected.join(observed, ["event_type", "h"], "left_anti")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_missing_hours"))
    )


@register(
    "q138_wow_growth",
    f"""
    WITH w AS (
        SELECT event_type,
               CAST(date_trunc('week', CAST(ts AS DATE)) AS TIMESTAMP) AS wk,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, wk, n,
           n - lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS delta,
           {sql_int_grain(
               "n * 1.0 / NULLIF(lag(n) OVER ("
               "PARTITION BY event_type ORDER BY wk), 0) - 1", 6
           )} AS growth_e6
    FROM w
    """,
    doc=(
        "period-over-period analytics: weekly event counts per type with "
        "week-over-week delta and growth rate — lag windows run on the "
        "AGGREGATED week grain (group-count rows, not raw events), so the "
        "window sort is trivially small at any corpus size; the only "
        "corpus-sized pass is the map-side-combined weekly count. Exact "
        "SQL oracle (first week's delta/growth are NULL both sides); "
        "growth is pinned at integer micro-grain (BIGINT, r5) — the "
        "n/prev division of exact int64s is one correctly-rounded IEEE "
        "op, identical on both engines, and the fixed-point cast leaves "
        "no rounded-double representation to diverge across builds."
    ),
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts").cast("date")).alias("wk"),
    ).agg(F.count(F.lit(1)).alias("n"))
    win = W.partitionBy("event_type").orderBy("wk")
    prev = F.lag("n").over(win)
    return weekly.select(
        "event_type",
        "wk",
        "n",
        (F.col("n") - prev).alias("delta"),
        int_grain(
            F.col("n") * 1.0 / F.nullif(prev, F.lit(0)) - 1, 6
        ).alias("growth_e6"),
    )


@register(
    "q139_active_users",
    """
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    a AS (
        SELECT day,
               COUNT(*) AS dau,
               (SELECT COUNT(DISTINCT e.user_id) FROM d e
                 WHERE e.day > d.day - INTERVAL 7 DAY AND e.day <= d.day) AS wau,
               (SELECT COUNT(DISTINCT e.user_id) FROM d e
                 WHERE e.day > d.day - INTERVAL 28 DAY AND e.day <= d.day) AS mau
        FROM d
        GROUP BY day
    )
    SELECT CAST(day AS TIMESTAMP) AS day, dau, wau, mau FROM a
    """,
    doc=(
        "DAU / WAU / MAU: distinct users per day plus trailing 7- and "
        "28-day distinct counts. Distinct counts do NOT merge across "
        "windows, so the trailing windows re-expand the (day, user) "
        "grain: each (day, user) row fans into the ≤7 (resp ≤28) window "
        "ends it supports — bounded replication of a day-grain table, "
        "never raw events. At 100 TB the exact path stays day-grain; "
        "the approximate path is mergeable HLL partials (q98). Exact "
        "SQL oracle (correlated-subquery formulation on the same grain)."
    ),
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = du.select("day").distinct().select(F.col("day").alias("end_day"))
    # fan each (day, user) into the trailing window ends it supports;
    # day-grain join bounded by the window length, then distinct-count
    def trailing(n_days: int, name: str) -> DataFrame:
        j = du.join(
            days,
            (F.col("day") > F.col("end_day") - F.expr(f"INTERVAL {n_days} DAYS"))
            & (F.col("day") <= F.col("end_day")),
        )
        return j.groupBy("end_day").agg(
            F.countDistinct("user_id").alias(name)
        ).withColumnRenamed("end_day", "day")

    return (
        dau.join(trailing(7, "wau"), "day")
        .join(trailing(28, "mau"), "day")
        .select(F.col("day").cast("timestamp").alias("day"), "dau", "wau", "mau")
    )


@register(
    "q140_session_sequences",
    f"""
    WITH {sessions_sql("event_type")}
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           CAST(MAX(ts_ns) - MIN(ts_ns) AS BIGINT) AS duration_ns,
           -- COALESCE: a session whose every event_type is NULL gives a
           -- NULL list -> NULL string in DuckDB, while Spark's concat_ws
           -- yields '' (both engines SKIP null elements in mixed lists,
           -- so only the all-null case needs the pin; r6 null-row sweep)
           COALESCE(array_to_string(
               list_slice(list(event_type ORDER BY ts_ns, event_id), 1, 20),
               '>'), '') AS seq
    FROM sess
    GROUP BY user_id, session_id
    """,
    doc=(
        "session-sequence sample construction: 30-min-gap sessionization "
        "(exact-nanosecond gap compare, q62 convention), each session "
        "rendered as its ordered event-type sequence capped at 20 steps "
        "plus an exact duration — the step that turns an event log into "
        "SFT-style behavioral sequences. One shuffle on user_id serves "
        "the lag, the running sum AND the per-session aggregation (same "
        "key); the sequence is built JVM-side (sort_array over (ts,id,"
        "type) structs -> slice -> transform -> array_join), no Python."
    ),
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize(load_table(spark, sf_dir, "events"))
    # Deterministic in-session order without a second window: aggregate
    # (ts_ns, event_id, event_type) structs, sort_array gives the exact
    # (ts, id) order, then slice/transform/join — all JVM expressions.
    steps = F.sort_array(
        F.collect_list(F.struct("ts_ns", "event_id", "event_type"))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_ns") - F.min("ts_ns")).cast("long").alias("duration_ns"),
        F.array_join(
            F.transform(F.slice(steps, 1, 20), lambda s: s["event_type"]), ">"
        ).alias("seq"),
    )


@register(
    "q145_mad_outliers",
    """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, e.value, m.med
        FROM events e JOIN med m USING (event_type)
    ), madt AS (
        SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n,
           ROUND(ANY_VALUE(d.med) + 1e-9, 4) AS med,
           ROUND(ANY_VALUE(t.mad) + 1e-9, 4) AS mad,
           CAST(SUM(CASE WHEN abs(d.value - d.med) > 3 * 1.4826 * t.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN madt t USING (event_type)
    GROUP BY d.event_type
    """,
    doc=(
        "robust outlier validation: per-event-type median and MAD (median "
        "absolute deviation), then the count of values whose robust "
        "z-score |v-med|/(1.4826*MAD) exceeds 3 — the heavy-tail-safe "
        "version of the 3-sigma rule (one pathological value moves a "
        "mean/stddev gate, not this one). Rows with a NULL event_type "
        "are dropped, as the oracle's JOIN USING drops them. Scale shape: "
        "one scan and one (event_type, value) shuffle; both exact "
        "percentiles are windows over that event_type partitioning and "
        "the final groupBy reuses it, with no join. Each event_type is "
        "one window partition, so a single type's values must fit one "
        "task. Exact percentiles match DuckDB's "
        "quantile_cont interpolation; at 100 TB the drop-in is "
        "approx_percentile with the same downstream algebra (q87 is the "
        "sketch-accuracy harness for that swap)."
    ),
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event_type rows are dropped: the oracle's JOIN USING (and the
    # pre-r14 agg+join form) never match a NULL key, but a window keeps
    # the NULL partition as a group of its own.
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("event_type").isNotNull())
    )
    # r14 (guide 2.4): both exact percentiles as window aggregates over
    # the SAME event_type partitioning, final groupBy reuses it — ONE
    # (event_type, value) exchange and ONE scan replace three scans, two
    # value-carrying percentile shuffles and two broadcast joins of the
    # old agg+join-back form. Same F.percentile over the same per-group
    # multiset, so values are bit-identical; per-group buffering is the
    # same as the percentile agg's. Paired A/B 0.399; oracle PASS.
    # Skew assumption: each event_type is ONE window partition, so the
    # percentile buffers of the largest type sit in one task. Fine for a
    # low-cardinality type column with no dominant type; a hot type at
    # 100 TB needs approx_percentile (bounded sketch) instead.
    wt = W.partitionBy("event_type")
    with_med = ev.withColumn("med", F.percentile("value", F.lit(0.5)).over(wt))
    with_mad = with_med.withColumn(
        "mad",
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).over(wt),
    )
    is_out = F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    return with_mad.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        stable_round(F.first("med"), 4).alias("med"),
        stable_round(F.first("mad"), 4).alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
    )


@register(
    "q148_trailing_range_frame",
    """
    WITH daily AS (
        SELECT user_id,
               CAST(ts AS DATE) AS day,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day_no,
               -- + 0.0 normalizes IEEE signed zero: a day summing to
               -- ~-0.005 rounds to -0.0 in DuckDB but +0.0 in Spark
               -- (BigDecimal has no negative zero) — r8 fuzz seed 5
               (ROUND(SUM(value) + 1e-9, 2) + 0.0) AS v
        FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id, CAST(day AS TIMESTAMP) AS day, v,
           CAST(COUNT(*) OVER w AS BIGINT) AS t7_days,
           (ROUND(SUM(v) OVER w + 1e-9, 2) + 0.0) AS t7_sum,
           (ROUND(AVG(v) OVER w + 1e-9, 4) + 0.0) AS t7_avg
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day_no
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc=(
        "RANGE-interval window frames (the one frame kind rows-frames "
        "can't express): per-user daily value totals with a TRAILING "
        "7-CALENDAR-DAY sum/avg — the frame is bounded by day distance, "
        "not row count, so gaps in activity shrink the window exactly as "
        "the calendar does. Scale shape: the range frame runs on the "
        "AGGREGATED user x day grain (never raw events) — two exchanges, "
        "both daily-grain (map-side-combined rollup, then a re-key to "
        "user_id for the frame; the single-exchange alternative would "
        "ship raw events and lose the combine). Per-day values rounded "
        "BEFORE the frame so both engines fold identical inputs."
    ),
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    daily = ev.groupBy(
        "user_id",
        day.alias("day"),
        F.datediff(day, F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_no"),
    ).agg(stable_round(F.sum("value"), 2).alias("v"))
    w = (
        W.partitionBy("user_id")
        .orderBy("day_no")
        .rangeBetween(-6, W.currentRow)
    )
    return daily.select(
        "user_id",
        F.col("day").cast("timestamp").alias("day"),
        "v",
        F.count(F.lit(1)).over(w).cast("long").alias("t7_days"),
        stable_round(F.sum("v").over(w), 2).alias("t7_sum"),
        stable_round(F.avg("v").over(w), 4).alias("t7_avg"),
    )


@register(
    "q149_scd2_intervals",
    """
    WITH o AS (
        SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
               ) AS prev
        FROM events
    ), ch AS (
        SELECT user_id, ts_ns, event_id, event_type
        FROM o WHERE prev IS DISTINCT FROM event_type
    )
    SELECT user_id,
           event_type AS state,
           ts_ns AS valid_from_ns,
           lead(ts_ns) OVER (
               PARTITION BY user_id ORDER BY ts_ns, event_id
           ) AS valid_to_ns
    FROM ch
    """,
    doc=(
        "SCD2 dimension build from a changelog: each user's event stream "
        "is collapsed to state-CHANGE rows (consecutive repeats of the "
        "same event_type merge, null-safe compare), then every change "
        "opens a [valid_from, valid_to) interval closed by the next "
        "change's exact-nanosecond timestamp — the open (current) state "
        "carries NULL valid_to. The kimball-style type-2 history table "
        "that q63's as-of join then probes. Scale shape: two stacked "
        "windows on the SAME user_id partitioning = one Exchange total "
        "(plan-pinned); the second window runs on the collapsed "
        "change-grain rows only."
    ),
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    prev = F.lag("event_type").over(wo)
    ch = ev.select("user_id", "ts_ns", "event_id", "event_type").withColumn(
        "prev", prev
    ).filter(~F.col("prev").eqNullSafe(F.col("event_type")))
    wc = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return ch.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_ns").alias("valid_from_ns"),
        F.lead("ts_ns").over(wc).alias("valid_to_ns"),
    )


@register(
    "q150_psi_drift",
    """
    WITH stats AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
    ), binned AS (
        SELECT CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                    THEN 'a' ELSE 'b' END AS period,
               CAST(CASE WHEN mx > mn
                         THEN least(9, floor((value - mn) / ((mx - mn) / 10.0)))
                         ELSE 0 END AS BIGINT) AS bin
        FROM events, stats
    ), grid AS (
        SELECT p.period, r.i AS bin
        FROM (SELECT 'a' AS period UNION ALL SELECT 'b') p,
             range(0, 10) r(i)
    ), cnts AS (
        SELECT g.period, g.bin,
               COALESCE(c.n, 0) AS n
        FROM grid g
        LEFT JOIN (SELECT period, bin, COUNT(*) AS n
                   FROM binned GROUP BY 1, 2) c
          ON g.period = c.period AND g.bin = c.bin
    ), tot AS (
        SELECT period, SUM(n) AS nt FROM cnts GROUP BY period
    ), shares AS (
        SELECT c.bin,
               MAX(CASE WHEN c.period = 'a'
                        THEN (c.n + 1.0) / (t.nt + 10.0) END) AS pa,
               MAX(CASE WHEN c.period = 'b'
                        THEN (c.n + 1.0) / (t.nt + 10.0) END) AS pb
        FROM cnts c JOIN tot t USING (period)
        GROUP BY c.bin
    )
    SELECT bin,
           ROUND(pa + 1e-9, 6) AS share_a,
           ROUND(pb + 1e-9, 6) AS share_b,
           ROUND((pa - pb) * ln(pa / pb) + 1e-9, 6) AS psi_contrib,
           ROUND(SUM((pa - pb) * ln(pa / pb)) OVER () + 1e-9, 6) AS psi
    FROM shares
    """,
    doc=(
        "population-stability-index drift detection: events.value binned "
        "into 10 global equi-width buckets, first-half vs second-half of "
        "the month, Laplace-smoothed shares, per-bin PSI contribution "
        "plus the total (PSI > 0.2 is the classic retrain/alert line). "
        "Scale shape: one global min/max agg broadcast to the scan, one "
        "map-side-combined (period, bin) count — every post-count stage "
        "(zero-filled 2x10 grid, shares, the unpartitioned window) runs "
        "on BIN-grain rows, never events; two corpus passes total."
    ),
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = ev.crossJoin(F.broadcast(stats)).select(
        F.when(F.col("ts").cast("date") <= F.lit("2024-01-15").cast("date"), "a")
        .otherwise("b")
        .alias("period"),
        # degenerate guard: a constant column (mx == mn) puts all mass in
        # bin 0 on BOTH engines (ANSI Spark would raise on the /0; DuckDB
        # would yield NULL bins — either way the engines diverge unguarded)
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / 10.0)
                ),
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("bin"),
    )
    counts = binned.groupBy("period", "bin").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        spark.range(10)
        .withColumnRenamed("id", "bin")
        .crossJoin(spark.createDataFrame([("a",), ("b",)], ["period"]))
    )
    cnts = grid.join(counts, ["period", "bin"], "left").fillna(0, ["n"])
    tot = cnts.groupBy("period").agg(F.sum("n").alias("nt"))
    shares = (
        cnts.join(F.broadcast(tot), "period")
        .groupBy("bin")
        .agg(
            F.max(
                F.when(
                    F.col("period") == "a",
                    (F.col("n") + 1.0) / (F.col("nt") + 10.0),
                )
            ).alias("pa"),
            F.max(
                F.when(
                    F.col("period") == "b",
                    (F.col("n") + 1.0) / (F.col("nt") + 10.0),
                )
            ).alias("pb"),
        )
    )
    contrib = (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))
    return shares.select(
        "bin",
        stable_round(F.col("pa"), 6).alias("share_a"),
        stable_round(F.col("pb"), 6).alias("share_b"),
        stable_round(contrib, 6).alias("psi_contrib"),
        stable_round(F.sum(contrib).over(W.partitionBy()), 6).alias("psi"),
    )


@register(
    "q151_chi2_independence",
    """
    WITH cont AS (
        SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ), rt AS (SELECT event_type, SUM(o) AS r FROM cont GROUP BY 1),
    ct AS (SELECT dow, SUM(o) AS c FROM cont GROUP BY 1),
    n AS (SELECT SUM(o) AS n FROM cont)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT cont.event_type) - 1)
                * (COUNT(DISTINCT cont.dow) - 1) AS BIGINT) AS dof,
           ROUND(SUM(pow(o - r * c / CAST(n AS DOUBLE), 2)
                     / (r * c / CAST(n AS DOUBLE))) + 1e-9, 4) AS chi2
    FROM cont JOIN rt USING (event_type) JOIN ct USING (dow), n
    """,
    doc=(
        "chi-square independence test over the event_type x day-of-week "
        "contingency table — the seasonality/segment-dependence check a "
        "data-validation suite runs before trusting a stratified sample. "
        "Scale shape: ONE corpus pass (the map-side-combined contingency "
        "count); row totals, column totals and the statistic all derive "
        "from the types x 7 contingency grain. NOTE: dow is a grouping "
        "label only and never reaches the output — deliberately, because "
        "the engines DISAGREE on numbering (Spark dayofweek: 1=Sunday; "
        "DuckDB dayofweek: 0=Sunday) while the statistic is "
        "label-invariant; surfacing dow would need an explicit "
        "convention alignment. NULLs: a NULL event_type or NULL-ts "
        "(NULL dow) cell counts toward the grand total n, and toward its "
        "row or column total, but is not a cell of the table — the "
        "oracle's USING joins drop it after its n CTE has counted it."
    ),
)
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cont = ev.groupBy(
        "event_type", F.dayofweek(F.col("ts").cast("date")).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    # r14 (guide §2.4, §7.2): the former rt/ct/n broadcast joins re-derived
    # `cont` three more times (no DAG-level CSE across the join subtrees —
    # 4 evaluations of the corpus aggregate, 9 AQE jobs).  The contingency
    # table is bounded at |event types| x 7 rows at ANY corpus size, so the
    # row/column/grand totals are window aggregates over ONE pass instead:
    # the empty partitionBy() window forces SinglePartition, which already
    # satisfies the clustered distribution the event_type/dow windows
    # require — one exchange total after the count, zero joins, and the
    # per-cell expression (o - r*c/n)^2/(r*c/n) is unchanged value-for-
    # value (r, c stay BIGINT; n is cast double exactly as before).
    joined = (
        cont.withColumn("n", F.sum("o").over(W.partitionBy()).cast("double"))
        .withColumn("r", F.sum("o").over(W.partitionBy("event_type")))
        .withColumn("c", F.sum("o").over(W.partitionBy("dow")))
    )
    # NULL keys drop only here, after the windows: n (and r or c) still
    # count them, as the oracle's n CTE does before its USING joins
    joined = joined.where(
        F.col("event_type").isNotNull() & F.col("dow").isNotNull()
    )
    e = F.col("r") * F.col("c") / F.col("n")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        )
        .cast("long")
        .alias("dof"),
        stable_round(F.sum(F.pow(F.col("o") - e, 2) / e), 4).alias("chi2"),
    )


CEP_WINDOW_NS = 172_800_000_000_000  # 48 h pattern deadline for q152


@register(
    "q152_cep_pattern",
    f"""
    WITH b AS (
        SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_ns(ts) END) OVER w AS np
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ), b2 AS (
        SELECT user_id, ts_ns, event_id, event_type,
               MIN(CASE WHEN event_type = 'click' THEN ts_ns END) OVER w
                   AS nc,
               MIN(CASE WHEN event_type = 'click' THEN np END) OVER w
                   AS ncp
        FROM b
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           ts_ns AS view_ts,
           nc AS click_ts,
           ncp AS purchase_ts
    FROM b2
    WHERE event_type = 'view'
      AND nc IS NOT NULL AND ncp IS NOT NULL
      AND nc  <= ts_ns + {CEP_WINDOW_NS}
      AND ncp <= ts_ns + {CEP_WINDOW_NS}
    """,
    doc=(
        "complex-event-processing pattern instances (MATCH_RECOGNIZE "
        "'view -> click -> purchase within 48h', AFTER MATCH SKIP TO NEXT "
        "ROW): every view opens a potential match, completed by the "
        "FIRST following click and the FIRST purchase after that click, "
        "all within the 48h deadline. JOIN-FREE formulation: pass 1 "
        "computes each row's next-purchase time (suffix min over the "
        "user timeline), pass 2 computes next-click time AND the "
        "next-purchase-after-that-click as suffix mins over click rows — "
        "valid because next-purchase is monotone along the timeline, so "
        "the suffix min always picks the FIRST following click's value. "
        "Two stacked windows share one user_id Exchange (plan-pinned); "
        "the classic CEP NFA runs as two window passes, no self-join, "
        "no state machine."
    ),
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts_ns", "event_id", "event_type"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    b = ev.withColumn(
        "np",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_ns"))
        ).over(w),
    )
    b2 = b.withColumn(
        "nc",
        F.min(F.when(F.col("event_type") == "click", F.col("ts_ns"))).over(w),
    ).withColumn(
        "ncp",
        F.min(F.when(F.col("event_type") == "click", F.col("np"))).over(w),
    )
    deadline = F.col("ts_ns") + F.lit(CEP_WINDOW_NS)
    return (
        b2.filter(
            (F.col("event_type") == "view")
            & F.col("nc").isNotNull()
            & F.col("ncp").isNotNull()
            & (F.col("nc") <= deadline)
            & (F.col("ncp") <= deadline)
        )
        .select(
            "user_id",
            F.col("ts_ns").alias("view_ts"),
            F.col("nc").alias("click_ts"),
            F.col("ncp").alias("purchase_ts"),
        )
    )


@register(
    "q153_dtw_similarity",
    """
    WITH RECURSIVE
    series AS (
        -- v at integer e2 grain then ONE exact int->double divide:
        -- ROUND(x, 2) would materialize a build-dependent double (the
        -- divide-back step differs across engine builds — the q131/q141
        -- failure class) and poison the DP inputs; FLOOR(+0.5+eps) on
        -- the scaled sum plus /100.0 is bit-identical everywhere.
        SELECT user_id, list(v ORDER BY day_no) AS s
        FROM (
            SELECT user_id,
                   datediff('day', DATE '1970-01-01',
                            CAST(ts AS DATE)) AS day_no,
                   CAST(FLOOR(SUM(value) * 100.0 + 0.5 + 1e-9) AS BIGINT)
                       / 100.0 AS v
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ) GROUP BY user_id
    ),
    init AS (
        SELECT user_id, s,
               len(s) AS n, 30 AS m,
               GREATEST(5, abs(len(s) - 30)) AS r,
               list_transform(range(0, 30),
                              i -> ((i * 2000000 + 29) // 58) / 10000.0)
                   AS p,
               1 AS i, 0 AS j,
               list_prepend(0.0, list_transform(range(1, 31),
                                                x -> 1e18)) AS prev,
               CAST([1e18] AS DOUBLE[]) AS cur
        FROM series
    ),
    step AS (
        -- banded-DTW DP, one CELL per recursion step in raster order:
        -- prev/cur are DP rows i-1 / i (1-based lists; index k+1 holds
        -- column k, column 0 is the inf boundary, row 0 is [0, inf...]).
        -- D[i][j] = |s_i - p_j| + min(D[i-1][j-1], D[i-1][j], D[i][j-1])
        -- inside the Sakoe-Chiba band j in [i-r, i+r]; 1e18 = inf.
        SELECT user_id, s, n, m, r, p, i, j, prev, cur FROM init
        UNION ALL
        SELECT user_id, s, n, m, r, p,
               CASE WHEN j < m THEN i ELSE i + 1 END,
               CASE WHEN j < m THEN j + 1 ELSE 0 END,
               CASE WHEN j < m THEN prev ELSE cur END,
               CASE WHEN j < m
                    THEN list_append(cur,
                         CASE WHEN j + 1 BETWEEN i - r AND i + r
                              THEN abs(s[i] - p[j + 1])
                                   + LEAST(prev[j + 1], prev[j + 2],
                                           cur[j + 1])
                              ELSE 1e18 END)
                    ELSE CAST([1e18] AS DOUBLE[]) END
        FROM step
        WHERE j < m OR i < n
    )
    SELECT user_id, n AS n_days,
           CAST(FLOOR((cur[m + 1]) * 10000.0 + 0.5 + 1e-9) AS BIGINT)
               AS dtw_dist_e4
    FROM step WHERE i = n AND j = m
    """,
    doc=(
        "time-series similarity search by Dynamic Time Warping: each "
        "user's daily value series vs a fixed 30-point reference ramp, "
        "Sakoe-Chiba band radius 5 (O(n*r) DP instead of O(n*m)). The "
        "series build is one map-side-combined (user, day) rollup + a "
        "same-key sort_array collect; the DP runs as a vectorized-batch "
        "Arrow pandas UDF (numpy per series). Oracle-paired since r6: "
        "DuckDB recomputes the identical banded DP as a recursive CTE "
        "(one cell per step, DP rows carried as list state) — a genuine "
        "independent recomputation, not a fixture pin; the DP is a fixed "
        "sequence of IEEE +/abs/min ops (correctly rounded, build-"
        "independent) over inputs constructed from PURE INTEGER grain on "
        "both engines (series values floor(sum*100+0.5+eps)/100, pattern "
        "((i*2e6+29)//58)/1e4 — no decimal ROUND anywhere, whose divide-"
        "back step is the build-dependent q131/q141 failure class), so "
        "cells match bit-for-bit across builds and the distance is "
        "pinned at integer e4 grain. At 100 TB: series are user-bounded (<=31 "
        "points), so the UDF input is user-grain, never event-grain."
    ),
)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a day whose events ALL carry NULL value has no measurement and is
    # excluded from the series on both engines (unfiltered, DuckDB's
    # list() keeps the NULL point and it poisons the DP band toward the
    # 1e18 infinity sentinel, while Spark's collect would drop or NaN it
    # — r6 fuzz sweep); days with a mix keep their NULL-skipping SUM.
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_no"),
    ).agg((int_grain(F.sum("value"), 2) / F.lit(100.0)).alias("v"))
    series = daily.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day_no", "v"))),
            lambda s: s["v"],
        ).alias("series")
    )
    return series.select(
        "user_id",
        F.size("series").alias("n_days"),
        int_grain(dtw_to_ref(F.col("series"), REF_PATTERN, radius=5), 4).alias(
            "dtw_dist_e4"
        ),
    )


@register(
    "q156_powerlaw_fit",
    """
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ), coc AS (
        SELECT cnt, COUNT(*) AS freq FROM per_key GROUP BY cnt
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(regr_slope(ln(freq), ln(cnt)) + 1e-9, 6) AS slope,
           ROUND(regr_intercept(ln(freq), ln(cnt)) + 1e-9, 6) AS intercept,
           ROUND(regr_r2(ln(freq), ln(cnt)) + 1e-9, 6) AS r2
    FROM coc
    """,
    doc=(
        "power-law tail estimation over the key-degree distribution: "
        "count-of-counts of events per user (the q134 skew table), then "
        "an OLS fit of ln(freq) on ln(cnt) — slope ~ -alpha of the "
        "heavy tail, r2 says whether a power law explains the skew at "
        "all (the number that decides salting vs AQE vs nothing). Scale "
        "shape: two map-side-combined counts collapse the corpus to "
        "distinct-count grain; the regr_* aggregate reduces those few "
        "rows to moment partials in one pass — a single output row."
    ),
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    coc = per_key.groupBy("cnt").agg(F.count(F.lit(1)).alias("freq"))
    lf, lc = F.log("freq"), F.log("cnt")
    return coc.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        stable_round(F.regr_slope(lf, lc), 6).alias("slope"),
        stable_round(F.regr_intercept(lf, lc), 6).alias("intercept"),
        stable_round(F.regr_r2(lf, lc), 6).alias("r2"),
    )


K_ANON = 5  # minimum equivalence-class size for release
VALUE_BAND = 50.0  # generalization width for the numeric quasi-identifier


@register(
    "q163_k_anonymity",
    f"""
    SELECT event_type,
           EXTRACT(hour FROM ts) AS hour,
           CAST(FLOOR(value / {VALUE_BAND}) AS BIGINT) AS value_band,
           COUNT(*) AS class_size,
           COUNT(*) >= {K_ANON} AS released
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc=(
        "k-anonymity release gate (k=5): group the events table by its "
        "quasi-identifier tuple (event_type, hour-of-day, value "
        "generalized to width-50 bands) and mark every equivalence "
        "class smaller than k as SUPPRESSED — the standard "
        "privacy-preserving pre-release check a training-data pipeline "
        "runs before publishing event-derived features (small classes "
        "re-identify individuals; PII scrubbing (q123) removes direct "
        "identifiers, this bounds indirect ones).  Scale shape: ONE "
        "map-side-combined count at quasi-identifier grain — output "
        "rows are bounded by the QI domain (types x 24 x bands), never "
        "corpus-sized; suppression is a post-aggregate filter, zero "
        "joins.  Too-high suppression rates are fixed by WIDENING the "
        "generalization (larger VALUE_BAND, coarser time grain) and "
        "re-running the same one-pass check."
    ),
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.hour("ts").alias("hour"),
            F.floor(F.col("value") / VALUE_BAND).alias("value_band"),
        )
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "event_type",
            "hour",
            "value_band",
            "class_size",
            (F.col("class_size") >= K_ANON).alias("released"),
        )
    )


L_DIVERSE = 3  # minimum distinct individuals per released class


@register(
    "q164_l_diversity",
    f"""
    SELECT event_type,
           EXTRACT(hour FROM ts) AS hour,
           CAST(FLOOR(value / {VALUE_BAND}) AS BIGINT) AS value_band,
           COUNT(*) AS class_size,
           COUNT(DISTINCT user_id) AS n_individuals,
           (COUNT(*) >= {K_ANON} AND COUNT(DISTINCT user_id) >= {L_DIVERSE})
               AS released
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc=(
        "distinct-individuals release gate (k=5, l=3): the companion to "
        "q163's k-anonymity.  A class can be large enough yet still "
        "re-identify when (nearly) all its rows belong to ONE person — "
        "a 5-row class made of a single user's events is that user.  "
        "Each quasi-identifier class must carry at least l distinct "
        "user_ids AND k rows to be released.  Precision note: because "
        "user_id is an IDENTIFIER, not a sensitive attribute, this is "
        "an individual-count floor per equivalence class (the k-map-"
        "style guarantee), not classic l-diversity over a sensitive "
        "value — the algebra (per-class COUNT DISTINCT threshold) is "
        "identical, so swapping in a true sensitive column is a "
        "one-argument change.  Scale shape: identical to q163 plus one "
        "COUNT(DISTINCT) expand at QI grain — still one corpus pass, "
        "zero joins, QI-domain-bounded output; at 100 TB the exact "
        "distinct swaps for approx_count_distinct with identical "
        "algebra (q98 is the sketch-accuracy harness)."
    ),
)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.hour("ts").alias("hour"),
            F.floor(F.col("value") / VALUE_BAND).alias("value_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("user_id").alias("n_individuals"),
        )
        .select(
            "event_type",
            "hour",
            "value_band",
            "class_size",
            "n_individuals",
            (
                (F.col("class_size") >= K_ANON)
                & (F.col("n_individuals") >= L_DIVERSE)
            ).alias("released"),
        )
    )
