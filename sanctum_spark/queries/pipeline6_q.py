"""Pipeline queries, batch 6 (round 4, late): sub-document dedup, robust
outlier validation, embedding-cluster profiling, and two-pass heavy hitters.

- q144: segment-level exact dedup (the CCNet line-dedup shape on a corpus
  whose documents carry no newlines: fixed 10-token segments stand in for
  lines) — per-document duplication profile after global first-occurrence
  segment dedup.
- q145: robust outlier detection — per-event-type median/MAD and the
  3-sigma-equivalent robust z-score flag count (the data-validation pass
  that survives heavy tails where mean/stddev rules drown).
- q146: embedding cluster profile — per-label centroid built at
  (label, dim) grain, cosine of every member to its centroid, the
  centroid-nearest representative (SemDeDup-style diversity selection),
  and dispersion stats.
- q147: two-pass heavy hitters — candidate tokens from a deterministic
  25% document sample, exact counts ONLY for candidates via a broadcast
  semi-join, final exact threshold filter.  The pattern that avoids
  shuffling a 100 TB corpus's full long-tail vocabulary.

All four carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sanctum_spark.io import load_table, parquet_row_count, parquet_split_count, spread_scan
from sanctum_spark.operators.dedup import hashed_word_windows
from sanctum_spark.queries import register
from sanctum_spark.queries.util import stable_round

SEG_TOKENS = 10  # segment width for q144 (stands in for CCNet's "line")


@register(
    "q144_segment_dedup",
    f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), seg AS (
        SELECT doc_id,
               i AS seg_idx,
               array_to_string(
                   list_slice(t, i * {SEG_TOKENS} + 1, (i + 1) * {SEG_TOKENS}),
                   ' ') AS segment
        FROM toks, range(0, 200) r(i)
        WHERE i * {SEG_TOKENS} < len(t)
    ), ranked AS (
        SELECT doc_id, seg_idx,
               ROW_NUMBER() OVER (
                   PARTITION BY segment ORDER BY doc_id, seg_idx
               ) AS rn
        FROM seg
    )
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_segments,
           ROUND(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) + 1e-9, 6) AS dup_ratio
    FROM ranked
    GROUP BY doc_id
    """,
    doc=(
        "sub-document exact dedup profile (CCNet's line-level dedup with "
        "fixed 10-token segments standing in for lines — this corpus has "
        "no newlines): every segment instance beyond the global first "
        "occurrence (ordered by doc_id, seg_idx) counts as removed; each "
        "doc reports how much of it was boilerplate already seen "
        "elsewhere. Scale shape: two shuffles at segment grain then doc "
        "grain — the first ships only (doc_id, seg_idx, segment) and at "
        "100 TB the segment string is replaced by a 128-bit digest "
        "(md5 halves) so the shuffle payload is ~24 bytes/segment; the "
        "window never materializes per-key groups beyond a rank counter. "
        "No driver-side state."
    ),
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.dedup import segment_dedup_profile

    docs = load_table(spark, sf_dir, "documents")
    # hashed=False keeps the string window key so the oracle replays the
    # result exactly; the 100 TB path is hashed=True (8-byte shuffle
    # rows), covered by a hashed-vs-string equivalence test.
    return segment_dedup_profile(
        docs, "text", "doc_id", seg_tokens=SEG_TOKENS, hashed=False
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
    "q146_embedding_clusters",
    """
    WITH e AS (
        SELECT vec_id, label,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ), cent AS (
        SELECT label, pos, AVG(x) AS c FROM e GROUP BY label, pos
    ), per_vec AS (
        SELECT e.vec_id, e.label,
               SUM(e.x * cent.c) AS dot,
               sqrt(SUM(e.x * e.x)) AS nx,
               sqrt(SUM(cent.c * cent.c)) AS nc
        FROM e JOIN cent USING (label, pos)
        GROUP BY e.vec_id, e.label
    ), scored AS (
        SELECT vec_id, label,
               ROUND(dot / NULLIF(nx * nc, 0) + 1e-9, 6) AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY label
                   ORDER BY ROUND(dot / NULLIF(nx * nc, 0) + 1e-9, 6)
                       DESC NULLS LAST, vec_id
               ) AS rn
        FROM per_vec
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(MAX(CASE WHEN rn = 1 THEN vec_id END) AS BIGINT)
               AS rep_vec_id,
           ROUND(MAX(CASE WHEN rn = 1 THEN cos END) + 1e-9, 4) AS rep_cos,
           ROUND(AVG(cos) + 1e-9, 4) AS mean_cos,
           ROUND(MIN(cos) + 1e-9, 4) AS min_cos
    FROM scored
    GROUP BY label
    """,
    doc=(
        "embedding cluster profile + SemDeDup-style representative "
        "selection: per-label centroid computed at (label, dim) grain "
        "(never a whole-vector reduce — each dimension is an independent "
        "mean, so the centroid build is one shuffle of (label, pos, x) "
        "triples with map-side combine), every member's cosine to its "
        "centroid via a broadcast join of the labels*dim centroid table, "
        "the member closest to the centroid as the cluster "
        "representative (rank on ROUNDED cosine then vec_id so both "
        "engines agree on ties), and mean/min cosine as dispersion. "
        "The curation read: low mean_cos = incoherent label; rep_vec_id "
        "= the diversity-sample pick. At 100 TB labels come from IVF "
        "assignment (q94) and this query is the per-cluster audit."
    ),
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xf")
    ).withColumn("x", F.col("xf").cast("double")).drop("xf")
    cent = e.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    per_vec = (
        e.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nx"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"),
        )
    )
    # try_divide: an all-zero vector (norm 0) yields NULL cosine on both
    # engines (oracle mirrors with NULLIF) instead of an ANSI error
    cos = stable_round(
        F.try_divide(F.col("dot"), F.col("nx") * F.col("nc")), 6
    )
    scored = per_vec.select(
        "vec_id", "label", cos.alias("cos")
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("label").orderBy(
                F.desc_nulls_last("cos"), F.asc("vec_id")
            )
        ),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max(F.when(F.col("rn") == 1, F.col("vec_id")))
        .cast("long")
        .alias("rep_vec_id"),
        stable_round(F.max(F.when(F.col("rn") == 1, F.col("cos"))), 4).alias(
            "rep_cos"
        ),
        stable_round(F.avg("cos"), 4).alias("mean_cos"),
        stable_round(F.min("cos"), 4).alias("min_cos"),
    )


# q147 sampling: docs whose text-hash u16 falls in the low quarter of the
# space — the same cross-engine md5 "RNG" as q126/q127 (pipeline4_q).
_HEX = "0123456789abcdef"


def _u16_spark(col: str = "text") -> F.Column:
    u = F.lit(0)
    for k, pos in enumerate((29, 30, 31, 32)):
        d = F.expr(f"instr('{_HEX}', substring(md5({col}), {pos}, 1))") - 1
        u = u + d * (16 ** (3 - k))
    return u.cast("long")


def _u16_sql(col: str = "text") -> str:
    terms = [
        f"(strpos('{_HEX}', substr(md5({col}), {pos}, 1)) - 1) * {16 ** (3 - k)}"
        for k, pos in enumerate((29, 30, 31, 32))
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "q147_heavy_hitters",
    f"""
    WITH tok AS (
        SELECT doc_id, text,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ), tot AS (
        SELECT COUNT(*) AS n_total FROM tok
    ), cand AS (
        SELECT token
        FROM tok, tot
        WHERE {_u16_sql()} < 16384
        GROUP BY token, n_total
        HAVING COUNT(*) >=
               CAST(floor(floor(n_total / 100.0) * 0.125) AS BIGINT)
    )
    SELECT t.token, COUNT(*) AS cnt
    FROM tok t JOIN cand USING (token), tot
    GROUP BY t.token, tot.n_total
    HAVING COUNT(*) >= CAST(floor(n_total / 100.0) AS BIGINT)
    """,
    doc=(
        "two-pass heavy hitters (tokens covering >=1% of the corpus): "
        "pass 1 counts tokens only inside a deterministic 25% document "
        "sample (md5-u16 < 16384, the q126 cross-engine RNG) and keeps "
        "those above half the scaled threshold; pass 2 exact-counts ONLY "
        "those candidates — the candidate set is broadcast and the "
        "long-tail vocabulary (hapax-dominated at corpus scale) is "
        "filtered at the scan, so the wide shuffle ships heavy tokens "
        "only, never the full vocabulary. The safety factor 0.5 absorbs "
        "sampling variance (Chernoff: a true 1%-heavy token falling "
        "below 0.125% in a 25% sample needs ~5-sigma deviation at any "
        "realistic count); the final filter re-checks the EXACT "
        "threshold, so false candidates cost only wasted counting, "
        "never wrong output."
    ),
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan: the md5-u16 + explode below runs fused into the
    # single-task scan AND its output is persisted with that one-partition
    # layout, so both counting passes read one cached partition — fan out
    # first (r13 paired A/B median 0.85, diff rows 0/0)
    docs = spread_scan(
        load_table(spark, sf_dir, "documents"),
        parquet_split_count(sf_dir, "documents"),
    )
    # (u, token) only — no doc_id: nothing downstream uses it, and the
    # persisted exploded table is token-instance-grain, so every pruned
    # byte is corpus-scale
    tok = docs.select(
        _u16_spark().alias("u"),
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    )
    tok = tok.persist()
    n_total = tok.count()
    threshold = int(n_total / 100.0)
    sample_threshold = int(threshold * 0.25 * 0.5)
    cand = (
        tok.filter(F.col("u") < 16384)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= sample_threshold)
        .select("token")
    )
    out = (
        tok.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= threshold)
    )
    out = out.localCheckpoint(eager=True)  # release the persisted token table
    tok.unpersist()
    return out


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
    from sanctum_spark.operators.timeseries import REF_PATTERN, dtw_to_ref
    from sanctum_spark.queries.util import int_grain

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
    "q154_benford_digits",
    """
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                         AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM lineitem
        WHERE l_extendedprice >= 1
    ), c AS (
        SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), t AS (SELECT SUM(n) AS nt FROM c)
    SELECT digit,
           n,
           ROUND(n / CAST(nt AS DOUBLE) + 1e-9, 6) AS observed,
           ROUND(log10(1.0 + 1.0 / digit) + 1e-9, 6) AS benford,
           ROUND(abs(n / CAST(nt AS DOUBLE) - log10(1.0 + 1.0 / digit))
                 + 1e-9, 6) AS abs_dev,
           ROUND(SUM(abs(n / CAST(nt AS DOUBLE)
                         - log10(1.0 + 1.0 / digit))) OVER () + 1e-9, 6)
               AS total_mad
    FROM c, t
    """,
    doc=(
        "Benford first-significant-digit test over l_extendedprice: "
        "observed leading-digit shares vs the log10(1+1/d) law, per-digit "
        "absolute deviation plus the summed MAD statistic — the forensic "
        "data-quality screen for fabricated or truncated numeric columns "
        "(synthetic uniform-ish prices deviate loudly; organic "
        "multiplicative data doesn't). Scale shape: leading digit is a "
        "string expression at the scan, one map-side-combined 9-row "
        "count; everything after runs at digit grain, window included."
    ),
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") >= 1
    )
    d = li.select(
        F.substring(
            F.floor("l_extendedprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("nt"))
    obs = F.col("n") / F.col("nt")
    law = F.log10(1.0 + 1.0 / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        stable_round(obs, 6).alias("observed"),
        stable_round(law, 6).alias("benford"),
        stable_round(F.abs(obs - law), 6).alias("abs_dev"),
        stable_round(
            F.sum(F.abs(obs - law)).over(W.partitionBy()), 6
        ).alias("total_mad"),
    )


@register(
    "q155_weighted_reservoir",
    """
    WITH keyed AS (
        SELECT lang, doc_id,
               ln(((""" + _u16_sql() + """) + 0.5) / 65536.0)
                   / n_chars AS es_key
        FROM documents
        WHERE n_chars > 0
    ), ranked AS (
        SELECT lang, doc_id,
               CAST(FLOOR(es_key * 1000000000.0 + 0.5 + 1e-9) AS BIGINT)
                   AS es_key_e9,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(FLOOR(es_key * 1000000000.0 + 0.5 + 1e-9)
                                 AS BIGINT) DESC, doc_id
               ) AS rn
        FROM keyed
    )
    SELECT lang, doc_id, es_key_e9, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 10
    """,
    doc=(
        "Efraimidis-Spirakis weighted reservoir sampling (A-ES), "
        "distributed: each doc draws the deterministic md5-u16 uniform, "
        "key = ln(u)/weight with weight = n_chars, and the per-language "
        "top-10 by key IS a weight-proportional without-replacement "
        "sample. The top-k-by-key formulation is exactly why A-ES "
        "distributes: no sequential reservoir, just a per-group rank — "
        "WindowGroupLimit prunes losers map-side before the shuffle. "
        "Rank on the key at INTEGER e9 grain (floor(x*1e9+0.5+eps) as "
        "BIGINT, r6 — the prior ROUND(x,9) double pin was the finest "
        "rounded-double in the registry, i.e. the largest exposure to "
        "the build-dependent decimal-round representation channel) with "
        "doc_id tiebreak so libm ulp differences between engines can "
        "neither flip selections nor reach the value hash."
    ),
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.queries.util import int_grain

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (_u16_spark() + 0.5) / 65536.0
    es_key_e9 = int_grain(F.log(u) / F.col("n_chars"), 9)
    ranked = docs.select(
        "lang", "doc_id", es_key_e9.alias("es_key_e9")
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("lang").orderBy(F.desc("es_key_e9"), F.asc("doc_id"))
        ),
    )
    return ranked.filter(F.col("rn") <= 10).select(
        "lang", "doc_id", "es_key_e9", F.col("rn").cast("long").alias("rn")
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


def _hex60_spark(col: str = "text") -> F.Column:
    """First 15 md5 hex digits as a 60-bit long (cross-engine identical —
    same strpos idiom as the u16 sampler, 15 digits instead of 4)."""
    u = F.lit(0).cast("long")  # long from the start: int would overflow at digit 8 under ANSI
    for k in range(15):
        d = F.expr(f"instr('{_HEX}', substring(md5({col}), {k + 1}, 1))") - 1
        u = u * 16 + d
    return u.cast("long")


def _hex60_sql(col: str = "text") -> str:
    terms = "0"
    for k in range(15):
        terms = (
            f"(({terms}) * 16 + "
            f"(strpos('{_HEX}', substr(md5({col}), {k + 1}, 1)) - 1))"
        )
    return terms


@register(
    "q157_shard_manifest",
    f"""
    WITH h AS (
        SELECT {_u16_sql()} % 16 AS shard,
               {_hex60_sql()} AS h60
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           bit_xor(h60) AS content_xor,
           CAST(SUM(h60) % 1152921504606846976 AS BIGINT) AS content_sum
    FROM h
    GROUP BY shard
    """,
    doc=(
        "write-audit-publish content manifest: per content-shard (md5-u16 "
        "mod 16, the q127 sharding convention) document count plus TWO "
        "order-independent content checksums over a 60-bit md5-derived "
        "digest — bit_xor (catches any single-row substitution) and the "
        "wrapping sum (catches duplication that xor cancels). Comparing "
        "manifests before/after a rewrite localizes corruption to a "
        "shard without re-reading content (the sum wraps mod 2^60 so it "
        "never overflows at corpus scale). Scale shape: one map-side-"
        "combined 16-row aggregate; both checksums are commutative/"
        "associative so partial aggregation is exact at any parallelism; "
        "nothing but the 16-row manifest leaves the scan stage."
    ),
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        (_u16_spark() % 16).alias("shard"), _hex60_spark().alias("h60")
    )
    return h.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("bit_xor(h60)").alias("content_xor"),
        # sum in decimal then wrap mod 2^60: a long sum would ANSI-overflow
        # around ~8 M docs; DuckDB's HUGEINT sum gets the same mod
        (F.sum(F.col("h60").cast("decimal(38,0)")) % F.lit(2**60))
        .cast("long")
        .alias("content_sum"),
    )


@register(
    "q158_quality_keeper",
    r"""
    WITH RECURSIVE sh AS (
        SELECT doc_id AS id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> array_to_string(toks[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
              FROM documents)
    ),
    ex AS (SELECT id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT id, len(shingles) AS n_sh FROM sh),
    prs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.4
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM prs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM prs
    ),
    reach(id, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(label) AS comp_id FROM reach GROUP BY id),
    t AS (
        SELECT doc_id,
               len(str_split_regex(trim(text), '\s+')) * 1.0          AS n_tokens,
               len(list_filter(str_split_regex(lower(trim(text)), '\s+'),
                   w -> list_contains(['the','and','of','to','is','in','that','it'], w)))
                   * 1.0 / GREATEST(len(str_split_regex(lower(trim(text)), '\s+')), 1)
                                                                      AS x_sw,
               (LENGTH(text) - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')))
                   * 1.0 / GREATEST(LENGTH(text), 1)                  AS x_punct,
               LENGTH(regexp_replace(text, '\s+', '', 'g')) * 1.0
                   / GREATEST(len(str_split_regex(trim(text), '\s+')), 1)
                                                                      AS mean_wlen
        FROM documents
    ),
    q AS (
        SELECT doc_id,
               1.0 / (1.0 + exp(-(-1.0 + 2.2 * LEAST(n_tokens / 400.0, 1.0)
                                       + 1.5 * x_sw
                                       - 3.0 * x_punct
                                       + 0.8 * LEAST(mean_wlen / 10.0, 1.0))))
                   AS p
        FROM t
    ),
    scored AS (
        SELECT COALESCE(c.comp_id, q.doc_id) AS cluster_id,
               q.doc_id,
               ROUND(q.p + 1e-9, 6) AS p
        FROM q LEFT JOIN comp c USING (doc_id)
    ),
    ranked AS (
        SELECT cluster_id, doc_id, p,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id ORDER BY p DESC, doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM scored
    )
    SELECT cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           doc_id AS keeper_doc_id,
           p AS keeper_quality
    FROM ranked WHERE rn = 1
    """,
    doc=(
        "quality-aware canonicalization: near-dup clusters (q99's exact-"
        "Jaccard connected components) each keep their HIGHEST-QUALITY "
        "member (q125's logistic score, rank on the rounded score with "
        "doc_id tiebreak), not the lowest id — the keeper-selection "
        "policy real curation uses (best formatting survives, mirrors "
        "die). Singletons are their own cluster and keeper. Scale shape: "
        "adds one broadcast-able (doc, score) projection and a per-"
        "cluster WindowGroupLimit rank on top of the existing CC "
        "machinery; the quality score is a zero-shuffle scan expression."
    ),
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from sanctum_spark.operators.text import quality_logit_score

    docs = spread_scan(
        load_table(spark, sf_dir, "documents"),
        parquet_split_count(sf_dir, "documents"),
    )
    # prefix_filter="auto": corpus-grain candidate stage — same
    # cost-based rationale as q99 (naive 3.77x vs prefix 2.03x per
    # doubling at the third octave, r7 paired A/B; naive's lower fixed
    # cost wins below the measured 5k-10k-doc crossover)
    # doc_count from parquet footers — zero-job cardinality for the
    # auto plan switch (same rationale as q99)
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.4, hashed=True,
        prefix_filter="auto",
        doc_count=parquet_row_count(sf_dir, "documents"),
    )
    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), F.col("component").alias("comp_id")
    )
    scored = (
        docs.select(
            "doc_id", stable_round(quality_logit_score("text"), 6).alias("p")
        )
        .join(comp, "doc_id", "left")
        .select(
            F.coalesce(F.col("comp_id"), F.col("doc_id")).alias("cluster_id"),
            "doc_id",
            "p",
        )
    )
    wr = W.partitionBy("cluster_id")
    ranked = scored.select(
        "cluster_id",
        "doc_id",
        "p",
        F.row_number()
        .over(wr.orderBy(F.desc("p"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(wr).alias("cluster_size"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("doc_id").alias("keeper_doc_id"),
        F.col("p").alias("keeper_quality"),
    )


@register(
    "q159_leakage_free_split",
    f"""
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN {_u16_sql()} < 6554 THEN 'test' ELSE 'train' END
                   AS cand
        FROM documents
    ), sh AS (
        SELECT doc_id, cand,
               unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 4, 0)),
                   i -> array_to_string(toks[i:i+4], ' ')))) AS shingle
        FROM (SELECT doc_id, cand,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM assigned)
        WHERE len(toks) >= 5
    ), train_sh AS (
        SELECT DISTINCT shingle FROM sh WHERE cand = 'train'
    ), leaky AS (
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN train_sh t USING (shingle)
        WHERE s.cand = 'test'
    )
    SELECT a.doc_id,
           CASE WHEN a.cand = 'train' THEN 'train'
                WHEN l.doc_id IS NOT NULL THEN 'dropped'
                ELSE 'test' END AS split
    FROM assigned a LEFT JOIN leaky l USING (doc_id)
    """,
    doc=(
        "leakage-free held-out split: a deterministic ~10% md5 sample "
        "becomes test CANDIDATES, and any candidate sharing even one "
        "distinct 5-gram shingle with the training split is DROPPED "
        "(not quietly kept) — q104 decontaminates against an external "
        "benchmark, this constructs an internal eval split whose n-gram "
        "leakage is zero by construction, the difference between "
        "measuring generalization and measuring memorization. Scale "
        "shape: one corpus shingle pass; the leak check is a distinct-"
        "shingle equi-join (hashes JVM-side, strings in the oracle — "
        "the q142 hash-fidelity evidence pattern) shipping (shingle, "
        "doc) pairs for the 10%% candidate side only; output is one row "
        "per document."
    ),
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "doc_id",
        "text",
        F.when(_u16_spark() < 6554, "test").otherwise("train").alias("cand"),
    )
    # _let-bound, branch-free window hashing (see hashed_word_windows:
    # the prior when()+unbound-lambda form re-tokenized per window)
    windows = hashed_word_windows("text", k=5, distinct=True)
    sh = assigned.select(
        "doc_id", "cand", F.explode(windows).alias("shingle")
    )
    train_sh = sh.filter(F.col("cand") == "train").select("shingle").distinct()
    leaky = (
        sh.filter(F.col("cand") == "test")
        .join(train_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return assigned.join(leaky.withColumn("_leak", F.lit(1)), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("cand") == "train", "train")
        .when(F.col("_leak").isNotNull(), "dropped")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "q160_corpus_datasheet",
    """
    WITH t AS (
        SELECT doc_id, lang, source, text, n_chars,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               md5(text) AS digest
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           ROUND(1.0 - COUNT(DISTINCT digest) * 1.0 / COUNT(*) + 1e-9, 6)
               AS exact_dup_rate,
           CAST(floor(quantile_cont(n_tokens, 0.5)) AS BIGINT) AS p50_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM t
    """,
    doc=(
        "corpus datasheet (the Datasheets-for-Datasets one-row summary a "
        "release ships with): document and token volume, language and "
        "source cardinality, exact-duplicate rate (1 - distinct digests /"
        " docs), median document length, char-length extremes. Scale "
        "shape: ONE pass, one aggregate — the distinct counts are the "
        "only expand, and at 100 TB each swaps for approx_count_distinct "
        "with identical downstream shape (q98 is the sketch-accuracy "
        "harness). A registered query so the datasheet regenerates from "
        "the live corpus, never from stale release notes."
    ),
)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        n_tokens.alias("n_tokens"),
        F.md5("text").alias("digest"),
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        # try_divide: on an EMPTY corpus count is 0 and a raw `/` aborts
        # under ANSI; DuckDB's 0/0 is NULL, so the dup rate is NULL on
        # both engines (empty-input sweep, EVIDENCE_r6.md)
        stable_round(
            1.0 - F.try_divide(F.countDistinct("digest"), F.count(F.lit(1))),
            6,
        ).alias("exact_dup_rate"),
        # floor() explicitly on BOTH engines: a bare BIGINT cast of the
        # interpolated median diverges on fractional values (DuckDB CAST
        # rounds 3.5 -> 4, Spark cast truncates -> 3; pinned in
        # tests/test_edge_invariants_b8.py)
        F.floor(F.percentile("n_tokens", F.lit(0.5)))
        .cast("long")
        .alias("p50_tokens"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
