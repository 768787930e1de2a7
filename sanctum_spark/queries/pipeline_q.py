"""Training-data-pipeline queries: corpus cleaning, exact n-gram Jaccard,
deterministic stratified sampling, IVF ANN, funnel analysis, array
higher-order functions.

These extend the reference's event/query surface with the operations a
large-scale LLM data pipeline needs (builder brief): every oracle here is
exact-deterministic so the driver's hash compare stays meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sanctum_spark.io import load_table, parquet_row_count, parquet_split_count, spread_scan
from sanctum_spark.queries import register
from sanctum_spark.queries.util import stable_round


@register(
    "q91_ngram_jaccard",
    r"""
    WITH sh AS (
        SELECT doc_id AS id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> array_to_string(toks[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
              FROM documents WHERE doc_id % 4 = 0)
    ),
    ex AS (SELECT id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT id, len(shingles) AS n_sh FROM sh)
    SELECT id_a, id_b,
           ROUND(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) + 1e-9, 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.4
    """,
    doc=(
        "exact word-3-gram Jaccard near-dup pairs (threshold 0.4) — the "
        "ground-truth dedup operator that validates MinHash (q74), run on "
        "a deterministic quarter-slice of the corpus (doc_id % 4 = 0, "
        "mirrored in the oracle): pairs sharing a hot shingle grow "
        "quadratically, so the exact form is a validation tool, and q74's "
        "banded MinHash is the full-corpus scale path. Full SQL oracle "
        "(DuckDB list slicing is inclusive: toks[i:i+2] = 3 tokens)."
    ),
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    # hashed=True: the join key is the xxhash64 of the shingle, not the
    # string — jaccard is computed from set cardinalities, so the values
    # are identical while the shuffle ships 8-byte longs (measured ~2x).
    # prefix_filter=False: this is the fixed quarter-slice VALIDATION
    # query — its density never grows, and below the measured crossover
    # the naive plan is ~2x faster (paired A/B, r7 EVIDENCE; results
    # bit-identical, pinned by test_prefix_filtered_jaccard_equals_naive)
    out = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.4, hashed=True,
        prefix_filter=False,
    )
    return out.select(
        "id_a", "id_b", stable_round(F.col("jaccard"), 6).alias("jaccard")
    )


@register(
    "q92_corpus_clean",
    r"""
    WITH d AS (
        SELECT doc_id, lang, md5(text) AS digest,
               length(text) AS n_len,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens
        FROM documents
    ),
    keep AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
        FROM d
    )
    SELECT doc_id, lang, digest, n_len, n_tokens
    FROM keep
    WHERE rn = 1 AND n_tokens >= 10 AND n_len >= 100 AND n_len <= 20000
    """,
    doc=(
        "end-to-end corpus cleaning: exact dedup (lowest doc_id kept per "
        "md5 digest, via the struct-min drop_exact_duplicates operator — "
        "one shuffle, no join-back) + token/length quality gates. The "
        "md5 digest matches across Spark and DuckDB so the whole pipeline "
        "is hash-verified."
    ),
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.dedup import drop_exact_duplicates
    from sanctum_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    kept = drop_exact_duplicates(docs, "text", "doc_id")
    return (
        kept.select(
            "doc_id",
            "lang",
            F.md5("text").alias("digest"),
            F.length("text").cast("long").alias("n_len"),
            token_count(F.col("text")).alias("n_tokens"),
        )
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("n_len") >= 100)
            & (F.col("n_len") <= 20000)
        )
    )


@register(
    "q93_stratified_sample",
    """
    SELECT doc_id, lang, bucket
    FROM (
        SELECT doc_id, lang,
               strpos('0123456789abcdef', substr(md5(text), 32, 1)) AS bucket
        FROM documents
    )
    WHERE (lang = 'en' AND bucket <= 2) OR (lang <> 'en' AND bucket <= 8)
    """,
    doc=(
        "deterministic content-hash stratified sampling: per-language "
        "rates (en 2/16, others 8/16) keyed on the last md5 hex digit — "
        "reproducible across engines/runs/clusters, no RNG state, and at "
        "scale a pure scan-side filter (no shuffle). The downsample-the-"
        "dominant-language shape of corpus curation."
    ),
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr("instr('0123456789abcdef', substring(md5(text), 32, 1))")
    return (
        docs.select("doc_id", "lang", bucket.cast("long").alias("bucket"))
        .filter(
            ((F.col("lang") == "en") & (F.col("bucket") <= 2))
            | ((F.col("lang") != "en") & (F.col("bucket") <= 8))
        )
    )


@register(
    "q94_ann_ivf",
    None,
    doc=(
        "IVF approximate nearest neighbors: deterministic Lloyd-trained "
        "coarse centroids (k=8, driver holds k*dim scalars only), "
        "projection-side list assignment, search scans the 3 nearest "
        "inverted lists with exact cosine inside. Rows-only (sketch-"
        "style op); soundness + determinism vs brute force asserted in "
        "tests/test_operators.py. At 100 TB: train on a sample, write "
        "partitioned by list_id, searches become partition-pruned scans."
    ),
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.similarity import ivf_assign, ivf_topk, ivf_train

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).first()
    if qrow is None:
        if not emb.isEmpty():  # data bug, not an empty ingest: fail loud
            raise ValueError("q94: query vector vec_id=0 missing")
        return spark.createDataFrame([], "vec_id bigint, cos_sim double")
    qvec = [float(x) for x in qrow["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0).filter(
        # NULL/ragged vectors can't be assigned or scored: drop them
        # before the numpy kernels (r6 embeddings sweep)
        F.col("embedding").isNotNull()
        & (F.size("embedding") == len(qvec))
        # finite components only: a NaN/Inf vector poisons the Lloyd/PQ
        # kernels (the Arrow boundary turns NaN partial sums into NULLs);
        # abs(x) < inf is false for NaN AND +-Inf in one predicate
        & F.forall(
            F.transform("embedding", lambda x: x.cast("double")),
            lambda x: F.abs(x) < F.lit(float("inf")),
        )
    )
    # train the coarse quantizer on a deterministic quarter-slice — the
    # documented 100 TB design (sampled training, full-corpus assignment);
    # centroids stay deterministic (seeded by lowest ids of the slice).
    train = corpus.filter(F.col("vec_id") % 4 == 0)
    centroids = ivf_train(train, k=8, n_iters=1)
    assigned = ivf_assign(corpus, centroids)
    return ivf_topk(assigned, centroids, qvec, k=10, n_probes=3)


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
    "q96_array_higher_order",
    """
    SELECT vec_id,
           ROUND(sqrt(list_aggregate(
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
               + 1e-9, 6) AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           ROUND(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) + 1e-9, 6) AS max_abs,
           COALESCE(len(list_filter(embedding,
               x -> abs(CAST(x AS DOUBLE)) > 2.0)) > 0, FALSE) AS has_outlier
    FROM embeddings
    """,
    doc=(
        "array higher-order functions over the embedding column: "
        "aggregate (fold), filter, transform, exists — all JVM-side "
        "lambda expressions inside whole-stage codegen, zero Python. "
        "Fold order is left-to-right in both engines so the float sums "
        "hash-match."
    ),
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    sumsq = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    return emb.select(
        "vec_id",
        # size guard: DuckDB list_aggregate([], 'sum') is NULL, so an
        # empty vector has NULL norm on both engines (r6 embeddings sweep)
        stable_round(F.when(F.size(vec) > 0, F.sqrt(sumsq)), 6).alias("l2_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        stable_round(F.array_max(F.transform(vec, lambda x: F.abs(x))), 6).alias(
            "max_abs"
        ),
        # coalesce: a NULL vector "has no outlier" — a NULL boolean
        # stringifies differently per engine (None vs nan) under the
        # driver hash even though both are SQL NULL (r6 embeddings sweep)
        F.coalesce(
            F.exists(vec, lambda x: F.abs(x) > 2.0), F.lit(False)
        ).alias("has_outlier"),
    )


@register(
    "q99_dedup_clusters",
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
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.4
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id)
    SELECT c.doc_id, c.cluster_id, s.cluster_size
    FROM comp c
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1) s
      USING (cluster_id)
    """,
    doc=(
        "dedup clustering: near-dup PAIRS (exact 3-gram Jaccard >= 0.4, "
        "full-corpus edge set) collapsed into connected components "
        "via iterative min-label propagation — A~B and B~C become one "
        "{A,B,C} cluster keyed by its min doc_id, the step a curation "
        "pipeline runs between pair generation and keeper selection. "
        "At 100 TB the edge input is q74's banded MinHash pairs (the CC "
        "operator is edge-source-agnostic; exact Jaccard is the "
        "oracle-able validation source used here). An edge list that "
        "fits the broadcast threshold (threshold/16 B pairs; -1 turns "
        "this off) is collected once and labelled exactly on the driver, "
        "holding at most that many pairs; a larger one runs rounds, where "
        "labels only decrease so SUM(label) is the convergence metric and "
        "a localCheckpoint per round keeps the plan O(1) deep. Oracle is a "
        "DuckDB recursive CTE computing the same min-reachable-id fixpoint."
    ),
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.dedup import connected_components, ngram_jaccard_pairs

    docs = spread_scan(
        load_table(spark, sf_dir, "documents"),
        parquet_split_count(sf_dir, "documents"),
    )
    # prefix_filter="auto": this is CORPUS-GRAIN clustering, so the
    # candidate stage must survive corpus growth — measured octaves
    # (r7 paired A/B): naive 3.77x wall per doubling at sf0.2->0.4
    # (candidate volume 3.96x — quadratic in shingle frequency) vs
    # prefix 2.03x, already 2.4x faster absolute at sf0.4.  Below the
    # measured crossover (5k-10k docs) the naive plan's lower fixed
    # cost wins, so the plan choice is cost-based at runtime; both
    # plans are bit-identical on output (pinned).  q91 — fixed
    # quarter-slice validation — pins the naive plan instead.
    # doc_count from parquet footers: the auto plan switch needs the
    # corpus cardinality, and footer metadata answers it with zero Spark
    # jobs (vs the count() fallback — a full extra corpus scan at 100 TB).
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.4, hashed=True,
        prefix_filter="auto",
        doc_count=parquet_row_count(sf_dir, "documents"),
    )
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
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
    from sanctum_spark.operators.rollup import merge_rollup, partial_rollup, with_avg

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
    "q101_vocab_bigrams",
    r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 100
    """,
    doc=(
        "vocabulary construction: top-100 word bigrams by corpus frequency "
        "(count desc, bigram asc total order so the cutoff set is "
        "engine-stable) — the count-table step of tokenizer/vocab training. "
        "All-occurrence bigrams (not per-doc distinct), built JVM-side "
        "with transform over a token index sequence; one shuffle carrying "
        "(bigram, partial count), then TakeOrdered top-k."
    ),
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")

    def bigrams_of(t):
        n = F.size(t)
        # sequence(1, 0) would step BACKWARDS in Spark; guard short docs.
        return F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    from sanctum_spark.operators.dedup import _let

    bg = docs.select(F.explode(_let(toks, bigrams_of)).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(100)
    )


@register(
    "q102_salted_join_agg",
    """
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice) + 1e-9, 2) AS total_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
    doc=(
        "skew-resistant salted equi-join proven equivalent to the plain "
        "join: the left side scatters each (possibly hot) customer key "
        "over 8 salts and the right side is exploded 8x, so one "
        "pathological key spreads across 8 tasks instead of stalling a "
        "stage — the explicit fallback when a single key exceeds what "
        "AQE's skew split can rebalance. The oracle is the UNSALTED join, "
        "proving salting changes the schedule, never the result."
    ),
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.joins import salted_join

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    joined = salted_join(orders, cust, on="o_custkey", n_salts=8)
    return joined.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        stable_round(F.sum("o_totalprice"), 2).alias("total_price"),
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


@register(
    "q104_decontamination",
    r"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS shingles
        FROM tok
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0
    ),
    ex AS (
        SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh
        FROM sh WHERE doc_id % 97 <> 0
    ),
    ov AS (
        SELECT doc_id, MAX(n_sh) AS n_sh, COUNT(*) AS n_overlap
        FROM ex WHERE shingle IN (SELECT shingle FROM bench)
        GROUP BY doc_id
    )
    SELECT doc_id, n_overlap,
           ROUND(n_overlap / CAST(n_sh AS DOUBLE) + 1e-9, 6) AS containment
    FROM ov
    WHERE n_overlap / CAST(n_sh AS DOUBLE) >= 0.05
    """,
    doc=(
        "benchmark decontamination: training docs whose word-3-gram "
        "containment vs the benchmark slice (doc_id % 97 = 0, mirrored in "
        "the oracle) reaches 0.05. The benchmark shingle set is distinct'd "
        "and BROADCAST (eval suites are tiny vs a 100 TB corpus), so the "
        "corpus side is scan + broadcast semi-join — no corpus shuffle; "
        "only matched rows reach the groupBy."
    ),
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.text import decontaminate

    # spread_scan (r14, guide §2.5): both the benchmark-shingle broadcast
    # build and the train-side explode/semi-join ran as ONE serial task
    # each behind the single-row-group scan (5 jobs / 5 tasks total).
    # r13 measured this neutral in its window; the r14 interleaved paired
    # A/B (5 pairs, one JVM) reads median 0.86 (0.70-0.91 on 4 of 5
    # pairs).  Shingle derivation is per-row deterministic.
    docs = spread_scan(
        load_table(spark, sf_dir, "documents"),
        parquet_split_count(sf_dir, "documents"),
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    out = decontaminate(train, bench, "text", "doc_id", k=3, threshold=0.05)
    return out.select(
        "doc_id",
        "n_overlap",
        stable_round(F.col("containment"), 6).alias("containment"),
    )


@register(
    "q105_repetition_filter",
    r"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
        WHERE text IS NOT NULL
    ),
    cnt AS (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS w FROM tok)
        GROUP BY doc_id, w
    ),
    top AS (SELECT doc_id, MAX(c) AS top_c FROM cnt GROUP BY doc_id),
    m AS (
        SELECT t.doc_id,
               len(toks) AS n_tokens,
               greatest(len(toks), 1) AS nd,
               greatest(len(toks) - 1, 1) AS nb,
               len(list_distinct(toks)) AS n_uniq,
               len(list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 1)),
                   i -> array_to_string(toks[i:i+1], ' ')))) AS n_uniq_bg,
               top.top_c
        FROM tok t JOIN top ON t.doc_id = top.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(1.0 - n_uniq / CAST(nd AS DOUBLE) + 1e-9, 6) AS dup_token_frac,
           ROUND(top_c / CAST(nd AS DOUBLE) + 1e-9, 6) AS top_token_frac,
           ROUND(1.0 - n_uniq_bg / CAST(nb AS DOUBLE) + 1e-9, 6) AS dup_bigram_frac
    FROM m
    """,
    doc=(
        "Gopher-style repetition metrics per document: duplicate-token, "
        "mode-token and duplicate-bigram fractions — computed shuffle-FREE "
        "as per-row JVM expressions (mode via run-length fold over the "
        "sorted token array, bigrams via transform), where the oracle's "
        "unnest+GROUP BY shape would shuffle every token of the corpus."
    ),
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.text import repetition_profile

    docs = load_table(spark, sf_dir, "documents")
    out = repetition_profile(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_tokens",
        stable_round(F.col("dup_token_frac"), 6).alias("dup_token_frac"),
        stable_round(F.col("top_token_frac"), 6).alias("top_token_frac"),
        stable_round(F.col("dup_bigram_frac"), 6).alias("dup_bigram_frac"),
    )


@register(
    "q106_tfidf_terms",
    r"""
    WITH tf AS (
        SELECT doc_id, w AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents)
        GROUP BY doc_id, w
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
               ) AS rk
        FROM scored
    )
    SELECT doc_id, term, ROUND(tfidf + 1e-9, 6) AS tfidf, rk
    FROM ranked WHERE rk <= 3
    """,
    doc=(
        "TF-IDF top-3 terms per document: term counts (map-side combined "
        "explode), doc frequency re-aggregated from the tf rows (they ARE "
        "the distinct (doc,term) pairs — no second corpus scan), corpus "
        "size joined in as a BROADCAST single-row aggregate (stays in the "
        "plan, no driver collect), deterministic (tfidf DESC, term ASC) "
        "tie-break. The token explode shuffle is inherent to any global "
        "statistic; everything after it is term- or doc-grain. The df "
        "broadcast assumes a bounded vocabulary (true after BPE-ish "
        "tokenization); for an unbounded raw-string vocab drop the hint "
        "and let AQE choose the term-key shuffle join."
    ),
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", stable_round(F.col("tfidf"), 6).alias("tfidf"), "rk")
    )


@register(
    "q107_regression_aggs",
    r"""
    SELECT l_returnflag,
           ROUND(regr_slope(l_extendedprice, l_quantity) + 1e-9, 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity) + 1e-9, 6)
               AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity) + 1e-9, 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_avgx(l_extendedprice, l_quantity) + 1e-9, 6) AS avg_qty,
           ROUND(regr_avgy(l_extendedprice, l_quantity) + 1e-9, 6) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc=(
        "linear-regression aggregate family (regr_slope/intercept/r2/"
        "count/avgx/avgy) per return flag — the trend-fit surface OLAP "
        "engines expose for drift dashboards. Single hash aggregate with "
        "map-side partials (the regr_* family reduces to the same "
        "(n, sum_x, sum_y, sxx, sxy, syy) moment sketch Spark combines "
        "per-partition), so the plan is exactly q01's shape: one shuffle "
        "of 6 moments per group."
    ),
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        stable_round(F.regr_slope(y, x), 6).alias("slope"),
        stable_round(F.regr_intercept(y, x), 6).alias("intercept"),
        stable_round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
        stable_round(F.regr_avgx(y, x), 6).alias("avg_qty"),
        stable_round(F.regr_avgy(y, x), 6).alias("avg_price"),
    )


# q108: concat-and-chunk sequence packing. PACK_BUDGET tokens per pack;
# PACK_BLOCK doc_ids per prefix-sum block (the distributed-cumsum grain).
PACK_BUDGET = 512
PACK_BLOCK = 64


@register(
    "q108_sequence_packing",
    rf"""
    WITH t AS (
        SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_start
        FROM t
    )
    SELECT CAST(floor(cum_start / {PACK_BUDGET}) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c
    GROUP BY 1
    """,
    doc=(
        "GPT-style sequence packing: docs concatenated in doc_id order and "
        "cut into fixed token-budget packs (pack = floor(prefix_sum / "
        "budget)), the step that turns a cleaned corpus into fixed-length "
        "training rows. The prefix sum is DISTRIBUTED: per-block cumsum "
        "windows run in parallel (block = doc_id div 64), then a tiny "
        "block-totals table (n/64 rows) gets the only ordered global scan "
        "and joins back as a BROADCAST — no single-partition pass over the "
        "corpus, the classic two-phase parallel prefix sum. The oracle is "
        "the naive global window, proving block cumsum + block offset == "
        "global cumsum. At 100 TB: raise the block grain (or add a third "
        "level) so the offsets table stays a broadcast."
    ),
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.curation import pack_sequences
    from sanctum_spark.operators.text import token_count

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    # the two-phase distributed prefix sum lives in operators/curation.py
    # (r11: shared with the fused curation pipeline's pack stage)
    return pack_sequences(
        t, "n_tok", "doc_id", budget=PACK_BUDGET, block=PACK_BLOCK
    )


@register(
    "q109_cooccurrence",
    r"""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    p AS (
        SELECT unnest(list_concat(
            list_transform(generate_series(1, len(toks) - 1),
                           i -> struct_pack(w1 := toks[i], w2 := toks[i+1])),
            list_transform(generate_series(1, len(toks) - 2),
                           i -> struct_pack(w1 := toks[i], w2 := toks[i+2]))
        )) AS pr FROM t
    )
    SELECT pr.w1 AS w1, pr.w2 AS w2, COUNT(*) AS cnt
    FROM p
    GROUP BY 1, 2
    ORDER BY cnt DESC, w1 ASC, w2 ASC
    LIMIT 50
    """,
    doc=(
        "skip-gram co-occurrence counts (forward window <= 2): the count "
        "table word2vec/GloVe-style embedding training consumes. Ordered "
        "pairs built JVM-side by zip_with over two array slices (no index "
        "arithmetic, no OOB risk under ANSI mode), exploded, one "
        "map-side-combined shuffle of (w1, w2, partial count), TakeOrdered "
        "top-50 with a (cnt desc, w1, w2) total order so the cutoff set is "
        "engine-stable. Pair vocabulary is bounded by vocab^2 regardless "
        "of corpus size — the aggregate, not the explode, is the only "
        "exchange."
    ),
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.text import cooccurrence_pairs

    docs = spread_scan(
        load_table(spark, sf_dir, "documents"),
        parquet_split_count(sf_dir, "documents"),
    )
    return (
        cooccurrence_pairs(docs, "text", window=2)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(50)
    )


# q110: sliding-window context chunking. CHUNK_LEN tokens per training
# sample, CHUNK_STRIDE tokens between window starts (overlap keeps context
# across cuts).
CHUNK_LEN = 32
CHUNK_STRIDE = 24


@register(
    "q110_context_chunks",
    rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS start
        FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(toks[start:start+{CHUNK_LEN - 1}]) AS BIGINT)
               AS n_chunk_tokens,
           md5(array_to_string(toks[start:start+{CHUNK_LEN - 1}], ' '))
               AS chunk_digest
    FROM s
    """,
    doc=(
        "sliding-window context chunking (len 32, stride 24): each doc's "
        "token stream cut into overlapping fixed-size training windows — "
        "the doc -> training-sample step that precedes packing (q108 "
        "combines short rows; this splits long ones). Entirely per-row "
        "JVM work: posexplode over a stride sequence + slice + md5, ZERO "
        "exchanges in the plan (asserted in test_plans), so at 100 TB it "
        "is a pure map over the scan and writes sharded output with no "
        "shuffle at all."
    ),
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctum_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = F.transform(tokens(F.col("text")), lambda w: F.lower(w))
    starts = F.sequence(F.lit(1), F.size(F.col("toks")), F.lit(CHUNK_STRIDE))
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    starts, lambda s: F.slice(F.col("toks"), s, CHUNK_LEN)
                )
            ).alias("chunk_idx", "chunk"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size("chunk").cast("long").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", "chunk")).alias("chunk_digest"),
        )
    )
