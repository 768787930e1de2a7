"""Vectors family: queries that read ``embeddings``: array scalar
functions, positional explode, cosine and ANN top-k (brute force, LSH,
IVF, product quantization), embedding near-duplicates and cluster
profiles.  The sketch-style ANN operators are rows-only; their recall and
determinism are asserted in tests/test_operators.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sanctum_spark.io import load_table
from sanctum_spark.operators import similarity as S
from sanctum_spark.operators.similarity import (
    embedding_near_duplicates,
    ivf_assign,
    ivf_topk,
    ivf_train,
    pq_adc_topk,
    pq_encode,
    pq_train,
)
from sanctum_spark.queries import register
from sanctum_spark.queries.util import stable_round


@register(
    "q54_array_functions",
    """
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT)                      AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE) + 1e-9, 5)       AS first_elem,
           ROUND(list_sum(CAST(embedding[1:8] AS DOUBLE[])) + 1e-9, 4) AS head_sum,
           ROUND(list_max(CAST(embedding AS DOUBLE[])) + 1e-9, 5)      AS max_elem
    FROM embeddings
    """,
    doc="array scalar family: length/index/slice/sum/max over embeddings.",
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        # try_element_at / size guard: an empty or NULL vector yields
        # NULL like DuckDB's out-of-bounds index and list_sum([]) — a
        # bare element_at is an ANSI crash (r6 embeddings sweep)
        stable_round(F.try_element_at(dvec, F.lit(1)), 5).alias("first_elem"),
        stable_round(
            F.when(
                F.size(dvec) > 0,
                F.aggregate(F.slice(dvec, 1, 8), F.lit(0.0), lambda a, x: a + x),
            ),
            4,
        ).alias("head_sum"),
        stable_round(F.array_max(dvec), 5).alias("max_elem"),
    )


@register(
    "q33_explode_positions",
    """
    SELECT CAST(i AS INT) AS pos,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)) + 1e-9, 5) AS avg_v,
           -- COUNT(col), not COUNT(*): vectors shorter than i (or NULL)
           -- have no element there, matching Spark's posexplode which
           -- emits no row for a missing position (r6 embeddings sweep)
           COUNT(embedding[i]) AS n
    FROM embeddings, (SELECT UNNEST([1, 2, 3, 4]) AS i) p
    GROUP BY i
    """,
    doc="lateral explode (posexplode) of an array column + positional agg.",
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    head = F.slice(F.transform("embedding", lambda x: x.cast("double")), 1, 4)
    return (
        emb.select(F.posexplode(head).alias("pos0", "v"))
        .select((F.col("pos0") + 1).cast("int").alias("pos"), "v")
        .groupBy("pos")
        .agg(stable_round(F.avg("v"), 5).alias("avg_v"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "q43_array_manipulation",
    """
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(list_sort(CAST(embedding[1:5] AS DOUBLE[]))[1] + 1e-9, 5)  AS smallest_head,
           ROUND(list_sort(CAST(embedding[1:5] AS DOUBLE[]))[5] + 1e-9, 5)  AS largest_head,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS BIGINT) AS n_positive
    FROM embeddings
    """,
    doc="array manipulation: slice/sort/index/filter over embeddings.",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    head_sorted = F.sort_array(F.slice(dvec, 1, 5))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        # try_element_at: empty/ragged vectors yield NULL like DuckDB's
        # out-of-bounds list index (bare element_at: ANSI crash)
        stable_round(F.try_element_at(head_sorted, F.lit(1)), 5).alias("smallest_head"),
        stable_round(F.try_element_at(head_sorted, F.lit(5)), 5).alias("largest_head"),
        F.size(F.filter(dvec, lambda x: x > 0)).cast("long").alias("n_positive"),
    )


# Brute-force cosine top-k broadcasts the single query vector and reduces
# with TakeOrdered, never materializing the full similarity matrix.
@register(
    "q73_cosine_topk",
    """
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id, label,
           -- dim guard: list_dot_product ERRORS on unequal lengths,
           -- while Spark's zip_with pads with NULL and the dot folds to
           -- NULL — degenerate vectors get NULL cos_sim on both engines
           -- and rank last (r6 embeddings sweep)
           CASE WHEN embedding IS NOT NULL AND len(embedding) = len(qvec)
                THEN ROUND(
                    list_dot_product(CAST(embedding AS DOUBLE[]), qvec)
                    / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[])))
                       * sqrt(list_dot_product(qvec, qvec))),
                    5) END AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    doc=(
        "brute-force cosine top-k against one query vector: broadcast the "
        "query, JVM-side zip_with/aggregate dot products, TakeOrdered top-k."
    ),
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("qvec"))
    )
    cand = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    joined = cand.crossJoin(F.broadcast(qvec))
    # try_divide: a zero-norm embedding yields NULL cosine (ranked last
    # by DESC on both engines) instead of the ANSI DIVIDE_BY_ZERO a raw
    # `/` throws — DuckDB double division by zero is NULL, so raw `/`
    # here is a crash on Spark AND a divergence in the oracle pairing
    # (pinned in tests/test_edge_invariants_b8.py).
    sim = F.try_divide(
        dot(F.col("vec"), F.col("qvec")),
        F.sqrt(dot(F.col("vec"), F.col("vec")))
        * F.sqrt(dot(F.col("qvec"), F.col("qvec"))),
    )
    return (
        joined.select("vec_id", "label", F.round(sim, 5).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "q78_ann_lsh_topk",
    None,
    doc=(
        "LSH-bucketed ANN cosine top-10 for the vec_id=0 query (6 planes / "
        "64 buckets, 8 probes — bucket count sized so occupancy stays "
        "useful from sf0.001 up; at real scale raise n_planes with corpus "
        "size). Rows-only; soundness vs the exact q73 baseline asserted in "
        "tests/test_operators.py."
    ),
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:
        if not emb.isEmpty():  # data bug, not an empty ingest: fail loud
            raise ValueError("q78: query vector vec_id=0 missing")
        return spark.createDataFrame([], "vec_id bigint, cos_sim double")
    qvec = [float(x) for x in qrow[0]]
    lsh = S.RandomHyperplaneLSH(dim=len(qvec), n_planes=6, seed=42)
    bucketized = lsh.bucketize(emb.filter(F.col("vec_id") != 0))
    return lsh.topk(bucketized, qvec, k=10, n_probes=8)


@register(
    "q79_embedding_neardup",
    None,
    doc=(
        "embedding-cosine near-duplicate pairs (cos >= 0.3) via LSH-"
        "bucketed self pair generation — the vector-space dedup operator. "
        "Plane count is derived from the corpus size (sized_lsh: expected "
        "bucket <= 1024 vectors), so the within-bucket pair join stays "
        "~n*1024/2 rather than n^2/2^const as the corpus grows. Rows-only; "
        "completeness vs the brute-force pair join asserted in "
        "tests/test_operators.py."
    ),
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(emb, threshold=0.3).orderBy("id_a", "id_b")


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
    "q119_pq_ann",
    None,
    doc=(
        "product-quantization ANN: deterministic per-subspace Lloyd "
        "codebooks (m=8 subspaces x 16 centroids over 64 dims, trained in "
        "one job per iteration), scan-side encoding to 8 small codes per "
        "vector (a 32x memory compression at float32), ADC shortlist for "
        "the vec_id=0 query via a driver-computed 8x16 lookup table — "
        "scoring never touches vector arithmetic and reduces with "
        "TakeOrdered (no corpus shuffle) — then exact re-rank of the "
        "100-id shortlist (isin-pruned scan) for near-brute-force recall. "
        "Rows-only (sketch op); recall vs exact L2 + determinism asserted "
        "in tests/test_operators.py. At 100 TB: train on a sample, store "
        "codes next to the vectors, probe + re-rank exactly as here."
    ),
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).first()
    if qrow is None:
        if not emb.isEmpty():  # data bug, not an empty ingest: fail loud
            raise ValueError("q119: query vector vec_id=0 missing")
        return spark.createDataFrame([], "vec_id bigint, adc_dist double")
    qvec = [float(x) for x in qrow["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0).filter(
        # NULL/ragged vectors can't be encoded or scored: drop them
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
    # sampled training (deterministic quarter-slice), full-corpus encoding —
    # the documented 100 TB split between the train and index passes.
    # fallback=corpus replaces the former train.isEmpty() pre-probe (one
    # driver job): a tiny corpus that misses the quarter-slice entirely
    # trains on everything, detected from the seed sample pq_train
    # already collects (r6 review finding; r13 verdict task #6).
    train = corpus.filter(F.col("vec_id") % 4 == 0)
    books = pq_train(train, m=8, ksub=16, n_iters=4, fallback=corpus)
    encoded = pq_encode(corpus, books)
    return pq_adc_topk(encoded, books, qvec, k=10, rerank=100).select(
        "vec_id", stable_round(F.col("adc_dist"), 5).alias("adc_dist")
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
