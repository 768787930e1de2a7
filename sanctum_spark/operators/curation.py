"""End-to-end corpus curation: clean → dedup → decontaminate → pack.

SCALE.md measures the curation operators individually; a real 100 TB
pre-training run chains them as ONE job so the corpus is scanned once
and Catalyst fuses the stage boundaries (column pruning reaches the
scan, the quality gates run inside the same codegen span as the digest,
and nothing round-trips through a storage format between stages).  This
module provides each stage as a DataFrame→DataFrame function plus the
fused composition; the suite pins its output equal to stage-at-a-time
materialization (tests/test_curation_pipeline.py).  SCALE.md records the
fused-vs-staged A/B (protocol: ``tools/perf.py``; retired runner
``git show 56ab0f9:tools/pipeline_ab.py``).

Stage semantics deliberately match the registered single-stage queries
(same operators underneath), so every stage is independently
oracle-verified by the driver gate: clean = q92's shape, near-dup
clustering = the q99 production composition (suite-pinned at
tests/test_operators.py, r10), decontamination = q104's shape, packing
= q108's distributed prefix sum (q108 now calls ``pack_sequences``
directly).

Reference parity note: the reference engine (sackosoft/sanctum) has no
corpus-curation surface — this is the driver-mandated LLM-data-pipeline
extension (SURVEY.md §2.3), built Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    min_chars: int = 100,
    max_chars: int = 20000,
) -> DataFrame:
    """Exact dedup (lowest id kept per md5 digest, struct-min — one
    shuffle, no join-back) + token/length quality gates, carrying
    ``n_tok`` forward so downstream packing never re-tokenizes.

    Output: (id_col, text_col, n_tok).
    """
    from sanctum_spark.operators.dedup import drop_exact_duplicates
    from sanctum_spark.operators.text import token_count

    kept = drop_exact_duplicates(
        docs.select(id_col, text_col), text_col, id_col
    )
    n_len = F.length(text_col).cast("long")
    return (
        kept.withColumn("n_tok", token_count(F.col(text_col)))
        .filter(
            (F.col("n_tok") >= min_tokens)
            & (n_len >= min_chars)
            & (n_len <= max_chars)
        )
        .select(id_col, text_col, "n_tok")
    )


def drop_near_duplicate_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Near-dup clustering keeper pass: MinHash-LSH edges → connected
    components → keep the minimum-id document per cluster.

    ``connected_components`` labels every node with the minimum node id
    reachable from it, so the keeper test is simply ``id == component``
    — no extra per-cluster aggregate.  Docs that collide with nothing
    never appear in the edge list and pass through untouched.

    Scale shape: the production q99 composition (bucketed LSH banding,
    exact-Jaccard verification on candidates only, per-round
    (node,label) shuffles in CC — 1.93x/doubling at sf12.8, SCALE.md).
    The anti-join's right side is the non-keeper id list, bounded by
    near-dup cluster membership, not corpus size.
    """
    from sanctum_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    pairs = minhash_near_duplicates(
        docs, text_col, id_col,
        n_hashes=n_hashes, bands=bands, shingle_k=shingle_k,
        threshold=threshold,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def drop_contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.05,
) -> DataFrame:
    """Benchmark decontamination as a DROP: remove documents whose
    word-k-gram containment against the benchmark reaches ``threshold``
    (operators.text.decontaminate provides the flag side: broadcast
    distinct benchmark shingles, scan-side semi-join, no corpus
    shuffle)."""
    from sanctum_spark.operators.text import decontaminate

    flagged = decontaminate(
        docs, benchmark, text_col, id_col, k=k, threshold=threshold
    ).select(id_col)
    return docs.join(flagged, id_col, "left_anti")


def pack_sequences(
    docs: DataFrame,
    tok_col: str = "n_tok",
    id_col: str = "doc_id",
    budget: int = 512,
    block: int = 64,
) -> DataFrame:
    """GPT-style sequence packing over (id, token-count) rows: documents
    concatenated in id order and cut into fixed token-budget packs
    (pack = floor(prefix_sum / budget)).

    The prefix sum is DISTRIBUTED (two-phase): per-block cumsum windows
    run in parallel (block = id div ``block``), then a tiny block-totals
    table (n/block rows) gets the only globally-ordered scan and joins
    back as a BROADCAST — no single-partition pass over the corpus.  At
    100 TB: raise the block grain (or add a third level) so the offsets
    table stays a broadcast.

    Output: (pack_id, n_docs, pack_tokens, first_doc, last_doc) with
    first_doc/last_doc named after ``id_col``'s grain in q108's frozen
    oracle contract.
    """
    t = docs.select(
        id_col,
        F.col(tok_col).alias("n_tok"),
        (F.col(id_col) - F.col(id_col) % block).alias("blk"),
    )
    # Phase 1: within-block running start (parallel across blocks).
    w_in = (
        Window.partitionBy("blk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("in_start", F.coalesce(F.sum("n_tok").over(w_in), F.lit(0)))
    # Phase 2: block offsets — n/block rows, the only globally-ordered
    # scan, then broadcast back to the full table.
    blk_tot = t.groupBy("blk").agg(F.sum("n_tok").alias("blk_tok"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    blk_off = blk_tot.select(
        "blk", F.coalesce(F.sum("blk_tok").over(w_blk), F.lit(0)).alias("blk_off")
    )
    packed = t.join(F.broadcast(blk_off), "blk").select(
        id_col,
        "n_tok",
        F.floor((F.col("blk_off") + F.col("in_start")) / budget).alias("pack_id"),
    )
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def curate_and_pack(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    min_chars: int = 100,
    max_chars: int = 20000,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    neardup_threshold: float = 0.4,
    decontam_k: int = 3,
    decontam_threshold: float = 0.05,
    pack_budget: int = 512,
    pack_block: int = 64,
) -> DataFrame:
    """The fused curation pipeline: clean → near-dup keeper pass →
    decontaminate → pack, composed as one DataFrame chain with a shared
    scan and no intermediate actions added at the stage boundaries (the
    MinHash signature cache and the CC iteration are internal to those
    operators and identical under staged execution).

    Returns the pack table (see ``pack_sequences``).  Output equality
    with stage-at-a-time parquet materialization is suite-pinned
    (tests/test_curation_pipeline.py); fused-vs-staged wall-clock and
    octave slopes are recorded in SCALE.md (protocol: tools/perf.py).
    """
    cleaned = clean_corpus(
        docs, text_col, id_col,
        min_tokens=min_tokens, min_chars=min_chars, max_chars=max_chars,
    )
    uniq = drop_near_duplicate_docs(
        cleaned, text_col, id_col,
        n_hashes=n_hashes, bands=bands, shingle_k=shingle_k,
        threshold=neardup_threshold,
    )
    final = drop_contaminated_docs(
        uniq, benchmark, text_col, id_col,
        k=decontam_k, threshold=decontam_threshold,
    )
    return pack_sequences(
        final, "n_tok", id_col, budget=pack_budget, block=pack_block
    )
