"""Deduplication operators for LLM-scale corpora.

Design for 100 TB:
- exact:   one shuffle on a content digest; never moves the text twice
  (digest computed map-side, AQE coalesces the agg).
- MinHash: signatures are computed scan-side from token shingles with
  JVM-built-ins only (no Python in the hot path); the LSH band join
  shuffles only (band_key, doc_id) pairs — hot buckets are bounded by
  banding and AQE skew-join handles residual skew.
- verification of candidate pairs re-computes exact Jaccard only on the
  candidates (tiny relative to the corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sanctum_spark.io import spread_scan


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups: digest → copies + keeper (lowest id).

    Returns one row per distinct content with ``n_copies`` and
    ``keeper_<id_col>``.
    """
    return (
        df.withColumn("digest", F.md5(F.col(content_col)))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias(f"keeper_{id_col}"),
        )
    )


def drop_exact_duplicates(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep only the lowest-id row per distinct content. One shuffle on the
    digest; the winning row is chosen with a min_by-style struct-min so the
    full rows never join back against the corpus."""
    digest = F.md5(F.col(content_col))
    pick = F.struct(
        F.col(id_col).alias("_k"),
        F.struct(*[F.col(c) for c in df.columns]).alias("_row"),
    )
    return (
        df.withColumn("_digest", digest)
        .withColumn("_pick", pick)
        .groupBy("_digest")
        .agg(F.min("_pick").alias("_pick"))
        .select("_pick._row.*")
    )


def shingle_tokens(text_col: str | Column, k: int = 3) -> Column:
    """Distinct word k-shingles of a text column (JVM-side only).

    A NULL text has NO shingles (empty array — the SQL semantics where a
    NULL document produces no token rows and can never pair); an empty
    string still has its single degenerate shingle.  Without the guard a
    NULL text collapsed to the [""] shingle, silently making all NULL
    docs mutual jaccard-1.0 duplicates (found by the r6 fuzz sweep).

    ``toks`` MUST be _let-bound: it is referenced inside the transform
    lambda (once per shingle), and Catalyst would otherwise inline the
    ``split`` into every use site — O(tokens²) per document (measured:
    a 66k-shingle explode at sf0.1 took 101 s un-bound, <2 s bound).
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col

    def shingles_of(toks: Column) -> Column:
        # NULL-PROPAGATING floor: greatest()/least() SKIP nulls, so a bare
        # lit(1) floor would resurrect the [""] shingle for NULL text;
        # size(toks)*0+1 is 1 for real docs and NULL for NULL docs, which
        # nulls the sequence -> transform -> array_distinct chain
        floor1 = F.size(toks) * 0 + 1
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(k - 1), floor1))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        )

    # coalesce, NOT when().otherwise(): CaseWhen branches are excluded
    # from whole-stage-codegen subexpression elimination, so the r6
    # when()-guarded form recomputed the whole shingle expression once
    # per consumer (size + explode) — measured +50% on the q104 shape at
    # sf0.1.  Coalesce's FIRST argument is always-evaluated and stays
    # CSE-eligible; NULL text reaches the empty-array fallback through
    # natural null propagation instead of a branch (r7 A/B attribution).
    return F.coalesce(
        _let(F.split(F.lower(col), r"\s+"), shingles_of),
        F.array().cast("array<string>"),
    )


def _let(value: Column, body) -> Column:
    """Bind ``value`` to a lambda variable so Catalyst evaluates it ONCE.

    Catalyst has no let-expression and CollapseProject inlines named
    projection columns into every use site — an expression referenced n
    times inside a higher-order lambda is re-evaluated n times per row
    (measured: O(tokens²) blowup in shingling).  ``transform`` over a
    single-element array provides the binding: the array argument is
    evaluated once, the lambda sees it as a bound variable.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def shingle_hashes(text_col: str | Column, k: int = 3) -> Column:
    """Distinct 64-bit k-shingle hashes, string-free after tokenization:
    tokens are xxhash64'd once, each shingle hash combines k consecutive
    token hashes with one more xxhash64 over longs (no shingle-string
    materialization).  Short documents are padded with sentinel hashes so
    ANSI element_at never goes out of bounds.

    A NULL text has NO shingles (empty array), matching shingle_tokens:
    xxhash64 of an all-NULL input is the seed CONSTANT, not NULL, so the
    unguarded form hashed every NULL doc to one identical shingle and
    paired them all at jaccard 1.0 (found by the r6 fuzz sweep)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.lower(col), r"\s+")
    th_expr = F.concat(
        F.transform(toks, lambda t: F.xxhash64(t)),
        F.array(*[F.lit(-(j + 1)).cast("long") for j in range(k - 1)]),
    )

    def shingles_of(th: Column) -> Column:
        # size(th) == n_tokens + (k-1) → shingle count = size(th) - 2(k-1)
        n_sh = F.size(th) - F.lit(2 * (k - 1))
        # null-propagating floor (see shingle_tokens): NULL text must
        # yield NULL here, not a 1-element sequence
        floor1 = F.size(th) * 0 + 1
        idx = F.sequence(F.lit(1), F.greatest(n_sh, floor1))
        return F.array_distinct(
            F.transform(
                idx, lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(k)])
            )
        )

    # coalesce, not when().otherwise() — same CSE rationale as
    # shingle_tokens: NULL text propagates (split -> transform -> concat
    # are all null-in/null-out) and the branch-free form keeps the
    # expression subexpression-eliminable in codegen (r7 A/B attribution)
    return F.coalesce(
        _let(th_expr, shingles_of),
        F.array().cast("array<long>"),
    )


def hashed_word_windows(
    text_col: str | Column,
    k: int = 5,
    cap: int | None = None,
    distinct: bool = False,
) -> Column:
    """xxhash64 of every k-token window of the lower+trimmed text, as
    ``array<long>``; NULL text yields an empty array.  ``cap`` bounds
    windows per document (pathological mega-docs must not explode
    unboundedly); ``distinct`` dedups windows within the doc.

    The token array is _let-BOUND because the transform lambda slices it
    once per window — unbound, Catalyst inlines the split into every
    window (no lambda CSE), re-tokenizing the document O(windows) times;
    and the short-doc guard is branch-free (null-propagating floor +
    slice, the shingle_tokens r7 pattern) instead of a when() branch,
    which would additionally fall out of codegen subexpression
    elimination.  Measured on the q142 shingle stage at sf0.1: 3.31 s
    (when + unbound lambda) -> 0.69 s (this form), identical output.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col

    def body(t: Column) -> Column:
        n = F.size(t) - F.lit(k - 1)
        if cap is not None:
            # least() SKIPS nulls (returns the least NON-NULL argument),
            # so least(n, lit(cap)) on NULL text resurrected n = cap and
            # the whole null-propagation guard below collapsed: NULL text
            # emitted `cap` copies of xxhash64(NULL) = 42 — a phantom
            # shingle shared by every source with one NULL doc (found by
            # the fuzz sweep as a q142 containment-matrix divergence).
            # Anchoring the cap to size(t)*0 + cap keeps it
            # null-PROPAGATING: NULL size -> NULL cap -> NULL n.
            n = F.least(n, F.size(t) * 0 + F.lit(cap))
        floor1 = F.size(t) * 0 + 1
        full = F.transform(
            F.sequence(F.lit(1), F.greatest(n, floor1)),
            lambda i: F.xxhash64(F.array_join(F.slice(t, i, k), " ")),
        )
        out = F.slice(full, 1, F.greatest(n, F.size(t) * 0))
        return F.array_distinct(out) if distinct else out

    return F.coalesce(
        _let(F.split(F.trim(F.lower(col)), r"\s+"), body),
        F.array().cast("array<bigint>"),
    )


def minhash_signature(shingles: Column, n_hashes: int = 16) -> Column:
    """MinHash signature as an array<long>: for seed s, min over shingle
    hashes of xxhash64(shingle_hash, s).  Entirely JVM-side; the shingle
    array is let-bound (computed once, not once per seed) and the seed
    loop is a nested transform with the seed as a lambda variable — one
    compact expression instead of n_hashes unrolled copies, which cuts
    whole-stage-codegen compile time ~5x on the cold run."""
    return _let(
        shingles,
        lambda sh: F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda s: F.array_min(F.transform(sh, lambda x: F.xxhash64(x, s))),
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, shingles, sig) per document — shingles as long hashes.

    Documents with no shingles (NULL text) are excluded at the scan:
    they cannot be near-duplicates of anything, their all-NULL signature
    would band to one constant key (a false mega-bucket), and the exact
    verification's jaccard would hit 0/0.  The exclusion is a
    ``text IS NOT NULL`` pre-filter, which is EQUIVALENT to the r6
    ``size(shingles) > 0`` form (a non-NULL text always has >= 1
    shingle, the degenerate [''] included) but pushes to the parquet
    scan instead of re-evaluating the whole shingle expression inside
    the filter predicate (projection<->filter have no cross-operator
    CSE — the same class of cost as the r7 CaseWhen finding)."""
    tcol = F.col(text_col) if isinstance(text_col, str) else text_col
    return (
        df.filter(tcol.isNotNull())
        .select(
            F.col(id_col).alias("id"),
            shingle_hashes(text_col, shingle_k).alias("shingles"),
        )
        .withColumn("sig", minhash_signature(F.col("shingles"), n_hashes))
    )


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 4) -> DataFrame:
    """Band the signatures and self-join on (band_id, band_key).

    Returns distinct (id_a, id_b) with id_a < id_b plus the positional
    signature-agreement estimate ``est_jaccard``.  Only
    (band_key, id, sig) rows shuffle — never the text.
    """
    # rows per band derived from the signature length at plan time
    sig_len_expr = F.size("sig")
    banded = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                "sig",
                                b * (sig_len_expr / bands).cast("int") + 1,
                                (sig_len_expr / bands).cast("int"),
                            ),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_id", "band_key"),
    ).select("id", "sig", "band_id", "band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    # est_jaccard is a pure function of the two signatures ON the join
    # row, and duplicate candidates (pairs colliding in several bands)
    # carry identical signatures — so it is computed in the join
    # PROJECTION and the pair dedup ships (id_a, id_b, est): one double
    # instead of two n_hashes-long signature arrays (~8x fewer shuffle
    # bytes at the default 16 hashes).  Same r9 commute argument as the
    # simhash Hamming pushdown; result-identical, pinned by the minhash
    # recall/determinism tests and param-fuzz family B.
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (agree / F.size(F.col("a.sig")).cast("double")).alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → candidate pairs →
    exact-Jaccard verification on candidates only.

    Returns (id_a, id_b, est_jaccard, jaccard) for pairs with exact
    Jaccard ≥ threshold.
    """
    # Materialize signatures once: the band self-join and the shingle
    # re-join reference this subplan four times, and shingling + n_hashes
    # transforms are the dominant scan cost.  The count() forces the cache
    # eagerly — otherwise AQE runs the self-join's two child stages
    # concurrently and each races to compute the signatures from scratch.
    # At cluster scale this would be a checkpoint to a bucketed table.
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k).persist()
    sigs.count()
    cands = lsh_candidate_pairs(sigs, bands)
    sh = sigs.select(F.col("id"), F.col("shingles"))
    withsets = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        withsets.withColumn("jaccard", inter / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard", "jaccard")
    )


def incremental_exact_new(
    new_df: DataFrame,
    base_df: DataFrame,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental exact dedup: rows of ``new_df`` that survive dedup both
    against themselves (lowest id kept per digest) and against the existing
    ``base_df`` corpus (digest anti-join).

    The daily-ingest shape of corpus maintenance: the base corpus never
    rewrites — only its digest column ships into the anti-join, and the
    new batch (typically ≪ base) dedups internally first so the anti-join
    probe side is already distinct. Returns (id, digest).

    At 100 TB: keep the base digests as a bucketed table on digest; the
    anti-join is then shuffle-free on the base side, and the new batch's
    one shuffle is bounded by the batch, not the corpus.
    """
    digest = F.md5(F.col(content_col))
    new_min = (
        new_df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col))
    )
    base_digests = base_df.select(digest.alias("digest"))
    return new_min.join(base_digests, "digest", "left_anti").select(id_col, "digest")


def cross_corpus_near_duplicates(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora (new × base), MinHash-LSH
    bucketed: a new document is flagged when any LSH band key collides with
    a base document and the exact shingle Jaccard reaches ``threshold``.

    Candidate generation joins new-side band keys against base-side band
    keys (never new×new or base×base), so the join output is bounded by
    true cross-corpus collisions; both sides share the same seeded hash
    family, which is what makes signatures comparable across corpora and
    across ingest days. Returns (new_id, base_id, est_jaccard, jaccard).
    """
    new_sigs = minhash_signatures(new_df, text_col, id_col, n_hashes, shingle_k).persist()
    base_sigs = minhash_signatures(base_df, text_col, id_col, n_hashes, shingle_k).persist()
    # Materialize BOTH persisted signature tables in ONE job (r14, guide
    # §2.6 "overlap independent jobs" / §5 driver round-trips): the
    # union's single count populates both caches, and the smaller side's
    # tail backfills the larger side's tasks instead of running as a
    # second sequential job.  Paired A/B on q121 (6 pairs, one JVM):
    # median ratio 0.87 on top of the scan fan-out.
    new_sigs.select(F.lit(1).alias("one")).unionAll(
        base_sigs.select(F.lit(1).alias("one"))
    ).count()

    def banded(sigs: DataFrame) -> DataFrame:
        sig_len = F.size("sig")
        return sigs.select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.hash(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    "sig",
                                    b * (sig_len / bands).cast("int") + 1,
                                    (sig_len / bands).cast("int"),
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ),
                )
            ).alias("band_id", "band_key"),
        )

    a = banded(new_sigs).alias("a")
    b = banded(base_sigs).alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("base_id"))
        .distinct()
    )
    sh_new = new_sigs.select(F.col("id").alias("new_id"), F.col("shingles").alias("sh_a"), F.col("sig").alias("sig_a"))
    sh_base = base_sigs.select(F.col("id").alias("base_id"), F.col("shingles").alias("sh_b"), F.col("sig").alias("sig_b"))
    joined = cands.join(sh_new, "new_id").join(sh_base, "base_id")
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.withColumn("est_jaccard", agree / F.size("sig_a").cast("double"))
        .withColumn("jaccard", inter / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "base_id", "est_jaccard", "jaccard")
    )


def _catalyst_row_count(df: DataFrame) -> int | None:
    """Row count from the optimized plan's statistics, or None.

    Metadata-only: ``stats()`` on the optimized logical plan never runs a
    job (it may list files).  Catalyst only materializes ``rowCount`` when
    the plan carries one (CBO table stats, LocalRelation, a literal
    ``range``), so plain un-analyzed parquet scans usually return None —
    callers with such inputs should supply ``doc_count`` from parquet
    footers (io.parquet_row_count) instead.
    """
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:  # py4j internals shifted — fall back to count()
        return None
    return None


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    hashed: bool = False,
    prefix_filter: bool | str = True,
    auto_prefix_min_docs: int = 8192,
    doc_count: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (threshold ``t``) — EXACT result, with
    prefix-filtered candidate generation (AllPairs/PPJoin, Bayardo et al.
    WWW'07 / Xiao et al. WWW'08) as the default plan.

    The naive plan (``prefix_filter=False``) self-joins every shingle
    instance: its candidate volume is sum-over-shingles of c·(c-1)/2, so
    hot (stopword-like) shingles make it quadratic in per-shingle
    frequency — measured 3.96x candidate pairs per corpus doubling
    (1.27M -> 5.01M, sf0.1 -> sf0.2; SCALE.md's q99 decomposition).
    Prefix filtering bounds candidates by RARE-shingle frequencies
    instead, at the price of three extra corpus-linear stages (dfreq
    agg+join, per-doc canonical re-agg, candidate distinct).  Measured
    crossover (interleaved paired ratios prefix/naive, r7 —
    EVIDENCE_r7.md): 2.0x SLOWER at the q91 quarter-slice and 1.9x at
    full sf0.1 (fixed stage overhead dominates), 0.75-0.86x (faster) at
    full sf0.2, and 0.41x at full sf0.4 on the q99 pipeline — where
    naive runs 3.77x wall per doubling (above any allowance) and prefix
    2.03x.  Default True is the plan that survives corpus growth;
    fixed-density callers below the crossover (q91's quarter-slice
    validation) may pin ``prefix_filter=False`` for the ~2x constant.
    ``prefix_filter="auto"`` makes the choice cost-based at runtime
    from the input's document count against ``auto_prefix_min_docs``
    (default 8192, inside the measured 5k-10k crossover band) — the
    right setting for corpus-grain callers whose input size varies.
    In auto mode, pass ``doc_count`` (e.g. from parquet footer metadata,
    io.parquet_row_count) to avoid the eager ``df.count()`` fallback;
    see the in-body comment for the full cardinality-source ladder.
    At genuine scale the exact operator is a VALIDATOR either way —
    ``minhash_near_duplicates`` is the production near-dup path.
    Prefix filtering removes exactly the hot shingles from the candidate
    join while provably keeping every qualifying pair:

    - canonical order: all shingles totally ordered by (global document
      frequency asc, shingle asc) — rare shingles first;
    - per-doc prefix: the first ``|A| - ceil(t·|A|) + 1`` shingles of the
      doc's set in that order.  Any pair with ``J(A,B) >= t`` has
      ``|A∩B| >= ceil(t·max(|A|,|B|))``, and two sets with overlap >= α
      must intersect within their ``(size - α + 1)``-prefixes (prefix
      lemma: the smallest common element in the canonical order cannot
      sit in both suffixes of length α-1) — so candidates = prefix-shingle
      equi-join, plus the size filter ``min >= t·max`` implied by J >= t,
      plus the POSITIONAL filter (PPJoin): a collision at canonical
      positions (p_a, p_b) can witness at most ``1 + min(n_a-p_a,
      n_b-p_b)`` overlap, which must reach ``ceil(t/(1+t)·(n_a+n_b))``
      — prunes late-in-both-suffixes collisions before the candidate
      distinct at zero extra shuffle;
    - verification: exact Jaccard from ``array_intersect`` on the FULL
      shingle sets, candidates only.  Same numerator/denominator values
      as the naive join-count, so results are bit-identical.

    Ceil guards subtract 1e-9 before ceiling: float rounding may land
    ``t·n`` a hair ABOVE the exact rational (0.4×10 → 4.0000000000000002),
    and an over-ceil would shorten the prefix / tighten the size filter —
    the unsafe direction.  The slack only ever ADDS candidates.

    ``hashed=True`` operates on 64-bit xxhash64 shingle hashes instead of
    shingle strings: the shuffles ship 8-byte longs and the canonical
    order/intersections compare longs — same pair set (hash collisions
    aside), ~2× cheaper. Use it when the caller needs the PAIRS, not the
    shingles themselves (e.g. dedup clustering).

    Shuffle ledger (prefix plan): dfreq agg + join (keyed by shingle),
    per-doc re-agg (keyed by id), prefix equi-join (keyed by shingle),
    candidate distinct + two verify joins (keyed by id, candidate-sized).
    Each stage is linear in corpus shingle volume except the candidate
    join, whose output is bounded by PREFIX-shingle frequencies — rare by
    construction.  ``minhash_near_duplicates`` remains the approximate
    path when even one corpus pass per stage is too much.
    """
    make = shingle_hashes if hashed else shingle_tokens
    if isinstance(prefix_filter, str):
        if prefix_filter != "auto":
            raise ValueError(
                "prefix_filter must be True, False, or the string 'auto'; "
                f"got {prefix_filter!r}"
            )
        # Cost-based plan choice, the exact-Jaccard analog of AQE's
        # runtime join-strategy switch: the naive plan's fixed cost is
        # lower (one exploded self-join) but its candidate volume grows
        # quadratically in per-shingle frequency, while the prefix plan
        # pays three extra corpus-linear stages to bound candidates by
        # rare-shingle frequencies.  The measured crossover (interleaved
        # paired A/B over three octaves, EVIDENCE_r7/r8 + SCALE.md: the
        # full positional+index stack is ~1.2x naive at 5k docs and
        # 0.75-0.86x at 10k docs of this corpus density) sits between
        # 5k and 10k documents; `auto_prefix_min_docs` defaults inside
        # that band.  Both plans are bit-identical on output (pinned,
        # tests/test_operators.py), so the switch can never change
        # results — only the physical strategy.
        #
        # Cardinality source, cheapest first: (1) caller-supplied
        # ``doc_count`` (plain scans can read it from parquet footers
        # via io.parquet_row_count — zero Spark jobs); (2) Catalyst's
        # optimized-plan row-count statistic when the plan carries one;
        # (3) ``df.count()`` — an EAGER full job over the caller's
        # input lineage at plan-construction time.  That last resort is
        # only metadata-cheap for plain parquet scans; a caller passing
        # a derived/expensive DataFrame pays one extra full evaluation
        # and should cache the input, pass ``doc_count``, or pin the
        # plan with an explicit bool.  At 100 TB the fallback is a full
        # corpus scan before the real work — and above the threshold
        # the answer is always "prefix" — so production corpus-grain
        # callers pass ``doc_count`` from catalog/footer metadata.
        n_docs = doc_count
        if n_docs is None:
            n_docs = _catalyst_row_count(df)
        if n_docs is None:
            n_docs = df.count()
        prefix_filter = n_docs >= auto_prefix_min_docs
    sh = df.select(
        F.col(id_col).alias("id"), make(text_col, shingle_k).alias("shingles")
    )
    if not prefix_filter:
        exploded = sh.select("id", F.explode("shingles").alias("shingle"))
        a = exploded.alias("a")
        b = exploded.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sizes = sh.select("id", F.size("shingles").alias("n_sh"))
        return (
            inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
            .withColumn(
                "jaccard",
                # try_divide: a repeated id can sum more intersections
                # than one of its rows' sizes allows, and a zero
                # denominator is NULL (never kept), as in the SQL oracle,
                # not an ANSI DIVIDE_BY_ZERO error
                F.try_divide(
                    F.col("n_inter"),
                    (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    t = float(threshold)
    sh = sh.withColumn("n", F.size("shingles"))
    ex = sh.filter(F.col("n") > 0).select("id", "n", F.explode("shingles").alias("s"))
    # global document frequency per shingle — the canonical-order key.
    # AQE broadcasts this (shingle, dfreq) table when the vocabulary is
    # small; at scale it stays an equi-join co-partitioned with its agg.
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("dfreq"))
    # under-approximated ceil(t*n): never rounds UP past the exact value
    alpha = F.ceil(F.lit(t) * F.col("n") - F.lit(1e-9))
    plen = (F.col("n") - alpha + F.lit(1)).cast("int")
    pref = (
        ex.join(dfreq, "s")
        .groupBy("id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("dfreq", "s"))).alias("os"))
        # posexplode: pos is 0-based within the slice, and the slice starts
        # at element 1, so pos+1 is the shingle's 1-based CANONICAL position
        # within the doc's full ordered set — carried for the positional
        # filter below.
        .select(
            "id", "n",
            F.posexplode(F.slice(F.col("os"), F.lit(1), plen)).alias("p0", "ps"),
        )
        .select(
            "id", "n", (F.col("p0") + F.lit(1)).alias("p"),
            F.col("ps.s").alias("s"),
        )
    )
    # index-prefix filter (PPJoin): the side playing the SMALLER-set
    # role (a, by the orientation below) only needs its first
    # n - ceil(2t/(1+t)·n) + 1 shingles: a qualifying pair with
    # |A| <= |B| has overlap alpha >= ceil(t/(1+t)·(n_a+n_b)) >=
    # ceil(2t/(1+t)·n_a), so its first common shingle lies within
    # that shorter prefix of A (and within B's full probe prefix,
    # since alpha >= ceil(t·n_b) follows from the size filter).
    # Applied as a PRE-JOIN filter, not a join conjunct: the pruned
    # rows never enter the self-join's sort/hash input (~29% of the
    # indexed side at t=0.4), while the candidate SET is unchanged —
    # the positional conjunct below mathematically subsumes this
    # bound (min(n_a-p_a, ...) path); exact-equal candidate counts at
    # sf0.1 are recorded in SCALE.md.  Same 1e-9 under-ceil guard:
    # slack only ever KEEPS extra rows.
    ilen = (
        F.col("n")
        - F.ceil(F.lit(2.0 * t) / F.lit(1.0 + t) * F.col("n") - F.lit(1e-9))
        + F.lit(1)
    )
    pa = pref.filter(F.col("p") <= ilen).alias("a")
    pb = pref.alias("b")
    # Join orientation: a = the (n, id)-lexicographically SMALLER side.
    # Every unordered pair appears in exactly one orientation (as with
    # the plain id ordering), but size-ordering the roles is what makes
    # the asymmetric index-prefix filter above applicable; output ids
    # are normalized back to id_a < id_b with least/greatest.
    smaller = (F.col("a.n") < F.col("b.n")) | (
        (F.col("a.n") == F.col("b.n")) & (F.col("a.id") < F.col("b.id"))
    )
    # positional filter (PPJoin, Xiao et al. WWW'08): J >= t  ⇔  overlap
    # O >= ceil(t/(1+t)·(n_a+n_b)).  For a qualifying pair, its FIRST
    # common shingle in canonical order lies in both prefixes (prefix
    # lemma) and every common shingle sits at-or-after it, so
    # O <= 1 + min(n_a - p_a, n_b - p_b) holds AT that match — keeping
    # pairs where ANY prefix collision passes the bound retains every
    # qualifying pair, while pruning pairs whose only collisions are too
    # deep in both suffixes BEFORE the candidate distinct.  Same 1e-9
    # under-ceil guard as alpha: slack only ever ADDS candidates.
    o_min = F.ceil(
        F.lit(t) / F.lit(1.0 + t) * (F.col("a.n") + F.col("b.n")) - F.lit(1e-9)
    )
    cond = (
        (F.col("a.s") == F.col("b.s"))
        & smaller
        # size filter: J >= t  ⇒  min(|A|,|B|) >= t·max(|A|,|B|)
        & (F.col("b.n") >= F.lit(t) * F.col("a.n") - F.lit(1e-9))
        & (F.col("a.n") >= F.lit(t) * F.col("b.n") - F.lit(1e-9))
        & (
            F.lit(1)
            + F.least(F.col("a.n") - F.col("a.p"), F.col("b.n") - F.col("b.p"))
            >= o_min
        )
    )
    cand = (
        pa.join(pb, cond)
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )
    av = sh.select(
        F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"), F.col("n").alias("n_a")
    )
    bv = sh.select(
        F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"), F.col("n").alias("n_b")
    )
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document, JVM-side, ZERO shuffle.

    Each token votes ±1 on every bit of xxhash64(token); the fingerprint
    takes the sign of each bit-sum.  Computed scan-side as ONE
    higher-order fold per document: ``aggregate`` over the token array
    accumulating a 64-long vote vector via ``zip_with`` (the token hash
    bound once with ``_let`` — Catalyst has no lambda CSE), then a second
    fold packs sign bits into the fingerprint.

    History: an explode + 64-column groupBy (one shuffle, map-side
    partials) was the round-1 shape; its 64 aggregate expressions made a
    plan whose fresh-instantiation planning+codegen cost ~1.4 s regardless
    of data size, and at sf0.1 it measured 1.8 s vs 0.26 s for this fold —
    plus at 100 TB this form shuffles nothing at all for fingerprinting.
    (``shiftright``/``shiftleft`` go through ``call_function`` because the
    Python wrappers only accept int shift amounts, and inside a lambda the
    bit index is a Column.)
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    seq = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, t: _let(
            F.xxhash64(t),
            lambda h: F.zip_with(
                acc,
                F.transform(
                    seq,
                    lambda i: F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)),
                ),
                lambda a, b: a + b,
            ),
        ),
    )
    def fp_from(v: Column, n: Column) -> Column:
        return F.aggregate(
            seq,
            F.lit(0).cast("long"),
            lambda acc, i: acc.bitwiseXOR(
                F.call_function(
                    "shiftleft",
                    F.when(
                        F.element_at(v, (i + F.lit(1)).cast("int")) * 2 > n,
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(0).cast("long")),
                    i,
                )
            ),
        )

    # CRITICAL: the vote fold is referenced once per bit in fp_from — it
    # must be _let-bound, NOT carried as a projection column, or
    # CollapseProject inlines the whole token fold into all 64 use sites
    # (measured: q75 at sf0.1 went 2.7 s -> 194 s when votes rode as a
    # column through a later select).
    fp = _let(votes, lambda v: _let(F.size(toks).cast("long"), lambda n: fp_from(v, n)))
    return df.select(F.col(id_col).alias("id"), fp.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation blocks on 4 x 16-bit chunks (pigeonhole: any pair
    within Hamming ≤3 of 64 bits agrees on ≥1 chunk), so the join is an
    equi-join on chunk value — no quadratic scan.

    The fingerprint table (id + 8-byte hash) is eagerly persisted before
    the fan-out: the chunk projection references ``simhash`` four times
    and the self-join reads it from both sides, which would otherwise
    re-run the scan-side vote fold ~10x (AQE also races join children —
    see minhash_near_duplicates). On a cluster this is a staged
    parquet/bucketed write instead.
    """
    fps = simhash(df, text_col, id_col).persist()
    fps.count()
    chunks = fps.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    # The Hamming filter is a pure function of the two fingerprints, both
    # available ON the join row — so it runs as a join-output predicate,
    # BEFORE the pair dedup.  Order matters at scale: the dedup is a
    # shuffle keyed on (id_a, id_b) whose input is the raw chunk-collision
    # volume (quadratic in bucket occupancy — measured 14.8M rows at 40k
    # docs of the sf0.8 fixture), while the filter's survivors are
    # output-scale (≤4 duplicates per qualifying pair, one per agreeing
    # chunk).  Filtering first shrinks that shuffle from candidate volume
    # to ~4x answer volume; the r8-era form (distinct -> filter) shipped
    # every collision.  Same result set: duplicates of a pair carry
    # identical fingerprints, hence identical hamming, so filter and
    # distinct commute.
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


_PAIR_BYTES = 16  # one (src, dst) pair of LONGs
_MAX_BROADCAST_BYTES = 8 << 30  # Spark refuses to broadcast more than 8 GiB


def _broadcast_limit(spark) -> int | None:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes as Spark parses
    it ("10MB", "-1", ...), at most the 8 GiB Spark can broadcast;
    ``None`` when -1 turns broadcast off."""
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return None if threshold < 0 else min(threshold, _MAX_BROADCAST_BYTES)


def _small_graph_labels(sym: DataFrame) -> DataFrame | None:
    """Exact ``(id, component)`` labels computed on the driver when the
    materialized symmetric edge list fits under Spark's broadcast
    threshold; ``None`` (caller runs the round loop) when it does not, or
    when the threshold is -1.

    Two jobs: a row count of ``sym``, then — only when it is at most
    ``cap`` = autoBroadcastJoinThreshold / 16 B per (src, dst) pair — one
    Arrow collect.  A graph above ``cap`` pays the count alone (one scan
    of the materialized list, no rows shipped) before the round loop.

    Driver memory: at most ``cap`` edge rows are collected, but peak
    driver memory is a multiple of the threshold, not the threshold.
    Measured at 2 M pairs (32 MB of pair data, local[2] on a 4-vCPU
    host), the Python side peaked at 2.6x: 2.1x in numpy arrays and
    Python buffers, 0.5x in the Arrow pool, with the Arrow columns freed
    once indexed.  The JVM holds the
    collected Arrow batches (about 1x) until Python has read them.  So
    budget about 4x the threshold: ~256 MiB under sanctum_spark.session's
    64 MiB (~4.2 M pairs).  Raising the threshold raises this bound with
    it, as it does for every broadcast.
    """
    import numpy as np
    import pyarrow.compute as pc

    limit = _broadcast_limit(sym.sparkSession)
    if limit is None:
        return None
    # One job, rows counted in the JVM: no row crosses to Python, and
    # unlike DataFrame.count() there is no aggregate shuffle (a second
    # job under AQE).  Measured at 2 M materialized pairs, local[2] on
    # a 4-vCPU host: 0.12 s, against 0.22 s for count() and 0.80 s for
    # collecting cap + 1 rows through Arrow.
    if sym._jdf.queryExecution().toRdd().count() > limit // _PAIR_BYTES:
        return None
    tbl = sym.toArrow()
    src, dst = tbl.column("src"), tbl.column("dst")
    del tbl
    # sym holds both directions of every edge, so src lists every
    # endpoint and src < dst keeps each non-loop edge once.  A NULL
    # endpoint equals nothing in the round path's joins: its partner
    # stays a singleton and all NULLs share one (NULL, NULL) row of the
    # distinct node list.  pc.less is NULL on a NULL endpoint, and
    # pc.filter drops those rows.
    has_null = src.null_count > 0
    nodes = np.unique(pc.drop_null(src).to_numpy())
    once = pc.less(src, dst)
    u = np.searchsorted(nodes, pc.filter(src, once).to_numpy())
    v = np.searchsorted(nodes, pc.filter(dst, once).to_numpy())
    del src, dst, once
    return _labels_frame(sym.sparkSession, nodes, u, v, has_null)


def _labels_frame(spark, nodes, u, v, has_null: bool = False) -> DataFrame:
    """The local ``(id long, component long)`` frame of the sorted,
    distinct node ids ``nodes`` under the undirected edges
    ``(nodes[u[i]], nodes[v[i]])``: every node labelled with the least id
    of its component (``_min_roots``), plus one ``(NULL, NULL)`` row when
    ``has_null``."""
    import pyarrow as pa

    root = _min_roots(u, v, len(nodes))
    ids, comps = pa.array(nodes, pa.int64()), pa.array(nodes[root], pa.int64())
    if has_null:
        ids = pa.concat_arrays([ids, pa.nulls(1, pa.int64())])
        comps = pa.concat_arrays([comps, pa.nulls(1, pa.int64())])
    return spark.createDataFrame(
        pa.table({"id": ids, "component": comps}), "id long, component long"
    )


def _min_roots(u, v, n: int):
    """Min-index root of every node ``0..n-1`` under the undirected edges
    ``(u[i], v[i])``: min-label hooking with pointer jumping.  Each round
    hooks every root to the least root across its edges, then jumps
    pointers until every node points at a root; ``parent[x] <= x`` always
    holds, so the surviving root of a component is its least index."""
    import numpy as np

    parent = np.arange(n)
    while True:
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            return parent
        pu, pv = pu[cross], pv[cross]
        low = np.minimum(pu, pv)
        np.minimum.at(parent, pu, low)
        np.minimum.at(parent, pv, low)
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    jump: bool = False,
    checkpoint_table: str | None = None,
    n_buckets: int = 8,
) -> DataFrame:
    """Connected components over a pair list: ``(id, component)`` where
    ``component`` is the minimum node id reachable from ``id``.

    The dedup-clustering step that follows pair generation (MinHash /
    SimHash / exact Jaccard): near-dup PAIRS are not clusters — A~B and
    B~C must collapse into one {A,B,C} group with a single keeper.

    Algorithm: iterative min-label propagation. Each round every node
    takes the min of its own label and its neighbors' labels; labels only
    decrease, so SUM(label) is a strictly decreasing convergence metric
    (one cheap aggregate per round, no expensive DataFrame diff). Rounds
    needed = graph diameter; dedup clusters are near-cliques (diameter
    ~1-3), so this converges in 2-4 rounds.

    Small graphs skip the rounds.  After the symmetric edge list is
    materialized, one job counts its rows.  If there are at most ``cap``
    = ``spark.sql.autoBroadcastJoinThreshold`` / 16 B per (src, dst)
    pair — the size Spark would ship whole to every executor anyway — a
    second job collects them, and exact min-id labels are computed on
    the driver (numpy min-label hooking with pointer jumping).  The
    driver then holds at most ``cap`` pairs, about 4x the threshold in
    bytes at peak (measured; see ``_small_graph_labels``).  Larger graphs
    pay the count alone and run the rounds.  The labels come back as a
    local frame: the same rows the rounds produce, NULL endpoints
    included (a NULL joins nothing; all NULLs share one ``(NULL, NULL)``
    row).  ``max_iter`` and ``jump`` have no effect there: the labels are
    exact, so nothing stops early and the non-convergence
    ``RuntimeError`` cannot occur.  A threshold of -1 disables broadcast
    and this path with it.

    One round shape: the neighbor-min join (edges ⋈ labels, min per
    destination), then labels ⟕ neighbor-min, then ``least`` of the two.
    The local path and the ``checkpoint_table`` path run the same round
    and differ only in the checkpoint medium.

    Scale design (100 TB): per round, one shuffle of (node, label) pairs
    on the node key — the text never moves. ``localCheckpoint`` after
    each round cuts the lineage so the plan stays O(1) deep instead of
    growing per iteration.  At cluster scale pass ``checkpoint_table``:
    edges and per-round labels are then written to BUCKETED tables keyed
    on the join key (``n_buckets`` buckets, labels rotating through
    three tables), so every round's label join is a zero-Exchange
    sort-merge join over co-bucketed scans — one clustering paid at
    write, reused every round (plan pinned in tests/test_plans.py).
    For pathological diameters pass ``jump=True``: each round ALSO
    replaces every label with its label's label (pointer jumping, the
    path-halving move of the large-star/small-star family — Kiveris et
    al., "Connected Components in MapReduce"), so the propagation
    horizon doubles per round and convergence is O(log diameter) at the
    cost of one extra (node, label) self-join per round. Near-clique
    dedup graphs converge in 2-4 plain rounds, so jumping is off by
    default.
    """
    # Node ids become LONGs below; a non-integral id column would cast to
    # null (strings) or truncate (doubles) and silently yield all-singleton
    # or merged components — refuse loudly at the shared operator so every
    # caller (linkage, dedup clustering, graph queries) is protected.
    from pyspark.sql.types import IntegralType

    for c in (src_col, dst_col):
        dt = edges.schema[c].dataType
        if not isinstance(dt, IntegralType):
            raise TypeError(
                f"connected_components: {c!r} must be an integral type "
                f"(node ids are LONGs); got {dt.simpleString()}. Hash or "
                "dense-rank non-integer ids to longs first (e.g. "
                "xxhash64(id))."
            )
    edges = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # Materialize the symmetric edge list ONCE: every round joins against
    # it, and without the checkpoint the (possibly expensive) upstream
    # pair-generation lineage would re-execute per iteration.  The mirror
    # is built by EXPLODING each edge into its two directions in a single
    # scan — NOT union(edges, edges.flipped): Spark performs no DAG-level
    # CSE across union branches, so a union would execute the upstream
    # pair-generation plan twice per materialization (ReuseExchange only
    # dedups identical exchanges; the post-shuffle verify stages still ran
    # twice — measured 47.7 s vs 25.3 s for one pairs evaluation on the
    # sf0.8 fixture, r8 fourth-octave decomposition).
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    if checkpoint_table:
        from sanctum_spark.operators.ckpt import (
            PingPongCheckpoint,
            bucketed_checkpoint,
        )

        sym = bucketed_checkpoint(
            sym, f"{checkpoint_table}_edges", "src", n_buckets
        )
    else:
        sym = sym.localCheckpoint(eager=True)
    # Small graph (fits the broadcast threshold): a count and one
    # collect, exact labels on the driver, no rounds.  Above the
    # threshold only the count is added — see _small_graph_labels.
    small = _small_graph_labels(sym)
    if small is not None:
        return small
    if checkpoint_table:
        _labels_ckpt = PingPongCheckpoint(
            f"{checkpoint_table}_labels", "id", n_buckets
        ).write
        # Mid-round (jump) cuts rotate through the SAME ping-pong — it
        # cycles THREE tables precisely so one carried state plus one
        # intra-round intermediate never collide — so the cluster-scale
        # path no longer falls back to an executor-memory
        # localCheckpoint (r13 ADVICE item 4).
        _jump_ckpt = _labels_ckpt
    else:
        def _labels_ckpt(df, eager=True):
            # Per-ROUND label checkpoints are LAZY (r13, guide §5): every
            # round follows its checkpoint with a convergence-sum action,
            # so that ONE action both materializes the cut and returns
            # the sum — halving per-round jobs (the sum is an
            # all-partition aggregate, so materialization is complete,
            # not partial, before the next round reuses the labels).
            # Labels are exact integer propagation, so laziness cannot
            # change values (paired A/B diff 0/0; q161-shaped graphs
            # median ratio 0.91, q99 ~1.0 warm — the win is driver
            # round-trips, which is also the scale argument).  The INIT
            # checkpoint stays eager: round 1 references it twice before
            # any action has materialized it, and a lazy cut would let
            # the two join stages race to recompute the distinct.
            return df.localCheckpoint(eager=eager)

        def _jump_ckpt(df):
            # EAGER even though the per-round cut is lazy: the jump
            # self-join references the SAME lazy plan twice, and a lazy
            # cut would let the two join stages race to recompute it.
            return df.localCheckpoint(eager=True)

    labels = _labels_ckpt(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    prev_sum = None  # first round always runs; saves one pre-loop job
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst")
            .agg(F.min("component").alias("nbr_min"))
        )
        propagated = labels.join(
            neighbor_min, labels.id == neighbor_min.dst, "left"
        ).select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        if jump:
            # pointer jumping: component[n] <- component[component[n]] —
            # labels are node ids, so the parent lookup is a self-join.
            # Checkpoint first (via _jump_ckpt: bucketed ping-pong table
            # under checkpoint_table, eager localCheckpoint otherwise):
            # both join inputs are the same lazy plan, which would
            # otherwise evaluate the propagation twice.
            propagated = _jump_ckpt(propagated)
            par = propagated.select(
                F.col("id").alias("pid"), F.col("component").alias("pcomp")
            )
            propagated = propagated.join(
                par, propagated.component == par.pid, "left"
            ).select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("pcomp"), F.col("component")),
                ).alias("component"),
            )
        # local path: lazy per-round cut — the sum below materializes it
        # in the same job (see _labels_ckpt).  Bucketed-table path keeps
        # its own write-then-read semantics.
        new_labels = (
            _labels_ckpt(propagated)
            if checkpoint_table
            else _labels_ckpt(propagated, eager=False)
        )
        new_sum = new_labels.agg(F.sum("component")).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Silent partial labels would mis-cluster; a diameter > max_iter
        # graph needs the large-star/small-star variant, not more hope.
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iter} "
            "rounds (graph diameter exceeds max_iter); raise max_iter or "
            "use a log-round algorithm for long-chain graphs"
        )
    return labels


def near_duplicate_clusters(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    hashed: bool = False,
    prefix_filter: bool | str = True,
    doc_count: int | None = None,
) -> DataFrame:
    """Near-duplicate clusters ``(id, component)``: the connected
    components of the exact n-gram Jaccard pairs, i.e.
    ``connected_components(ngram_jaccard_pairs(docs, ...))``, with the
    same rows and schema.

    A corpus that fits the broadcast threshold is clustered on the
    driver, without the pair plan's shuffles or the CC loop's jobs:

    - Size gate, no Spark job: ``spark.sql.autoBroadcastJoinThreshold``
      is at least 0 and Catalyst's ``sizeInBytes`` estimate for ``docs``
      (the one that makes Spark broadcast a table) is at most it.  -1
      turns the path off, as it does for ``connected_components``' own
      small-graph path.
    - One Arrow collect of ``(id, shingles)``; Spark computes the
      shingles with the same ``shingle_hashes``/``shingle_tokens`` the
      pair plan uses, so both paths see the same sets.
    - Candidate check on the driver: the exact candidate volume
      Σ c·(c−1)/2 over per-shingle row counts c must be at most
      autoBroadcastJoinThreshold / 16 B pairs, the cap of
      ``connected_components``' small-graph path.  Above it (hot
      shingles) the collected table is dropped and the Spark plan runs,
      so such a corpus pays the collect job on top of the Spark plan.

    The local pairs follow the relational definition of the naive plan
    and the SQL oracle (``corpus_q.jaccard_pairs_sql``): intersections
    counted per ``(id_a < id_b)`` over every row sharing a shingle, sizes
    joined per row, float64 ``n_inter / (n_a + n_b − n_inter)`` kept when
    ≥ ``threshold`` (a zero denominator is NULL, never kept).  A NULL id
    pairs with nothing; NULL text has no shingles.  Components are
    labelled by ``_min_roots`` and come back as a local frame, so the CC
    round loop and its checkpoints never run.

    Driver memory is bounded by the gate (measured at both caps in
    ``_local_clusters``): about 4x autoBroadcastJoinThreshold at the
    candidate cap, and about 45 B per collected shingle instance at the
    size cap.  ``prefix_filter`` and ``doc_count`` only steer the Spark plan, which
    spreads a scan of few splits over every core first (``spread_scan``);
    the driver path collects the frame as given, in one job.  A frame
    without a size estimate (Catalyst's default is larger than any
    threshold) takes the Spark plan.
    """
    local = _local_clusters(docs, text_col, id_col, shingle_k, threshold, hashed)
    if local is not None:
        return local
    # The pair plan shingles scan-side: fan a scan of few splits out to
    # every core first (spread_scan's partition probe; a no-op on a
    # frame already spread).
    pairs = ngram_jaccard_pairs(
        spread_scan(docs), text_col, id_col, shingle_k=shingle_k,
        threshold=threshold, hashed=hashed, prefix_filter=prefix_filter,
        doc_count=doc_count,
    )
    return connected_components(pairs, "id_a", "id_b")


def _local_clusters(
    docs: DataFrame, text_col: str, id_col: str, shingle_k: int,
    threshold: float, hashed: bool,
) -> DataFrame | None:
    """``near_duplicate_clusters``' driver path, or ``None`` when the
    size gate or the candidate check sends the corpus to the Spark plan
    (a non-integral id goes there too, where connected_components
    rejects it).

    Driver memory, measured on local[2] (4-vCPU host) with the session's
    64 MiB threshold:

    - At the candidate cap (4.18 M candidates from 9,000 documents in
      the test tables' 33-word vocabulary; 3.9 MB of shingles), the pair
      arrays peaked at 196 MB of numpy plus 12 MB of Arrow, 3.1x the
      threshold; process RSS grew 262 MB (3.9x).
    - At the size cap, measured at a 42 MB estimate (140 k documents of
      random words from a 200 k vocabulary, 7.6 M shingle instances
      collected as 61 MB), sorting the instances took 179 MB of Arrow
      and RSS grew 222 MB past the collected table: about 37 B per
      instance in Python, plus the JVM's copy of the collected batches
      (8 B per instance) until Python reads them — about 8x the
      estimate.  Text that compresses better carries more shingles per
      estimated byte, and this bound grows with that ratio: the test
      tables' text collects 3.7 B of shingle hashes per parquet byte,
      against 1.45 here.

    So budget about 4x the threshold for hot-shingle corpora and about
    45 B per shingle instance for large ones; lowering
    autoBroadcastJoinThreshold lowers both, as it does for every
    broadcast.
    """
    from pyspark.sql.types import IntegralType

    spark = docs.sparkSession
    limit = _broadcast_limit(spark)
    if limit is None or not isinstance(docs.schema[id_col].dataType, IntegralType):
        return None
    size = int(str(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if size > limit:
        return None
    make = shingle_hashes if hashed else shingle_tokens
    tbl = docs.select(
        F.col(id_col).cast("long").alias("id"),
        make(text_col, shingle_k).alias("shingles"),
    ).toArrow()
    edges = _jaccard_edges(tbl, threshold, limit // _PAIR_BYTES)
    if edges is None:
        return None
    return _labels_frame(spark, *edges)


def _jaccard_edges(tbl, threshold: float, cap: int):
    """``(nodes, u, v)`` for ``_labels_frame``: the pairs of ``tbl``
    (``id``, ``shingles``) with Jaccard ≥ ``threshold`` under the
    relational definition ``near_duplicate_clusters`` states, or
    ``None`` when the candidate volume exceeds ``cap`` pairs.  Each
    array is freed once used: the peak is the instance sort or the
    candidate arrays, measured in ``_local_clusters``."""
    import numpy as np
    import pyarrow.compute as pc

    tbl = tbl.filter(pc.is_valid(tbl["id"]))  # a NULL id pairs with nothing
    uniq, dense = np.unique(tbl["id"].to_numpy(), return_inverse=True)
    n = len(uniq)
    sh = tbl["shingles"].combine_chunks()
    del tbl
    sizes = pc.list_value_length(sh).to_numpy()
    ends = np.cumsum(sizes)  # a row's shingles end at this flat position
    # Every (row, shingle) instance grouped by shingle: sort, then keep
    # the runs of two or more equal shingles (a shingle of one row pairs
    # nothing).  Sorting, not hashing, and byte masks over all instances:
    # a hash table over mostly distinct shingles took several times the
    # sort's memory.
    flat = pc.list_flatten(sh)
    del sh
    order = pc.sort_indices(flat)
    flat = flat.take(order)
    order = order.to_numpy()
    same = pc.equal(flat[1:], flat[:-1]).to_numpy(zero_copy_only=False)
    del flat
    shared = np.zeros(len(order), bool)  # equal to a neighbour
    shared[1:] = same
    shared[:-1] |= same
    starts = np.ones(len(order), bool)  # first of its run
    starts[1:] = ~same
    head = np.flatnonzero(starts[shared])
    del same, starts
    count = np.diff(np.r_[head, shared.sum()])
    del head
    if int((count * (count - 1) // 2).sum()) > cap:
        return None
    # the dense id of the row holding each shared instance, by run
    d = dense[np.searchsorted(ends, order[shared], side="right")].astype(np.int32)
    del order, shared
    # Each position pairs with every later one of its group: the
    # c·(c−1)/2 candidates.
    later = np.repeat(np.cumsum(count), count) - np.arange(len(d)) - 1
    first = np.repeat(np.arange(len(d), dtype=np.int32), later)
    second = np.arange(len(first), dtype=np.int32)
    second -= np.repeat((np.cumsum(later) - later).astype(np.int32), later)
    second += first
    second += 1
    del later
    a = d[first]
    del first
    b = d[second]
    del second, d
    # n_inter per (id_a < id_b): one count per shared shingle per row
    # pair; a row never pairs with a row of its own id.
    keep = a != b
    key = np.minimum(a, b)[keep].astype(np.int64)
    key *= n
    key += np.maximum(a, b)[keep]
    del a, b, keep
    key.sort()
    head = np.flatnonzero(np.r_[True, key[1:] != key[:-1]]) if len(key) else key
    n_inter = np.diff(np.r_[head, len(key)])
    a, b = (x.astype(np.int32) for x in np.divmod(key[head], n))
    del key, head
    # sizes joined per row: every row of id_a against every row of id_b
    by_id = np.argsort(dense, kind="stable")
    per_id = np.bincount(dense, minlength=n)
    if per_id.max(initial=0) > 1:
        start = np.cumsum(per_id) - per_id
        m = per_id[a] * per_id[b]
        p = np.repeat(np.arange(len(m)), m)
        j = np.arange(len(p)) - np.repeat(np.cumsum(m) - m, m)
        nb = per_id[b][p]
        ra, rb = by_id[start[a][p] + j // nb], by_id[start[b][p] + j % nb]
        del m, j, nb
    else:  # one row per id, the usual corpus: pair i is row pair i
        p, ra, rb = np.arange(len(a)), by_id[a], by_id[b]
    n_inter = n_inter[p]
    den = sizes[ra] + sizes[rb] - n_inter
    del ra, rb
    with np.errstate(divide="ignore", invalid="ignore"):
        ok = (den != 0) & (n_inter / den.astype(np.float64) >= threshold)
    kept = np.unique(p[ok])
    a, b = a[kept], b[kept]
    nodes = np.unique(np.concatenate([a, b]))
    return uniq[nodes], np.searchsorted(nodes, a), np.searchsorted(nodes, b)


def segment_dedup_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 10,
    hashed: bool = False,
    max_segments: int = 200,
) -> DataFrame:
    """Sub-document exact-dedup profile (CCNet's line-level dedup shape,
    with fixed ``seg_tokens``-token segments standing in for lines on
    corpora without newline structure).

    Every segment instance beyond the global first occurrence (ordered by
    (id, seg_idx)) counts as duplicated; each document reports how much of
    it is boilerplate already seen elsewhere: ``(id_col, n_segments,
    n_dup_segments, dup_ratio)``.

    Scale shape: two shuffles — segment grain (rank), then doc grain
    (counters); first-occurrence detection is a rank, never a join-back.
    ``hashed=True`` keys the rank window on ``xxhash64`` of the segment
    (8-byte shuffle rows — the 100 TB path; at extreme corpus sizes use a
    128-bit digest); ``hashed=False`` keeps the string key so an SQL
    oracle can replay the result exactly (q144).
    """
    # NULL text has no segments: without this, size(NULL) poisons the
    # sequence bounds and fabricates phantom segments (r6 null-row sweep);
    # the SQL oracle's `i*w < len(t)` predicate drops these docs the same way
    docs = docs.filter(F.col(text_col).isNotNull())
    # _let-bind the token array: the segment lambda slices it once per
    # segment, and unbound it would re-split the document per segment
    # (the r7 q142 finding — no lambda CSE in Catalyst)
    def segments_of(t: Column) -> Column:
        # per-doc segment cap (matches the q144 oracle's range(0, 200) and
        # the q142 window-cap convention): a pathological mega-document
        # contributes a bounded number of segments, never unbounded
        n_seg = F.least(
            F.ceil(F.size(t) / F.lit(seg_tokens)).cast("int"),
            F.lit(max_segments),
        )
        return F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(
                F.slice(t, i * seg_tokens + 1, seg_tokens), " "
            ),
        )

    seg_expr = _let(F.split(F.trim(F.lower(text_col)), r"\s+"), segments_of)
    if hashed:
        seg_expr = F.transform(seg_expr, lambda s: F.xxhash64(s))
    seg = docs.select(id_col, F.posexplode(seg_expr).alias("seg_idx", "segment"))
    rn = F.row_number().over(
        Window.partitionBy("segment").orderBy(id_col, "seg_idx")
    )
    ranked = seg.select(id_col, rn.alias("rn"))
    dup = F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        dup.cast("long").alias("n_dup_segments"),
        F.round(
            dup / F.count(F.lit(1)).cast("double") + F.lit(1e-9), 6
        ).alias("dup_ratio"),
    )
