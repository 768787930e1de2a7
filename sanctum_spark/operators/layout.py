"""Data-layout operators: multi-dimensional clustering for scan pruning.

At 100 TB the cheapest query is the one that never reads the file:
parquet footers carry per-file/per-row-group min/max for every column,
and Spark's scan skips files whose range can't match the predicate.
One sort column prunes one dimension; a Z-order (Morton) curve
interleaves the bits of several ranked dimensions so that files stay
simultaneously tight in ALL of them — the standard layout trick for
multi-tenant scan-heavy tables (Delta OPTIMIZE ZORDER, Hudi clustering).

Everything here is expression-level (shiftleft/bitwiseAND inside the
scan projection) plus one range repartition — no UDF, no extra shuffle
beyond the write's own ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: list[Column], bits: int = 16) -> Column:
    """Morton code: interleave the low ``bits`` bits of each column.

    ``cols`` must already be non-negative integers scaled to [0, 2^bits)
    — rank/normalize first (see ``zorder_by``).  Bit i of column j lands
    at output bit ``i * len(cols) + j``, so all columns share the
    high-order bits of the curve and a range of z-values is a small
    hyper-rectangle in every dimension.
    """
    n = len(cols)
    if n * bits > 63:
        # bit i*n+j of the Morton code must stay below the long sign bit;
        # past 63 the interleave silently wraps negative and the curve
        # ordering breaks (negative keys sort before all positives).
        raise ValueError(
            f"zvalue needs len(cols)*bits <= 63, got {n}*{bits}={n * bits}; "
            f"reduce bits to {63 // n} or fewer"
        )
    if n == 2:
        # Two-dimension fast path (r14, guide §1.2 "per-task work" + the
        # driver-overhead lead): the classic magic-number bit spread puts
        # bit i of v at output bit 2i in O(log bits) shift/mask steps
        # instead of the O(bits) per-bit extract below — ~10 expression
        # nodes per column instead of ~128, so both the py4j construction
        # cost (measured 150 ms/query at q128) and the per-row codegen
        # work shrink.  Bit placement is identical to the generic loop
        # (pinned by tests/test_operators.py::
        # test_zvalue_matches_reference_interleave).
        def spread(c: Column) -> Column:
            v = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
            for shift, mask in (
                (16, 0x0000FFFF0000FFFF),
                (8, 0x00FF00FF00FF00FF),
                (4, 0x0F0F0F0F0F0F0F0F),
                (2, 0x3333333333333333),
                (1, 0x5555555555555555),
            ):
                if bits > shift:  # lower steps are no-ops for narrow inputs
                    v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(
                        F.lit(mask)
                    )
            return v

        return spread(cols[0]).bitwiseOR(F.shiftleft(spread(cols[1]), 1))
    out = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        v = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for i in range(bits):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            out = out + F.shiftleft(bit, i * n + j)
    return out


def _with_bucket_index(
    df: DataFrame, out_name: str, v: Column, bounds: list[float]
) -> DataFrame:
    """Add ``out_name`` = count of ``bounds`` <= v: an unrolled binary
    search, log2(len) ``F.get``/compare steps, whole-stage codegen-able —
    no UDF, no per-row linear scan.  Each step is its own projection
    (chained ``withColumn``) so the step state is an attribute REFERENCE,
    not an inlined subtree — folding the whole search into one Column
    duplicates the state ~4x per step and the expression tree goes
    exponential (observed: driver OOM at plan build for 10 steps).
    ``bounds`` must be sorted; out-of-range probes return null from
    ``F.get`` so the search simply doesn't advance.  Null values land in
    bucket 0.
    """
    # The search runs over DISTINCT bounds, then maps the result through a
    # precomputed cumulative-count array — value-identical to searching
    # the raw duplicated list (duplicate cuts mean many quantile probes
    # share a value; the count jump IS the population weight and must be
    # preserved for the z-scale), but:
    #   - low-cardinality columns get log2(#distinct) steps, not log2(1023);
    #   - a CONSTANT (foldable) input column collapses to ONE step — the
    #     optimizer used to inline the then-foldable 10-step chain
    #     exponentially (observed: a lit() column hung planning for
    #     minutes; one step is instant).
    if not bounds:  # all-null column: approxQuantile returns no cuts
        return df.withColumn(out_name, F.lit(0))
    import bisect

    distinct: list[float] = sorted(set(bounds))
    sorted_bounds = sorted(bounds)
    # counts[i] = how many ORIGINAL bounds are <= distinct[i]
    counts = [bisect.bisect_right(sorted_bounds, d) for d in distinct]
    arr = F.array(*[F.lit(float(b)) for b in distinct])
    cnt_arr = F.array(*[F.lit(int(c)) for c in counts])
    n = len(distinct)
    df = df.withColumn(out_name, F.lit(0))
    step = 1 << (n.bit_length() - 1)  # largest power of two <= n
    while step >= 1:
        cand = F.col(out_name) + F.lit(step)
        # advance iff cand <= n and distinct[cand-1] <= v (F.get is 0-based)
        ok = (cand <= F.lit(n)) & (F.get(arr, cand - 1) <= v)
        df = df.withColumn(out_name, F.when(ok, cand).otherwise(F.col(out_name)))
        step //= 2
    # map "count of distinct bounds <= v" to "count of original bounds <= v"
    k = F.col(out_name)
    return df.withColumn(
        out_name, F.when(k > 0, F.get(cnt_arr, k - 1)).otherwise(F.lit(0))
    )


def zorder_by(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    n_partitions: int | None = None,
    relative_error: float = 1e-4,
) -> DataFrame:
    """Cluster ``df`` on the Z-order curve of ``cols``.

    Rank normalization into [0, 2^bits): one ``approxQuantile`` pass
    computes the cut points per column (a bounded driver-side parameter
    fetch — Greenwald-Khanna sketch, no global sort, no extra shuffle),
    and each row's bucket is found by an unrolled binary search over the
    broadcast bounds literal, entirely inside the scan projection.  The
    only Exchange in the whole plan is the range repartition the layout
    itself requires.  Columns must be numeric (cast dates to epoch days
    at the call site).

    Writing the result gives parquet files whose min/max footprints are
    tight in every clustered column, so predicates on ANY of them prune
    files.
    """
    tmp = df
    # Cap the quantile grid at 2^10 buckets per column: the bounds
    # become a literal array in the scan projection, and 1024^k curve
    # cells already dwarf any realistic file count — finer ranks only
    # grow the expression tree and the GK sketch.  Bucket indexes are
    # shifted up to the full 2^bits domain.
    eff_bits = min(bits, 10)
    nb_eff = 1 << eff_bits
    shift = bits - eff_bits
    # interior cut points at ranks 1/nb_eff .. (nb_eff-1)/nb_eff;
    # count-of-bounds-<=-v is then a bucket index in [0, nb_eff-1].
    probs = [k / nb_eff for k in range(1, nb_eff)]
    all_bounds = df.stat.approxQuantile(list(cols), probs, relative_error)
    for i, (name, bounds) in enumerate(zip(cols, all_bounds)):
        tmp = _with_bucket_index(tmp, f"_z{i}", F.col(name), sorted(bounds))
        tmp = tmp.withColumn(
            f"_z{i}", F.shiftleft(F.col(f"_z{i}").cast("long"), shift)
        )
    z = zvalue([F.col(f"_z{i}") for i in range(len(cols))], bits)
    tmp = tmp.withColumn("_zval", z).drop(*[f"_z{i}" for i in range(len(cols))])
    if n_partitions:
        tmp = tmp.repartitionByRange(n_partitions, "_zval")
    else:
        tmp = tmp.repartitionByRange("_zval")
    return tmp.sortWithinPartitions("_zval").drop("_zval")
