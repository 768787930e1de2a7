"""Relational family: queries over the TPC-H-style star tables (region,
nation, customer, supplier, part, orders, lineitem) that read no events,
documents or embeddings, as (Spark, DuckDB-oracle) pairs (SURVEY.md §2.3).

Conventions making the hash-compare robust across engines:
- every computed column aliased identically on both sides;
- float aggregates rounded (2 dp money, 4 dp averages) on both sides so
  summation-order differences never flip the hash; revenue sums go
  through money_round (util.py) before any rank or compare;
- DuckDB integer SUM returns HUGEINT → always ``CAST(SUM(..) AS BIGINT)``
  in oracles; Spark integer sums are already LongType;
- DuckDB ``year()`` returns BIGINT → Spark side casts to long;
- every LIMIT/top-k query carries a full deterministic ORDER BY with a
  unique tiebreaker column.

Scale notes (100 TB): filters are expressed on the scan column directly so
they push into the parquet reader; small dims (region/nation/customer/part/
supplier) are broadcast explicitly; large-large joins shuffle on their keys
and rely on AQE for skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sanctum_spark.io import load_table, register_views
from sanctum_spark.operators.joins import salted_join
from sanctum_spark.operators.layout import zvalue
from sanctum_spark.operators.linkage import resolve_entities
from sanctum_spark.queries import register
from sanctum_spark.queries.util import (
    money_round,
    sql_codepoint_levenshtein,
    sql_money_round,
    stable_round,
)


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) + 5e-7, 2)         AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) + 5e-7, 2) AS sum_charge,
           ROUND(AVG(l_quantity) + 1e-9, 4)                                 AS avg_qty,
           ROUND(AVG(l_extendedprice) + 1e-9, 4)                            AS avg_price,
           ROUND(AVG(l_discount) + 1e-9, 4)                                 AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: scan + pushed filter + hash agg.",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        money_round(F.sum(disc_price)).alias("sum_disc_price"),
        money_round(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
        stable_round(F.avg("l_quantity"), 4).alias("avg_qty"),
        stable_round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        stable_round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q02_distinct_counts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey)   AS n_parts,
           COUNT(DISTINCT l_suppkey)   AS n_supps,
           COUNT(*)                    AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="count-distinct per group (expand-based distinct agg in Spark).",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q03_shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-style: broadcast dim join + agg + deterministic top-k.",
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            money_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_local_supplier_volume",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-style 6-way join; dims broadcast, fact-fact shuffle join.",
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            money_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Join varieties
# --------------------------------------------------------------------------

@register(
    "q10_semi_join",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    )
    """,
    doc="left-semi join (EXISTS).",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q11_anti_join",
    """
    SELECT c_custkey, c_name
    FROM customer
    -- NOT EXISTS, not NOT IN: a single NULL o_custkey makes NOT IN
    -- return ZERO rows under three-valued logic, while Spark's
    -- left_anti (and NOT EXISTS) simply never matches the NULL key
    -- (r6 relational-nulls sweep)
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey)
    """,
    doc="left-anti join (NOT EXISTS); customers with no orders.",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q12_outer_join_fill",
    """
    SELECT c_custkey,
           COALESCE(cnt, 0)                 AS n_orders,
           ROUND(COALESCE(total, 0.0), 2)   AS total_spent
    FROM customer
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt, SUM(o_totalprice) AS total
        FROM orders GROUP BY o_custkey
    ) agg ON c_custkey = o_custkey
    """,
    doc="left-outer join against a pre-aggregated fact (agg pushed below join).",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("o_totalprice").alias("total"))
    )
    return cust.join(agg, cust.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders"),
        F.round(F.coalesce(F.col("total"), F.lit(0.0)), 2).alias("total_spent"),
    )


@register(
    "q13_range_join",
    """
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate > o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
    doc="range/interval join: equi-key plus time-band predicate.",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate)
        & (li.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        orders.join(li, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Window functions / top-k
# --------------------------------------------------------------------------

@register(
    "q20_topk_per_group",
    """
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey
               ) AS rn
        FROM customer
    ) t
    WHERE rn <= 3
    """,
    doc="per-group top-k via ranking window; one shuffle on the group key.",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        load_table(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )


@register(
    "q21_window_running",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_spend,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS order_seq
    FROM orders
    """,
    doc="running aggregate + row_number over the same window spec.",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
            2,
        ).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "q22_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    """,
    doc="lag/lead navigation + date arithmetic.",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).cast("long").alias("days_since_prev"),
    )


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube
# --------------------------------------------------------------------------

@register(
    "q30_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc=(
        "rollup hierarchy totals (Expand operator in Spark). Known "
        "engine divergence on EMPTY input only (q31/q32 likewise): the "
        "SQL standard's () grouping set yields one grand-total row "
        "(COUNT 0) on an empty table — DuckDB emits it, Spark's "
        "rollup/cube/groupingSets emit zero rows. Documented, pinned in "
        "tests/test_empty_input.py; irrelevant on any non-empty input."
    ),
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "q31_cube",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="cube over two dims.",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

@register(
    "q40_set_ops",
    """
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="intersect (distinct set semantics).",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@register(
    "q41_except_union",
    """
    SELECT x.o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ) x
    UNION ALL
    SELECT -1 AS o_custkey
    """,
    doc="except + union-all with a literal relation.",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    lit = spark.createDataFrame([(-1,)], "o_custkey long")
    # subtract == SQL EXCEPT (distinct set semantics); exceptAll would be
    # the multiset variant and over-retain duplicated keys.
    return a.subtract(b).unionByName(lit)


# --------------------------------------------------------------------------
# Scalar function surface
# --------------------------------------------------------------------------

@register(
    "q50_scalar_functions",
    f"""
    SELECT p_partkey,
           UPPER(p_brand)                                   AS brand_upper,
           LENGTH(p_name)                                   AS name_len,
           -- COALESCE inside: DuckDB CONCAT skips NULL args while
           -- Spark's concat propagates NULL and concat_ws drops the
           -- separator — explicit '' pins ':' on both engines
           CONCAT(COALESCE(p_brand, ''), ':', COALESCE(p_type, '')) AS brand_type,
           -- money_round (5e-7 eps, both sides): a 2-decimal price x 1.1
           -- lands exactly on .xx5 boundaries, where bare ROUND diverges
           -- cross-engine (Spark rounds the shortest decimal repr via
           -- BigDecimal, DuckDB the binary expansion — r8 fuzz seed 7)
           {sql_money_round('p_retailprice * 1.1')}         AS taxed_price,
           CAST(FLOOR(p_size / 10.0) AS BIGINT)             AS size_bucket,
           CASE WHEN p_size >= 25 THEN 'large'
                WHEN p_size >= 10 THEN 'medium'
                ELSE 'small' END                            AS size_class
    FROM part
    """,
    doc="string/math/conditional scalar functions (whole-stage codegen path).",
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").alias("name_len"),
        F.concat(
            F.coalesce("p_brand", F.lit("")),
            F.lit(":"),
            F.coalesce("p_type", F.lit("")),
        ).alias("brand_type"),
        money_round(F.col("p_retailprice") * 1.1).alias("taxed_price"),
        F.floor(F.col("p_size") / 10.0).cast("long").alias("size_bucket"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


@register(
    "q51_date_functions",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT)    AS order_year,
           CAST(month(o_orderdate) AS BIGINT)   AS order_month,
           COUNT(*)                             AS n_orders,
           ROUND(SUM(o_totalprice), 2)          AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
    doc="date part extraction + agg (partition-pruning-shaped query).",
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "q52_sort_limit",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc="global top-k: Spark TakeOrderedAndProject (no full sort).",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@register(
    "q06_revenue_filter",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount) + 5e-7, 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-style: pure scan+filter+single-row agg (pushdown showcase).",
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(money_round(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))


@register(
    "q14_promo_revenue",
    """
    SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    doc="TPC-H Q14-style conditional aggregation ratio over a join.",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            stable_round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
                / F.sum(disc),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "q17_small_quantity",
    """
    SELECT ROUND(SUM(l_extendedprice) / 7.0 + 1e-9, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
        SELECT l_partkey AS a_partkey, 0.5 * AVG(l_quantity) AS half_avg
        FROM lineitem GROUP BY l_partkey
    ) a ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#13' AND l_quantity < half_avg
    """,
    doc=(
        "TPC-H Q17-style correlated scalar subquery, decorrelated into a "
        "pre-aggregated join (the plan Spark/Catalyst produces anyway)."
    ),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    avgs = (
        li.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("half_avg"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avgs, li.l_partkey == avgs.a_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(stable_round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q18_big_orders",
    """
    SELECT o_orderkey, o_custkey, ROUND(SUM(l_quantity), 2) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_custkey
    HAVING SUM(l_quantity) > 150
    """,
    doc="TPC-H Q18-style HAVING filter over a grouped join.",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 150)
        .select(
            "o_orderkey", "o_custkey", F.round(F.col("_raw_qty"), 2).alias("total_qty")
        )
    )


@register(
    "q19_disjunctive",
    """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
    doc="TPC-H Q19-style OR-of-ANDs join predicate (CNF pushdown exercise).",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        arm("Brand#1", 15, 1, 20) | arm("Brand#2", 25, 10, 30) | arm("Brand#3", 35, 20, 40)
    ).agg(
        money_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        )
    )


# --------------------------------------------------------------------------
# Window function families
# --------------------------------------------------------------------------

@register(
    "q23_rank_family",
    """
    SELECT c_custkey, c_nationkey,
           NTILE(4)       OVER (ORDER BY c_acctbal DESC, c_custkey) AS balance_quartile,
           CAST(RANK()    OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS BIGINT) AS seg_rank,
           CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS BIGINT) AS seg_dense_rank,
           ROUND(PERCENT_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) + 1e-9, 6) AS bal_pct_rank,
           ROUND(CUME_DIST()    OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) + 1e-9, 6) AS bal_cume_dist
    FROM customer
    """,
    doc="ranking family: ntile/rank/dense_rank/percent_rank/cume_dist.",
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    wq = W.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    ws = W.partitionBy("c_nationkey").orderBy("c_mktsegment")
    wb = W.partitionBy("c_nationkey").orderBy("c_acctbal")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(wq).alias("balance_quartile"),
        F.rank().over(ws).cast("long").alias("seg_rank"),
        F.dense_rank().over(ws).cast("long").alias("seg_dense_rank"),
        stable_round(F.percent_rank().over(wb), 6).alias("bal_pct_rank"),
        stable_round(F.cume_dist().over(wb), 6).alias("bal_cume_dist"),
    )


@register(
    "q24_first_last",
    """
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)  OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND UNBOUNDED FOLLOWING) AS last_order,
           COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="first_value/last_value with explicit frames + windowed count.",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    wall = W.partitionBy("o_custkey")
    return orders.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
        F.count(F.lit(1)).over(wall).alias("n_orders"),
    ).distinct()


@register(
    "q25_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5) + 1e-9, 4)  AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9) + 1e-9, 4)  AS p90_price,
           ROUND(quantile_cont(l_quantity, 0.25) + 1e-9, 4)      AS q1_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="exact interpolated percentiles per group (sort-based agg).",
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        stable_round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        stable_round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        stable_round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q1_qty"),
    )


# --------------------------------------------------------------------------
# Grouping sets (SQL surface)
# --------------------------------------------------------------------------

@register(
    "q32_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="explicit grouping sets via the SQL surface (same Expand operator).",
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# --------------------------------------------------------------------------
# Scalar families: strings, arrays, null-handling
# --------------------------------------------------------------------------

@register(
    "q53_string_functions",
    """
    SELECT p_partkey,
           SUBSTRING(p_name, 1, 4)                    AS name_prefix,
           REPLACE(p_name, ' ', '_')                  AS snake_name,
           LPAD(CAST(p_partkey AS VARCHAR), 8, '0')   AS padded_key,
           REVERSE(p_brand)                           AS brand_rev,
           CAST(STRPOS(p_name, 'a') AS BIGINT)        AS first_a,
           TRIM(CONCAT('  ', COALESCE(p_type, ''), '  ')) AS trimmed_type,
           LOWER(p_type) || '/' || UPPER(p_brand)     AS mixed_case
    FROM part
    """,
    doc="string scalar family: substring/replace/pad/reverse/locate/trim.",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.regexp_replace("p_name", " ", "_").alias("snake_name"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr(F.col("p_name"), "a").cast("long").alias("first_a"),
        # COALESCE inside: Spark's concat propagates a NULL p_type to a
        # NULL result while DuckDB CONCAT skips it (r6 nulls sweep)
        F.trim(
            F.concat(F.lit("  "), F.coalesce("p_type", F.lit("")), F.lit("  "))
        ).alias("trimmed_type"),
        F.concat(F.lower("p_type"), F.lit("/"), F.upper("p_brand")).alias("mixed_case"),
    )


@register(
    "q55_null_functions",
    """
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           GREATEST(c_acctbal, 0.0)                            AS floored_bal,
           LEAST(c_acctbal, 5000.0)                            AS capped_bal,
           CASE WHEN c_acctbal IS NULL THEN -1.0 ELSE c_acctbal END AS bal_filled
    FROM customer
    """,
    doc="null-handling family: nullif/coalesce/greatest/least/is-null case.",
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.greatest("c_acctbal", F.lit(0.0)).alias("floored_bal"),
        F.least("c_acctbal", F.lit(5000.0)).alias("capped_bal"),
        F.when(F.col("c_acctbal").isNull(), -1.0).otherwise(F.col("c_acctbal")).alias(
            "bal_filled"
        ),
    )


@register(
    "q57_self_join",
    """
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    doc="self-join: nation pairs within a region (inequality dedup).",
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_name").alias("nation_a"), F.col("b.n_name").alias("nation_b"))


# --------------------------------------------------------------------------
# Approximate aggregates (rows-only: HLL sketches differ across engines)
# --------------------------------------------------------------------------

@register(
    "q26_approx_distinct",
    None,
    doc=(
        "approx_count_distinct (HyperLogLog++); no oracle — sketch "
        "estimates are engine-specific, the driver records rows-only. "
        "Accuracy asserted vs exact counts in tests/test_operators.py."
    ),
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


# --------------------------------------------------------------------------
# TPC-H query shapes, lateral explode, unpivot, join hints, subqueries
# --------------------------------------------------------------------------

@register(
    "q04_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-style correlated EXISTS → left-semi join.",
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    # r14 (guide 2.3, aggregate before you shuffle): EXISTS(l_shipdate >
    # o_orderdate) is exactly MAX(l_shipdate) > o_orderdate, and the max
    # partially aggregates map-side. At bench SF the old semi join
    # broadcast ALL of lineitem as the build side (plan: BHJ LeftSemi
    # BuildRight); now the small date-filtered orders slice is the
    # broadcast and lineitem reduces to one narrow row per order before
    # any join. Past broadcast size both forms shuffle on l_orderkey,
    # where the pre-agg ships ~1/4 the rows at ~1/5 the width. The join
    # stays 1:1 per order, so the count is the semi-join count.
    # Paired A/B median 0.79 over 12 pairs; output identical; oracle PASS.
    li_max = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("mx"))
    j = orders.join(
        li_max,
        (orders.o_orderkey == li_max.l_orderkey)
        & (li_max.mx > orders.o_orderdate),
    )
    return j.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q07_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume) + 5e-7, 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7-style two-nation trade volume by year.",
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    nations = ["NATION_1", "NATION_2"]
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .filter(
            F.col("n1.n_name").isin(nations)
            & F.col("n2.n_name").isin(nations)
            & (F.col("n1.n_name") != F.col("n2.n_name"))
        )
    )
    return (
        j.select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(money_round(F.sum("volume")).alias("revenue"))
    )


@register(
    "q08_market_share",
    """
    SELECT o_year,
           ROUND(SUM(CASE WHEN p_brand = 'Brand#1' THEN volume ELSE 0 END)
                 / SUM(volume) + 1e-9, 6) AS brand_share
    FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               p_brand
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part   ON l_partkey = p_partkey
    ) v
    GROUP BY o_year
    """,
    doc="TPC-H Q8-style market-share ratio per year.",
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "p_brand",
        )
    )
    return j.groupBy("o_year").agg(
        stable_round(
            F.sum(F.when(F.col("p_brand") == "Brand#1", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("brand_share")
    )


@register(
    "q09_product_profit",
    """
    SELECT n_name AS nation, o_year, ROUND(SUM(amount) + 5e-7, 2) AS profit
    FROM (
        SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS amount
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN part     ON p_partkey = l_partkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY n_name, o_year
    """,
    doc="TPC-H Q9-style product profit by nation/year (LIKE filter).",
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    orders = load_table(spark, sf_dir, "orders")
    nat = load_table(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
    )
    return j.groupBy("nation", "o_year").agg(money_round(F.sum("amount")).alias("profit"))


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS total_revenue
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15-style: CTE + scalar MAX subquery for the top supplier.",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        money_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        supp.join(rev, supp.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_supplier_counts",
    """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 10, 15, 20, 25)
    GROUP BY p_brand, p_size
    """,
    doc="TPC-H Q16-style distinct-supplier counts with NOT/IN predicates.",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin([1, 5, 10, 15, 20, 25])
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q27_cust_order_distribution",
    """
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
        SELECT c_custkey, COALESCE(cnt, 0) AS n_orders
        FROM customer
        LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) o
          ON c_custkey = o_custkey
    ) t
    GROUP BY n_orders
    """,
    doc="TPC-H Q13-style distribution-of-counts (double aggregation).",
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cnts = load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        cust.join(cnts, cust.c_custkey == cnts.o_custkey, "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q28_above_avg_no_orders",
    """
    SELECT c_nationkey, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    doc="TPC-H Q22-style: scalar AVG subquery + anti join.",
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "q34_unpivot",
    """
    SELECT l_returnflag, measure, ROUND(total, 2) AS total
    FROM (
        SELECT l_returnflag, 'qty' AS measure, SUM(l_quantity) AS total
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT l_returnflag, 'price', SUM(l_extendedprice) FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT l_returnflag, 'tax', SUM(l_tax) FROM lineitem GROUP BY l_returnflag
    ) u
    """,
    doc="unpivot/melt of per-group aggregates to (measure, value) rows.",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("qty"),
        F.sum("l_extendedprice").alias("price"),
        F.sum("l_tax").alias("tax"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["qty", "price", "tax"], "measure", "raw"
    ).select("l_returnflag", "measure", F.round("raw", 2).alias("total"))


@register(
    "q42_union_by_name",
    """
    SELECT c_custkey AS entity_id, c_acctbal AS balance, 'customer' AS kind FROM customer
    UNION ALL BY NAME
    SELECT 'supplier' AS kind, s_acctbal AS balance, s_suppkey AS entity_id FROM supplier
    """,
    doc="unionByName with reordered columns across heterogeneous sources.",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_acctbal").alias("balance"),
        F.lit("customer").alias("kind"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_acctbal").alias("balance"),
        F.col("s_suppkey").alias("entity_id"),
    )
    return cust.unionByName(supp)


@register(
    "q58_sort_merge_hint",
    """
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
    doc=(
        "join-strategy hint surface: force a shuffled sort-merge join "
        "(what Catalyst picks anyway once both sides exceed the broadcast "
        "threshold at real scale)."
    ),
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").hint("merge")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


@register(
    "q59_scalar_subquery",
    """
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_retailprice > 1.5 * (SELECT AVG(p_retailprice) FROM part)
    """,
    doc="scalar subquery predicate via the SQL surface.",
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_retailprice > 1.5 * (SELECT AVG(p_retailprice) FROM part)
        """
    )


@register(
    "q66_exists_sql",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_suppkey = s_suppkey AND l_quantity > 49
    )
    """,
    doc="correlated EXISTS through the SQL surface (Catalyst decorrelates).",
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_suppkey = s_suppkey AND l_quantity > 49
        )
        """
    )


# --------------------------------------------------------------------------
# Regexp extraction and date arithmetic
# --------------------------------------------------------------------------

@register(
    "q68_regexp_extract",
    """
    SELECT regexp_extract(p_brand, 'Brand#([0-9]+)', 1)        AS brand_num,
           COUNT(*)                                            AS n_parts,
           CAST(SUM(CASE WHEN regexp_matches(p_name, '^(small|large)')
                         THEN 1 ELSE 0 END) AS BIGINT)         AS n_sized
    FROM part
    GROUP BY 1
    """,
    doc="regexp extraction + boolean regexp predicate aggregation.",
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy(
            F.regexp_extract("p_brand", r"Brand#([0-9]+)", 1).alias("brand_num")
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(
                F.when(F.col("p_name").rlike(r"^(small|large)"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_sized"),
        )
    )


@register(
    "q69_date_arithmetic",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP)        AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)  AS month_end,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
                          o_orderdate) AS BIGINT)                  AS days_since_95,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT)              AS dow,
           CAST(quarter(o_orderdate) AS BIGINT)                    AS qtr
    FROM orders
    """,
    doc="date arithmetic family: interval add, last_day, datediff, parts.",
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    )


# --------------------------------------------------------------------------
# TPC-H shapes without partsupp, shipmode or commit dates (TESTDATA.md)
# --------------------------------------------------------------------------

# q29 ranks suppliers by MIN(l_extendedprice/l_quantity): each division
# is one IEEE-754 op and MIN never re-associates, so both engines hold
# bit-identical doubles and the (cost, suppkey) rank is stable.  The
# final display round still needs the stable_round nudge: a money
# division can land exactly on a 4-dp half boundary, where Spark
# (HALF_UP on the shortest decimal repr) and DuckDB (binary rounding)
# disagree.
@register(
    "q29_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
        SELECT l_partkey, l_suppkey, unit_cost,
               ROW_NUMBER() OVER (PARTITION BY l_partkey
                                  ORDER BY unit_cost, l_suppkey) AS rn
        FROM cost
    )
    SELECT p.p_partkey, p.p_name, s.s_name AS best_supplier,
           ROUND(r.unit_cost + 1e-9, 4) AS unit_cost
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rn = 1 AND p.p_size <= 10
    """,
    doc=(
        "TPC-H Q2-style min-cost supplier per part (no partsupp table: "
        "unit cost is MIN(l_extendedprice/l_quantity) observed in "
        "lineitem). Correlated-min decorrelated into a ranking window; "
        "part/supplier dims broadcast onto the winner rows."
    ),
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    supp = load_table(spark, sf_dir, "supplier")
    # r14: the p_size filter keeps ~20% of parts, and only their lineitem
    # rows can reach the output — semi-join the fact side down BEFORE the
    # aggregate (guide 3.2) so the (partkey, suppkey) shuffle carries a
    # fifth of the bytes at any scale.
    li_f = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    cost = li_f.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    # r14: the rank-1 window is an argmin — the lexicographic struct MIN
    # equals ROW_NUMBER() ORDER BY unit_cost, l_suppkey at rn=1, but
    # aggregates partially map-side instead of sort+window after the
    # second exchange (guide 2.3). Paired A/B 0.686; output identical.
    best = (
        cost.groupBy("l_partkey")
        .agg(F.min(F.struct("unit_cost", "l_suppkey")).alias("b"))
        .select(
            "l_partkey",
            F.col("b.unit_cost").alias("unit_cost"),
            F.col("b.l_suppkey").alias("l_suppkey"),
        )
    )
    return (
        best.join(F.broadcast(part), part.p_partkey == best.l_partkey)
        .join(F.broadcast(supp), supp.s_suppkey == best.l_suppkey)
        .select(
            "p_partkey",
            "p_name",
            F.col("s_name").alias("best_supplier"),
            stable_round(F.col("unit_cost"), 4).alias("unit_cost"),
        )
    )


@register(
    "q35_returned_revenue",
    f"""
    WITH rev AS (
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               {sql_money_round("SUM(l.l_extendedprice * (1 - l.l_discount))")} AS revenue
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, nation, revenue
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS rn
          FROM rev)
    WHERE rn <= 20
    """,
    doc=(
        "TPC-H Q10-style returned-item revenue: top-20 customers by "
        "revenue lost to returns (l_returnflag='R'). Rank key is the "
        "money-rounded revenue with custkey tiebreak so the top-20 "
        "cutoff is engine-stable; dims broadcast, one fact shuffle."
    ),
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            money_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )
    # Global top-20 via orderBy+limit -> TakeOrderedAndProject (per-partition
    # heaps merged at the driver), NOT a single-partition row_number window:
    # at 100 TB the window form funnels every customer through one task.
    # (revenue desc, c_custkey) is a total order, so the cutoff is stable.
    return rev.orderBy(F.col("revenue").desc(), "c_custkey").limit(20)


@register(
    "q36_important_parts",
    f"""
    WITH pv AS (
        SELECT l_partkey,
               {sql_money_round("SUM(l_extendedprice * (1 - l_discount))")} AS part_value
        FROM lineitem GROUP BY 1
    ),
    total AS (SELECT {sql_money_round("1.5 * AVG(part_value)")} AS tv FROM pv)
    SELECT p.p_partkey, p.p_name, pv.part_value
    FROM pv JOIN part p ON p.p_partkey = pv.l_partkey, total
    WHERE pv.part_value > total.tv
    """,
    doc=(
        "TPC-H Q11-style important parts: parts whose lineitem value "
        "exceeds 1.5x the mean part value (scalar-subquery HAVING; "
        "mean-relative so the cut is scale-invariant). Both sides of "
        "the compare are money-rounded sums, so the cut is "
        "engine-stable. The global scalar is a broadcast single-row "
        "cross join, not a driver collect."
    ),
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pv = li.groupBy("l_partkey").agg(
        money_round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("part_value")
    )
    total = pv.agg(money_round(F.lit(1.5) * F.avg("part_value")).alias("tv"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("tv"))
        .join(F.broadcast(part), part.p_partkey == pv.l_partkey)
        .select("p_partkey", "p_name", "part_value")
    )


@register(
    "q37_ship_delay_buckets",
    """
    SELECT CASE WHEN delay_days < 30 THEN 'lt_30'
                WHEN delay_days < 60 THEN 'lt_60'
                ELSE 'ge_60' END AS delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_priority
    FROM (
        SELECT o.o_orderpriority,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS delay_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    GROUP BY 1
    """,
    doc=(
        "TPC-H Q12-style priority-by-delay buckets (no shipmode column: "
        "buckets are order->ship delay bands). Conditional counting over "
        "one fact join; dates compared as DATE on both engines because "
        "DuckDB's timestamp date_diff counts boundary crossings."
    ),
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "delay_days"
        ),
    )
    bucket = (
        F.when(F.col("delay_days") < 30, "lt_30")
        .when(F.col("delay_days") < 60, "lt_60")
        .otherwise("ge_60")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("delay_bucket")).agg(
        F.sum(F.when(hi, 1).otherwise(0)).alias("high_priority"),
        F.sum(F.when(~hi, 1).otherwise(0)).alias("low_priority"),
    )


@register(
    "q38_excess_volume_suppliers",
    """
    WITH sp AS (
        SELECT l_suppkey, l_partkey, SUM(l_quantity) AS supp_qty
        FROM lineitem GROUP BY 1, 2
    ),
    pt AS (
        SELECT l_partkey, SUM(supp_qty) AS part_qty,
               COUNT(*) AS n_supps
        FROM sp GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
    FROM sp JOIN pt ON pt.l_partkey = sp.l_partkey
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    WHERE sp.supp_qty > 2.0 * pt.part_qty / pt.n_supps
    GROUP BY 1, 2
    """,
    doc=(
        "TPC-H Q20-style excess-volume suppliers: suppliers shipping "
        ">2x their equal share of a part's total quantity (share-"
        "relative so the cut survives scale-up), counted per supplier. The "
        "correlated quantity subquery decorrelates into a two-level "
        "aggregation reusing the first shuffle's partitioning "
        "(partkey ⊂ partkey,suppkey). Quantities are integral doubles: "
        "sums are exact, the threshold compare is deterministic."
    ),
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    # r13 optimization (guide §2.4): the part-level totals are unbounded
    # window aggregates over sp partitioned by l_partkey — same values
    # as the former groupBy(l_partkey) + self-join (SUM/COUNT over
    # exactly the same rows; quantity sums are integral doubles, exact),
    # but the join and its second evaluation of sp disappear: one
    # exchange by partkey feeds the window directly.
    wp = W.partitionBy("l_partkey")
    return (
        sp.withColumn("part_qty", F.sum("supp_qty").over(wp))
        .withColumn("n_supps", F.count(F.lit(1)).over(wp))
        .filter(
            F.col("supp_qty") > F.lit(2.0) * F.col("part_qty") / F.col("n_supps")
        )
        .join(F.broadcast(supp), supp.s_suppkey == sp.l_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )


@register(
    "q39_last_shipper",
    """
    WITH marked AS (
        SELECT l_suppkey, l_orderkey,
               l_shipdate = MAX(l_shipdate) OVER (PARTITION BY l_orderkey)
                   AS is_last,
               COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey)
                   AS n_supps
        FROM lineitem
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders_held_up
    FROM marked m JOIN supplier s ON s.s_suppkey = m.l_suppkey
    WHERE m.is_last AND m.n_supps > 1
    GROUP BY 1, 2
    """,
    doc=(
        "TPC-H Q21-style last shipper: suppliers whose lineitem shipped "
        "last within a multi-supplier order (the EXISTS/NOT EXISTS pair "
        "collapsed into one window over the order: max shipdate + "
        "distinct-supplier count — one shuffle on l_orderkey instead of "
        "two self-joins). Timestamp equality is exact on both engines."
    ),
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    w = W.partitionBy("l_orderkey")
    marked = li.select(
        "l_suppkey",
        "l_orderkey",
        (F.col("l_shipdate") == F.max("l_shipdate").over(w)).alias("is_last"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supps"),
    )
    return (
        marked.filter(F.col("is_last") & (F.col("n_supps") > 1))
        .join(F.broadcast(supp), supp.s_suppkey == marked.l_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count_distinct("l_orderkey").alias("n_orders_held_up"))
    )


# --------------------------------------------------------------------------
# Outer, salted and lateral joins, robust statistics, layout keys, profiling,
# integrity checks and record linkage
# --------------------------------------------------------------------------

@register(
    "q44_full_outer",
    """
    SELECT COALESCE(a.k, b.k)         AS nationkey,
           COALESCE(a.n_cust, 0)      AS n_cust,
           COALESCE(b.n_supp, 0)      AS n_supp
    FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) a
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) b
      ON a.k = b.k
    """,
    doc="full-outer join of two aggregates with coalesced keys.",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("ks"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    j = cust.join(supp, cust.k == supp.ks, "full_outer")
    return j.select(
        F.coalesce(F.col("k"), F.col("ks")).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@register(
    "q87_approx_percentile",
    None,
    doc=(
        "approx_percentile (t-digest-style sketch) per group; no oracle — "
        "sketch results are engine-specific. Accuracy vs the exact "
        "percentile asserted in tests/test_operators.py."
    ),
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_median"),
    )


@register(
    "q45_right_join",
    """
    SELECT n_nationkey, n_name, COALESCE(cnt, 0) AS n_suppliers
    FROM (SELECT s_nationkey, COUNT(*) AS cnt FROM supplier GROUP BY 1) s
    RIGHT JOIN nation ON s_nationkey = n_nationkey
    """,
    doc="right-outer join (dimension preserved side on the right).",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nat = load_table(spark, sf_dir, "nation")
    return supp.join(nat, supp.s_nationkey == nat.n_nationkey, "right").select(
        "n_nationkey", "n_name", F.coalesce(F.col("cnt"), F.lit(0)).alias("n_suppliers")
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


@register(
    "q113_lateral_topk",
    r"""
    SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 3
    ) t
    """,
    doc=(
        "correlated LATERAL subquery (top-3 orders per customer) through "
        "the SQL surface — the per-row-subquery shape users write "
        "naturally. Catalyst decorrelates it into WindowGroupLimit "
        "(partial per-partition top-k BEFORE the shuffle, then final) + "
        "one join — no per-customer execution, no full sort; the partial "
        "group-limit bounds the exchange to <= 3 rows per customer per "
        "task regardless of order-history depth. Identical SQL runs on "
        "both engines."
    ),
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 3
        ) t
        """
    )


@register(
    "q116_winsorize",
    r"""
    WITH p AS (SELECT l_returnflag,
                      quantile_cont(l_extendedprice, 0.05) AS lo,
                      quantile_cont(l_extendedprice, 0.95) AS hi
               FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           ROUND(AVG(l_extendedprice) + 1e-9, 4) AS avg_raw,
           ROUND(AVG(LEAST(GREATEST(l_extendedprice, lo), hi)) + 1e-9, 4)
               AS avg_wins,
           CAST(SUM(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM lineitem l JOIN p USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
    doc=(
        "percentile winsorization (outlier clipping): per-group exact "
        "P05/P95 computed once (group-grain, tiny), BROADCAST back onto "
        "the fact, values clamped JVM-side — the two-pass clip every "
        "quality pipeline runs before averaging noisy metrics. The "
        "percentile table is group-count-sized at any data volume, so "
        "the second pass is scan + broadcast join + agg; n_clipped "
        "is deterministic because no data point can lie strictly "
        "between the two adjacent order stats an interpolated quantile "
        "falls between."
    ),
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    x = F.col("l_extendedprice")
    clipped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(p), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            stable_round(F.avg(x), 4).alias("avg_raw"),
            stable_round(F.avg(clipped), 4).alias("avg_wins"),
            F.sum(
                F.when((x < F.col("lo")) | (x > F.col("hi")), 1).otherwise(0)
            ).alias("n_clipped"),
        )
    )


def _interleave_sql(xcol: str, ycol: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(({xcol} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({ycol} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@register(
    "q128_zorder_key",
    f"""
    WITH b AS (
        SELECT o_orderkey,
               o_custkey & 65535 AS xb,
               datediff('day', DATE '1992-01-01', o_orderdate) & 65535 AS yb
        FROM orders
        -- a z-order key is undefined when either dimension is NULL; the
        -- filter also removes the engines' opposite NULL sort placement
        -- (Spark ASC nulls-first vs DuckDB nulls-last) from the LIMIT
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    )
    SELECT o_orderkey, {_interleave_sql("xb", "yb")} AS zval
    FROM b
    ORDER BY zval, o_orderkey
    LIMIT 50
    """,
    doc=(
        "Z-order (Morton) clustering key over (customer, order date): "
        "bit-interleave inside the scan projection — the layout key "
        "under operators/layout.py::zorder_by, which range-partitions "
        "and sorts on it so parquet min/max footers stay tight in BOTH "
        "dimensions and predicates on either column prune files. Exact "
        "SQL oracle (the same 32-term interleave); zero shuffle here "
        "beyond TakeOrdered."
    ),
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    xb = F.col("o_custkey").cast("long").bitwiseAND(F.lit(65535))
    yb = (
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long")
        .bitwiseAND(F.lit(65535))
    )
    return (
        orders.select(
            "o_orderkey", zvalue([xb, yb], bits=16).alias("zval")
        )
        .orderBy("zval", "o_orderkey")
        .limit(50)
    )


@register(
    "q132_column_stats",
    """
    SELECT 'o_custkey' AS col_name,
           COUNT(*) AS n, COUNT(*) - COUNT(o_custkey) AS n_null,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           MIN(o_custkey) * 1.0 AS min_num, MAX(o_custkey) * 1.0 AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           NULL, NULL, MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    """,
    doc=(
        "ANALYZE-style column profiling (the table-stats pass planners "
        "and data-validation suites run): per column count / nulls / "
        "exact distinct / min / max, numeric and string stats in typed "
        "columns. One scan per profile here via Spark's aggregate expand "
        "(count-distincts share the pass); at 100 TB swap exact ndv for "
        "approx_count_distinct partials so the whole profile stays one "
        "map-side-combined aggregate. Exact SQL oracle."
    ),
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def prof(col: str, numeric: bool) -> DataFrame:
        mn = F.min(col).cast("double") if numeric else F.lit(None).cast("double")
        mx = F.max(col).cast("double") if numeric else F.lit(None).cast("double")
        mns = F.lit(None).cast("string") if numeric else F.min(col).cast("string")
        mxs = F.lit(None).cast("string") if numeric else F.max(col).cast("string")
        return orders.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            mn.alias("min_num"),
            mx.alias("max_num"),
            mns.alias("min_str"),
            mxs.alias("max_str"),
        )

    return (
        prof("o_custkey", True)
        .unionByName(prof("o_totalprice", True))
        .unionByName(prof("o_orderstatus", False))
    )


@register(
    "q134_key_skew",
    """
    WITH pc AS (
        SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    )
    SELECT n AS orders_per_customer, COUNT(*) AS n_customers
    FROM pc
    GROUP BY n
    """,
    doc=(
        "join-key skew diagnosis: the count-of-counts distribution of "
        "orders per customer — the table a planner (or an engineer "
        "deciding between AQE skew-split and operators/joins.py::"
        "salted_join) reads before a big join. Two group-grain "
        "aggregates, both map-side combinable; the second runs at "
        "key-count grain (bytes at any corpus size). Exact SQL oracle."
    ),
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pc = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return (
        pc.groupBy(F.col("n").alias("orders_per_customer"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q136_referential_integrity",
    """
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', COUNT(*)
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', COUNT(*)
    FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    UNION ALL
    SELECT 'supplier->nation', COUNT(*)
    FROM supplier s WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
    """,
    doc=(
        "referential-integrity validation across the star schema's FK "
        "edges in one result: orphan counts per constraint via left-anti "
        "joins (each ships only the key column; dimension sides "
        "broadcast). The constraint-check pass of a data-quality suite — "
        "at 100 TB each check is one semi-shaped pass over the fact "
        "table's key column, map-side combinable. Exact SQL oracle."
    ),
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")

    def orphans(name, child, ckey, parent, pkey):
        cnt = (
            child.select(F.col(ckey))
            .join(parent.select(F.col(pkey).alias(ckey)), ckey, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        return cnt.select(F.lit(name).alias("fk"), "n_orphans")

    return (
        orphans("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(orphans("orders->customer", orders, "o_custkey", cust, "c_custkey"))
        .unionByName(orphans("customer->nation", cust, "c_nationkey", nation, "n_nationkey"))
        .unionByName(orphans("supplier->nation", supp, "s_nationkey", nation, "n_nationkey"))
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
    "q161_entity_resolution",
    f"""
    WITH RECURSIVE recs AS (
        SELECT p_partkey AS id, p_name AS name, p_brand AS brand,
               p_type AS kind
        FROM part
    ),
    prs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM recs a JOIN recs b
          ON a.brand = b.brand AND a.kind = b.kind AND a.id < b.id
         AND abs(length(a.name) - length(b.name)) <= 1
         AND {sql_codepoint_levenshtein("a.name", "b.name")} <= 1
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
    comp AS (SELECT id, MIN(label) AS comp_id FROM reach GROUP BY id),
    labeled AS (
        SELECT r.id, r.name, COALESCE(c.comp_id, r.id) AS entity_id
        FROM recs r LEFT JOIN comp c USING (id)
    )
    SELECT entity_id,
           COUNT(*) AS n_records,
           COUNT(DISTINCT name) AS n_names,
           MIN(name) AS canonical_name
    FROM labeled GROUP BY entity_id
    """,
    doc=(
        "entity resolution (record linkage) over the part catalog: "
        "records are the same entity when they share brand and type and "
        "their names are within Levenshtein distance 1 (typo/variant "
        "tolerance; the sf0.01 catalog really contains cold/old name "
        "variants).  Pipeline: BLOCK on the exact (brand, type) keys — "
        "candidate pairs only ever form inside a block, so the fuzzy "
        "predicate never sees the cross product — then a cheap "
        "length-delta pre-filter, then JVM levenshtein on survivors "
        "(code-point distance; the oracle matches it on ANY name via "
        "util.sql_codepoint_levenshtein's injective ASCII recode — r7, "
        "previously exact for ASCII only), "
        "then transitive closure via the shared connected-components "
        "operator (A~B, B~C must land in one entity), then one grouped "
        "aggregate per entity.  Scale shape: the block self-join "
        "shuffles (brand, type, id, name) once on the block key; "
        "within-block work is quadratic in BLOCK size, never corpus "
        "size — at 100 TB the block key must keep per-block cardinality "
        "bounded (add a secondary key, e.g. a name-prefix bucket, when "
        "a block outgrows ~10^4 records; the salted-join helper covers "
        "the skewed-block case).  Components: one (node, label) shuffle "
        "per round, diameter-bounded."
    ),
)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = _q161_records(spark, sf_dir)
    labeled = resolve_entities(
        recs, "id", block_cols=["brand", "kind"], fuzzy_col="name", max_dist=1
    )
    return labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("name").alias("n_names"),
        F.min("name").alias("canonical_name"),
    )


def _q161_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("kind"),
    )
