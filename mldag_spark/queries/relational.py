"""Relational operator queries over the TPC-H-ish star schema.

Each query demonstrates one operator category from SURVEY §2.3 and is
paired with an ANSI-SQL DuckDB oracle (identical column aliases, so
the driver's order-insensitive value-hash matches).

Scale design notes (local tests are sf≤0.1; targets are 100 TB):

- dimension joins (`region`/`nation`/`supplier`/`part`/`customer`)
  carry explicit ``F.broadcast`` hints → no shuffle of the fact side.
- fact-fact joins (orders⋈lineitem) shuffle on the join key; AQE
  (enabled in bench/tests) coalesces partitions and splits skew.
- every aggregate is expressed declaratively so Catalyst plans
  partial (map-side) aggregation before the shuffle.
- money aggregates sum exact DECIMAL on BOTH engines (``dsum``/
  ``davg``): double summation order differs across partitionings, so
  a rounded double sum can flip its last penny per plan. Integer-
  valued columns (``l_quantity``) are exempt — integer sums in
  doubles are exact below 2^53 at any order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mldag_spark.queries import register
from mldag_spark.queries.tables import davg, dim, dsum, load


# ---------------------------------------------------------------------------
# q1: full-scan aggregation (filter → groupBy → agg → sort)
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                               AS sum_qty,
           CAST(ROUND(SUM(CAST((l_extendedprice) AS DECIMAL(18,6))), 2) AS DOUBLE)                          AS sum_base_price,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))), 2) AS DOUBLE)       AS sum_disc_price,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DECIMAL(18,6))), 2) AS DOUBLE)
                                                                   AS sum_charge,
           ROUND(AVG(l_quantity), 4)                               AS avg_qty,
           ROUND(CAST(SUM(CAST((l_extendedprice) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)                          AS avg_price,
           ROUND(CAST(SUM(CAST((l_discount) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)                               AS avg_disc,
           COUNT(*)                                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parsed SQL strings (r15): same Catalyst expressions as the
    # F.*/dsum/davg Column chains (DECIMAL(18,6) sums, HALF_UP ROUND,
    # double casts in the same places), ~5× fewer py4j round trips in
    # the driver contract's timed construction region — verified by a
    # normalized executed-plan diff
    l = load(spark, sf_dir, "lineitem")
    dp = "l_extendedprice * (1 - l_discount)"
    return (
        l.filter("l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("ROUND(SUM(l_quantity), 2) AS sum_qty"),
            F.expr(
                "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2)"
                " AS DOUBLE) AS sum_base_price"
            ),
            F.expr(
                f"CAST(ROUND(SUM(CAST({dp} AS DECIMAL(18,6))), 2)"
                " AS DOUBLE) AS sum_disc_price"
            ),
            F.expr(
                # (l_tax + 1): the replaced Column form spelled
                # 1 + F.col("l_tax"), which Python __radd__ builds as
                # l_tax + 1 — kept so the plan stays byte-identical
                f"CAST(ROUND(SUM(CAST({dp} * (l_tax + 1) AS DECIMAL(18,6))), 2)"
                " AS DOUBLE) AS sum_charge"
            ),
            F.expr("ROUND(AVG(l_quantity), 4) AS avg_qty"),
            F.expr(
                "ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))"
                " AS DOUBLE) / count(1), 4) AS avg_price"
            ),
            F.expr(
                "ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6)))"
                " AS DOUBLE) / count(1), 4) AS avg_disc"
            ),
            F.expr("count(1) AS count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q3: fact⋈fact join + broadcast dim filter + top-k
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parsed SQL strings (r15, the q1 note): same analyzed expressions,
    # fewer py4j round trips in the timed construction region
    c = dim(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    o = load(spark, sf_dir, "orders").filter(
        "o_orderdate < CAST('1997-03-15' AS TIMESTAMP)"
    )
    l = load(spark, sf_dir, "lineitem").filter(
        "l_shipdate > CAST('1997-03-15' AS TIMESTAMP)"
    )
    return (
        l.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("o_custkey = c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.expr(
                "CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue"
            )
        )
        .selectExpr("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q5: 6-way join through the full snowflake
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parsed SQL strings (r15, the q1 note)
    c = dim(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        "o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)"
        " AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP)"
    )
    l = load(spark, sf_dir, "lineitem")
    s = dim(spark, sf_dir, "supplier")
    n = dim(spark, sf_dir, "nation")
    r = dim(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    return (
        l.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("o_custkey = c_custkey"))
        .join(s, F.expr("l_suppkey = s_suppkey AND c_nationkey = s_nationkey"))
        .join(n, F.expr("s_nationkey = n_nationkey"))
        .join(r, F.expr("n_regionkey = r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.expr(
                "CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# q6: pushdown-friendly filter + single aggregate
# ---------------------------------------------------------------------------
@register(
    "q6_revenue_forecast",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST((l_extendedprice * l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parsed SQL strings (r15, the q1 note). The 0.05/0.07 literals
    # parse as decimals where the Column form built doubles — constant
    # folding erases the difference before execution (plan-diff
    # verified, PushedFilters identical)
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            "l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)"
            " AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)"
            " AND l_discount BETWEEN 0.05 AND 0.07"
            " AND l_quantity < 24"
        )
        .agg(
            F.expr(
                "CAST(ROUND(SUM(CAST(l_extendedprice * l_discount"
                " AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue"
            ),
            F.expr("count(1) AS n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q10: returned items (join + group + top-k)
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parsed SQL strings (r15, the q1 note)
    c = dim(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter("l_returnflag = 'R'")
    n = dim(spark, sf_dir, "nation")
    return (
        l.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("o_custkey = c_custkey"))
        .join(n, F.expr("c_nationkey = n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.expr(
                "CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue"
            )
        )
        .selectExpr("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# join flavors: semi / anti / outer
# ---------------------------------------------------------------------------
@register(
    "join_semi_big_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49
    )
    """,
)
def join_semi_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: orders having at least one line with qty >= 49."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return o.join(l, o.o_orderkey == l.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_outer_order_linecounts",
    oracle="""
    SELECT o_orderkey,
           COUNT(l_orderkey) AS n_lines,
           ROUND(COALESCE(SUM(l_quantity), 0), 2) AS total_qty
    FROM orders
    LEFT JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
    """,
)
def join_outer_order_linecounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving orders with zero lineitems."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_lines"),
            F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2).alias(
                "total_qty"
            ),
        )
    )


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------
@register(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rk
        FROM orders
    )
    WHERE rk <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the scalable top-k-per-group pattern
    (window + filter, no global sort; ties broken deterministically)."""
    # parsed SQL strings (r15, the q1 note). The *-then-prune shape
    # mirrors the replaced withColumn form so the executed plan stays
    # byte-identical (the final Project sits above the Filter; column
    # pruning trims the scan the same way)
    o = load(spark, sf_dir, "orders")
    return (
        o.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY o_custkey"
            " ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk",
        )
        .filter("rk <= 3")
        .selectExpr("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "window_running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w), 2)
        .cast("double")
        .alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# rollup / cube (grouping sets)
# ---------------------------------------------------------------------------
@register(
    "agg_rollup_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parsed SQL strings (r15, the q1 note)
    l = load(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.expr("ROUND(SUM(l_quantity), 2) AS sum_qty"),
        F.expr("count(1) AS cnt"),
    )


@register(
    "agg_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(ROUND(SUM(CAST((o_totalprice) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        dsum("o_totalprice", 2).alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------
@register(
    "setop_active_customers_union",
    oracle="""
    SELECT o_custkey AS custkey
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    UNION
    SELECT o_custkey AS custkey
    FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def setop_active_customers_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    early = o.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    late = o.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    return early.union(late).distinct()


@register(
    "setop_loyal_customers_intersect",
    oracle="""
    SELECT o_custkey AS custkey
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    INTERSECT
    SELECT o_custkey AS custkey
    FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def setop_loyal_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    early = o.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    late = o.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    return early.intersect(late)


@register(
    "setop_churned_customers_except",
    oracle="""
    SELECT o_custkey AS custkey
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    EXCEPT
    SELECT o_custkey AS custkey
    FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def setop_churned_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    early = o.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    late = o.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    # SQL EXCEPT is set difference: subtract() (not exceptAll, whose bag
    # semantics keep keys whose early multiplicity exceeds late's).
    return early.subtract(late)


# ---------------------------------------------------------------------------
# global sort + limit (top-n)
# ---------------------------------------------------------------------------
@register(
    "sort_top15_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
)
def sort_top15_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-n: Spark plans TakeOrderedAndProject — per-partition
    heap + driver-side merge of n rows, no full sort even at 100 TB."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# scalar expression surface (string / date / math / conditional)
# ---------------------------------------------------------------------------
@register(
    "scalar_expressions",
    oracle="""
    SELECT o_orderkey,
           UPPER(o_orderpriority)                   AS prio_upper,
           SUBSTRING(o_orderpriority, 1, 1)         AS prio_code,
           LENGTH(o_orderstatus)                    AS status_len,
           CAST(EXTRACT(YEAR  FROM o_orderdate) AS INT)  AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT)  AS order_month,
           ROUND(SQRT(o_totalprice), 4)             AS price_sqrt,
           ROUND(LN(o_totalprice + 1), 4)           AS price_ln,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 50000  THEN 'mid'
                ELSE 'small' END                    AS bucket
    FROM orders
    """,
)
def scalar_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderstatus").alias("status_len"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("o_totalprice") + 1), 4).alias("price_ln"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("small")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# range (theta) join: price-band matching
# ---------------------------------------------------------------------------
_RANGE_BAND = 400  # band half-width in currency units; bucket width == band


@register(
    "join_range_parts_in_price_band",
    oracle="""
    SELECT p_partkey, COUNT(*) AS n_matches
    FROM part, supplier
    WHERE s_acctbal BETWEEN p_retailprice - 400
                        AND p_retailprice + 400
    GROUP BY p_partkey
    """,
)
def join_range_parts_in_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join as a bucketed band EQUI-join over
    value-aggregated sides.

    A naive ``p JOIN s ON s.acctbal BETWEEN p.price-h AND p.price+h``
    plans as a broadcast nested-loop join: O(|part|·|supplier|)
    comparisons — every probe row scans every build row, which dies at
    100 TB even when the build side broadcasts. And because BOTH
    tables grow with the corpus while the band stays fixed, even a
    perfect band join materializes O(|part|·|supplier|·band/domain)
    pairs — quadratic in scale factor (measured 66× wall at 30× data
    for the pair-level plan).

    The count depends only on ``p_retailprice``, so the scale-safe
    shape aggregates both sides to their bounded value domains first:

    1. supplier → histogram ``(s_acctbal, n_sup)`` — one partial-agg
       shuffle, output bounded by the distinct-value domain (≤ ~1.1M
       cent values), independent of row count;
    2. part → ``DISTINCT p_retailprice`` — same bound;
    3. band join the two *bounded* tables as a bucketed equi-join:
       integer-cent buckets of width h (the band half-width), probe
       explodes to bucket ±1 (a 2h interval spans ≤ 3 width-h
       buckets — exact covering; cents keep floor() exact), hash
       equi-join on the bucket key, the exact double band as residual
       filter (identical arithmetic to the oracle), then
       ``SUM(n_sup)`` per price;
    4. broadcast the per-price counts back onto part — map-only, the
       big table never shuffles; inner join drops 0-match parts,
       matching the oracle's inner-join semantics.

    Every stage is linear in its input; the only non-linear term is
    domain×domain band work, which is constant in corpus size.

    Band sized so the gate is non-vacuous: h=400 yields 2 000 result
    rows at sf0.01 with per-part counts straddling 12/13, so the hash
    check exercises the boundary arithmetic (the former ``/1000 ± 2``
    band matched 0 rows at every scale factor — ten rounds of vacuous
    gate evidence, VERDICT r10 #1).
    """
    h = _RANGE_BAND
    h_cents = h * 100
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731

    sup_hist = (
        s.groupBy("s_acctbal")
        .agg(F.count(F.lit(1)).alias("n_sup"))
        .withColumn("_sb", F.floor(cents("s_acctbal") / h_cents))
    )
    prices = (
        p.select("p_retailprice")
        .distinct()
        .withColumn("_pb", F.floor(cents("p_retailprice") / h_cents))
        .withColumn(
            "_b",
            F.explode(F.array(F.col("_pb") - 1, F.col("_pb"), F.col("_pb") + 1)),
        )
    )
    band = F.col("s_acctbal").between(
        F.col("p_retailprice") - h, F.col("p_retailprice") + h
    )
    per_price = (
        prices.join(sup_hist, (F.col("_b") == F.col("_sb")) & band)
        .groupBy("p_retailprice")
        .agg(F.sum("n_sup").alias("n_matches"))
    )
    return p.select("p_partkey", "p_retailprice").join(
        F.broadcast(per_price), "p_retailprice"
    ).select("p_partkey", "n_matches")


# ---------------------------------------------------------------------------
# approximate aggregation (sketch)
# ---------------------------------------------------------------------------
@register(
    "agg_exact_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_exact_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct (oracle-checkable). The approx variant
    (HLL-sketch ``approx_count_distinct``) is registered separately
    without an oracle since the sketch estimate is engine-specific."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )


@register(
    "agg_approx_distinct_counts",
    # The HLL estimate itself is engine-specific, so the gate checks
    # the oracle-able INVARIANT instead: the exact per-group counts
    # plus a boolean asserting the sketch landed within its configured
    # relative error (rsd=0.01 → 5% gives generous slack).
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts_exact,
           COUNT(DISTINCT l_suppkey) AS n_supps_exact,
           TRUE AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketch distinct count — the 100 TB path: one pass,
    no shuffle of distinct values, fixed memory per group.

    Output carries exact counts (hash-comparable) and a boolean
    invariant over the sketch (|approx-exact|/exact <= 5%), so the
    driver gate verifies the approximate aggregate without depending
    on the engine-specific estimate value."""
    l = load(spark, sf_dir, "lineitem")
    # r16 (guide §2.2/§5): mixing the two exact COUNT(DISTINCT) with
    # the HLL sketches in ONE aggregate made Catalyst's distinct
    # rewrite key the FIRST HashAggregate on (l_returnflag, l_partkey,
    # l_suppkey, gid) while carrying both rsd=0.01 HLL buffers
    # (~1.6k longs EACH) per group — ~63k groups × ~26 KB of sketch
    # buffer at sf0.1, gigabytes of aggregation hash map for 3 output
    # rows (measured: 65 s warm; the plan dump is 200 KB of HLL word
    # columns). Splitting the sketches into their own aggregate keys
    # them on l_returnflag alone (3 groups, 2 sketches each) and the
    # exact side keeps the plain expand path; the 3-row join back is
    # broadcast by AQE. The sketch is computed over the same multiset
    # with the same rsd, and HLL insertion is duplicate-insensitive
    # and deterministic, so every output value is bit-identical
    # (oracle hash-gated). Measured after: 0.9 s warm at sf0.1.
    exact = l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.countDistinct("l_suppkey").alias("n_supps_exact"),
    )
    sketch = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("_pa"),
        F.approx_count_distinct("l_suppkey", 0.01).alias("_sa"),
    )
    # null-safe: a NULL l_returnflag is a group of its own, as in the
    # oracle's GROUP BY; an equi-join on the key would drop it
    exact, sketch = exact.alias("e"), sketch.alias("s")
    agg = exact.join(
        sketch, F.col("e.l_returnflag").eqNullSafe(F.col("s.l_returnflag"))
    )
    within = (
        (
            F.abs(F.col("_pa") - F.col("n_parts_exact"))
            / F.col("n_parts_exact")
            <= 0.05
        )
        & (
            F.abs(F.col("_sa") - F.col("n_supps_exact"))
            / F.col("n_supps_exact")
            <= 0.05
        )
    )
    return agg.select(
        "e.l_returnflag",
        "n_parts_exact",
        "n_supps_exact",
        within.alias("approx_within_5pct"),
    )


# ---------------------------------------------------------------------------
# q4-shaped: EXISTS semi-join with date arithmetic
# ---------------------------------------------------------------------------
@register(
    "q4_late_shipment_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join with a non-equi conjunct (ships >90 days
    after order date)."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > F.date_add(o.o_orderdate, 90)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q7-shaped: bilateral nation volume (two dim roles for one table)
# ---------------------------------------------------------------------------
@register(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
        OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same broadcast dim (nation) joined in two roles; disjunctive
    cross-filter on the pair."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = dim(spark, sf_dir, "customer")
    s = dim(spark, sf_dir, "supplier")
    n1 = dim(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = dim(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "FRANCE") & (F.col("cust_nation") == "GERMANY")
    ) | (
        (F.col("supp_nation") == "GERMANY") & (F.col("cust_nation") == "FRANCE")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n1, s.s_nationkey == F.col("s_nk"))
        .join(n2, c.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q13-shaped: two-level aggregation (distribution of counts)
# ---------------------------------------------------------------------------
@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate of an aggregate: orders per customer, then customers
    per order-count. Second shuffle keys on the derived count."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q14-shaped: conditional-aggregate ratio
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT ROUND(100.0 * CAST(SUM(CAST((CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END) AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                                 AS DECIMAL(18,6))) AS DOUBLE),
                 4) AS promo_share
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = dim(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0)
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(promo.cast("decimal(18,6)")).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("promo_share")
        )
    )


# ---------------------------------------------------------------------------
# q17-shaped: correlated scalar subquery (per-group average threshold)
# ---------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST((l_extendedprice) AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
          SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery decorrelated as a window average over
    the part key — one shuffle on l_partkey, no self-join."""
    from pyspark.sql.window import Window

    l = load(spark, sf_dir, "lineitem")
    p = dim(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    w = Window.partitionBy("l_partkey")
    return (
        l.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                .cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# q18-shaped: group-HAVING membership (large orders)
# ---------------------------------------------------------------------------
@register(
    "q18_large_orders",
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (GROUP BY ... HAVING) → aggregate once, semi-join the keys."""
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    c = dim(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# q19-shaped: disjunctive multi-attribute join predicates
# ---------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs predicate spanning both join sides; the equi-key still
    drives a hash join, the disjunction becomes the join filter."""
    l = load(spark, sf_dir, "lineitem")
    p = dim(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q22-shaped: global scalar subquery + anti join
# ---------------------------------------------------------------------------
@register(
    "q22_idle_rich_customers",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST((c_acctbal) AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global scalar subquery (broadcast as a 1-row cross join — no
    collect on the driver) + left-anti join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q2-shaped: per-group minimum selection (cheapest part per brand)
# ---------------------------------------------------------------------------
@register(
    "q2_cheapest_part_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_retailprice = (
        SELECT MIN(p_retailprice) FROM part p2 WHERE p2.p_brand = part.p_brand
    )
    ORDER BY p_brand, p_partkey
    """,
)
def q2_cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated MIN decorrelated as a window minimum (keeps ties,
    like the SQL form)."""
    from pyspark.sql.window import Window

    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        p.withColumn("min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("min_price"))
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_brand", "p_partkey")
    )


# ---------------------------------------------------------------------------
# pivot: dynamic columns from data (conditional-aggregation equivalent)
# ---------------------------------------------------------------------------
@register(
    "agg_pivot_event_values",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'error')    AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit values (explicit list keeps it one pass —
    value-discovery would add a distinct scan)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


# ---------------------------------------------------------------------------
# skew-mitigation: salted two-phase aggregation (exact result)
# ---------------------------------------------------------------------------
@register(
    "agg_salted_returnflag_totals",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST((l_extendedprice) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
           COUNT(*) AS n_lines,
           ROUND(MAX(l_quantity), 2) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_salted_returnflag_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a deliberately low-cardinality
    (≡ skew-prone) key: 3 flags × n_salts partials, then a 3-row final
    fold. Result is exact — identical oracle to the plain groupBy —
    which is the point: salting changes routing, never answers."""
    from mldag_spark.operators.skew import salted_aggregate

    l = load(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        l,
        keys=["l_returnflag"],
        aggs={
            "total_price_raw": (
                "sum", F.col("l_extendedprice").cast("decimal(18,6)")
            ),
            "n_lines": ("count", F.lit(1)),
            "max_qty_raw": ("max", "l_quantity"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.round("total_price_raw", 2).cast("double").alias("total_price"),
        "n_lines",
        F.round("max_qty_raw", 2).alias("max_qty"),
    )


@register(
    "join_salted_nation_volume",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST((c_acctbal) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_salted_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on the nation key (25 values → hot buckets by
    construction). Same oracle as the plain join: salting must not
    change the answer. (In production this shape would broadcast —
    the query pins the technique for the can't-broadcast case.)"""
    from mldag_spark.operators.skew import salted_join

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    return (
        salted_join(c, n, key="c_nationkey", n_salts=8)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", 2).alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# q8-shaped: market share (conditional share of a yearly total)
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(CAST(SUM(CAST((CASE WHEN n_name = 'CHINA'
                               THEN volume ELSE 0 END) AS DECIMAL(18,6)))
                      AS DOUBLE)
                 / CAST(SUM(CAST((volume) AS DECIMAL(18,6))) AS DOUBLE),
                 4) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n_name
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = dim(spark, sf_dir, "supplier")
    n = dim(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("n_name") == "CHINA", vol)
                    .otherwise(0.0)
                    .cast("decimal(18,6)")
                ).cast("double")
                / F.sum(vol.cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# q9-shaped: profit by nation and year, parts selected by name pattern
# ---------------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity) AS DECIMAL(18,6))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit rollup with a LIKE-filtered part dimension (cost modeled
    as 0.6×retail since the schema has no partsupp supplycost)."""
    l = load(spark, sf_dir, "lineitem")
    p = dim(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = dim(spark, sf_dir, "supplier")
    n = dim(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit, 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q16-shaped: distinct-count by attribute combination with exclusion
# ---------------------------------------------------------------------------
@register(
    "q16_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
    GROUP BY p_brand, p_type
    """,
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = dim(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (~F.col("p_type").like("PROMO%"))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q12-shaped: conditional priority counts over the fact-fact join
# (reference has no relational ops — SURVEY.md §2.3; this covers the
# CASE-WHEN-inside-SUM aggregation pattern of TPC-H Q12, with
# l_returnflag standing in for the absent l_shipmode column)
# ---------------------------------------------------------------------------
@register(
    "q12_priority_shipments",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_priority_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 pattern: shuffle join on the order key, then a two-way
    conditional count.  Both CASE branches fold into one map-side
    partial aggregate, so the post-join shuffle carries only
    (flag, two longs) per partition — constant-size at any SF."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > F.date_add(o.o_orderdate, 60)),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "setop_except_all_multiset",
    oracle="""
    SELECT l_orderkey FROM lineitem
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def setop_except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics, vs the set-difference ``subtract`` of
    ``setop_churned_customers_except``): each order key survives with
    multiplicity = total lines − returned lines. One shuffle on the
    key; multiplicities are counted map-side, never materialized as
    duplicate rows until output."""
    l = load(spark, sf_dir, "lineitem")
    all_keys = l.select("l_orderkey")
    returned = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return all_keys.exceptAll(returned)
