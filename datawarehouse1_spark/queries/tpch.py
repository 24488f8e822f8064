"""Canonical TPC-H queries expressible over the driver's TPC-H-ish
testdata (TESTDATA.md) — the industry-standard shapes of the warehouse's
analytics class (SURVEY.md §2C). Q1 (pricing summary), Q3 (shipping
priority), Q6 (forecast revenue change), adapted to the available
columns; money arithmetic in exact decimal so both engines agree
bit-for-bit.

The other queries complete the 22-query canon (Q2, 4, 5, 7-22).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import (
    money_units_long,
    units_to_money_double,
)
from datawarehouse1_spark.registry import declared

_DEC = "decimal(18,2)"


def _d(col: str) -> F.Column:
    return F.col(col).cast(_DEC)


@declared(
    "q_tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: one scan, one shuffle, all aggregates partial-merged
    map-side. Averages computed as exact-decimal SUM / COUNT (a single
    deterministic double division), never a native double AVG."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = _d("l_extendedprice") * (F.lit(1).cast(_DEC) - _d("l_discount"))
    charge = disc_price * (F.lit(1).cast(_DEC) + _d("l_tax"))
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_d("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_d("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(_d("l_quantity")).cast("double") / n).alias("avg_qty"),
        (F.sum(_d("l_extendedprice")).cast("double") / n).alias("avg_price"),
        (F.sum(_d("l_discount")).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@declared(
    "q_tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: segment filter pushes into the customer scan, date
    filters into both fact scans, then fact⋈fact on orderkey + top-10 via
    TakeOrderedAndProject (no global sort)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    # r16 (guide §2.3): the revenue group is ONE ORDER (bounded line
    # count), so the exact-decimal product sums as LONG e4-units with
    # one double cast at the end — bit-identical, ~2.5x cheaper adds
    rev_e4 = money_units_long("l_extendedprice") * (
        F.lit(100) - money_units_long("l_discount")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(units_to_money_double(F.sum(rev_e4), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@declared(
    "q_tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: every predicate reaches the parquet scan (PushedFilters),
    then a single global aggregate — the purest pushdown/pruning probe."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_d("l_extendedprice") * _d("l_discount")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@declared(
    "q_tpch_q5_local_supplier",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the deepest star join in the
    canon — two facts and four dims, with the customer-nation ==
    supplier-nation correlation.

    Filter-first shape (r6): both sides of the correlation lie in the
    ASIA nation set, so the region filter pushes onto customer AND
    supplier before any fact join — lineitem shrinks via the broadcast
    region-filtered supplier (which also carries n_name, so no later
    nation join), orders shrinks via the region-filtered customer on
    top of its date filter, and the orderkey fact join carries
    ~(1/|regions|) per side instead of every region's rows. The exact
    c_nationkey == s_nationkey correlation applies at the orderkey
    join, on already-small rows."""
    cutoff_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_asia = (
        table(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    c2 = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n_asia), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
    )
    o2 = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
        )
        .join(c2, F.col("o_custkey") == c2.c_custkey)
        .select("o_orderkey", "c_nationkey")
    )
    s2 = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n_asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    li = table(spark, sf_dir, "lineitem")
    li2 = li.join(F.broadcast(s2), li.l_suppkey == s2.s_suppkey)
    revenue = _d("l_extendedprice") * (F.lit(1).cast(_DEC) - _d("l_discount"))
    return (
        li2.join(
            o2,
            (li2.l_orderkey == o2.o_orderkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@declared(
    "q_tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): quarter of orders, only
    returned lines, top-20 customers by lost revenue. returnflag filter
    pushes into the lineitem scan; top-20 via TakeOrderedAndProject
    (revenue ties broken by c_custkey for determinism)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    revenue = _d("l_extendedprice") * (F.lit(1).cast(_DEC) - _d("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@declared(
    "q_tpch_q14_promo_revenue",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    """,
)
def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): month of shipments joined to the
    part dim (broadcast), promo share of revenue as one exact-decimal
    conditional aggregate — both sums exact, one double division at the
    end (the testdata's p_type is a plain category, so equality stands
    in for the spec's PROMO%% prefix match)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    disc_price = _d("l_extendedprice") * (F.lit(1).cast(_DEC) - _d("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast(_DEC)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(promo).cast("double")
                * 100
                / F.sum(disc_price).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@declared(
    "q_tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey) t
    GROUP BY c_count
    """,
)
def q_tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order distribution): left join so zero-order
    customers count, then the histogram of per-customer order counts —
    the double-aggregation shape (the spec's o_comment NOT LIKE filter is
    dropped: the testdata carries no comment column). First agg shuffles
    on custkey, second on the tiny count domain."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@declared(
    "q_tpch_q18_large_volume_customer",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): the IN-subquery over a grouped
    HAVING (orders whose total quantity tops 250 — ~the p99 at any SF of
    this generator) becomes a left-semi join against the aggregated key
    set; quantity summed in exact decimal; top-100 by price with
    orderkey tiebreak.

    Aggregate-carry shape (r8, replacing the r6 semi-join-first shape):
    the HAVING aggregate already computes each qualifying order's total
    quantity, so `big` CARRIES the sum and orders joins it directly —
    the old li_big semi join (a second full lineitem pass) and the
    per-order re-aggregation vanish: sum(quantity over a qualifying
    order's lines) IS the aggregate that qualified it, bit-identical
    exact decimal. One lineitem scan + one agg shuffle total; at 100 TB
    that saves a full fact-table read AND its shuffle. o_orderkey is
    the orders PK, so the big⋈orders join is 1:1 on the ~1% qualifying
    keys — customer joins against one row per qualifying order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    # r16 (guide §2.3): per-order quantity sums as LONG integer cents
    # (the group is one order — bounded line count, no overflow at any
    # scale); the HAVING boundary > 250 is exactly cents > 25000, and
    # the carried sum_qty double is the identical one-rounding cast
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money_units_long("l_quantity")).alias("q_c"))
        .filter(F.col("q_c") > 25000)
        .select(
            F.col("l_orderkey").alias("big_key"),
            units_to_money_double("q_c", 2).alias("sum_qty"),
        )
    )
    per_order = o.join(big, o.o_orderkey == big.big_key).select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
    )
    return (
        per_order.join(c, per_order.o_custkey == c.c_custkey)
        .withColumn("o_totalprice", F.col("o_totalprice").cast("double"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
    )


@declared(
    "q_tpch_q22_global_sales_opportunity",
    oracle="""
    SELECT COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): above-average-balance
    customers with no orders (the spec's phone-country-code grouping is
    dropped: no phone column in the testdata). The average is computed
    as an exact-decimal SUM over COUNT — one deterministic double — so
    the comparison boundary is identical in both engines; the NOT EXISTS
    is a left-anti join; the scalar threshold broadcasts."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0)
    thr = pos.agg(
        (F.sum(_d("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("thr")
    )
    return (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("thr"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_d("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


def _revenue() -> F.Column:
    return _d("l_extendedprice") * (F.lit(1).cast(_DEC) - _d("l_discount"))


@declared(
    "q_tpch_q2_min_cost_supplier",
    oracle="""
    WITH eligible AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
             CAST(s.s_acctbal AS DOUBLE) AS s_acctbal, n.n_name,
             CAST(l.l_extendedprice AS DOUBLE) AS price
      FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE p.p_size = 15 AND p.p_type LIKE '%A%' AND r.r_name = 'EUROPE'
    )
    SELECT DISTINCT e.s_acctbal, e.s_name, e.n_name, e.p_partkey, e.p_name,
                    e.price AS min_price
    FROM eligible e
      JOIN (SELECT p_partkey, min(price) AS mp FROM eligible GROUP BY p_partkey) m
        ON e.p_partkey = m.p_partkey AND e.price = m.mp
    ORDER BY e.s_acctbal DESC, e.s_name, e.p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): the correlated-MIN subquery over
    a region-restricted 5-way join. Substitution: no partsupp, so the
    part↔supplier relationship comes from lineitem and ps_supplycost
    becomes the shipped l_extendedprice. Spark side uses a window MIN
    over p_partkey instead of the SQL self-join — one shuffle on the
    partkey, no second scan of the joined input; region/nation dims
    broadcast."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & F.col("p_type").like("%A%")
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eligible = (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "n_name",
            F.col("l_extendedprice").cast("double").alias("price"),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        eligible.withColumn("mp", F.min("price").over(w))
        .filter(F.col("price") == F.col("mp"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.col("price").alias("min_price"),
        )
        .distinct()
        .orderBy(F.desc("s_acctbal"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


@declared(
    "q_tpch_q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): quarter-scoped orders with a
    correlated EXISTS over lineitem, counted per priority. Substitution:
    the spec's late-delivery predicate (l_commitdate < l_receiptdate —
    columns absent) becomes l_returnflag = 'R'. The EXISTS is a left-semi
    join; the returnflag filter pushes into the lineitem scan before the
    shuffle."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@declared(
    "q_tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations per year — the two-role nation join (n1 on the supplier, n2
    on the customer) with the symmetric OR pair predicate.

    Filter-first shape (r6): the pair predicate implies supp_nation AND
    cust_nation each lie in the two-nation set, so that necessary
    condition pushes onto supplier and customer BEFORE any fact join —
    lineitem shrinks via the broadcast nation-filtered supplier, orders
    shrinks via the nation-filtered customer, and the fact⋈fact
    orderkey shuffle carries ~(2/|nations|)² of the naive volume. The
    exact OR pair (excluding same-nation trade) applies after the
    orderkey join, on already-small rows. The previous shape joined
    full-size facts and filtered last — two full fact shuffles of rows
    that were then discarded."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    nations = ("NATION_1", "NATION_2")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    s2 = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c2 = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li2 = li.join(F.broadcast(s2), li.l_suppkey == s2.s_suppkey)
    o2 = o.join(c2, o.o_custkey == c2.c_custkey).select(
        "o_orderkey", "cust_nation"
    )
    pair = (
        (F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1])
    ) | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
    return (
        li2.join(o2, li2.l_orderkey == o2.o_orderkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@declared(
    "q_tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS nation
      FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN region r   ON n1.n_regionkey = r.r_regionkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of a region's
    volume per year — conditional-sum over conditional-sum from the full
    8-way star. The NULL-when-no-match numerator (SUM over an ELSE-less
    CASE) divides to NULL identically in both engines.

    Region-first shape (r8, SCALE.md rule 2 — derive the implied
    filter): the customer join exists only to test ASIA membership, so
    orders is SEMI-joined against region-filtered customers BEFORE the
    fact join. The r6 shape joined the fat lineitem⋈orders product to
    full customer on custkey — its biggest shuffle moved rows the ASIA
    predicate then discarded (~4/5 at 25 nations). Now the custkey
    shuffle moves only orders+customer/5, the orderkey shuffle moves
    ~1/5 the orders rows, and the fat product never re-shuffles:
    c_custkey is the customer PK so semi == inner multiplicity, and
    n1/region collapse into a broadcast key-set filter."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # ASIA nation keys (≤ a handful of rows) broadcast into customer;
    # semi join keeps exactly the customers the inner c⋈n1⋈r chain kept
    asia_cust = c.join(
        F.broadcast(
            n1.join(r, F.col("n1_region") == F.col("r_regionkey")).select("n1_key")
        ),
        F.col("c_nationkey") == F.col("n1_key"),
        "left_semi",
    ).select("c_custkey")
    o_asia = o.join(
        asia_cust, o.o_custkey == asia_cust.c_custkey, "left_semi"
    ).select("o_orderkey", "o_orderdate")
    vol = _revenue().alias("volume")
    joined = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o_asia, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol, "nation")
    )
    return joined.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume"))).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@declared(
    "q_tpch_q9_product_type_profit",
    oracle="""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS amount
      FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q_tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit by supplier nation and
    order year for parts matching a name pattern. Substitution: no
    partsupp, so profit omits the ps_supplycost term (pure discounted
    revenue) and '%green%' becomes '%widget%' (this generator's
    vocabulary). The LIKE filter pushes to the part scan, which then
    broadcasts into the lineitem join."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(_revenue()).cast("double").alias("sum_profit"))
    )


@declared(
    "q_tpch_q11_important_stock",
    oracle="""
    WITH natline AS (
      SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(18,2)) AS val
      FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_5'
    )
    SELECT l_partkey, CAST(SUM(val) AS DOUBLE) AS part_value
    FROM natline
    GROUP BY l_partkey
    HAVING CAST(SUM(val) AS DOUBLE)
         > (SELECT CAST(SUM(val) AS DOUBLE) * 0.001 FROM natline)
    """,
)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part value within one nation,
    kept when above a fraction of the nation's total — the scalar-
    aggregate-subquery HAVING. Substitution: no partsupp, so value =
    shipped l_extendedprice instead of supplycost*availqty.

    Single-scan shape (r6): the global total re-aggregates the per-part
    DECIMAL partials instead of re-scanning lineitem — decimal addition
    is exact and associative, so sum-of-group-sums equals the direct
    global sum bit-for-bit, and the big fact is scanned/joined ONCE
    (the naive two-branch plan reads it twice; at 100 TB the second
    scan is the whole cost). Both sides cast to double only at the end;
    the 0.001 multiply happens once in double."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    natline = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", _d("l_extendedprice").alias("val"))
    )
    per_part = natline.groupBy("l_partkey").agg(
        F.sum("val").alias("val_dec")
    )
    total = per_part.agg(
        (F.sum("val_dec").cast("double") * F.lit(0.001)).alias("threshold")
    )
    return (
        per_part.select(
            "l_partkey", F.col("val_dec").cast("double").alias("part_value")
        )
        .join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


@declared(
    "q_tpch_q12_shipping_priority_class",
    oracle="""
    SELECT l.l_returnflag,
           COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q_tpch_q12_shipping_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority): the two conditional
    counts split by priority class. Substitution: no l_shipmode column,
    so the grouping mode is l_returnflag, and the receipt-date year
    filter becomes a shipdate year. COUNT(CASE...) (not SUM of 0/1)
    keeps both engines in BIGINT — DuckDB's SUM(int) is HUGEINT, which
    the driver's pandas fetch renders as float."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@declared(
    "q_tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the revenue view over one quarter and
    the supplier(s) hitting its MAX — equality against a scalar
    aggregate of the SAME derived table. Both engines derive
    total_revenue from identical exact-decimal sums cast to double, so
    the max-equality boundary is bit-identical. The one-row max
    broadcasts. The revenue view feeds BOTH the supplier join and the
    max — localCheckpoint materializes it once (per-supplier rows, tiny
    next to lineitem), so the fact scan + aggregation run once instead
    of twice; without it Catalyst re-executes the whole subtree for
    each consumer."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).cast("double").alias("total_revenue"))
        .localCheckpoint(eager=False)
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@declared(
    "q_tpch_q16_parts_supplier",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct-supplier counts
    per (brand, type, size) bucket under negated + IN-list part filters.
    Substitution: supplier linkage via lineitem (no partsupp) and the
    complaint-supplier NOT IN exclusion is dropped (no comment column).
    Part filters all push to the scan; the distinct count is the only
    shuffle."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@declared(
    "q_tpch_q17_small_quantity_revenue",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN per_part a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND l.l_quantity < 0.2 * a.avg_qty
    """,
)
def q_tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    per-part-average subquery, decorrelated. r10 rewrite (the Q18
    aggregate-carry discipline): the brand filter restricts the
    average's DOMAIN to qualifying parts' lineitems anyway, so instead
    of a second full-lineitem scan feeding a per-part aggregate, the
    broadcast-filtered subset computes its own per-part average as a
    WINDOW — one fact scan total, one exchange bounded by the brand
    selectivity (|lineitem|/|brands| rows), no join-back. Measured
    1.02 s → 0.56 s at sf0.1 (min-of-3, bit-identical result). The
    average is exact-decimal SUM / COUNT so the 0.2× comparison
    boundary is identical in both engines."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    filtered = li.join(
        F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")
    )
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        F.sum(_d("l_quantity")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        filtered.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(_d("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )


@declared(
    "q_tpch_q19_discounted_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the OR-of-conjunctive-bands
    predicate straddling both join sides — the classic test of OR
    predicate handling across a join. Substitution: container/shipmode
    clauses (columns absent) are dropped from each band, keeping the
    brand + size + quantity structure. The part side reduces to three
    brands (scan-pushed p_brand IN) and broadcasts; the mixed OR applies
    post-join.

    r9 envelope pushdown: Catalyst cannot push the cross-side OR below
    the join, but each side's disjunct ENVELOPE is a single-side
    implication of it — l_quantity ∈ [1,30] (the union of the three
    quantity bands) and p_size ∈ [1,15] — so both push into their scans
    (parquet min/max pruning + pre-probe row drop) while the exact OR
    still applies post-join. At sf0.1 this removes ~40% of lineitem
    rows before the broadcast-hash probe; at 100 TB the quantity
    envelope is the difference between scanning every row group and
    skipping the ones the bands cannot touch."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#13", "Brand#14")
        & F.col("p_size").between(1, 15)
    )
    band = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#14")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(band)
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@declared(
    "q_tpch_q20_part_promotion",
    oracle="""
    SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_7'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 50
      )
    ORDER BY s.s_name
    """,
)
def q_tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one nation who
    moved real volume of pattern-named parts in one year — the nested
    IN-subquery over a grouped HAVING. Substitution: availqty/partsupp
    absent, so the half-of-stock threshold becomes a fixed shipped-
    quantity floor (>50, exact decimal). The HAVING set is tiny and
    becomes a left-semi broadcast join."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    movers = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(_d("l_quantity")).alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(movers), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


@declared(
    "q_tpch_q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o    ON o.o_orderkey = l1.l_orderkey
      JOIN nation n    ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND n.n_name = 'NATION_9'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q_tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the EXISTS +
    NOT-EXISTS pair with inequality correlation (another supplier on the
    same order / no OTHER supplier also at fault). Substitution: the
    receipt>commit lateness predicate becomes l_returnflag = 'R'.

    The correlated pair decorrelates into per-order supplier statistics
    (the scalable rewrite — correlated per-row EXISTS would rescan
    lineitem per line at 100 TB): EXISTS other-supplier ⇔ the order has
    ≥2 distinct suppliers; NOT EXISTS other-at-fault ⇔ exactly 1
    distinct supplier among its 'R' lines (l1 itself is 'R', so that one
    is l1's supplier).

    Single-aggregation shape (r16, replacing the r8 pair-grain agg +
    per-order windows): every per-order statistic the two EXISTS need
    folds into ONE order-grain aggregate via min/max identities —
    "some other supplier exists" ⇔ min(suppkey) ≠ max(suppkey), and
    "exactly one distinct supplier among the order's R lines" ⇔
    min(R-suppkey) == max(R-suppkey) given n_r_lines > 0 (min/max skip
    the NULLs the non-R lines contribute). numwait per qualifying order
    is its total R-line count (all R lines belong to the one R
    supplier, which IS l1's supplier), and that supplier's key is
    min(R-suppkey) itself. One lineitem scan with map-side partials
    collapsing each order's lines before the single fact-grain
    exchange; the r8 window pass — a second exchange of the pair rows
    to orderkey grain plus its sort — is gone entirely (3 → 2 shuffles,
    no Sort/Window operators; plan diff in plans/r16/). A
    multi-countDistinct would instead plan an Expand that doubles every
    row before the shuffle; the min/max pair costs nothing extra."""
    li = table(spark, sf_dir, "lineitem")
    r_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("n_r_lines"),
        F.min("l_suppkey").alias("_supp_min"),
        F.max("l_suppkey").alias("_supp_max"),
        F.min(r_supp).alias("_r_supp_min"),
        F.max(r_supp).alias("_r_supp_max"),
    )
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    return (
        per_order.filter(
            (F.col("n_r_lines") > 0)
            & (F.col("_supp_min") != F.col("_supp_max"))
            & (F.col("_r_supp_min") == F.col("_r_supp_max"))
        )
        .join(F.broadcast(s), F.col("_r_supp_min") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("s_name")
        .agg(F.sum("n_r_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )

