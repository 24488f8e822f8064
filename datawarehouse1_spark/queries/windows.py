"""Ordering + window family (SURVEY.md C13-C15): top-N, per-group ranking,
running aggregates. Ties always broken by a unique key so the DuckDB
oracle hash-matches (SURVEY.md §5.3 determinism rules).

The rest of the window battery: lag deltas, range frames, dense rank,
ntile, percent rank, cume_dist, first/last and moving averages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import MONEY, money_sum, sql_money_sum
from datawarehouse1_spark.registry import declared


# --- C13: global top-N (best clients/products dashboards) ---
@declared(
    "q_topk_orderby_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_topk_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical plan is TakeOrderedAndProject: per-partition heap top-k,
    single driver merge — no global sort at any scale."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# --- C14: ranking within group (top-3 orders per market segment) ---
@declared(
    "q_window_rank_topn",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rnk <= 3
    """,
)
def q_window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# --- C15: running/cumulative aggregate (revenue to date per customer) ---
@declared(
    "q_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS revenue_to_date
    FROM orders
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal running sum over a total order (o_orderkey tiebreak)
    so every prefix is deterministic in both engines."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("revenue_to_date"),
    )


# --- C15 family completion: lag deltas + RANGE frame ---
@declared(
    "q_window_lag_delta",
    oracle="""
    SELECT event_id, user_id, ts,
           lag(ts) OVER w AS prev_ts,
           CAST(date_diff('second', lag(ts) OVER w, ts) AS BIGINT) AS gap_seconds
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() inter-event gaps per user — the building block under
    sessionization (C20), exposed as its own operator. One shuffle on
    user_id; ties broken by event_id so the oracle hash-matches."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        prev.alias("prev_ts"),
        # truncate-to-second FIRST, then diff (DuckDB's date_diff counts
        # second-boundary crossings); timestamp_diff on NTZ is tz-free,
        # unlike unix_timestamp which re-interprets in the session tz
        F.timestamp_diff(
            "SECOND",
            F.date_trunc("second", prev),
            F.date_trunc("second", F.col("ts")),
        ).alias("gap_seconds"),
    )


@declared(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
             AS n_within_1000
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based window): for each order, how many of the
    customer's orders fall within 1000 below its price — the frame spec
    family the rows-frame queries don't cover."""
    o = table(spark, sf_dir, "orders")
    # fractional RANGE offsets need the SQL form (the Python
    # Window.rangeBetween API accepts integral offsets only)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.expr(
            "COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice"
            " RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)"
        ).alias("n_within_1000"),
    )


@declared(
    "q_window_dense_rank_peers",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority AS priority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY o_orderpriority, CAST(date_trunc('month', o_orderdate) AS DATE)
    )
    SELECT priority, month, n_orders,
           DENSE_RANK() OVER (PARTITION BY priority ORDER BY n_orders)
             AS dense_rk,
           CAST(RANK() OVER (PARTITION BY priority ORDER BY n_orders)
                AS BIGINT) AS rk
    FROM monthly
    """,
)
def q_window_dense_rank_peers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank with GENUINE peer groups — the last window function
    missing from the battery: months ranked within priority by their
    (frequently tied) order counts, so dense_rank visibly collapses
    gaps where rank jumps. Deterministic regardless of tie order
    because both functions depend only on the ORDER value, not row
    position. Two exchanges: the (priority, month) monthly aggregate
    and the (priority) window repartition — both over the tiny
    monthly-rollup tuples, never order rows."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    w = Window.partitionBy("priority").orderBy("n_orders")
    return monthly.select(
        "priority",
        "month",
        "n_orders",
        F.dense_rank().over(w).alias("dense_rk"),
        F.rank().over(w).cast("long").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Window-function extensions (beyond C13-C15: ntile / percent_rank /
# first-last / moving average)
# ---------------------------------------------------------------------------


@declared(
    "q_window_ntile_quartile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    """,
)
def q_window_ntile_quartile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-height quartile bucketing of customers by balance. ntile is
    a single global sort — at 100 TB swap for approx_percentile cutoffs
    (3 numbers broadcast) + a narrow CASE; the exact form here is the
    oracle-checkable semantics."""
    c = table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_acctbal", F.ntile(4).over(w).alias("quartile")
    )


@declared(
    "q_window_percent_rank",
    oracle="""
    SELECT s_suppkey, s_acctbal,
           percent_rank() OVER (ORDER BY s_acctbal, s_suppkey) AS pct_rank,
           cume_dist() OVER (ORDER BY s_acctbal, s_suppkey) AS cume
    FROM supplier
    """,
)
def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist: (rank-1)/(n-1) and rank/n — single IEEE
    divisions of small integers, bit-identical across engines."""
    s = table(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        "s_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@declared(
    "q_window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order_key,
           last_value(o_orderkey)  OVER w AS last_order_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last order per customer carried onto every row — the
    window-frame form of a groupBy+join, one shuffle instead of two."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order_key"),
        F.last("o_orderkey").over(w).alias("last_order_key"),
    )


@declared(
    "q_window_moving_avg",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             {sql_money_sum("o_totalprice", "revenue")}
      FROM orders GROUP BY 1
    )
    SELECT day, revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS ma7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue. The moving SUM runs over
    DECIMAL (order-independent exact addition) and only the final
    divide is IEEE — deterministic in both engines. Daily pre-agg
    shrinks the window input to one row/day before the single sort."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(money_sum("o_totalprice", "revenue"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "revenue",
        (
            F.sum(F.col("revenue").cast(MONEY)).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma7"),
    )


@declared(
    "q_window_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           round(cume_dist() OVER
                   (PARTITION BY o_orderpriority ORDER BY o_totalprice),
                 6) AS cd6,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                        (PARTITION BY o_orderpriority ORDER BY o_totalprice)
                      AS DOUBLE)
                 / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                          (PARTITION BY o_orderpriority)
                        AS DOUBLE), 6) AS rev_share6
    FROM orders
    """,
)
def q_window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist per priority class over order value, with the
    cumulative revenue share beside it — together the Lorenz view
    ("orders at or below this price carry X% of revenue"). cume_dist
    and the default RANGE frame both depend only on the ORDER value,
    so ties are deterministic in both engines; the running and total
    revenue are exact decimal sums divided once in IEEE doubles. ONE
    exchange: all three windows share the o_orderpriority partition
    (the ordered windows sort within it; the total-revenue window
    needs no order)."""
    o = table(spark, sf_dir, "orders")
    wp = Window.partitionBy("o_orderpriority")
    wo = wp.orderBy("o_totalprice")
    money = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.cume_dist().over(wo), 6).alias("cd6"),
        F.round(
            F.sum(money).over(wo).cast("double")
            / F.sum(money).over(wp).cast("double"),
            6,
        ).alias("rev_share6"),
    )

