"""Order, customer, part and supplier analytics over the TPC-H tables:
the reporting shapes a BI serving layer runs.

* customers: RFM segments, cohort lifetime value, repeat intervals,
  new vs returning, migration between value bands, conversion hazard;
* revenue: Pareto and Gini concentration, value deciles, trend (with
  Theil-Sen), seasonality decomposition and a seasonal-naive
  backtest, price elasticity;
* parts and baskets: market-basket pairs, basket profile, ABC and XYZ
  classes;
* suppliers and fulfilment: scorecards, HHI concentration, ship
  latency, fill-rate SLA, open backlog.

Money goes through the exact-decimal discipline of functions/money.py;
ratios are exact integer micro-units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import (
    MONEY,
    money_sum,
    money_units_long,
    sql_cents,
    sql_money_sum,
)
from datawarehouse1_spark.functions.money import DEC38 as _DEC
from datawarehouse1_spark.functions.money import TOTALPRICE_CENTS as _CENTS
from datawarehouse1_spark.queries.deciles import (
    decile_bounds,
    decile_bounds_sql,
    decile_expr_sql,
    running_sum,
)
from datawarehouse1_spark.registry import declared


# ---------------------------------------------------------------------------
# Customer-value analytics (RFM, Pareto)
# ---------------------------------------------------------------------------


@declared(
    "q_rfm_segmentation",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order_day,
             COUNT(*) AS frequency,
             {sql_money_sum("o_totalprice", "monetary")}
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order_day, frequency, monetary,
           ntile(4) OVER (ORDER BY last_order_day, o_custkey) AS r_score,
           ntile(4) OVER (ORDER BY frequency, o_custkey)      AS f_score,
           ntile(4) OVER (ORDER BY monetary, o_custkey)       AS m_score
    FROM per_cust
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quartile
    scores (4 = most recent / most frequent / highest spend). One
    fact-table shuffle to per-customer grain, then three global ntiles
    over the small per-customer set; ties pinned by custkey."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order_day"),
        F.count(F.lit(1)).alias("frequency"),
        money_sum("o_totalprice", "monetary"),
    )
    return per_cust.select(
        "o_custkey",
        "last_order_day",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy("last_order_day", "o_custkey"))
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy("frequency", "o_custkey"))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy("monetary", "o_custkey"))
        .alias("m_score"),
    )


@declared(
    "q_orders_pareto",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey, {sql_money_sum("o_totalprice", "revenue")}
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(18,2)))
                  OVER (ORDER BY revenue DESC, o_custkey) AS DOUBLE)
             / CAST(SUM(CAST(revenue AS DECIMAL(18,2))) OVER () AS DOUBLE)
             AS cum_share
    FROM per_cust
    """,
)
def q_orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto curve: customers ranked by spend with their running share
    of total revenue ('which customers make up the first 80%?'). Both
    the running and the grand-total sums are exact DECIMAL; the single
    final division is the only float op. The grand total rides an
    unpartitioned window over the per-customer grain (small), not the
    fact table."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(money_sum("o_totalprice", "revenue"))
    rev_dec = F.col("revenue").cast(MONEY)
    w_run = Window.orderBy(F.desc("revenue"), F.asc("o_custkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_cust.select(
        "o_custkey",
        "revenue",
        (
            F.sum(rev_dec).over(w_run).cast("double")
            / F.sum(rev_dec).over(w_all).cast("double")
        ).alias("cum_share"),
    )


@declared(
    "q_orders_cohort_ltv",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey, o_totalprice,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
             CAST(MIN(date_trunc('month', o_orderdate))
                    OVER (PARTITION BY o_custkey) AS DATE) AS cm
      FROM orders
    )
    SELECT cm AS cohort_month,
           CAST(datediff('month', cm, om) AS INT) AS age_months,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           {sql_money_sum('o_totalprice', 'revenue')}
    FROM base
    GROUP BY cm, datediff('month', cm, om)
    """,
)
def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers bucketed by the month
    of their FIRST order (the cohort), revenue and activity tracked by
    months elapsed since that first month — the (cohort x age)
    triangle behind every retention/LTV dashboard. age is exact
    calendar months between month-start dates, so months_between /
    datediff('month') agree as whole integers. TWO exchanges: the
    min-over-customer window on o_custkey, then the (cohort, age)
    aggregate — at 100 TB both shuffles carry only
    (custkey, month, price) tuples, and the first could be removed
    entirely by bucketing orders on o_custkey."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    base = o.select(
        "o_custkey",
        "o_totalprice",
        F.date_trunc("month", "o_orderdate").cast("date").alias("om"),
        F.min(F.date_trunc("month", "o_orderdate"))
        .over(w)
        .cast("date")
        .alias("cm"),
    )
    age = F.months_between(F.col("om"), F.col("cm")).cast("int")
    return (
        base.select("o_custkey", "o_totalprice", "cm", age.alias("age_months"))
        .groupBy(F.col("cm").alias("cohort_month"), "age_months")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice", "revenue"),
        )
    )


@declared(
    "q_orders_market_basket",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    totals AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
    ),
    part_n AS (
      SELECT l_partkey, COUNT(*) AS n FROM items GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b,
           CAST(n_ab AS BIGINT) AS n_ab,
           CAST(na.n AS BIGINT) AS n_a,
           CAST(nb.n AS BIGINT) AS n_b,
           CAST((CAST(n_ab AS HUGEINT) * t.n_orders * 1000000)
                // (CAST(na.n AS HUGEINT) * nb.n) AS BIGINT) AS lift_e6
    FROM pairs
    JOIN part_n na ON pairs.part_a = na.l_partkey
    JOIN part_n nb ON pairs.part_b = nb.l_partkey
    CROSS JOIN totals t
    WHERE n_ab >= 3
    ORDER BY n_ab DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
)
def q_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over lineitem: the top-20 part pairs
    co-purchased in the same order (support >= 3), with exact lift in
    floored micro-units — lift = N * n_ab / (n_a * n_b), the
    association-rule statistic, computed entirely in integer
    arithmetic (HUGEINT/DECIMAL products, integer div) so both engines
    emit identical values. Plan: pair generation is an equi-self-join
    on l_orderkey (bounded fan-out: k items per order produce k²/2
    pairs, k is small by construction of a retail basket), pair and
    per-part counts aggregate narrowly, the per-part counts broadcast
    back onto the 20-row candidate set, and the top-20 is
    TakeOrderedAndProject — no global sort. At 100 TB the orderkey
    self-join co-partitions both sides on the same key (one shuffle
    each) and nothing wider than (orderkey, partkey) moves."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=True
    )
    totals = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    part_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    na = part_n.select(
        F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a")
    )
    nb = part_n.select(
        F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b")
    )
    out = (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(totals))
    )
    lift = F.expr(
        "CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000"
        " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
    ).cast("long")
    return (
        out.select(
            "part_a", "part_b", "n_ab", "n_a", "n_b", lift.alias("lift_e6")
        )
        .orderBy(F.col("n_ab").desc(), F.col("part_a"), F.col("part_b"))
        .limit(20)
    )


@declared(
    "q_supplier_scorecard",
    oracle="""
    WITH per_supp AS (
      SELECT l_suppkey,
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE) AS revenue,
             CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') * 1000000
                  // COUNT(*) AS BIGINT) AS return_share_e6
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT n.n_name AS nation, s.s_name AS supplier,
           p.n_lines, p.revenue, p.return_share_e6,
           CAST(row_number() OVER
                  (PARTITION BY n.n_name
                   ORDER BY p.revenue DESC, s.s_suppkey ASC)
                AS INT) AS nation_rank
    FROM per_supp p
    JOIN supplier s ON s.s_suppkey = p.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    """,
)
def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier scorecard: per supplier — line count, exact-decimal
    discounted revenue, return-rate in floored micro-units
    (returnflag='R' share), and the supplier's revenue rank within its
    nation — the vendor-management report a procurement dashboard
    serves. Plan: ONE lineitem pass partial-aggregates per suppkey
    (the only exchange that sees fact rows); supplier and nation
    broadcast onto the bounded per-supplier table; the nation ranking
    window rides a second narrow exchange. Rank ties break on suppkey
    so the row set is deterministic."""
    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(rev).cast("double").alias("revenue"),
        F.expr(
            "count(case when l_returnflag = 'R' then 1 end) * 1000000"
            " div count(1)"
        )
        .cast("long")
        .alias("return_share_e6"),
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    joined = per_supp.join(
        F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey")
    ).join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("s_suppkey").asc()
    )
    return joined.select(
        F.col("n_name").alias("nation"),
        F.col("s_name").alias("supplier"),
        "n_lines",
        "revenue",
        "return_share_e6",
        F.row_number().over(w).cast("int").alias("nation_rank"),
    )


_LAT_BUCKET = """
    CASE WHEN {d} <= 7 THEN '0-7d'
         WHEN {d} <= 30 THEN '8-30d'
         WHEN {d} <= 90 THEN '31-90d'
         ELSE '90d+' END
"""


@declared(
    "q_orders_ship_latency",
    oracle=f"""
    WITH gaps AS (
      SELECT o.o_orderpriority,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS gap_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    bucketed AS (
      SELECT o_orderpriority,
             {_LAT_BUCKET.format(d='gap_days')} AS bucket
      FROM gaps
    ),
    counts AS (
      SELECT o_orderpriority, bucket, COUNT(*) AS n_lines
      FROM bucketed GROUP BY o_orderpriority, bucket
    )
    SELECT o_orderpriority, bucket,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_lines * 1000000
                // SUM(n_lines) OVER (PARTITION BY o_orderpriority)
                AS BIGINT) AS share_e6
    FROM counts
    """,
)
def q_orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency histogram: line items bucketed by days
    between order date and ship date, per order priority, with each
    bucket's share of its priority class in floored micro-units — the
    operational SLA report. Day gaps are date-boundary counts
    (identical semantics both engines); shares are integer `div`
    against the priority total carried by a window over the bounded
    (priority, bucket) count table. Exchanges: the orderkey fact join
    (both sides) + the bucket aggregate + the tiny share window — only
    (orderkey, date) tuples cross the fact shuffles."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    gaps = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("gap_days"),
    )
    bucketed = gaps.select(
        "o_orderpriority",
        F.expr(_LAT_BUCKET.format(d="gap_days")).alias("bucket"),
    )
    counts = bucketed.groupBy("o_orderpriority", "bucket").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    w = Window.partitionBy("o_orderpriority")
    return counts.select(
        "o_orderpriority",
        "bucket",
        "n_lines",
        F.expr("n_lines * 1000000").cast("long").alias("_num"),
        F.sum("n_lines").over(w).alias("_den"),
    ).select(
        "o_orderpriority",
        "bucket",
        "n_lines",
        F.expr("_num div _den").cast("long").alias("share_e6"),
    )


@declared(
    "q_orders_open_backlog",
    oracle=f"""
    WITH close AS (
      SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_date
      FROM lineitem GROUP BY l_orderkey
    ),
    o AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS placed, o_totalprice
      FROM orders
    ),
    b AS (
      SELECT DISTINCT last_day(CAST(o_orderdate AS DATE)) AS as_of
      FROM orders
    )
    SELECT b.as_of,
           COUNT(*) AS n_open,
           {sql_money_sum('o.o_totalprice', 'value_open')}
    FROM o
    JOIN close c ON o.o_orderkey = c.l_orderkey
    JOIN b ON o.placed <= b.as_of AND b.as_of < c.close_date
    GROUP BY b.as_of
    """,
)
def q_orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog as of each month-end: an order is open on
    boundary B iff placed <= B < close, where close is the max lineitem
    ship date of the order (orders with no lineitems never report as
    open — the inner join makes that explicit in both engines). The
    month-end boundary list derives from the order dates themselves
    (bounded: one row per month in the data).

    Sweep-line decomposition (r13; previously a
    BroadcastNestedLoopJoin that fanned every order row out to every
    boundary — |orders| x #months predicate work): with all boundaries
    at month-ends, placed <= B iff last_day(placed) <= B and close <= B
    iff last_day(close) <= B, so each order contributes
    (+1, +price) at last_day(placed) and (-1, -price) at
    last_day(close), and the backlog at B is the PREFIX SUM of those
    month deltas — indicator(placed <= B < close) = indicator(placed
    <= B) - indicator(close <= B), valid because rows with close <=
    placed (present in the synthetic data) are filtered out exactly as
    the original interval join ignores them (empty interval). Money
    deltas stay DECIMAL end-to-end, so the +/- cancellation is exact
    and the final double cast matches the oracle's direct sum
    bit-for-bit. Plan: ONE orderkey exchange each for the lineitem
    close aggregate and the orders side (co-partitioned equi-join);
    fact rows then reduce to <=2 delta rows each in one exchange to the
    ~#months grain; the running sum and the boundary semi-join ride
    that bounded table (rule 22; the ORDER BY key is unique per group,
    rule 31). At 100 TB the fact flows through exactly once — no
    per-boundary fan-out at all. Sum-widths: Spark widens the decimal
    sums automatically; months carry at most |orders|·max_price <<
    10^26."""
    li = table(spark, sf_dir, "lineitem")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_date")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("placed"),
        "o_totalprice",
    )
    j = (
        o.join(close, o.o_orderkey == close.l_orderkey, "inner")
        .filter(F.col("close_date") > F.col("placed"))
        .select(
            F.last_day("placed").alias("m_open"),
            F.last_day("close_date").alias("m_close"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
    )
    opens = j.select(
        F.col("m_open").alias("m"),
        F.lit(1).cast("long").alias("dn"),
        F.col("price").alias("dv"),
    )
    closes = j.select(
        F.col("m_close").alias("m"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("price")).alias("dv"),
    )
    b = (
        table(spark, sf_dir, "orders")
        .select(F.last_day(F.to_date("o_orderdate")).alias("as_of"))
        .distinct()
    )
    # Every boundary month must appear in the event table even when it
    # contributes no open/close delta (all its orders degenerate with
    # close <= placed, or lineitem-less): such a month still inherits
    # the CARRIED cumulative backlog from earlier months. Zero-delta
    # rows for each boundary make the prefix sum defined there; months
    # never in b are still dropped by the final semi-join (r13 review
    # fix — the delta-only table silently omitted carried-positive
    # boundary months). Deliberately NOT deduplicated: duplicate zero
    # rows vanish in the groupBy's map-side partial aggregate, so this
    # arm adds no exchange of its own (a distinct here re-shuffled the
    # month column and blew the pinned 5-exchange budget).
    zeros = table(spark, sf_dir, "orders").select(
        F.last_day(F.to_date("o_orderdate")).alias("m"),
        F.lit(0).cast("long").alias("dn"),
        F.lit(0).cast("decimal(18,2)").alias("dv"),
    )
    ev = (
        opens.unionByName(closes)
        .unionByName(zeros)
        .groupBy("m")
        .agg(F.sum("dn").alias("nd"), F.sum("dv").alias("vd"))
    )
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = ev.select(
        "m",
        F.sum("nd").over(w).alias("n_open"),
        F.sum("vd").over(w).alias("v_open"),
    )
    return (
        cum.join(F.broadcast(b), cum.m == b.as_of, "inner")
        .filter(F.col("n_open") > 0)
        .select(
            "as_of",
            "n_open",
            F.col("v_open").cast("double").alias("value_open"),
        )
    )


@declared(
    "q_orders_revenue_trend",
    oracle=f"""
    WITH m AS (
      SELECT r.r_name,
             (EXTRACT(year FROM o.o_orderdate) - 1992) * 12
               + (EXTRACT(month FROM o.o_orderdate) - 1) AS x,
             SUM({_CENTS}) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, x
    ),
    mom AS (
      SELECT r_name,
             CAST(COUNT(*) AS BIGINT) AS n_months,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx
      FROM m GROUP BY r_name
    )
    SELECT r_name,
           n_months,
           round((n_months * sxy - sx * sy)
                 / nullif(n_months * sxx - sx * sx, 0), 6)
             AS slope_cents_per_month6,
           round(sy / n_months / 100, 2) AS mean_monthly_revenue
    FROM mom
    """,
)
def q_orders_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region OLS slope of monthly revenue vs month index — "is
    this region's business growing, and how fast per month?". Exactness
    discipline (q_stats_welch_ttest): monthly revenue is an exact
    integer-cents sum; the co-moments are exact DECIMAL(38,0) sums
    (order-independent in both engines); only then does ONE fixed
    parenthesization of IEEE double ops assemble the slope, rounded to
    6dp. The month index is anchored at the fixed 1992-01 epoch — the
    slope is shift-invariant, so no data-driven global min (and its
    broadcast) is needed. Plan: one custkey shuffle joins orders to
    customer; nation/region broadcast; the (region, month) and region
    aggregates are narrow and bounded (#regions x #months rows)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * 12
        + (F.month("o_orderdate") - 1)
    ).alias("x")
    cents = F.expr(_CENTS)
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", x, cents.alias("cents"))
        .groupBy("r_name", "x")
        .agg(F.sum("cents").alias("y"))
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    mom = m.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"),
    )
    nm = F.col("n_months")
    num = nm * F.col("sxy") - F.col("sx") * F.col("sy")
    den = nm * F.col("sxx") - F.col("sx") * F.col("sx")
    return mom.select(
        "r_name",
        "n_months",
        F.round(num / F.nullif(den, F.lit(0)), 6).alias(
            "slope_cents_per_month6"
        ),
        F.round(F.col("sy") / nm / 100, 2).alias("mean_monthly_revenue"),
    )


@declared(
    "q_orders_seasonality_decompose",
    oracle=f"""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             SUM({_CENTS}) AS y
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT month, y,
             CASE WHEN COUNT(*) OVER w = 12
                  THEN CAST(SUM(y) OVER w // 12 AS BIGINT)
             END AS trend_cents
      FROM m
      WINDOW w AS (ORDER BY month
                   ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
    )
    SELECT month, CAST(y AS BIGINT) AS revenue_cents, trend_cents,
           CAST(y * 1000000 // nullif(trend_cents, 0) AS BIGINT)
             AS seasonal_e6
    FROM t
    """,
)
def q_orders_seasonality_decompose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical ratio-to-moving-average seasonality: per month — exact
    integer-cents revenue, the 12-month centered trend (ROWS 5
    preceding .. 6 following; NULL until all 12 months exist, so edge
    months never carry a partial trend), and the seasonal ratio in
    floored micro-units (>1e6 = above trend). All arithmetic is
    integer `div` on positive operands, so both engines floor
    identically; the ratio's y*1e6 multiply stays exact at any scale
    on BOTH sides — Spark through DECIMAL(38,0) (a BIGINT product
    would wrap past a ~9.2e12-cent month), DuckDB through its native
    HUGEINT sum (casting THAT to DECIMAL would demote the division to
    DOUBLE and floor off-by-one — found by the parity gate).
    Plan: ONE month aggregate is the only exchange that sees fact
    rows; the ordered window and the ratio run on the bounded monthly
    table (rule 22)."""
    o = table(spark, sf_dir, "orders")
    m = (
        o.select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.expr(_CENTS).alias("cents"),
        )
        .groupBy("month")
        .agg(F.sum("cents").alias("y"))
    )
    w = Window.orderBy("month").rowsBetween(-5, 6)
    trend = F.when(
        F.count(F.lit(1)).over(w) == 12,
        F.expr("sum(y) OVER (ORDER BY month ROWS BETWEEN 5 PRECEDING"
               " AND 6 FOLLOWING) div 12").cast("long"),
    )
    t = m.withColumn("trend_cents", trend)
    return t.select(
        "month",
        F.col("y").cast("long").alias("revenue_cents"),
        "trend_cents",
        F.expr(
            "CAST(y AS DECIMAL(38,0)) * 1000000 div nullif(trend_cents, 0)"
        )
        .cast("long")
        .alias("seasonal_e6"),
    )


@declared(
    "q_orders_fill_rate_sla",
    oracle="""
    WITH close AS (
      SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_date
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(COUNT(*) FILTER (
                  WHERE c.close_date <= CAST(o.o_orderdate AS DATE) + 30)
                AS BIGINT) AS n_shipped_30d,
           CAST(COUNT(*) FILTER (
                  WHERE c.close_date <= CAST(o.o_orderdate AS DATE) + 30)
                * 1000000 // COUNT(*) AS BIGINT) AS fill_rate_e6
    FROM orders o JOIN close c ON o.o_orderkey = c.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_orders_fill_rate_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day fill rate per priority class: the share of orders whose
    LAST lineitem shipped within 30 days of placement — the
    service-level summary beside q_orders_ship_latency's full
    histogram (orders with no lineitems are excluded by the inner
    join, identically in both engines). Plan: one orderkey exchange
    each for the close aggregate and the orders join side
    (co-partitioned), then a <=5-row priority aggregate; `div`
    operands are positive so the floors agree."""
    li = table(spark, sf_dir, "lineitem")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_date")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("placed"),
    )
    within = F.col("close_date") <= F.date_add(F.col("placed"), 30)
    agg = (
        o.join(close, o.o_orderkey == close.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(within, 1)).alias("n_shipped_30d"),
        )
    )
    # ratio derives from the aggregates, so the SLA predicate exists
    # exactly once above
    return agg.withColumn(
        "fill_rate_e6",
        F.expr("n_shipped_30d * 1000000 div n_orders").cast("long"),
    )


# shared rule-22 decile construction (also q_quality_cumulative_gains)
_BOUNDS_SQL = decile_bounds_sql("o_totalprice")

_DECILE_SQL = decile_expr_sql("o_totalprice")


@declared(
    "q_orders_value_deciles",
    oracle=f"""
    WITH b AS (SELECT {_BOUNDS_SQL} FROM orders),
    d AS (
      SELECT {_DECILE_SQL} AS decile, {_CENTS} AS cents
      FROM orders, b
    ),
    agg AS (
      SELECT decile, COUNT(*) AS n_orders, SUM(cents) AS cents
      FROM d GROUP BY decile
    )
    SELECT decile, n_orders,
           CAST(cents AS BIGINT) AS revenue_cents,
           CAST(cents * 1000000 // SUM(cents) OVER () AS BIGINT)
             AS share_e6,
           CAST(SUM(cents) OVER (ORDER BY decile) * 1000000
                // SUM(cents) OVER () AS BIGINT) AS cum_share_e6
    FROM agg
    """,
)
def q_orders_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table over order value — the rule-22 construction:
    the nine decile boundaries are exact order statistics
    (percentile_disc picks an actual data value, so both engines agree
    bit-for-bit), each order buckets by a broadcast comparison chain
    (ties at a boundary fall LOW via strict >), and the share /
    cumulative-share windows run on the 10-row aggregate. An ntile()
    formulation would have globally sorted the fact table AND made
    tie placement row-order-dependent; this shape shuffles facts once
    into the decile aggregate. Spark's share multiplies through
    DECIMAL(38,0) (a BIGINT product wraps past ~9.2e12 cents); the
    oracle's native HUGEINT is already exact."""
    o = table(spark, sf_dir, "orders")
    bounds = decile_bounds(o, "o_totalprice")
    d = o.crossJoin(F.broadcast(bounds)).select(
        F.expr(_DECILE_SQL).alias("decile"),
        F.expr(_CENTS).alias("cents"),
    )
    agg = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("cents"),
    )
    dec_cents = "CAST(cents AS DECIMAL(38,0))"
    return agg.select(
        "decile",
        "n_orders",
        F.col("cents").cast("long").alias("revenue_cents"),
        F.expr(
            f"{dec_cents} * 1000000 div SUM(cents) OVER ()"
        )
        .cast("long")
        .alias("share_e6"),
        F.expr(
            f"SUM({dec_cents}) OVER (ORDER BY decile) * 1000000"
            " div SUM(cents) OVER ()"
        )
        .cast("long")
        .alias("cum_share_e6"),
    )


# exact revenue in 1e-4 dollars: price (2dp) x (1 - discount (2dp))
# is an exact 4dp decimal; x10000 makes it an integer in both engines
_REV_E4 = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)"
)


@declared(
    "q_supplier_concentration_hhi",
    oracle=f"""
    WITH sup AS (
      SELECT l_suppkey, SUM({_REV_E4}) AS s
      FROM lineitem GROUP BY l_suppkey
    ),
    nat AS (
      SELECT n.n_name,
             COUNT(*) AS n_suppliers,
             SUM(CAST(sup.s AS HUGEINT)) AS total,
             SUM(CAST(sup.s AS HUGEINT) * sup.s) AS num,
             MAX(sup.s) AS top1
      FROM sup
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n ON n.n_nationkey = s_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(total AS BIGINT) AS total_rev_e4,
           CAST(num * 1000000 // (total * total) AS BIGINT) AS hhi_e6,
           CAST(CAST(top1 AS HUGEINT) * 1000000 // total AS BIGINT)
             AS cr1_e6,
           CAST(1000000000 // (num * 1000000 // (total * total))
                AS BIGINT) AS n_eff_e3
    FROM nat
    """,
)
def q_supplier_concentration_hhi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier revenue concentration per nation: HHI in floored
    micro-units (1e6 = monopoly, 1e6/n = perfectly even across n
    suppliers), CR1 = the top supplier's share, and n_eff_e3 =
    1/HHI in milli-suppliers (the "effective number of suppliers").
    All arithmetic is exact integer/decimal (revenue quantized to
    1e-4 dollars before any aggregation); Spark carries the squared
    sums in DECIMAL(38,0), the oracle in native HUGEINT — exact to
    ~1e16 e4-units (a $1e12 nation) before the *1e6 step saturates
    DECIMAL(38,0).  Plan: ONE lineitem exchange (the per-supplier
    aggregate); supplier joins on its own key, nation broadcasts,
    and the per-nation aggregate is 25 rows."""
    li = table(spark, sf_dir, "lineitem")
    sup = li.groupBy("l_suppkey").agg(
        F.expr(f"SUM({_REV_E4})").alias("s")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    d18 = "CAST(s AS DECIMAL(18,0))"
    nat = (
        sup.join(s, sup.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("s").alias("total"),
            F.expr(f"SUM({d18} * {d18})").alias("num"),
            F.max("s").alias("top1"),
        )
    )
    tot18 = "CAST(total AS DECIMAL(18,0))"
    return nat.select(
        "n_name",
        "n_suppliers",
        F.col("total").cast("long").alias("total_rev_e4"),
        F.expr(f"num * 1000000 div ({tot18} * {tot18})")
        .cast("long")
        .alias("hhi_e6"),
        F.expr(f"CAST(top1 AS DECIMAL(18,0)) * 1000000 div total")
        .cast("long")
        .alias("cr1_e6"),
        F.expr(
            f"1000000000 div (num * 1000000 div ({tot18} * {tot18}))"
        )
        .cast("long")
        .alias("n_eff_e3"),
    )


@declared(
    "q_orders_repeat_interval",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE)
               - lag(CAST(o_orderdate AS DATE))
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS gap
      FROM orders
    ),
    hist AS (
      SELECT c.c_mktsegment, g.gap, COUNT(*) AS cnt
      FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
      WHERE g.gap IS NOT NULL
      GROUP BY c.c_mktsegment, g.gap
    ),
    cum AS (
      SELECT c_mktsegment, gap, cnt,
             SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n,
             SUM(gap * cnt) OVER (PARTITION BY c_mktsegment) AS sumgap,
             SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY gap)
               AS cumc
      FROM hist
    )
    SELECT c_mktsegment,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(sumgap) * 1000000 // MAX(n) AS BIGINT)
             AS mean_gap_e6,
           CAST(MIN(CASE WHEN cumc * 2 >= n THEN gap END) AS BIGINT)
             AS median_gap_days,
           CAST(MIN(CASE WHEN cumc * 10 >= n * 9 THEN gap END)
                AS BIGINT) AS p90_gap_days,
           CAST(MAX(gap) AS BIGINT) AS max_gap_days
    FROM cum
    GROUP BY c_mktsegment
    """,
)
def q_orders_repeat_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase latency per market segment: day-gaps between a
    customer's consecutive orders (ties broken by orderkey), summarized
    as exact mean (micro-days), exact discrete median/p90 (smallest
    gap g with cum·2 >= n / cum·10 >= 9n — integer comparisons, the
    skew-report convention), and max.  The quantiles are read off the
    bounded (segment, gap) histogram — gap values are bounded by the
    calendar, so the ordered window runs over a bounded table, never
    the fact rows (rule 22).  Plan: one custkey exchange serves the
    lag window AND the customer join (co-partitioned); then the
    bounded histogram aggregate."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    hist = (
        gaps.join(c, gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "gap")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seg = Window.partitionBy("c_mktsegment")
    cum = hist.select(
        "c_mktsegment",
        "gap",
        "cnt",
        F.sum("cnt").over(seg).alias("n"),
        F.sum(F.col("gap") * F.col("cnt")).over(seg).alias("sumgap"),
        F.sum("cnt")
        .over(seg.orderBy("gap").rangeBetween(Window.unboundedPreceding, 0))
        .alias("cumc"),
    )
    return cum.groupBy("c_mktsegment").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.expr(
            "CAST(MAX(sumgap) AS DECIMAL(38,0)) * 1000000 div MAX(n)"
        )
        .cast("long")
        .alias("mean_gap_e6"),
        F.min(F.when(F.col("cumc") * 2 >= F.col("n"), F.col("gap")))
        .cast("long")
        .alias("median_gap_days"),
        F.min(F.when(F.col("cumc") * 10 >= F.col("n") * 9, F.col("gap")))
        .cast("long")
        .alias("p90_gap_days"),
        F.max("gap").cast("long").alias("max_gap_days"),
    )


_SEG = (
    "CASE WHEN cents < 25000000 THEN 'low'"
    " WHEN cents < 60000000 THEN 'mid' ELSE 'high' END"
)


@declared(
    "q_orders_customer_migration",
    oracle=f"""
    WITH yearly AS (
      SELECT o_custkey AS ck, year(o_orderdate) AS y,
             SUM({sql_cents("o_totalprice")}) AS cents
      FROM orders GROUP BY o_custkey, year(o_orderdate)
    ),
    seg AS (SELECT ck, y, {_SEG} AS seg FROM yearly),
    moves AS (
      SELECT COALESCE(l.ck, r.ck) AS ck,
             COALESCE(l.y, r.y - 1) AS year_from,
             COALESCE(l.seg, 'none') AS from_seg,
             COALESCE(r.seg, 'none') AS to_seg
      FROM seg l
      FULL OUTER JOIN seg r ON l.ck = r.ck AND l.y = r.y - 1
    ),
    matrix AS (
      SELECT year_from, from_seg, to_seg, COUNT(*) AS n_customers
      FROM moves GROUP BY year_from, from_seg, to_seg
    )
    SELECT year_from, from_seg, to_seg,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(n_customers * 1000000
                // SUM(n_customers) OVER (PARTITION BY year_from, from_seg)
                AS BIGINT) AS share_e6
    FROM matrix
    """,
)
def q_orders_customer_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Year-over-year customer value-band migration matrix: customers
    band low/mid/high by exact yearly spend (fixed cent thresholds),
    and each (year, band) row reports where its customers land the
    NEXT year — including 'none' rows for churn (present -> absent)
    and acquisition (absent -> present, attributed to the year before
    first activity).  share_e6 normalizes within each (year, from)
    row.  Plan: one custkey-year fact aggregate; the FULL OUTER
    self-join shifts the customer-scale yearly table by one year (both
    sides shuffle — full outer cannot broadcast, the ADVICE r9
    finding); the matrix and its share window are bounded
    (years x 4 x 4 rows)."""
    o = table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.col("o_custkey").alias("ck"),
        F.year("o_orderdate").alias("y"),
    ).agg(F.expr(f"SUM({sql_cents('o_totalprice')})").alias("cents"))
    seg = yearly.select("ck", "y", F.expr(_SEG).alias("seg"))
    l, r = seg.alias("l"), seg.alias("r")
    moves = l.join(
        r,
        (F.col("l.ck") == F.col("r.ck")) & (F.col("l.y") == F.col("r.y") - 1),
        "full_outer",
    ).select(
        F.coalesce(F.col("l.y"), F.col("r.y") - 1).alias("year_from"),
        F.coalesce(F.col("l.seg"), F.lit("none")).alias("from_seg"),
        F.coalesce(F.col("r.seg"), F.lit("none")).alias("to_seg"),
    )
    matrix = moves.groupBy("year_from", "from_seg", "to_seg").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    w = Window.partitionBy("year_from", "from_seg")
    return matrix.select(
        "year_from",
        "from_seg",
        "to_seg",
        "n_customers",
        F.expr("n_customers * 1000000")
        .cast("long")
        .alias("_num"),
        F.sum("n_customers").over(w).alias("_den"),
    ).select(
        "year_from",
        "from_seg",
        "to_seg",
        "n_customers",
        F.expr("_num div _den").cast("long").alias("share_e6"),
    )


# $10k buckets over per-part revenue in e4 units: the bucket count is
# bounded by the per-part revenue DOMAIN (a config constant), not the
# part count
_ABC_BUCKET = 100_000_000


@declared(
    "q_orders_abc_parts",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey, SUM({_REV_E4}) AS s
      FROM lineitem GROUP BY l_partkey
    ),
    per_value AS (
      SELECT s, COUNT(*) AS n_parts,
             CAST(s AS HUGEINT) * COUNT(*) AS mass
      FROM per_part GROUP BY s
    ),
    cum AS (
      SELECT s, n_parts, mass,
             SUM(mass) OVER () AS total,
             SUM(mass) OVER (ORDER BY s DESC) - mass AS above
      FROM per_value
    ),
    classed AS (
      SELECT CASE WHEN above * 5 < total * 4 THEN 'A'
                  WHEN above * 20 < total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             n_parts, mass, total
      FROM cum
    )
    SELECT abc_class,
           CAST(SUM(n_parts) AS BIGINT) AS n_parts,
           CAST(SUM(mass) AS BIGINT) AS mass_e4,
           CAST(SUM(mass) * 1000000 // MAX(total) AS BIGINT) AS share_e6
    FROM classed
    GROUP BY abc_class
    """,
)
def q_orders_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC revenue classification of parts: class A is the minimal
    top-revenue prefix (at value granularity — equal-revenue parts are
    never split across classes) covering >= 80% of total revenue, B
    extends it to 95%, C is the tail.  A value v is in A iff the mass
    STRICTLY ABOVE v is < 80% of total (so v is still needed to reach
    80%) — exact integer comparisons on DECIMAL/HUGEINT masses, no
    percentage float anywhere.  The mass above v and the total come
    from queries/deciles.py::running_sum (rule 22, descending) over
    bounded $10k revenue buckets.  Plan: one partkey fact exchange,
    then everything is per-value/bucket bounded.  mass_e4
    outputs saturate BIGINT only past ~$9e14 of revenue per class
    (docstring bound; share_e6 never does)."""
    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.expr(f"SUM({_REV_E4})").alias("s")
    )
    per_value = (
        per_part.groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr("CAST(s AS DECIMAL(38,0)) * COUNT(*)").alias("mass"),
        )
        .localCheckpoint(eager=True)
    )
    cum = running_sum(per_value, "s", ["mass"], _ABC_BUCKET, descending=True)
    classed = cum.select(
        F.when(F.col("mass_before") * 5 < F.col("mass_total") * 4, "A")
        .when(F.col("mass_before") * 20 < F.col("mass_total") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
        "n_parts",
        "mass",
        F.col("mass_total").alias("total"),
    )
    return classed.groupBy("abc_class").agg(
        F.sum("n_parts").cast("long").alias("n_parts"),
        F.sum("mass").cast("long").alias("mass_e4"),
        F.expr("SUM(mass) * 1000000 div MAX(total)")
        .cast("long")
        .alias("share_e6"),
    )


@declared(
    "q_orders_gini_coefficient",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey, SUM({sql_cents("o_totalprice")}) AS x
      FROM orders GROUP BY o_custkey
    ),
    pv AS (
      SELECT x, COUNT(*) AS c FROM cust GROUP BY x
    ),
    cum AS (
      SELECT x, c,
             COALESCE(SUM(c) OVER (ORDER BY x), 0) - c AS cum_less
      FROM pv
    ),
    agg AS (
      SELECT SUM(c) AS n,
             SUM(CAST(x AS HUGEINT) * c) AS sx,
             SUM(CAST(x AS HUGEINT)
                 * (2 * c * cum_less + CAST(c AS HUGEINT) * (c + 1)))
               AS s2
      FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS BIGINT) AS total_cents,
           CAST((s2 - (n + 1) * sx) * 1000000 // NULLIF(n * sx, 0) AS BIGINT)
             AS gini_e6
    FROM agg
    """,
)
def q_orders_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer lifetime revenue: with
    customers ranked ascending by exact cents (ties take their closed-
    form rank-range sum — value-deterministic), the rank-sum identity
    gives gini_e6 = floor((Σ 2·rank·x − (n+1)·Σx)·1e6 / (n·Σx)) — 0
    for perfect equality, →1e6 as one customer takes everything.  The
    strictly-below counts come from queries/deciles.py::running_sum
    (rule 22, bounded spend buckets), so no customer-scale sort exists
    in the plan; Spark carries the products in DECIMAL(38,0), the
    oracle in HUGEINT.  Plan: one custkey fact exchange, then per-value/bucket
    bounded stages."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.expr(f"SUM({sql_cents('o_totalprice')})").alias("x")
    )
    pv = (
        cust.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    cum = running_sum(pv, "x", ["c"], 10_000_000).withColumnRenamed(
        "c_before", "cum_less"
    )
    x38 = "CAST(x AS DECIMAL(38,0))"
    c38 = "CAST(c AS DECIMAL(38,0))"
    agg = cum.agg(
        F.sum("c").alias("n"),
        F.expr(f"SUM({x38} * c)").alias("sx"),
        F.expr(
            f"SUM({x38} * (2 * c * cum_less + {c38} * (c + 1)))"
        ).alias("s2"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        F.expr("(s2 - (n + 1) * sx) * 1000000 div NULLIF(n * sx, 0)")
        .cast("long")
        .alias("gini_e6"),
    )


# portable floor division for a possibly-negative numerator and b > 0:
# plain `div` truncates toward zero in Spark while `//` floors in
# DuckDB; after subtracting the positive mod the numerator divides
# EXACTLY, so either integer-division operator yields the floor —
# and the arithmetic stays integer (a float `/` would round past 2^53)
_FLOOR_DIV = "(({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) {div} ({b})"


@declared(
    "q_orders_theil_sen_trend",
    oracle=f"""
    WITH monthly AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS t,
             SUM({sql_cents("o_totalprice")}) AS cents
      FROM orders GROUP BY year(o_orderdate) * 12 + month(o_orderdate)
    ),
    slopes AS (
      SELECT CAST({_FLOOR_DIV.format(
          a="(CAST(b.cents AS HUGEINT) - a.cents) * 1000000",
          b="b.t - a.t", div="//")}
            AS BIGINT) AS slope_e6
      FROM monthly a JOIN monthly b ON a.t < b.t
    ),
    cum AS (
      SELECT slope_e6,
             COUNT(*) OVER () AS n,
             SUM(1) OVER (ORDER BY slope_e6) AS cumc
      FROM slopes
    )
    SELECT CAST((SELECT COUNT(*) FROM monthly) AS BIGINT) AS n_months,
           CAST(MAX(n) AS BIGINT) AS n_pairs,
           CAST(MIN(CASE WHEN cumc * 2 >= n THEN slope_e6 END)
                AS BIGINT) AS median_slope_e6
    FROM cum
    """,
)
def q_orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust revenue trend: the exact discrete median of the
    pairwise monthly slopes (cents/month floored to micro-units with a
    portable floor-division — `div`/`//` disagree on negative
    numerators), read as the smallest slope with cum·2 >= n.  A single
    corrupted month shifts the OLS line (q_orders_revenue_trend) but
    moves this median by at most one order statistic — the robustness
    law pinned in pytest.  Facts collapse to the bounded monthly table
    first; the all-pairs slope set is a bounded broadcast nested loop
    and its ordered window runs over month-pairs, never rows.  The
    slope arithmetic is widened (DECIMAL(38,0)/HUGEINT) so the
    micro-cent products never crash; the BIGINT output column holds
    exact medians to ~9.2e18 micro-cents/month."""
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("t")
        )
        .agg(F.expr(f"SUM({sql_cents('o_totalprice')})").alias("cents"))
        .localCheckpoint(eager=True)
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    fd = _FLOOR_DIV.format(
        a="(CAST(b.cents AS DECIMAL(38,0)) - a.cents) * 1000000",
        b="b.t - a.t", div="div"
    )
    slopes = a.join(F.broadcast(b), F.col("a.t") < F.col("b.t")).select(
        F.expr(fd).cast("long").alias("slope_e6")
    )
    g = Window.partitionBy()
    cum = slopes.select(
        "slope_e6",
        F.count(F.lit(1)).over(g).alias("n"),
        F.sum(F.lit(1))
        .over(
            Window.orderBy("slope_e6").rangeBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("cumc"),
    )
    n_months = monthly.count()
    return cum.agg(
        F.lit(n_months).cast("long").alias("n_months"),
        F.max("n").cast("long").alias("n_pairs"),
        F.min(
            F.when(F.col("cumc") * 2 >= F.col("n"), F.col("slope_e6"))
        )
        .cast("long")
        .alias("median_slope_e6"),
    )


@declared(
    "q_orders_xyz_parts",
    oracle=f"""
    WITH pm AS (
      SELECT l_partkey,
             year(l_shipdate) * 12 + month(l_shipdate) AS m,
             SUM({sql_cents("l_quantity")}) AS d
      FROM lineitem
      GROUP BY l_partkey, year(l_shipdate) * 12 + month(l_shipdate)
    ),
    per_part AS (
      SELECT l_partkey, COUNT(*) AS n,
             SUM(CAST(d AS HUGEINT)) AS s,
             SUM(CAST(d AS HUGEINT) * d) AS ss
      FROM pm GROUP BY l_partkey
    ),
    classed AS (
      SELECT CASE WHEN 4 * (n * ss - s * s) < s * s THEN 'X'
                  WHEN (n * ss - s * s) < s * s THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM per_part
    )
    SELECT xyz_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(*) * 1000000
                // SUM(COUNT(*)) OVER () AS BIGINT) AS share_e6
    FROM classed GROUP BY xyz_class
    """,
)
def q_orders_xyz_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification of parts over monthly
    shipped quantity: X if cv < 0.5 (4·var_num < s²), Y if cv < 1.0,
    else Z — exact integer cross-multiplied comparisons on
    DECIMAL(38,0)/HUGEINT moments, so the classes survive any scale
    without a float.  Variability is over the months the part actually
    sold (single-month parts are X by convention).  Plan: one
    (partkey, month) fact exchange, one per-part aggregate, one 3-row
    class aggregate."""
    li = table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m"),
    ).agg(F.sum(money_units_long("l_quantity")).alias("d"))
    d38 = "CAST(d AS DECIMAL(38,0))"
    per_part = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM({d38})").alias("s"),
        F.expr(f"SUM({d38} * d)").alias("ss"),
    )
    classed = per_part.select(
        F.when(
            4 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
            < F.col("s") * F.col("s"),
            "X",
        )
        .when(
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
            < F.col("s") * F.col("s"),
            "Y",
        )
        .otherwise("Z")
        .alias("xyz_class")
    )
    w = Window.partitionBy()
    return (
        classed.groupBy("xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            "xyz_class",
            "n_parts",
            F.expr("n_parts * 1000000").alias("_num"),
            F.sum("n_parts").over(w).alias("_den"),
        )
        .select(
            "xyz_class",
            "n_parts",
            F.expr("_num div _den").cast("long").alias("share_e6"),
        )
    )


# ---------------------------------------------------------------------------
# New-vs-returning monthly revenue split
# ---------------------------------------------------------------------------


@declared(
    "q_orders_new_vs_returning",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_totalprice,
             year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    monthly AS (
      SELECT ym,
             COUNT(*) FILTER (WHERE rn = 1) AS n_new_orders,
             COUNT(*) FILTER (WHERE rn > 1) AS n_repeat_orders,
             SUM(CASE WHEN rn = 1
                      THEN CAST(o_totalprice AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS new_rev_d,
             SUM(CASE WHEN rn > 1
                      THEN CAST(o_totalprice AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS repeat_rev_d
      FROM ranked GROUP BY ym
    )
    SELECT ym,
           CAST(n_new_orders AS BIGINT) AS n_new_orders,
           CAST(n_repeat_orders AS BIGINT) AS n_repeat_orders,
           CAST(new_rev_d AS DOUBLE) AS new_revenue,
           CAST(repeat_rev_d AS DOUBLE) AS repeat_revenue,
           CAST(CAST(new_rev_d * 100 AS HUGEINT) * 1000000
                // NULLIF(CAST((new_rev_d + repeat_rev_d) * 100 AS HUGEINT),
                          0) AS BIGINT) AS new_share_e6
    FROM monthly
    """,
)
def q_orders_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split between customer-acquisition (each
    customer's FIRST order — min (o_orderdate, o_orderkey), the
    deterministic tie-break) and returning business, with the
    new-revenue share as an exact e6 quotient of integer cents.  The
    growth-vs-retention dashboard read.  Money through exact
    DECIMAL(18,2) sums cast double at the edge (functions/money.py
    discipline); the share divides CENTS (integers), Spark `div` vs
    DuckDB HUGEINT `//`.  Plan: one window exchange on o_custkey, one
    bounded monthly aggregate."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    money = F.col("o_totalprice").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    ranked = o.select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        F.row_number().over(w).alias("rn"),
        money.alias("price_d"),
    )
    monthly = ranked.groupBy("ym").agg(
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_new_orders"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_repeat_orders"),
        F.sum(
            F.when(F.col("rn") == 1, F.col("price_d")).otherwise(zero)
        ).alias("new_rev_d"),
        F.sum(
            F.when(F.col("rn") > 1, F.col("price_d")).otherwise(zero)
        ).alias("repeat_rev_d"),
    )
    return monthly.select(
        "ym",
        F.col("n_new_orders").cast("long").alias("n_new_orders"),
        F.col("n_repeat_orders").cast("long").alias("n_repeat_orders"),
        F.col("new_rev_d").cast("double").alias("new_revenue"),
        F.col("repeat_rev_d").cast("double").alias("repeat_revenue"),
        (F.col("new_rev_d") * 100).cast(_DEC).alias("_num_c"),
        F.nullif(
            ((F.col("new_rev_d") + F.col("repeat_rev_d")) * 100).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("_den_c"),
    ).select(
        "ym",
        "n_new_orders",
        "n_repeat_orders",
        "new_revenue",
        "repeat_revenue",
        F.expr("(_num_c * 1000000) div _den_c")
        .cast("long")
        .alias("new_share_e6"),
    )


# ---------------------------------------------------------------------------
# Conversion hazard table (discrete survival with right censoring)
# ---------------------------------------------------------------------------


@declared(
    "q_orders_conversion_hazard",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    horizon AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders
    ),
    per_cust AS (
      SELECT f.o_custkey,
             s.d IS NOT NULL AS converted,
             CASE WHEN s.d IS NOT NULL
                  THEN date_diff('day', f.d, s.d) // 7
                  ELSE date_diff('day', f.d, horizon.m) // 7
             END AS wk
      FROM (SELECT * FROM ranked WHERE rn = 1) f
      LEFT JOIN (SELECT * FROM ranked WHERE rn = 2) s USING (o_custkey),
      horizon
    ),
    weekly AS (
      SELECT wk,
             COUNT(*) FILTER (WHERE converted) AS n_convert,
             COUNT(*) FILTER (WHERE NOT converted) AS n_censored
      FROM per_cust GROUP BY wk
    ),
    risk AS (
      SELECT wk, n_convert, n_censored,
             SUM(n_convert + n_censored)
               OVER (ORDER BY wk DESC) AS n_at_risk
      FROM weekly
    )
    SELECT CAST(wk AS BIGINT) AS week,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_convert AS BIGINT) AS n_convert,
           CAST(n_censored AS BIGINT) AS n_censored,
           CAST(CAST(n_convert AS HUGEINT) * 1000000
                // CAST(n_at_risk AS HUGEINT) AS BIGINT) AS hazard_ppm
    FROM risk
    """,
)
def q_orders_conversion_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time conversion hazard of the first→second order gap,
    right-censored at the corpus horizon: per week k since a
    customer's first order, n_at_risk (neither converted nor censored
    before k), conversions, censor drop-outs, and the exact hazard
    n_convert/n_at_risk in ppm.  The censoring-aware retention read —
    a plain average of observed gaps overstates conversion because the
    not-yet-converted contribute nothing.  Identity pinned in tests:
    at_risk(k) = at_risk(k+1) + conv(k) + cens(k), at_risk(min) =
    #customers.  Exactness: day gaps are calendar-exact, weeks are
    `div` 7 (non-negative — rule 27), the hazard is an exact `div`
    quotient.  Plan: one custkey window exchange, a broadcast 1-row
    horizon, a bounded (≤ span/7-row) weekly table whose reverse
    cumulative sum is the only unbounded-frame window (rule 22: it
    never touches customer-grain rows)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    first = ranked.filter(F.col("rn") == 1).select("o_custkey", F.col("d").alias("fd"))
    second = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("d").alias("sd")
    )
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("m"))
    per_cust = (
        first.join(second, "o_custkey", "left")
        .join(F.broadcast(horizon))
        .select(
            F.col("sd").isNotNull().alias("converted"),
            F.when(
                F.col("sd").isNotNull(),
                F.expr("datediff(sd, fd) div 7"),
            )
            .otherwise(F.expr("datediff(m, fd) div 7"))
            .alias("wk"),
        )
    )
    weekly = per_cust.groupBy("wk").agg(
        F.count(F.when(F.col("converted"), 1)).alias("n_convert"),
        F.count(F.when(~F.col("converted"), 1)).alias("n_censored"),
    )
    rev = Window.orderBy(F.desc("wk")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = weekly.select(
        "wk",
        "n_convert",
        "n_censored",
        F.sum(F.col("n_convert") + F.col("n_censored")).over(rev).alias(
            "n_at_risk"
        ),
    )
    return risk.select(
        F.col("wk").cast("long").alias("week"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_convert").cast("long").alias("n_convert"),
        F.col("n_censored").cast("long").alias("n_censored"),
        (F.col("n_convert").cast(_DEC) * F.lit(1000000)).alias("_num"),
        F.col("n_at_risk").cast(_DEC).alias("_den"),
    ).select(
        "week",
        "n_at_risk",
        "n_convert",
        "n_censored",
        F.expr("_num div _den").cast("long").alias("hazard_ppm"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------


@declared(
    "q_orders_seasonal_naive_backtest",
    oracle="""
    WITH monthly AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m_idx,
             year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d
      FROM orders GROUP BY 1, 2
    )
    SELECT cur.ym,
           CAST(cur.rev_d AS DOUBLE) AS actual_revenue,
           CAST(prev.rev_d AS DOUBLE) AS forecast_revenue,
           CAST(abs(CAST(cur.rev_d * 100 AS HUGEINT)
                    - CAST(prev.rev_d * 100 AS HUGEINT)) * 1000000
                // NULLIF(CAST(cur.rev_d * 100 AS HUGEINT), 0) AS BIGINT)
             AS ape_ppm
    FROM monthly cur JOIN monthly prev ON cur.m_idx = prev.m_idx + 12
    """,
)
def q_orders_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backtest of the seasonal-naive forecast (month m's revenue
    predicted by month m−12's — the baseline every real forecasting
    model must beat) over all months with a year-ago observation: per
    month, actual, forecast, and the absolute percentage error as
    exact ppm of integer cents.  The |error| numerator is non-negative
    by construction so the floored quotient is portable (rule 27/30).
    Plan: ONE month-grain aggregate of the fact, then a self-join on
    the linear month index over that bounded (~#months-row) table —
    the fact is touched once."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m_idx"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_d"))
    cur = monthly.select(
        "m_idx", "ym", F.col("rev_d").alias("cur_d")
    )
    prev = monthly.select(
        (F.col("m_idx") + 12).alias("m_idx"), F.col("rev_d").alias("prev_d")
    )
    joined = cur.join(prev, "m_idx")
    return joined.select(
        "ym",
        F.col("cur_d").cast("double").alias("actual_revenue"),
        F.col("prev_d").cast("double").alias("forecast_revenue"),
        F.abs(
            (F.col("cur_d") * 100).cast(_DEC)
            - (F.col("prev_d") * 100).cast(_DEC)
        ).alias("_anum0"),
        F.nullif((F.col("cur_d") * 100).cast(_DEC), F.lit(0).cast(_DEC)).alias(
            "_aden"
        ),
    ).select(
        "ym",
        "actual_revenue",
        "forecast_revenue",
        F.expr("(_anum0 * 1000000) div _aden").cast("long").alias("ape_ppm"),
    )


# ---------------------------------------------------------------------------
# Grouped price elasticity (per-brand OLS of quantity on discount)
# ---------------------------------------------------------------------------


@declared(
    "q_orders_price_elasticity",
    oracle=f"""
    WITH pts AS (
      SELECT p.p_brand,
             {sql_cents("l.l_discount")} AS x,
             {sql_cents("l.l_quantity")} AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    m AS (
      SELECT p_brand,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand,
           CAST(n AS BIGINT) AS n_lines,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS slope,
           CAST(sy * sxx - sx * sxy AS DOUBLE)
             / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS intercept,
           (CAST(n * sxy - sx * sy AS DOUBLE)
              * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
                  * CAST(NULLIF(n * syy - sy * sy, 0) AS DOUBLE)) AS r2
    FROM m
    """,
)
def q_orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount elasticity: a GROUPED ordinary-least-squares
    fit of quantity (cents of units) on discount (cents of rate) — one
    slope/intercept/R² per brand in ONE pass, where q_stats_regression
    fits a single global line.  Exactness: x, y are integer cents, the
    five co-moments accumulate as exact DECIMAL(38,0), and slope /
    intercept / R² are single IEEE divides of exact integers (the
    kendall-tau precedent) — bit-identical across engines.  Scale
    shape: part is the broadcast dim side of the fact join; the
    moment aggregation is partial-combinable (one exchange on brand);
    degenerate brands (constant discount) yield NULL via NULLIF, not a
    crash.  R²'s numerator/denominator multiply IN DOUBLE so no
    decimal-width ceiling appears at any SF."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        money_units_long("l_discount").alias("x"),
        money_units_long("l_quantity").alias("y"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    # widen BEFORE the sum: the oracle's SUM(BIGINT) natively
    # accumulates in HUGEINT, and Spark's 64-bit accumulator would wrap
    # on syy past ~4e11 rows (ANSI off => silently) — the
    # q_orders_value_deciles lesson applied to accumulation
    xd = F.col("x").cast(_DEC)
    yd = F.col("y").cast(_DEC)
    m = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    num = "(n * sxy - sx * sy)"
    den = "NULLIF(n * sxx - sx * sx, CAST(0 AS decimal(38,0)))"
    deny = "NULLIF(n * syy - sy * sy, CAST(0 AS decimal(38,0)))"
    return m.select(
        "p_brand",
        F.col("n").cast("long").alias("n_lines"),
        F.expr(
            f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)"
        ).alias("slope"),
        F.expr(
            f"CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST({den} AS DOUBLE)"
        ).alias("intercept"),
        F.expr(
            f"(CAST({num} AS DOUBLE) * CAST({num} AS DOUBLE))"
            f" / (CAST({den} AS DOUBLE) * CAST({deny} AS DOUBLE))"
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Basket profile (lines-per-order histogram + per-bucket summaries)
# ---------------------------------------------------------------------------


@declared(
    "q_orders_basket_profile",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS HUGEINT) AS n_lines,
             CAST(COUNT(DISTINCT l_partkey) AS HUGEINT) AS n_parts,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS HUGEINT) AS qty_cents
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_parts) * 1000 // COUNT(*) AS BIGINT)
             AS mean_parts_e3,
           CAST(SUM(qty_cents) // COUNT(*) AS BIGINT)
             AS mean_qty_cents
    FROM per_order GROUP BY n_lines
    """,
)
def q_orders_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order histogram with per-bucket mean distinct parts
    (exact e3) and mean quantity cents — the order-size profile, and
    the EVIDENCE behind the co-purchase operators' bounded-basket
    claim: their per-order pair generation is quadratic in exactly
    this distribution's tail, so this is the query a capacity review
    reads first.  Scale shape: the distinct-part count plans as a
    two-level aggregate co-keyed with the orderkey grain ((orderkey,
    partkey) partial exchange, then the orderkey aggregate carrying
    count + exact decimal quantity sum — no Expand), then a
    basket-domain-bounded histogram aggregate: three narrow keyed
    exchanges total.  All quotients are non-negative floors on
    DECIMAL(38,0)/HUGEINT."""
    li = table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum(money_units_long("l_quantity")).alias("qty_cents"),
    )
    return per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(
            "CAST(SUM(CAST(n_parts AS decimal(38,0))) * 1000"
            " div COUNT(*) AS BIGINT)"
        ).alias("mean_parts_e3"),
        F.expr(
            "CAST(SUM(CAST(qty_cents AS decimal(38,0)))"
            " div COUNT(*) AS BIGINT)"
        ).alias("mean_qty_cents"),
    )

