"""Round-10 analytics, batch 12: exact Gini coefficient and Theil-Sen
robust trend.

* **Gini coefficient** — the inequality scalar over customer lifetime
  revenue (q_window_cume_dist draws the Lorenz curve; this is its
  area statistic).  Computed EXACTLY from the rank-sum identity
  G = (2·Σ rank_i·x_i) / (n·Σx) − (n+1)/n, where the rank sums come
  from per-value counts and the rule-22 running sum — no
  global sort of customers, no float until the final floored
  micro-division.  Ties contribute their rank-range sum in closed form
  (c·cum_less + c(c+1)/2 per distinct value), so the statistic is
  value-deterministic.

* **Theil-Sen** — the robust median-of-pairwise-slopes trend of
  monthly revenue, the outlier-immune companion to
  q_orders_revenue_trend's OLS.  Slopes are floored micro-cent/month
  integers (portable floor-division via the positive-mod identity —
  plain `div`/`//` DISAGREE on negatives across engines), and the
  median is the exact discrete order statistic over the bounded
  month-pair set (months are calendar-bounded, so the all-pairs
  comparison is a bounded broadcast nested loop — rule 22's
  bounded-table exemption).

Reference parity: the reference ETL (etl/app.py) has no analytics
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import sql_cents
from datawarehouse1_spark.queries.deciles import running_sum
from datawarehouse1_spark.registry import declared

# ---------------------------------------------------------------- 1.


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


# ---------------------------------------------------------------- 2.

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
