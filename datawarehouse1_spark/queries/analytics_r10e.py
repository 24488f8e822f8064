"""Round-10 analytics, batch 9: supplier concentration (HHI), repeat-
purchase latency, year-over-year customer segment migration, and the
Mann-Whitney U rank test.

* **HHI** — the Herfindahl-Hirschman concentration index of supplier
  revenue within each nation, the market-structure statistic behind
  "is this nation's supply single-sourced?".  Pure rational: revenue
  in exact 1e-4-dollar units, hhi_e6 = floor(Σ s_i² · 1e6 / (Σ s_i)²),
  CR1 (top-supplier share) and the effective supplier count
  1/HHI — all integer outputs (SCALE.md rule 20).

* **Repeat interval** — the distribution of day-gaps between a
  customer's consecutive orders, per market segment: exact discrete
  median/p90 read off a bounded (segment, gap) histogram — never a
  global sort of fact rows (rule 22).

* **Segment migration** — the year-over-year transition matrix of
  customer value bands (low/mid/high by yearly spend, plus 'none' for
  absent years): the churn/upgrade report.  A FULL OUTER join of the
  yearly table with itself shifted one year (both sides shuffle —
  full outer cannot broadcast).

* **Mann-Whitney U** — the nonparametric two-sample test between
  urgent-priority and other orders over order value, computed exactly
  from per-value counts: U counts pairs (a > b) + ties/2, doubled to
  stay integer, via the rule-22 running sum (queries/deciles.py::
  running_sum over bounded value buckets).  The
  effect size AUC = U/(n_a·n_b) is the probability-of-superiority —
  the decision statistic survives in exact micro-units without any
  normal approximation (rule 20).

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

# exact revenue in 1e-4 dollars: price (2dp) x (1 - discount (2dp))
# is an exact 4dp decimal; x10000 makes it an integer in both engines
_REV_E4 = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)"
)

# ---------------------------------------------------------------- 1.


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


# ---------------------------------------------------------------- 2.


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


# ---------------------------------------------------------------- 3.

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


# ---------------------------------------------------------------- 4.

_IS_A = "o_orderpriority IN ('1-URGENT', '2-HIGH')"


@declared(
    "q_stats_mann_whitney",
    oracle=f"""
    WITH vals AS (
      SELECT {sql_cents("o_totalprice")} AS cents,
             CAST({_IS_A} AS INT) AS is_a
      FROM orders
    ),
    pv AS (
      SELECT cents,
             SUM(is_a) AS na, SUM(1 - is_a) AS nb
      FROM vals GROUP BY cents
    ),
    cum AS (
      SELECT cents, na, nb,
             COALESCE(SUM(nb) OVER (ORDER BY cents), 0) - nb AS cumb_less
      FROM pv
    )
    SELECT CAST(SUM(na) AS BIGINT) AS n_a,
           CAST(SUM(nb) AS BIGINT) AS n_b,
           CAST(SUM(na * (2 * cumb_less + nb)) AS BIGINT) AS u2_a,
           CAST(2 * SUM(na) * SUM(nb)
                - SUM(na * (2 * cumb_less + nb)) AS BIGINT) AS u2_b,
           CAST(SUM(na * (2 * cumb_less + nb)) * 1000000
                // (2 * SUM(na) * SUM(nb)) AS BIGINT) AS auc_a_e6
    FROM cum
    """,
)
def q_stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between urgent-priority (1-URGENT/2-HIGH) and
    other orders over exact order-value cents, computed from per-value
    counts: u2_a = 2·U_A = Σ_v na(v)·(2·#{b < v} + nb(v)) — doubled so
    half-credit ties stay integer.  AUC = U_A/(n_a·n_b), the
    probability a random A order exceeds a random B order, in floored
    micro-units — the rank test's effect size with no normal
    approximation or transcendental anywhere (rule 20).  The strictly-
    below counts come from queries/deciles.py::running_sum (rule 22)
    over $10k value buckets, bounded by the price domain.  Law pinned:
    u2_a + u2_b == 2·n_a·n_b.  u2 sums ride DECIMAL(38,0) (ADVICE
    r10): exact far past the BIGINT ~4.6e18 bound, and if the final
    long cast ever saturates it yields NULL — loud, never a silently
    wrapped value diverging from the HUGEINT oracle."""
    o = table(spark, sf_dir, "orders")
    vals = o.select(
        F.expr(sql_cents("o_totalprice")).alias("cents"),
        F.expr(f"CAST({_IS_A} AS INT)").alias("is_a"),
    )
    # the per-value count table feeds BOTH levels of the running sum:
    # checkpoint it (rule 12) so the fact scan + value aggregate run
    # once; its size is bounded by the VALUE DOMAIN (distinct cents),
    # not the row count (rule 22)
    pv = (
        vals.groupBy("cents")
        .agg(
            F.sum("is_a").alias("na"),
            F.sum(1 - F.col("is_a")).alias("nb"),
        )
        .localCheckpoint(eager=True)
    )
    cum = running_sum(pv, "cents", ["nb"], 1_000_000).withColumnRenamed(
        "nb_before", "cumb_less"
    )
    # ADVICE r10: the u2 summand rides DECIMAL(38,0) (like auc_a_e6's
    # numerator) rather than BIGINT — past the ~4.6e18 n_a·n_b bound,
    # non-ANSI Spark would wrap a BIGINT product silently while the
    # DuckDB oracle stays exact in HUGEINT; DECIMAL saturation yields
    # NULL (loud) instead of a plausible wrong number.
    d = "SUM(CAST(na AS DECIMAL(38,0)) * (2 * cumb_less + nb))"
    return cum.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.expr(d).cast("long").alias("u2_a"),
        F.expr(
            f"CAST(2 AS DECIMAL(38,0)) * SUM(na) * SUM(nb) - {d}"
        )
        .cast("long")
        .alias("u2_b"),
        F.expr(
            f"{d} * 1000000 div (CAST(2 AS DECIMAL(38,0)) * SUM(na) * SUM(nb))"
        )
        .cast("long")
        .alias("auc_a_e6"),
    )
