"""Statistical tests and model-quality metrics over the TPC-H tables and
`documents`.

* descriptive: moments, deterministic mode, winsorized and MAD
  outlier summaries, Benford first digits;
* two-sample and rank tests: Welch t, Mann-Whitney, Kendall tau,
  Spearman rho, Kruskal-Wallis, Brown-Forsythe;
* association: Cramér's V, eta squared;
* score quality: ROC-AUC, calibration bins, Brier decomposition,
  precision/recall threshold sweeps, cumulative gains;
* privacy: k-anonymity / l-diversity risk.

Every statistic is computed from exact integer or DECIMAL sums and a
final integer scaling (floor(x * 1e6) and the like), so Spark and
DuckDB agree bit for bit; ranks and CDFs come from
`deciles.running_sum`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_units_long, sql_cents
from datawarehouse1_spark.functions.money import DEC38 as _DEC
from datawarehouse1_spark.functions.money import TOTALPRICE_CENTS as _CENTS
from datawarehouse1_spark.functions.money import exact_floor_div as _exact_floor_div
from datawarehouse1_spark.queries.deciles import (
    decile_bounds,
    decile_bounds_sql,
    decile_expr_sql,
    running_sum,
)
from datawarehouse1_spark.registry import declared
from datawarehouse1_spark.state_memo import rotate_checkpoint


@declared(
    "q_stats_winsorized",
    oracle="""
    WITH bounds AS (
      SELECT o_orderpriority,
             quantile_disc(o_totalprice, 0.05) AS lo,
             quantile_disc(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(CASE WHEN o.o_totalprice < b.lo
                             OR o.o_totalprice > b.hi THEN 1 END) AS BIGINT)
             AS n_clipped,
           CAST(SUM(CAST(
                 CASE WHEN o.o_totalprice < b.lo THEN b.lo
                      WHEN o.o_totalprice > b.hi THEN b.hi
                      ELSE o.o_totalprice END AS DECIMAL(18,2)))
                AS DOUBLE) / COUNT(*) AS winsorized_mean
    FROM orders o JOIN bounds b ON o.o_orderpriority = b.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def q_stats_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per priority class — the robust-statistics
    variant of the plain average (clip to the exact p05/p95 ORDER
    STATISTICS, then mean). percentile_disc returns an actual data
    value (no interpolation), so both engines pick the identical
    bound; the clipped sum goes through the exact-decimal money path.
    Two passes over orders: a per-group bounds aggregate (broadcast
    back — group count is tiny) and the clipped aggregate. The
    quality-filter analog in a curation pipeline: robust corpus stats
    that one garbage document cannot drag."""
    o = table(spark, sf_dir, "orders")
    bounds = o.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("lo"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("hi"),
    )
    clipped = (
        F.when(F.col("o_totalprice") < F.col("lo"), F.col("lo"))
        .when(F.col("o_totalprice") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("o_totalprice"))
    )
    return (
        o.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(
                F.when(
                    (F.col("o_totalprice") < F.col("lo"))
                    | (F.col("o_totalprice") > F.col("hi")),
                    1,
                )
            ).alias("n_clipped"),
            (
                F.sum(clipped.cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsorized_mean"),
        )
    )


@declared(
    "q_stats_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority,
             quantile_disc(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT o.o_orderpriority, m.med,
             abs(o.o_totalprice - m.med) AS abs_dev
      FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
    ),
    mad AS (
      SELECT o_orderpriority, quantile_disc(abs_dev, 0.5) AS mad
      FROM dev GROUP BY o_orderpriority
    )
    SELECT d.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           d.med, a.mad,
           CAST(COUNT(CASE WHEN d.abs_dev > CAST(3.0 AS DOUBLE) * a.mad
                           THEN 1 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a ON d.o_orderpriority = a.o_orderpriority
    GROUP BY d.o_orderpriority, d.med, a.mad
    """,
)
def q_stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier flags per priority class — the
    robust companion to q_stats_winsorized (which owns the clipped
    mean). Both the median and the MAD are exact DISCRETE order
    statistics (percentile_disc picks an actual data value, so both
    engines agree bitwise), the deviations are plain double arithmetic
    on identical inputs, and the 3×MAD gate compares those exact
    doubles. Two tiny per-group aggregates broadcast back over one
    orders scan shape — same plan family as the winsorized query."""
    o = table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("med")
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").withColumn(
        "abs_dev", F.abs(F.col("o_totalprice") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY abs_dev)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(
                F.when(F.col("abs_dev") > F.lit(3.0) * F.col("mad"), 1)
            ).alias("n_outliers"),
        )
        .select("o_orderpriority", "n_orders", "med", "mad", "n_outliers")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates
# ---------------------------------------------------------------------------


@declared(
    "q_stats_moments",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS qty_stddev,
           round(var_samp(l_quantity), 6)    AS qty_var,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment battery (stddev/variance/correlation) per return
    flag. Rounded to 6 dp: both engines use numerically-stable one-pass
    co-moment updates whose float noise lives far below 1e-6 for this
    data's magnitudes. Single scan, partial-aggregated."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@declared(
    "q_stats_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
      SELECT l_returnflag, l_quantity, cnt,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY cnt DESC, l_quantity) AS rnk
      FROM counts
    )
    SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_count
    FROM ranked WHERE rnk = 1
    """,
)
def q_stats_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group with a DETERMINISTIC tie-break (smallest
    value wins) — both engines' native mode() picks an arbitrary tied
    winner, which can never hash-match, so the mode is expressed as
    count + rank. Two chained aggregations: the second input is one row
    per distinct (group, value), tiny vs the fact table."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.asc("l_quantity")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("cnt").alias("mode_count"),
        )
    )


_CENTS38 = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"


@declared(
    "q_stats_welch_ttest",
    oracle=f"""
    WITH sums AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS n_a,
        CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 <> 0) AS BIGINT) AS n_b,
        CAST(SUM({_CENTS38}) FILTER (WHERE o_orderkey % 2 = 0)
             AS DOUBLE) AS s_a,
        CAST(SUM({_CENTS38}) FILTER (WHERE o_orderkey % 2 <> 0)
             AS DOUBLE) AS s_b,
        CAST(SUM({_CENTS38} * {_CENTS38}) FILTER (WHERE o_orderkey % 2 = 0)
             AS DOUBLE) AS q_a,
        CAST(SUM({_CENTS38} * {_CENTS38}) FILTER (WHERE o_orderkey % 2 <> 0)
             AS DOUBLE) AS q_b
      FROM orders
    )
    SELECT n_a, n_b,
           round((s_a / n_a - s_b / n_b)
                 / sqrt((q_a - s_a * (s_a / n_a)) / (n_a - 1) / n_a
                        + (q_b - s_b * (s_b / n_b)) / (n_b - 1) / n_b)
                 , 6) AS t6,
           round((s_a / n_a - s_b / n_b) / 100, 2) AS mean_diff_dollars
    FROM sums
    """,
)
def q_stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic between the even/odd orderkey
    halves of o_totalprice (the same A/B split the drift battery
    uses) — the hypothesis-testing rung between the chi-square
    (categorical) and KS (distributional) reports. All moments are
    EXACT integer-cents sums (DECIMAL(38,0)); the t statistic then
    assembles with a fixed parenthesization of IEEE double ops that
    both engines evaluate identically, rounded to 6dp. ONE exchange:
    a single partial-aggregated scan collects all six moments (the
    FILTER clauses fold into one aggregate). A true A/B difference in
    means shows as |t| >> 2; the staged halves of a uniform synthetic
    table sit near 0."""
    o = table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(_DEC)
    even = F.col("o_orderkey") % 2 == 0
    sums = o.agg(
        F.count(F.when(even, 1)).alias("n_a"),
        F.count(F.when(~even, 1)).alias("n_b"),
        F.sum(F.when(even, cents)).cast("double").alias("s_a"),
        F.sum(F.when(~even, cents)).cast("double").alias("s_b"),
        F.sum(F.when(even, cents * cents)).cast("double").alias("q_a"),
        F.sum(F.when(~even, cents * cents)).cast("double").alias("q_b"),
    )
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_term_a = (
        (F.col("q_a") - F.col("s_a") * mean_a)
        / (F.col("n_a") - 1)
        / F.col("n_a")
    )
    var_term_b = (
        (F.col("q_b") - F.col("s_b") * mean_b)
        / (F.col("n_b") - 1)
        / F.col("n_b")
    )
    return sums.select(
        "n_a",
        "n_b",
        F.round(
            (mean_a - mean_b) / F.sqrt(var_term_a + var_term_b), 6
        ).alias("t6"),
        F.round((mean_a - mean_b) / 100, 2).alias("mean_diff_dollars"),
    )


# floor(1e6 * log10(1 + 1/d)) for d = 1..9 — Benford's law expected
# first-digit shares in micro-units (fixed public constants, embedded
# verbatim in both twins so no engine evaluates a log).
_BENFORD_E6 = (301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757)

_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({v} AS BIGINT)" for d, v in enumerate(_BENFORD_E6, 1)
) + " END"


@declared(
    "q_stats_benford_first_digit",
    oracle=f"""
    WITH cents AS (
      SELECT {_CENTS} AS c FROM orders WHERE o_totalprice > 0
    ),
    d AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM cents
    ),
    counts AS (
      SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY digit
    ),
    shares AS (
      SELECT digit, n_orders,
             CAST(n_orders * 1000000 // SUM(n_orders) OVER () AS BIGINT)
               AS share_e6
      FROM counts
    )
    SELECT digit, n_orders, share_e6,
           {_BENFORD_CASE_SQL} AS expected_e6,
           share_e6 - {_BENFORD_CASE_SQL} AS excess_e6
    FROM shares
    """,
)
def q_stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    fraud / synthetic-data screen: organically-grown amounts follow
    P(d) = log10(1+1/d); fabricated ones usually don't. The first
    significant digit is read off the EXACT integer cents (first digit
    of cents == first significant digit of the amount for anything
    >= $0.01), so no float formatting is involved; observed shares are
    floored micro-units and the expected shares are fixed public
    constants embedded verbatim in both twins. Plan: one fact scan
    partial-aggregates to <=9 digit rows; the total-over-window and
    the expectation lookup run on that 9-row table (the unpartitioned
    window is bounded by construction — SCALE.md rule 22 shape)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.substring(F.expr(_CENTS).cast("string"), 1, 1).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    shares = counts.withColumn(
        "share_e6",
        F.expr("n_orders * 1000000 div sum(n_orders) OVER ()").cast("long"),
    )
    expected = F.expr(_BENFORD_CASE_SQL)
    return shares.select(
        "digit",
        "n_orders",
        "share_e6",
        expected.alias("expected_e6"),
        (F.col("share_e6") - expected).alias("excess_e6"),
    )


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


@declared(
    "q_stats_kendall_tau",
    oracle=f"""
    WITH ny AS (
      SELECT c.c_nationkey AS nk,
             SUM(CASE WHEN year(o.o_orderdate) = 1995
                      THEN {sql_cents("o.o_totalprice")} ELSE 0 END) AS c95,
             SUM(CASE WHEN year(o.o_orderdate) = 1996
                      THEN {sql_cents("o.o_totalprice")} ELSE 0 END) AS c96
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE year(o.o_orderdate) IN (1995, 1996)
      GROUP BY c.c_nationkey
    ),
    ranked AS (
      SELECT n.n_name,
             ROW_NUMBER() OVER (ORDER BY ny.c95 DESC, n.n_name) AS r95,
             ROW_NUMBER() OVER (ORDER BY ny.c96 DESC, n.n_name) AS r96
      FROM ny JOIN nation n ON n.n_nationkey = ny.nk
    ),
    pairs AS (
      SELECT CAST((a.r95 - b.r95) * (a.r96 - b.r96) > 0 AS INT) AS conc
      FROM ranked a JOIN ranked b ON a.n_name < b.n_name
    )
    SELECT CAST((SELECT COUNT(*) FROM ranked) AS BIGINT) AS n_entities,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS concordant,
           CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant,
           CAST(CAST(2 * SUM(conc) - COUNT(*) AS DOUBLE) / COUNT(*)
                AS DOUBLE) AS tau
    FROM pairs
    """,
)
def q_stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a between the 1995 and 1996 nation revenue rankings:
    facts collapse to one (nation, year-pair) cents aggregate; ranks
    are row_numbers over the BOUNDED nation table (ties broken by
    name, so ranks are total orders and tau-a applies exactly);
    concordance is counted over the bounded all-pairs broadcast nested
    loop (n(n-1)/2 pairs of a dimension, never of facts).  tau =
    (C - D) / n_pairs is the one IEEE division in the query — C, D,
    and the pair count are exact integers."""
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cents = sql_cents("o_totalprice")
    ny = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.expr(
                f"SUM(CASE WHEN year(o_orderdate) = 1995 THEN {cents}"
                " ELSE 0 END)"
            ).alias("c95"),
            F.expr(
                f"SUM(CASE WHEN year(o_orderdate) = 1996 THEN {cents}"
                " ELSE 0 END)"
            ).alias("c96"),
        )
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ranked = (
        ny.join(F.broadcast(n), ny.nk == n.n_nationkey)
        .select(
            "n_name",
            F.row_number()
            .over(Window.orderBy(F.col("c95").desc(), "n_name"))
            .alias("r95"),
            F.row_number()
            .over(Window.orderBy(F.col("c96").desc(), "n_name"))
            .alias("r96"),
        )
        .localCheckpoint(eager=True)
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.n_name") < F.col("b.n_name")
    ).select(
        (
            (F.col("a.r95") - F.col("b.r95"))
            * (F.col("a.r96") - F.col("b.r96"))
            > 0
        )
        .cast("int")
        .alias("conc")
    )
    n_entities = ranked.count()
    return pairs.agg(
        F.lit(n_entities).cast("long").alias("n_entities"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        (F.count(F.lit(1)) - F.sum("conc")).cast("long").alias("discordant"),
        (
            (2 * F.sum("conc") - F.count(F.lit(1))).cast("double")
            / F.count(F.lit(1))
        )
        .cast("double")
        .alias("tau"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (exact, tie-corrected via average ranks)
# ---------------------------------------------------------------------------

# (x, y, bucket width of x in cents, bucket width of y in cents)
_SPEARMAN_PAIRS = (
    ("l_quantity", "l_extendedprice", 1_000, 2_500_000),
    ("l_discount", "l_tax", 2, 2),
)


def _spearman_ctes_sql(i: int, x: str, y: str) -> str:
    """One pair's CTE chain, name-suffixed so all pairs share a single
    top-level WITH (DuckDB rejects WITH inside UNION ALL arms)."""
    return f"""
    joint_{i} AS (
      SELECT {sql_cents(x)} AS xv, {sql_cents(y)} AS yv,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    rx_{i} AS (
      SELECT v AS xv,
             2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2x
      FROM (SELECT xv AS v, SUM(cnt) AS c FROM joint_{i} GROUP BY xv)
    ),
    ry_{i} AS (
      SELECT v AS yv,
             2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2y
      FROM (SELECT yv AS v, SUM(cnt) AS c FROM joint_{i} GROUP BY yv)
    ),
    s_{i} AS (
      SELECT CAST(SUM(cnt) AS DECIMAL(38,0)) AS n,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2x) AS sx,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2y) AS sy,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2x * r2x) AS sxx,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2y * r2y) AS syy,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2x * r2y) AS sxy
      FROM joint_{i} JOIN rx_{i} USING (xv) JOIN ry_{i} USING (yv)
    )"""


def _spearman_select_sql(i: int, x: str, y: str) -> str:
    return f"""
    SELECT '{x}' AS col_x, '{y}' AS col_y,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0))
                 / sqrt(NULLIF(CAST(n * syy - sy * sy AS DOUBLE), 0)), 6)
             AS rho6
    FROM s_{i}"""


@declared(
    "q_stats_spearman_rho",
    oracle="WITH "
    + ",".join(
        _spearman_ctes_sql(i, x, y)
        for i, (x, y, _, _) in enumerate(_SPEARMAN_PAIRS)
    )
    + "\nUNION ALL\n".join(
        _spearman_select_sql(i, x, y)
        for i, (x, y, _, _) in enumerate(_SPEARMAN_PAIRS)
    ),
)
def q_stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation over lineitem measure pairs — the
    outlier-robust monotone-association twin of q_stats_corr_matrix.
    Exactness: average ranks travel as the integer 2r = 2·cnt_less +
    cnt_eq + 1 (the ·2 cancels in Pearson's r), co-moments accumulate
    as exact DECIMAL(38,0), and the only float ops are the final
    cast/divide/sqrt/round — both engines emit the identical rho6.
    Scale shape: each lineitem row posexplodes into one (pair-id, xv,
    yv) struct per declared pair, so every pair shares each pass and
    each exchange (the r14 merge; it was one scan and exchange PER
    pair). Two passes over the fact: a map-side-combined x marginal,
    bounded by the x domains, and the (pid, yv) y marginal with the
    x-moment partials folded in, which is checkpointed. Both ranks
    come from queries/deciles.py::running_sum grouped by pid (rule 22:
    only bounded per-pid bucket summaries cross a window), with the
    per-pair bucket widths in a literal array indexed by pair id. Only
    the BOUNDED x-rank table is ever broadcast (r17, VERDICT r16 #4).
    The oracle text is unchanged (per-pair CTE chains); the hash match
    pins the rewrite."""
    li = table(spark, sf_dir, "lineitem")
    # one (pid, xv, yv) row per fact row and declared pair
    pairs = li.select(
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        money_units_long(x).alias("xv"),
                        money_units_long(y).alias("yv"),
                    )
                    for x, y, _, _ in _SPEARMAN_PAIRS
                ]
            )
        ).alias("pid", "s")
    ).select("pid", F.col("s.xv").alias("xv"), F.col("s.yv").alias("yv"))
    wx_arr = F.array(*[F.lit(wx) for _, _, wx, _ in _SPEARMAN_PAIRS])
    wy_arr = F.array(*[F.lit(wy) for _, _, _, wy in _SPEARMAN_PAIRS])
    mx = pairs.groupBy("pid", F.col("xv").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # x ranks: the x columns are DOMAIN-BOUNDED (l_quantity 1..50,
    # l_discount 0.00..0.10 → ≤ ~61 distinct cents values across all
    # pairs at ANY corpus scale), so the x-rank table broadcasts by
    # construction — made explicit so a production size estimate can
    # never flip it to a shuffle join (guide §3.1).
    rx = running_sum(
        mx, "v", ["c"], F.element_at(wx_arr, F.col("pid") + 1), by=["pid"]
    ).select(
        "pid",
        F.col("v").alias("xv"),
        (2 * F.col("c_before") + F.col("c") + 1).cast("long").alias("r2x"),
    )
    # The y ranks run on the (pid, yv)-grain y marginal with the
    # x-moment partial sums folded into the same aggregation: the
    # unbounded y-rank table is never broadcast or joined back (pair
    # 0's y, l_extendedprice, is near-unique, so that join would be
    # FACT-GRAIN). Exactness is reassociation only: Σ_rows f(r2x)·g(r2y)
    # = Σ_yv g(r2y)·(Σ_rows of yv f(r2x)) with every sum exact
    # DECIMAL(38,0) — the six moments are value-identical, so rho6 is
    # bit-identical (oracle hash-match pins it at 3 SFs).
    r2x = F.col("r2x").cast(_DEC)
    ty = (
        pairs.join(F.broadcast(rx), ["pid", "xv"])
        .groupBy("pid", "yv")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(r2x).alias("sxc"),
            F.sum(r2x * r2x).alias("sxxc"),
        )
    )
    # rule 12: both levels of the y running sum read ty; materializing
    # it keeps the fact scan, the x-rank join and the (pid, yv)
    # aggregate from running twice. NOTE pair 0's ty is fact-grain
    # (extendedprice is near-unique), so the checkpoint is bounded by
    # min(fact, |domain_y|) — at 100 TB prefer persist(DISK_ONLY)
    # semantics if executor storage is tight; the plan shape is
    # unchanged. rotate_checkpoint (ADVICE r14): each re-invocation in
    # a long-lived session unpersists the previous invocation's blocks.
    ty = rotate_checkpoint(ty, "spearman_ty")
    ranked = running_sum(
        ty, "yv", ["c"], F.element_at(wy_arr, F.col("pid") + 1), by=["pid"]
    ).select(
        "pid",
        "c",
        "sxc",
        "sxxc",
        (2 * F.col("c_before") + F.col("c") + 1).cast("long").alias("r2y"),
    )
    cy = F.col("c").cast(_DEC)
    s = ranked.groupBy("pid").agg(
        F.sum(cy).alias("n"),
        F.sum("sxc").alias("sx"),
        F.sum(cy * F.col("r2y")).alias("sy"),
        F.sum("sxxc").alias("sxx"),
        F.sum(cy * F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("sxc") * F.col("r2y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        ),
        F.lit(0.0),
    )
    dy = F.nullif(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        ),
        F.lit(0.0),
    )
    names_x = F.array(*[F.lit(x) for x, _, _, _ in _SPEARMAN_PAIRS])
    names_y = F.array(*[F.lit(y) for _, y, _, _ in _SPEARMAN_PAIRS])
    return s.select(
        F.element_at(names_x, F.col("pid") + 1).alias("col_x"),
        F.element_at(names_y, F.col("pid") + 1).alias("col_y"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / F.sqrt(dx) / F.sqrt(dy), 6).alias("rho6"),
    )


# ---------------------------------------------------------------------------
# ROC-AUC of a score vs a binary label, per group (rank-sum identity)
# ---------------------------------------------------------------------------


@declared(
    "q_quality_auc_by_source",
    oracle="""
    WITH pv AS (
      SELECT source, n_chars,
             COUNT(*) FILTER (WHERE coalesce(lang, '') = 'en') AS p,
             COUNT(*) FILTER (WHERE coalesce(lang, '') <> 'en') AS q
      FROM documents GROUP BY source, n_chars
    ),
    r AS (
      SELECT source, p, q,
             2 * (SUM(p + q) OVER (PARTITION BY source ORDER BY n_chars)
                  - (p + q)) + (p + q) + 1 AS r2
      FROM pv
    ),
    s AS (
      SELECT source,
             CAST(SUM(p) AS DECIMAL(38,0)) AS n1,
             CAST(SUM(q) AS DECIMAL(38,0)) AS n0,
             SUM(CAST(p AS DECIMAL(38,0)) * r2) AS s2r
      FROM r GROUP BY source
    )
    SELECT source,
           CAST(n1 AS BIGINT) AS n_pos,
           CAST(n0 AS BIGINT) AS n_neg,
           CAST(CAST((s2r - n1 * (n1 + 1)) * 500000 AS HUGEINT)
                // NULLIF(CAST(n1 * n0 AS HUGEINT), 0) AS BIGINT) AS auc_e6
    FROM s
    """,
)
def q_quality_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC-AUC of document length predicting the English
    label — the standard "is this signal predictive?" evaluation a
    curation pipeline runs on every candidate quality score.  Uses the
    rank-sum identity AUC = U/(n1·n0) with tie-corrected average ranks
    carried as integer 2r, so auc_e6 = (Σ_pos 2r − n1(n1+1))·5e5 //
    (n1·n0) is exact in both engines (numerator provably ≥ 0: any n1
    ranks sum to at least n1(n1+1)/2 — rule 27's happy path).  Scale:
    one exchange to the (source, score) grain; within-source rank
    cumsum is two-level per rule 22 (score buckets parallel, only the
    per-source bucket summary crosses a window); NULLIF guards the
    single-class degenerate source."""
    d = table(spark, sf_dir, "documents")
    is_en = F.coalesce(F.col("lang"), F.lit("")) == "en"
    pv = d.groupBy("source", "n_chars").agg(
        F.count(F.when(is_en, 1)).alias("p"),
        F.count(F.when(~is_en, 1)).alias("q"),
    )
    ranked = running_sum(
        pv.withColumn("pq", F.col("p") + F.col("q")),
        "n_chars",
        ["pq"],
        1024,
        by=["source"],
    ).select(
        "source",
        "p",
        "q",
        (2 * F.col("pq_before") + F.col("pq") + 1).cast(_DEC).alias("r2"),
    )
    s = ranked.groupBy("source").agg(
        F.sum("p").cast(_DEC).alias("n1"),
        F.sum("q").cast(_DEC).alias("n0"),
        F.sum(F.col("p").cast(_DEC) * F.col("r2")).alias("s2r"),
    )
    # exact integral division (`div` / HUGEINT `//`), NOT
    # floor(decimal `/`): Spark's decimal divide rounds HALF_UP at the
    # result scale before the floor, and DuckDB's DECIMAL `//` rounds
    # too — an off-by-one when the true quotient sits near an integer.
    # Numerator >= 0 by the rank-sum bound (rule 27 happy path).
    return s.select(
        "source",
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        ((F.col("s2r") - F.col("n1") * (F.col("n1") + 1)) * F.lit(500000))
        .cast(_DEC)
        .alias("_num"),
        F.nullif(F.col("n1") * F.col("n0"), F.lit(0).cast(_DEC)).alias("_den"),
    ).select(
        "source",
        "n_pos",
        "n_neg",
        F.expr("_num div _den").cast("long").alias("auc_e6"),
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy risk report
# ---------------------------------------------------------------------------


@declared(
    "q_privacy_k_anonymity",
    oracle="""
    WITH cls AS (
      SELECT c_mktsegment, c_nationkey,
             COUNT(*) AS s,
             COUNT(DISTINCT CAST(c_acctbal < 0 AS INT)) AS ldiv
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    rep AS (
      SELECT (length(bin(s)) - 1) AS size_log2,
             CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(SUM(s) AS BIGINT) AS n_rows,
             CAST(MIN(s) AS BIGINT) AS min_size,
             CAST(SUM(CASE WHEN s < 5 THEN s ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             CAST(MIN(ldiv) AS BIGINT) AS min_l_div
      FROM cls GROUP BY 1
    )
    SELECT size_log2, n_classes, n_rows,
           CAST(CAST(n_rows AS HUGEINT) * 1000000
                // SUM(CAST(n_rows AS HUGEINT)) OVER ()
                AS BIGINT) AS rows_ppm,
           min_size, n_rows_at_risk, min_l_div
    FROM rep
    """,
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk profile of the (mktsegment, nationkey)
    quasi-identifier over customer: equivalence-class sizes histogram
    in floor-log2 buckets (length(bin(s))-1 — pure integer, no libm,
    the q_text_zipf_fit device), rows in classes below the k=5
    re-identification threshold, and the worst l-diversity of the
    delinquency flag (distinct sensitive values per class) in each
    bucket.  The privacy gate a pipeline reads before releasing
    user-derived training data.  Plan: one exchange to the QI grain
    (count-distinct of the binary flag stays inside the same
    aggregate), a ≤~15-row log2 histogram, and a window only over that
    bounded histogram for the ppm shares (numerators positive —
    rule 27 happy path)."""
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("s"),
        F.countDistinct((F.col("c_acctbal") < 0).cast("int")).alias("ldiv"),
    )
    rep = (
        cls.select(
            (F.length(F.bin(F.col("s"))) - 1).alias("size_log2"),
            "s",
            "ldiv",
        )
        .groupBy("size_log2")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("s").alias("n_rows"),
            F.min("s").alias("min_size"),
            F.sum(F.when(F.col("s") < 5, F.col("s")).otherwise(0)).alias(
                "n_rows_at_risk"
            ),
            F.min("ldiv").alias("min_l_div"),
        )
    )
    total = Window.partitionBy()
    return rep.select(
        "size_log2",
        "n_classes",
        "n_rows",
        (F.col("n_rows").cast(_DEC) * F.lit(1000000)).alias("_num"),
        F.sum(F.col("n_rows").cast(_DEC)).over(total).alias("_den"),
        "min_size",
        "n_rows_at_risk",
        "min_l_div",
    ).select(
        "size_log2",
        "n_classes",
        "n_rows",
        # exact `div`, not floor(decimal `/`) — see q_quality_auc_by_source
        F.expr("_num div _den").cast("long").alias("rows_ppm"),
        "min_size",
        "n_rows_at_risk",
        "min_l_div",
    )


# ---------------------------------------------------------------------------
# Quality-score calibration bins
# ---------------------------------------------------------------------------

_CAL_BIN = 512  # chars per calibration bin


@declared(
    "q_quality_calibration_bins",
    oracle=f"""
    WITH bins AS (
      SELECT (n_chars // {_CAL_BIN}) * {_CAL_BIN} AS bin_lo,
             COUNT(*) AS n_docs,
             COUNT(*) FILTER (WHERE coalesce(lang, '') = 'en') AS n_en
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT SUM(n_docs) AS td, SUM(n_en) AS te FROM bins
    )
    SELECT bin_lo,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_en AS BIGINT) AS n_en,
           CAST(CAST(n_en AS HUGEINT) * 1000000 // n_docs AS BIGINT)
             AS en_rate_ppm,
           CAST(CAST(n_en AS HUGEINT) * td * 1000000
                // NULLIF(CAST(n_docs AS HUGEINT) * te, 0) AS BIGINT)
             AS lift_e6
    FROM bins, tot
    """,
)
def q_quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve for the length→English quality signal — the
    threshold-choosing companion to q_quality_auc_by_source: per
    512-char score bin, the label rate (exact ppm) and its lift over
    the corpus base rate (exact e6, NULL when the base rate is zero).
    AUC ranks the signal; this table says where to CUT it.  Plan: one
    exchange to the bounded bin grain; the totals window runs over
    that ≤~40-row table only."""
    d = table(spark, sf_dir, "documents")
    is_en = F.coalesce(F.col("lang"), F.lit("")) == "en"
    bins = d.groupBy(
        # exact integer bucketing (n_chars >= 0, div == floor) — never
        # float-divide-then-floor
        F.expr(f"(n_chars div {_CAL_BIN}) * {_CAL_BIN}").alias("bin_lo")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(is_en, 1)).alias("n_en"),
    )
    tot = Window.partitionBy()
    return bins.select(
        "bin_lo",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_en").cast("long").alias("n_en"),
        (F.col("n_en").cast(_DEC) * F.lit(1000000)).alias("_rnum"),
        F.col("n_docs").cast(_DEC).alias("_rden"),
        (
            F.col("n_en").cast(_DEC)
            * F.sum(F.col("n_docs").cast(_DEC)).over(tot)
            * F.lit(1000000)
        ).alias("_lnum"),
        F.nullif(
            F.col("n_docs").cast(_DEC)
            * F.sum(F.col("n_en").cast(_DEC)).over(tot),
            F.lit(0).cast(_DEC),
        ).alias("_lden"),
    ).select(
        "bin_lo",
        "n_docs",
        "n_en",
        F.expr("_rnum div _rden").cast("long").alias("en_rate_ppm"),
        F.expr("_lnum div _lden").cast("long").alias("lift_e6"),
    )


# ---------------------------------------------------------------------------
# Cramér's V (categorical association effect size)
# ---------------------------------------------------------------------------


@declared(
    "q_stats_cramers_v",
    oracle="""
    WITH obs AS (
      SELECT c_mktsegment AS a, c_nationkey AS b, COUNT(*) AS o
      FROM customer GROUP BY 1, 2
    ),
    ra AS (SELECT a, SUM(o) AS r FROM obs GROUP BY a),
    cb AS (SELECT b, SUM(o) AS c FROM obs GROUP BY b),
    n AS (SELECT SUM(o) AS n FROM obs),
    grid AS (
      SELECT ra.a, cb.b, ra.r, cb.c, coalesce(obs.o, 0) AS o
      FROM ra CROSS JOIN cb
      LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b
    ),
    terms AS (
      SELECT (CAST(o AS HUGEINT) * n.n - CAST(r AS HUGEINT) * c)
             * (CAST(o AS HUGEINT) * n.n - CAST(r AS HUGEINT) * c)
             * 1000000
             // (n.n * CAST(r AS HUGEINT) * c) AS t,
             n.n AS n
      FROM grid, n
    ),
    dims AS (
      SELECT (SELECT COUNT(*) FROM ra) AS nr,
             (SELECT COUNT(*) FROM cb) AS nc
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(dims.nr AS BIGINT) AS n_segments,
           CAST(dims.nc AS BIGINT) AS n_nations,
           CAST(SUM(t) AS BIGINT) AS chi2_e6,
           round(sqrt(CAST(SUM(t) AS DOUBLE) / 1000000.0
                      / (CAST(MAX(n) AS DOUBLE)
                         * least(dims.nr - 1, dims.nc - 1))), 6)
             AS cramers_v6
    FROM terms, dims GROUP BY dims.nr, dims.nc
    """,
)
def q_stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between market segment and nation — the effect-size
    reading the chi-square drift battery lacks: how STRONG is the
    association, normalized to 0..1 by V = sqrt(χ²/(n·min(r−1,c−1))).
    χ² accumulates per cell as the exact floored e6 rational
    (o·n − r·c)²·1e6 // (n·r·c) — the per-cell floor is the
    cross-engine convention — over the DENSE grid: zero cells enter
    via the crossed marginal tables (bounded: |segments|×|nations|),
    never a fact-sized spine.  The only float work is one IEEE
    divide-sqrt-round on the final integers.  Width bound: the e6 cell
    term dev²·1e6 stays inside DECIMAL(38,0)/HUGEINT up to ~4·10⁸
    dimension rows (dev ≤ n²/4); past that Spark's ANSI decimal
    overflow fails LOUDLY, never silently — this is a dimension-table
    statistic by design.  Plan: one exchange to the contingency grain;
    marginals, grid, and the 1-row reduction all run on bounded
    tables."""
    c = table(spark, sf_dir, "customer")
    obs = c.groupBy(
        F.col("c_mktsegment").alias("a"), F.col("c_nationkey").alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = obs.groupBy("a").agg(F.sum("o").alias("r"))
    cb = obs.groupBy("b").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").cast(_DEC).alias("n"))
    grid = (
        ra.crossJoin(cb)
        .join(obs, ["a", "b"], "left")
        .select("a", "b", "r", "c", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
        .join(F.broadcast(n))
    )
    dev = F.col("o").cast(_DEC) * F.col("n") - F.col("r").cast(_DEC) * F.col(
        "c"
    )
    terms = grid.select(
        "n",
        (dev * dev * F.lit(1000000)).alias("_tnum"),
        (F.col("n") * F.col("r").cast(_DEC) * F.col("c")).alias("_tden"),
    ).select("n", F.expr("_tnum div _tden").alias("t"))
    nr = ra.agg(F.count(F.lit(1)).alias("nr"))
    nc = cb.agg(F.count(F.lit(1)).alias("nc"))
    out = (
        terms.agg(F.max("n").alias("n"), F.sum("t").cast(_DEC).alias("chi2"))
        .join(F.broadcast(nr))
        .join(F.broadcast(nc))
    )
    return out.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("nr").cast("long").alias("n_segments"),
        F.col("nc").cast("long").alias("n_nations"),
        F.col("chi2").cast("long").alias("chi2_e6"),
        F.round(
            F.sqrt(
                F.col("chi2").cast("double")
                / F.lit(1000000.0)
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("nr") - 1, F.col("nc") - 1)
                )
            ),
            6,
        ).alias("cramers_v6"),
    )


# ---------------------------------------------------------------------------
# Correlation ratio (eta squared)
# ---------------------------------------------------------------------------

# (label, table, group column, numeric column)
_ETA_CASES = (
    ("acctbal_by_segment", "customer", "c_mktsegment", "c_acctbal"),
    ("totalprice_by_priority", "orders", "o_orderpriority", "o_totalprice"),
)


def _eta_arm_sql(label: str, tbl: str, grp: str, num: str) -> str:
    cents = f"CAST(CAST({num} AS DECIMAL(18,2)) * 100 AS HUGEINT)"
    return f"""
    SELECT '{label}' AS case_name,
           CAST(n AS BIGINT) AS n_rows,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(GREATEST(CAST(0 AS HUGEINT), a - s * s) * 1000000
                // NULLIF(n * q - s * s, 0) AS BIGINT) AS eta2_e6
    FROM (
      SELECT SUM(ng) AS n,
             COUNT(*) AS n_groups,
             SUM(sg) AS s,
             SUM(qg) AS q,
             SUM(ag) AS a
      FROM (
        SELECT ng, sg, qg,
               sg * sg * (SUM(ng) OVER ()) // ng AS ag
        FROM (
          SELECT CAST(COUNT(*) AS HUGEINT) AS ng,
                 SUM({cents}) AS sg,
                 SUM({cents} * {cents}) AS qg
          FROM {tbl} GROUP BY {grp}
        )
      )
    )"""


@declared(
    "q_stats_eta_squared",
    oracle="\nUNION ALL\n".join(_eta_arm_sql(*c) for c in _ETA_CASES),
)
def q_stats_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation ratio η² = SS_between/SS_total — the one-way-ANOVA
    effect size for a categorical→numeric pair, completing the
    association triple beside Pearson/Spearman (num↔num) and Cramér's
    V (cat↔cat): how much of the account-balance / order-value
    variance does the segment / priority explain?  Exact integer
    cents throughout; the single convention point is the per-group
    floor of S_g²·n/n_g (error bounded by the group count against
    ~1e20 sums), computed as DuckDB HUGEINT `//` vs Spark's
    subtract-modulo decimal form — `div` itself would overflow BIGINT
    at this quotient's width (SCALE.md rule 30 corollary); the
    numerator clamps at 0 so the final quotient never goes negative
    (rule 27), and a zero-variance column yields NULL via NULLIF.
    Plan per arm: one exchange to the group grain (the window for n
    runs over the |groups|-row aggregate), one 1-row reduction."""
    out = None
    for label, tbl, grp, num in _ETA_CASES:
        t = table(spark, sf_dir, tbl)
        cents = (F.col(num).cast("decimal(18,2)") * 100).cast(_DEC)
        groups = t.groupBy(grp).agg(
            F.count(F.lit(1)).cast(_DEC).alias("ng"),
            F.sum(cents).alias("sg"),
            F.sum(cents * cents).alias("qg"),
        )
        tot = Window.partitionBy()
        scored = groups.select(
            "ng",
            "sg",
            "qg",
            (F.col("sg") * F.col("sg") * F.sum("ng").over(tot)).alias("_anum"),
            F.col("ng").alias("_aden"),
        ).select(
            "ng",
            "sg",
            "qg",
            # exact floor division KEPT IN DECIMAL: Spark's `div` returns
            # BIGINT and this quotient (~sg²·n/n_g) can exceed it. After
            # subtracting the positive modulo the division is exact, so
            # the scale-6 decimal divide introduces no rounding.
            F.expr(
                "CAST((_anum - _anum % _aden) / _aden AS DECIMAL(38,0))"
            ).alias("ag"),
        )
        arm = (
            scored.agg(
                F.sum("ng").alias("n"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum("sg").alias("s"),
                F.sum("qg").alias("q"),
                F.sum("ag").cast(_DEC).alias("a"),
            )
            .select(
                F.lit(label).alias("case_name"),
                F.col("n").cast("long").alias("n_rows"),
                F.col("n_groups").cast("long").alias("n_groups"),
                (
                    F.greatest(
                        F.lit(0).cast(_DEC),
                        F.col("a") - F.col("s") * F.col("s"),
                    )
                    * F.lit(1000000)
                ).alias("_num"),
                F.nullif(
                    F.col("n") * F.col("q") - F.col("s") * F.col("s"),
                    F.lit(0).cast(_DEC),
                ).alias("_den"),
            )
            .select(
                "case_name",
                "n_rows",
                "n_groups",
                F.expr("_num div _den").cast("long").alias("eta2_e6"),
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank ANOVA (exact, tie-corrected)
# ---------------------------------------------------------------------------

# (label, table, group column, numeric column, rank-bucket width in cents)
_KW_CASES = (
    ("acctbal_by_segment", "customer", "c_mktsegment", "c_acctbal", 25_000),
    ("totalprice_by_priority", "orders", "o_orderpriority", "o_totalprice",
     1_000_000),
)


def _kw_arm_sql(label: str, tbl: str, grp: str, num: str) -> str:
    cents = sql_cents(num)
    return f"""
    SELECT '{label}' AS case_name,
           CAST(n AS BIGINT) AS n_rows,
           CAST(k AS BIGINT) AS n_groups,
           CAST(h6 AS BIGINT) AS h_e6,
           CAST(h6 * (n * n * n - n)
                // NULLIF((n * n * n - n) - t, 0) AS BIGINT) AS h_adj_e6
    FROM (
      SELECT n, k, t,
             GREATEST(CAST(0 AS HUGEINT),
                      (3 * a) // (n * (n + 1))
                      - 3 * (n + 1) * 1000000) AS h6
      FROM (
        SELECT SUM(ng) AS n, COUNT(*) AS k,
               SUM(r2g * r2g * 1000000 // ng) AS a
        FROM (
          SELECT g, SUM(cnt * r2) AS r2g, SUM(cnt) AS ng
          FROM (
            SELECT {grp} AS g, {cents} AS v,
                   CAST(COUNT(*) AS HUGEINT) AS cnt
            FROM {tbl} GROUP BY 1, 2
          ) j
          JOIN (
            SELECT v, 2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2
            FROM (
              SELECT {cents} AS v, CAST(COUNT(*) AS HUGEINT) AS c
              FROM {tbl} GROUP BY 1
            )
          ) r USING (v)
          GROUP BY g
        )
      ),
      (
        SELECT SUM(c * c * c - c) AS t
        FROM (
          SELECT CAST(COUNT(*) AS HUGEINT) AS c FROM {tbl} GROUP BY {cents}
        )
      )
    )"""


def _kw_arm(
    spark: SparkSession, sf_dir: str, label: str, tbl: str, grp: str,
    num: str, width: int
) -> DataFrame:
    t = table(spark, sf_dir, tbl)
    joint = (
        t.select(F.col(grp).alias("g"), money_units_long(num).alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    marg = joint.groupBy(F.col("v").alias("v")).agg(F.sum("cnt").alias("c"))
    r2 = running_sum(marg, "v", ["c"], width).select(
        "v", (2 * F.col("c_before") + F.col("c") + 1).cast("long").alias("r2")
    )
    grps = (
        joint.join(r2, "v")
        .groupBy("g")
        .agg(
            F.sum(F.col("cnt").cast(_DEC) * F.col("r2")).alias("r2g"),
            F.sum(F.col("cnt").cast(_DEC)).alias("ng"),
        )
    )
    # per-group floor of R2g²·1e6/n_g: exact engine-identical floor via
    # subtract-modulo (numerator is a square, provably >= 0 — rule 27)
    scored = grps.select(
        "ng",
        (F.col("r2g") * F.col("r2g") * F.lit(1000000)).alias("_x"),
    ).select("ng", _exact_floor_div("_x", "ng").alias("ag"))
    agg = scored.agg(
        F.sum("ng").alias("n"),
        F.count(F.lit(1)).cast(_DEC).alias("k"),
        F.sum("ag").alias("a"),
    )
    cd = F.col("c").cast(_DEC)
    ties = marg.agg(F.sum(cd * cd * cd - cd).alias("t"))
    h = (
        agg.crossJoin(F.broadcast(ties))
        .select(
            "n",
            "k",
            "t",
            (F.col("a") * 3).alias("_hx"),
            (F.col("n") * (F.col("n") + 1)).alias("_hd"),
        )
        .select(
            "n",
            "k",
            "t",
            F.greatest(
                F.lit(0).cast(_DEC),
                _exact_floor_div("_hx", "_hd")
                - (F.col("n") + 1) * 3 * F.lit(1000000),
            ).alias("h6"),
        )
    )
    n3 = F.col("n") * F.col("n") * F.col("n") - F.col("n")
    return h.select(
        F.lit(label).alias("case_name"),
        F.col("n").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("n_groups"),
        F.col("h6").cast("long").alias("h_e6"),
        (F.col("h6") * n3).alias("_ax"),
        F.nullif(n3 - F.col("t"), F.lit(0).cast(_DEC)).alias("_ad"),
    ).select(
        "case_name",
        "n_rows",
        "n_groups",
        "h_e6",
        _exact_floor_div("_ax", "_ad").cast("long").alias("h_adj_e6"),
    )


@declared(
    "q_stats_kruskal_wallis",
    oracle="\nUNION ALL\n".join(
        _kw_arm_sql(label, tbl, grp, num) for label, tbl, grp, num, _ in
        _KW_CASES
    ),
)
def q_stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank ANOVA — the nonparametric twin of
    q_stats_eta_squared: H = 12/(N(N+1))·Σ_g R_g²/n_g − 3(N+1) on
    average ranks, plus the tie-corrected H/(1 − ΣT/(N³−N)).  With
    ranks carried as integer 2r (R_g = R2_g/2, the /4 folding into
    12/4 = 3), every term is an integer/DECIMAL(38,0) sum; the two
    convention points are the per-group floor of R2_g²·1e6/n_g and the
    final quotients — all engine-identical exact floors on provably
    non-negative numerators (squares; any-ranks-sum ≥ the minimum sum
    makes H ≥ 0, clamped at 0 against floor dust — rules 27/30).
    Width bound, documented: R2_g² ≤ (N(N+1))², so the e6 scaling
    holds to N ≈ 1e8 rows per arm in DECIMAL(38,0)/HUGEINT; beyond
    that, drop to e4.  Scale shape (rule 22): one exchange to the
    (group, value) joint; ranks from the two-level cumsum over the
    bounded VALUE marginal (only bucket summaries cross a window);
    the group table is |groups| rows.

    r16 (guide §2.4 shared-exchange consolidation — the same pid
    merge spearman got in r14): the arms' joints union into ONE
    pid-tagged table, so the marginal aggregate, the two-level rank
    cumsums (running_sum by pid, per-pid bucket widths riding a
    literal array), the tie sum, and the moment reduction each run
    ONCE over the union instead of once per arm — the per-arm downstream
    machinery (~12 small exchanges) collapses to ~7. The per-table
    scans are unchanged (the arms read different tables). Measured
    3.13→2.83 s min / 3.85→3.21 s median interleaved at sf0.1; the
    oracle text stays the per-arm UNION ALL and the hash match pins
    the rewrite. _kw_arm remains the single-arm reference twin the
    law tests drive directly.

    r17 (VERDICT r16 #4's pattern, applied here too): the bounded
    group breakdown (≤5 groups per arm) rides the value marginal as a
    collect_list column through running_sum, so the rank table is
    never joined back onto the (pid, g, v) joint — see the inline
    comment; the moment sums are value-identical by reassociation.

    Empty-arm assumption (ADVICE r16): the merged pipeline groups by
    pid, so an arm whose SOURCE TABLE is empty would emit no row where
    the per-arm oracle (global aggregate per arm + UNION ALL) emits a
    NULL-stats row. _KW_CASES reads customer and orders — never empty
    in any declared testdata or at any TPC-H SF — so the shapes agree;
    re-pointing _KW_CASES at an emptiable table requires a literal pid
    spine left-join first (the _kw_arm twin shows the per-arm shape)."""
    joint = None
    for pid, (label, tbl, grp, num, width) in enumerate(_KW_CASES):
        t = table(spark, sf_dir, tbl)
        j = (
            t.select(
                F.lit(pid).alias("pid"),
                F.col(grp).alias("g"),
                money_units_long(num).alias("v"),
            )
            .groupBy("pid", "g", "v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        joint = j if joint is None else joint.unionByName(j)
    # r17 (guide §2.4, the spearman payload-fold pattern): the group
    # domain is BOUNDED (≤5 mktsegments / ≤5 orderpriorities per arm),
    # so the per-value group breakdown rides the marginal as a tiny
    # array and the former (pid, v)-grain join-back of the rank table
    # onto the joint — fact-grain for the near-unique o_totalprice —
    # vanishes, along with one full scan+agg pass over both source
    # tables (the old `grps` consumer). Exactness is reassociation
    # only: Σ_joint cnt·r2 per (pid, g) = Σ_v r2(v)·cnt(g, v), every
    # sum still exact DECIMAL(38,0); collect_list order is irrelevant
    # (the explode feeds order-insensitive sums).
    marg = joint.groupBy("pid", F.col("v").alias("v")).agg(
        F.sum("cnt").alias("c"),
        F.collect_list(F.struct(F.col("g"), F.col("cnt"))).alias("gs"),
    )
    w_arr = F.array(*[F.lit(w) for _, _, _, _, w in _KW_CASES])
    r2 = running_sum(
        marg, "v", ["c"], F.element_at(w_arr, F.col("pid") + 1), by=["pid"]
    ).select(
        "pid",
        "gs",
        (2 * F.col("c_before") + F.col("c") + 1).cast("long").alias("r2"),
    )
    ge = F.explode("gs")
    grps = (
        r2.select("pid", "r2", ge.alias("e"))
        .groupBy("pid", F.col("e").getField("g").alias("g"))
        .agg(
            F.sum(
                F.col("e").getField("cnt").cast(_DEC) * F.col("r2")
            ).alias("r2g"),
            F.sum(F.col("e").getField("cnt").cast(_DEC)).alias("ng"),
        )
    )
    scored = grps.select(
        "pid",
        "ng",
        (F.col("r2g") * F.col("r2g") * F.lit(1000000)).alias("_x"),
    ).select("pid", "ng", _exact_floor_div("_x", "ng").alias("ag"))
    agg = scored.groupBy("pid").agg(
        F.sum("ng").alias("n"),
        F.count(F.lit(1)).cast(_DEC).alias("k"),
        F.sum("ag").alias("a"),
    )
    cd = F.col("c").cast(_DEC)
    ties = marg.groupBy("pid").agg(F.sum(cd * cd * cd - cd).alias("t"))
    h = (
        agg.join(F.broadcast(ties), "pid")
        .select(
            "pid",
            "n",
            "k",
            "t",
            (F.col("a") * 3).alias("_hx"),
            (F.col("n") * (F.col("n") + 1)).alias("_hd"),
        )
        .select(
            "pid",
            "n",
            "k",
            "t",
            F.greatest(
                F.lit(0).cast(_DEC),
                _exact_floor_div("_hx", "_hd")
                - (F.col("n") + 1) * 3 * F.lit(1000000),
            ).alias("h6"),
        )
    )
    n3 = F.col("n") * F.col("n") * F.col("n") - F.col("n")
    labels = F.array(*[F.lit(label) for label, _, _, _, _ in _KW_CASES])
    return h.select(
        F.element_at(labels, F.col("pid") + 1).alias("case_name"),
        F.col("n").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("n_groups"),
        F.col("h6").cast("long").alias("h_e6"),
        (F.col("h6") * n3).alias("_ax"),
        F.nullif(n3 - F.col("t"), F.lit(0).cast(_DEC)).alias("_ad"),
    ).select(
        "case_name",
        "n_rows",
        "n_groups",
        "h_e6",
        _exact_floor_div("_ax", "_ad").cast("long").alias("h_adj_e6"),
    )


# ---------------------------------------------------------------------------
# Brier score with Murphy decomposition
# ---------------------------------------------------------------------------

_BRIER_CAP = 8192  # chars; forecast p = min(n_chars, CAP)/CAP


@declared(
    "q_quality_brier_decomposition",
    oracle=f"""
    WITH b AS (
      SELECT LEAST(n_chars, {_BRIER_CAP}) AS m,
             CAST(COUNT(*) AS HUGEINT) AS nb,
             CAST(COUNT(*) FILTER (WHERE coalesce(lang, '') = 'en')
                  AS HUGEINT) AS eb
      FROM documents GROUP BY 1
    ),
    t AS (SELECT SUM(nb) AS n, SUM(eb) AS te FROM b),
    s AS (
      SELECT n, te,
             SUM((nb * m - {_BRIER_CAP} * eb) * (nb * m - {_BRIER_CAP} * eb)
                 * 1000000 // nb) AS srel,
             SUM((n * eb - nb * te) * (n * eb - nb * te)
                 * 1000000 // nb) AS sres,
             SUM((eb * (m - {_BRIER_CAP}) * (m - {_BRIER_CAP})
                  + (nb - eb) * m * m) * 1000000) AS sbr
      FROM b, t GROUP BY n, te
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(sbr // (n * {_BRIER_CAP} * {_BRIER_CAP}) AS BIGINT)
             AS brier_ppm,
           CAST(srel // (n * {_BRIER_CAP} * {_BRIER_CAP}) AS BIGINT)
             AS reliability_ppm,
           CAST(sres // (n * n * n) AS BIGINT) AS resolution_ppm,
           CAST(te * (n - te) * 1000000 // (n * n) AS BIGINT)
             AS uncertainty_ppm
    FROM s
    """,
)
def q_quality_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brier score of the crude length→English forecast p =
    min(n_chars, 8192)/8192 with its Murphy decomposition — the
    proper-scoring-rule companion to AUC (ranking) and the calibration
    bins (rates): reliability (calibration error, lower better) −
    resolution (sharpness, higher better) + uncertainty (the data's
    irreducible ȳ(1−ȳ)).  Decomposing over DISTINCT forecast values
    makes the classic identity Brier = REL − RES + UNC hold exactly
    (no within-bin variance term); with p rational (denominator 8192)
    and y ∈ {0,1}, every component is an exact ppm — the only
    convention points are the two per-value floors of squared-error
    sums over n_b (squares: non-negative numerators, rule 27), both
    engine-identical.  Plan: ONE exchange to the ≤8193-row distinct-
    forecast grain; totals window and both reductions run over that
    bounded table only."""
    d = table(spark, sf_dir, "documents")
    is_en = F.coalesce(F.col("lang"), F.lit("")) == "en"
    cap = F.lit(_BRIER_CAP)
    bins = d.groupBy(
        F.least(F.col("n_chars"), cap).cast(_DEC).alias("m")
    ).agg(
        F.count(F.lit(1)).cast(_DEC).alias("nb"),
        F.count(F.when(is_en, 1)).cast(_DEC).alias("eb"),
    )
    tot = Window.partitionBy()
    enriched = bins.select(
        "m",
        "nb",
        "eb",
        F.sum("nb").over(tot).alias("n"),
        F.sum("eb").over(tot).alias("te"),
    )
    capd = F.lit(_BRIER_CAP).cast(_DEC)
    rel_num = F.col("nb") * F.col("m") - capd * F.col("eb")
    res_num = F.col("n") * F.col("eb") - F.col("nb") * F.col("te")
    per = enriched.select(
        "n",
        "te",
        "nb",
        (rel_num * rel_num * 1000000).alias("_xrel"),
        (res_num * res_num * 1000000).alias("_xres"),
        (
            (
                F.col("eb") * (F.col("m") - capd) * (F.col("m") - capd)
                + (F.col("nb") - F.col("eb")) * F.col("m") * F.col("m")
            )
            * 1000000
        ).alias("sbr_term"),
    ).select(
        "n",
        "te",
        "sbr_term",
        _exact_floor_div("_xrel", "nb").alias("rel_term"),
        _exact_floor_div("_xres", "nb").alias("res_term"),
    )
    s = per.groupBy("n", "te").agg(
        F.sum("rel_term").alias("srel"),
        F.sum("res_term").alias("sres"),
        F.sum("sbr_term").alias("sbr"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_docs"),
        "srel",
        "sres",
        "sbr",
        (F.col("n") * _BRIER_CAP * _BRIER_CAP).alias("_dcap"),
        (F.col("n") * F.col("n") * F.col("n")).alias("_d3"),
        (F.col("te") * (F.col("n") - F.col("te")) * 1000000).alias("_xu"),
        (F.col("n") * F.col("n")).alias("_d2"),
    ).select(
        "n_docs",
        _exact_floor_div("sbr", "_dcap").cast("long").alias("brier_ppm"),
        _exact_floor_div("srel", "_dcap").cast("long")
        .alias("reliability_ppm"),
        _exact_floor_div("sres", "_d3").cast("long").alias("resolution_ppm"),
        _exact_floor_div("_xu", "_d2").cast("long").alias("uncertainty_ppm"),
    )


# ---------------------------------------------------------------------------
# Precision/recall/F1 threshold sweep
# ---------------------------------------------------------------------------

_PR_STEP = 1024  # chars per threshold step

_PR_MAX = 8  # thresholds k·1024 for k = 0..8


@declared(
    "q_quality_pr_threshold_sweep",
    oracle=f"""
    WITH bins AS (
      SELECT LEAST(n_chars // {_PR_STEP}, {_PR_MAX}) AS b,
             CAST(COUNT(*) FILTER (WHERE coalesce(lang, '') = 'en')
                  AS HUGEINT) AS p,
             CAST(COUNT(*) FILTER (WHERE coalesce(lang, '') <> 'en')
                  AS HUGEINT) AS q
      FROM documents GROUP BY 1
    ),
    sweep AS (
      SELECT t.range AS k,
             SUM(CASE WHEN b >= t.range THEN p ELSE CAST(0 AS HUGEINT) END)
               AS tp,
             SUM(CASE WHEN b >= t.range THEN q ELSE CAST(0 AS HUGEINT) END)
               AS fp,
             SUM(p) AS pos
      FROM range(0, {_PR_MAX + 1}) t CROSS JOIN bins
      GROUP BY t.range
    )
    SELECT CAST(k * {_PR_STEP} AS BIGINT) AS threshold_chars,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(pos - tp AS BIGINT) AS fn,
           CAST(tp * 1000000 // NULLIF(tp + fp, 0) AS BIGINT)
             AS precision_ppm,
           CAST(tp * 1000000 // NULLIF(pos, 0) AS BIGINT) AS recall_ppm,
           CAST(2 * tp * 1000000 // NULLIF(tp + fp + pos, 0) AS BIGINT)
             AS f1_ppm
    FROM sweep
    """,
)
def q_quality_pr_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Precision / recall / F1 of "predict English when n_chars ≥ t"
    at nine thresholds t = 0..8·1024 — the operating-point sweep that
    complements AUC (threshold-free ranking) and the calibration bins
    (rates): which cutoff would a filtering pipeline actually deploy?
    F1 = 2TP/(2TP+FP+FN) and both rates are exact floored ppm on
    non-negative integer counts (rule 27).  Plan: one exchange to the
    ≤9-row capped length-bucket grain, then a 9×9 broadcast cross of
    thresholds × buckets — nothing row-scale past the first
    aggregate."""
    d = table(spark, sf_dir, "documents")
    is_en = F.coalesce(F.col("lang"), F.lit("")) == "en"
    bins = d.groupBy(
        F.least(
            F.expr(f"n_chars div {_PR_STEP}"), F.lit(_PR_MAX).cast("long")
        ).alias("b")
    ).agg(
        F.count(F.when(is_en, 1)).alias("p"),
        F.count(F.when(~is_en, 1)).alias("q"),
    )
    ks = spark.range(0, _PR_MAX + 1).select(F.col("id").alias("k"))
    sweep = (
        ks.crossJoin(F.broadcast(bins))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("b") >= F.col("k"), F.col("p")).otherwise(0))
            .alias("tp"),
            F.sum(F.when(F.col("b") >= F.col("k"), F.col("q")).otherwise(0))
            .alias("fp"),
            F.sum("p").alias("pos"),
        )
    )
    return sweep.select(
        (F.col("k") * _PR_STEP).cast("long").alias("threshold_chars"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("pos") - F.col("tp")).cast("long").alias("fn"),
        F.expr(
            "CAST((tp * 1000000) div NULLIF(tp + fp, 0) AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr("CAST((tp * 1000000) div NULLIF(pos, 0) AS BIGINT)").alias(
            "recall_ppm"
        ),
        F.expr(
            "CAST((2 * tp * 1000000) div NULLIF(tp + fp + pos, 0) AS BIGINT)"
        ).alias("f1_ppm"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe (Levene-on-medians) variance homogeneity
# ---------------------------------------------------------------------------

# (label, table, group column, numeric column, rank-bucket width in cents)
_BF_CASES = (
    ("acctbal_by_segment", "customer", "c_mktsegment", "c_acctbal", 25_000),
    ("totalprice_by_priority", "orders", "o_orderpriority", "o_totalprice",
     1_000_000),
)


def _bf_arm_sql(label: str, tbl: str, grp: str, num: str) -> str:
    cents = sql_cents(num)
    return f"""
    SELECT '{label}' AS case_name,
           CAST(n AS BIGINT) AS n_rows,
           CAST(k AS BIGINT) AS n_groups,
           CAST(GREATEST(CAST(0 AS HUGEINT), a - (s * s * 1000000 // n))
                * (n - k) * 1000000
                // NULLIF((k - 1) * (q - a), 0) AS BIGINT) AS f_e6
    FROM (
      SELECT SUM(ng) AS n, COUNT(*) AS k, SUM(sg) AS s,
             SUM(qg) * 1000000 AS q,
             SUM(sg * sg * 1000000 // ng) AS a
      FROM (
        SELECT g, SUM(c * z2) AS sg, SUM(c * z2 * z2) AS qg,
               SUM(c) AS ng
        FROM (
          SELECT j.g, abs(2 * j.v - med.m2) AS z2, j.c
          FROM (
            SELECT {grp} AS g, {cents} AS v,
                   CAST(COUNT(*) AS HUGEINT) AS c
            FROM {tbl} GROUP BY 1, 2
          ) j
          JOIN (
            SELECT g,
                   SUM(v * (CASE WHEN (ng + 1) // 2 > cum - c
                                  AND (ng + 1) // 2 <= cum
                            THEN 1 ELSE 0 END
                          + CASE WHEN ng // 2 + 1 > cum - c
                                  AND ng // 2 + 1 <= cum
                            THEN 1 ELSE 0 END)) AS m2
            FROM (
              SELECT g, v, c,
                     SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
                     SUM(c) OVER (PARTITION BY g) AS ng
              FROM (
                SELECT {grp} AS g, {cents} AS v,
                       CAST(COUNT(*) AS HUGEINT) AS c
                FROM {tbl} GROUP BY 1, 2
              )
            ) GROUP BY g
          ) med ON j.g = med.g
        ) GROUP BY g
      )
    )"""


def _bf_arm(
    spark: SparkSession, sf_dir: str, label: str, tbl: str, grp: str,
    num: str, width: int
) -> DataFrame:
    t = table(spark, sf_dir, tbl)
    joint = (
        t.select(F.col(grp).alias("g"), money_units_long(num).alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # per-group cumulative count over the VALUE marginal (rule 22)
    w = running_sum(joint, "v", ["c"], width, by=["g"]).select(
        "g",
        "v",
        F.col("c_before").alias("prev"),
        (F.col("c_before") + F.col("c")).alias("cum"),
        F.col("c_total").alias("ng"),
    )
    r1 = F.expr("(ng + 1) div 2")
    r2 = F.expr("ng div 2 + 1")
    hit = (
        F.when((r1 > F.col("prev")) & (r1 <= F.col("cum")), 1).otherwise(0)
        + F.when((r2 > F.col("prev")) & (r2 <= F.col("cum")), 1).otherwise(0)
    )
    med = w.groupBy("g").agg(F.sum(F.col("v") * hit).alias("m2"))
    z = joint.join(F.broadcast(med), "g").select(
        "g",
        F.abs(2 * F.col("v") - F.col("m2")).cast(_DEC).alias("z2"),
        F.col("c").cast(_DEC).alias("c"),
    )
    gg = z.groupBy("g").agg(
        F.sum(F.col("c") * F.col("z2")).alias("sg"),
        F.sum(F.col("c") * F.col("z2") * F.col("z2")).alias("qg"),
        F.sum("c").alias("ngd"),
    )
    scored = gg.select(
        "ngd", "qg",
        (F.col("sg") * F.col("sg") * F.lit(1000000)).alias("_x"),
        F.col("sg").alias("sg"),
    ).select(
        "ngd", "qg", "sg", _exact_floor_div("_x", "ngd").alias("ag")
    )
    agg = scored.agg(
        F.sum("ngd").alias("n"),
        F.count(F.lit(1)).cast(_DEC).alias("k"),
        F.sum("sg").alias("s"),
        (F.sum("qg") * 1000000).alias("q"),
        F.sum("ag").alias("a"),
    )
    return (
        agg.select(
            "n", "k", "q", "a",
            (F.col("s") * F.col("s") * F.lit(1000000)).alias("_sx"),
        )
        .select(
            "n", "k", "q", "a",
            _exact_floor_div("_sx", "n").alias("scorr"),
        )
        .select(
            "n", "k",
            (
                F.greatest(
                    F.lit(0).cast(_DEC), F.col("a") - F.col("scorr")
                )
                * (F.col("n") - F.col("k"))
                * F.lit(1000000)
            ).alias("_fx"),
            F.nullif(
                (F.col("k") - 1) * (F.col("q") - F.col("a")),
                F.lit(0).cast(_DEC),
            ).alias("_fd"),
        )
        .select(
            F.lit(label).alias("case_name"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("k").cast("long").alias("n_groups"),
            _exact_floor_div("_fx", "_fd").cast("long").alias("f_e6"),
        )
    )


@declared(
    "q_stats_brown_forsythe",
    oracle="\nUNION ALL\n".join(
        _bf_arm_sql(label, tbl, grp, num)
        for label, tbl, grp, num, _ in _BF_CASES
    ),
)
def q_stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene on medians): one-way ANOVA F on
    z = |x − group median| — does the factor shift the SPREAD, not the
    location?  Completes the triad with η² (means) and Kruskal-Wallis
    (ranks).  Exactness: the group median travels as the integer sum
    of the two middle order statistics m2 (ranks ⌈n/2⌉ and ⌊n/2⌋+1
    from the per-group cumulative over the value marginal), so
    2z = |2x − m2| is an integer and the /2 cancels in F; the three
    convention points (per-group s_g²·1e6/n_g, the S²·1e6/N
    correction, the final F quotient) are engine-identical exact
    floors on non-negative numerators (rules 27/30; SSW = Q−A ≥ 0
    because each floor only shrinks A).  Width bound: s_g² ≤
    (N·z_max)²·1e6 holds DECIMAL(38,0) to N ≈ 1e9 at cent scale.
    Plan (rule 22): one exchange to the (group, value) joint; the
    median scan's unbounded windows see only per-group BUCKET
    summaries; moment reduction on the |groups|-row table."""
    out = None
    for label, tbl, grp, num, width in _BF_CASES:
        arm = _bf_arm(spark, sf_dir, label, tbl, grp, num, width)
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# Cumulative gains / lift by score decile
# ---------------------------------------------------------------------------

_GAINS_BOUNDS_SQL = decile_bounds_sql("n_chars")

_GAINS_DECILE_SQL = decile_expr_sql("n_chars")


@declared(
    "q_quality_cumulative_gains",
    oracle=f"""
    WITH b AS (SELECT {_GAINS_BOUNDS_SQL} FROM documents),
    d AS (
      SELECT {_GAINS_DECILE_SQL} AS decile,
             CAST(coalesce(lang, '') = 'en' AS INT) AS y
      FROM documents, b
    ),
    agg AS (
      SELECT decile, CAST(COUNT(*) AS HUGEINT) AS n_docs,
             CAST(SUM(y) AS HUGEINT) AS n_pos
      FROM d GROUP BY decile
    )
    SELECT decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(SUM(n_docs) OVER (ORDER BY decile DESC) AS BIGINT)
             AS cum_docs,
           CAST(SUM(n_pos) OVER (ORDER BY decile DESC) * 1000000
                // NULLIF(SUM(n_pos) OVER (), 0) AS BIGINT)
             AS capture_e6,
           CAST(n_pos * SUM(n_docs) OVER () * 1000000
                // NULLIF(n_docs * SUM(n_pos) OVER (), 0) AS BIGINT)
             AS lift_e6
    FROM agg
    """,
)
def q_quality_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table of the length→English signal by score decile —
    what a "keep the top k%" curation cut actually captures, the
    deployment companion to q_quality_auc_by_source (ranking) and
    q_quality_pr_threshold_sweep (fixed thresholds).  Rule-22 shape:
    the nine decile boundaries are exact order statistics
    (percentile_disc — both engines pick an actual data value), each
    doc buckets via a broadcast comparison chain (no global sort, ties
    fall LOW deterministically), and every window runs on the ≤10-row
    decile aggregate.  capture/lift are exact floored e6 on
    DECIMAL(38,0) products (HUGEINT in the oracle), NULLIF-guarded for
    a positive-free corpus."""
    d = table(spark, sf_dir, "documents")
    bounds = decile_bounds(d, "n_chars")
    is_en = F.coalesce(F.col("lang"), F.lit("")) == "en"
    dd = d.crossJoin(F.broadcast(bounds)).select(
        F.expr(_GAINS_DECILE_SQL).alias("decile"),
        is_en.cast("int").alias("y"),
    )
    agg = dd.groupBy("decile").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n_docs"),
        F.sum("y").cast(_DEC).alias("n_pos"),
    )
    w_cum = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return agg.select(
        "decile",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.sum("n_docs").over(w_cum).cast("long").alias("cum_docs"),
        F.expr(
            "SUM(n_pos) OVER (ORDER BY decile DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " * 1000000"
            " div NULLIF(SUM(n_pos) OVER (), CAST(0 AS decimal(38,0)))"
        )
        .cast("long")
        .alias("capture_e6"),
        F.expr(
            "n_pos * SUM(n_docs) OVER () * 1000000"
            " div NULLIF(n_docs * SUM(n_pos) OVER (),"
            " CAST(0 AS decimal(38,0)))"
        )
        .cast("long")
        .alias("lift_e6"),
    )

