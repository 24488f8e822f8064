"""Round-10 analytics, batch 11: Kendall rank stability and ABC
revenue classification.

* **Kendall tau** — did the nation revenue ranking CHANGE between 1995
  and 1996?  Tau is the canonical rank-stability statistic, and it is
  born integer: concordant minus discordant pairs over n(n-1)/2.  The
  entity set (nations) is bounded, so the all-pairs comparison is a
  bounded broadcast nested loop — never a fact-table product; facts
  reduce to one (nation, year) aggregate first.  The only float is the
  final single IEEE division (the welch discipline, rule 20).

* **ABC classification** — the inventory-management classic: class A =
  the minimal set of top-revenue parts covering >= 80% of revenue,
  B to 95%, C the tail.  Computed at VALUE granularity (equal-revenue
  parts share a class, so the classification is value-deterministic,
  not row-order-dependent) with the rule-22 running sum
  (queries/deciles.py::running_sum, descending over bounded revenue
  buckets); the 'mass above v' test is exact integer arithmetic end
  to end.

Reference parity: the reference ETL (etl/app.py) has no analytics
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import sql_cents
from datawarehouse1_spark.queries.analytics_r10e import _REV_E4
from datawarehouse1_spark.queries.deciles import running_sum
from datawarehouse1_spark.registry import declared

# ---------------------------------------------------------------- 1.


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


# ---------------------------------------------------------------- 2.

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
