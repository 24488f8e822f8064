"""Round-12 analytics, batch 11: step dwell time and basket profile.

Two operators:

* **Dwell time per event type** — the time a user spends ON each step:
  the gap to the user's NEXT event, attributed to the CURRENT event's
  type, summarized per type as count / exact mean / exact discrete
  p50 / p90.  Distinct from q_events_gap_histogram (global gap
  distribution) and q_events_interarrival_rate (per-type arrival
  rate): this is the funnel-step duration read UX teams act on.

* **Basket profile** — the lines-per-order histogram with per-bucket
  distinct-part and quantity summaries.  Besides being the standard
  order-size read, it EVIDENCES the bounded-basket assumption the
  co-purchase graph operators (q_graph_components_copurchase /
  clustering_coeff / link_prediction) lean on: per-order pair
  generation is quadratic in THIS distribution's tail.

Exactness discipline as batches 1-10.  NTZ discipline (rule 25 /
ROUND_NOTES): gaps are computed by truncating to the second FIRST and
differencing integer seconds-from-the-NTZ-epoch — never unix_*, never
a sub-second engine-convention diff.

Reference parity: the reference ETL (etl/app.py) has no analytics
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_units_long
from datawarehouse1_spark.registry import declared

# ---------------------------------------------------------------------------
# 1. Dwell time per event type
# ---------------------------------------------------------------------------


@declared(
    "q_events_dwell_time",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, event_id,
             date_diff('second', TIMESTAMP '1970-01-01',
                       date_trunc('second', ts)) AS sec
      FROM events
    ),
    d AS (
      SELECT event_type,
             LEAD(sec) OVER (PARTITION BY user_id
                             ORDER BY sec, event_id) - sec AS dwell_s
      FROM s
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_dwells,
           CAST(SUM(CAST(dwell_s AS HUGEINT)) * 1000 // COUNT(*)
                AS BIGINT) AS mean_dwell_e3,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dwell_s)
                AS BIGINT) AS p50_dwell_s,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY dwell_s)
                AS BIGINT) AS p90_dwell_s
    FROM d WHERE dwell_s IS NOT NULL
    GROUP BY event_type
    """,
)
def q_events_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, how long users dwell ON that step before their
    next action — gap-to-next attributed to the CURRENT type, with
    exact mean (integer milli-seconds via one floored quotient) and
    exact discrete p50/p90 (percentile_disc picks an actual data
    value, so both engines agree bit-for-bit).  NTZ discipline: both
    instants truncate to the second FIRST, then diff as integer
    seconds from the NTZ epoch — engine day/period conventions never
    enter.  Scale shape: ONE window exchange on user_id (shared shape
    with the transition operators), then a |types|-bounded aggregate;
    each type's percentile sorts only its own dwell values inside the
    hash aggregate."""
    ev = table(spark, sf_dir, "events")
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " date_trunc('second', ts))"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("sec"), F.asc("event_id"))
    d = (
        ev.select("user_id", "event_type", "event_id", sec.alias("sec"))
        .select(
            "event_type",
            (F.lead("sec").over(w) - F.col("sec")).alias("dwell_s"),
        )
        .filter(F.col("dwell_s").isNotNull())
    )
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_dwells"),
        F.expr(
            "CAST(SUM(CAST(dwell_s AS decimal(38,0))) * 1000"
            " div COUNT(*) AS BIGINT)"
        ).alias("mean_dwell_e3"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dwell_s)"
            " AS BIGINT)"
        ).alias("p50_dwell_s"),
        F.expr(
            "CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY dwell_s)"
            " AS BIGINT)"
        ).alias("p90_dwell_s"),
    )


# ---------------------------------------------------------------------------
# 2. Basket profile (lines-per-order histogram + per-bucket summaries)
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
