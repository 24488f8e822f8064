"""Round-10 analytics, batch 13: XYZ demand-variability classes and
the composed bot-behavior verdict.

* **XYZ classes** — the demand-planning companion to
  q_orders_abc_parts: parts class by the variability of their monthly
  demand (X steady, Y variable, Z erratic) using the squared
  coefficient of variation.  cv² = (n·Σd² − (Σd)²) / (Σd)² compares
  EXACTLY against the class thresholds by integer cross-multiplication
  (4·var_num < s² ⟺ cv < 0.5; var_num < s² ⟺ cv < 1.0) — no float
  anywhere (rule 20), classes are value-deterministic.  Convention:
  variability over the months the part actually SOLD (a
  single-observation part has zero variance → X), stated here because
  the zero-filled alternative answers a different question.

* **Bot verdict** — the composed per-user abuse screen, the events
  twin of q_curation_quality_verdict's five-rule stack: type Gini
  (single-mindedness), night-hour share, single-day concentration,
  and gap metronomicity (cv² of inter-event microsecond gaps — a
  scripted client fires on a timer; humans do not) fold into one
  verdict with per-rule attribution flags.  Every component is exact
  integer arithmetic; the metronome test is the same cross-multiplied
  cv² comparison as XYZ.

Reference parity: the reference ETL (etl/app.py) has no analytics
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_units_long, sql_cents
from datawarehouse1_spark.registry import declared

# ---------------------------------------------------------------- 1.


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


# ---------------------------------------------------------------- 2.

_US = (
    "timestampdiff(MICROSECOND,"
    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
)


@declared(
    "q_events_bot_verdict",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type, ts, event_id,
             epoch_us(ts) AS us,
             CAST(ts AS DATE) AS day,
             CASE WHEN hour(ts) < 6 THEN 1 ELSE 0 END AS night
      FROM events
    ),
    gaps AS (
      SELECT user_id,
             us - lag(us) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS g
      FROM base
    ),
    gapstats AS (
      SELECT user_id, COUNT(g) AS gn,
             SUM(CAST(g AS HUGEINT)) AS gs,
             SUM(CAST(g AS HUGEINT) * g) AS gss
      FROM gaps WHERE g IS NOT NULL GROUP BY user_id
    ),
    types AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM base GROUP BY user_id, event_type
    ),
    typestats AS (
      SELECT user_id, SUM(c) AS n_events, COUNT(*) AS n_types,
             SUM(CAST(c AS HUGEINT) * c) AS ssq
      FROM types GROUP BY user_id
    ),
    days AS (
      SELECT user_id, day, COUNT(*) AS dc
      FROM base GROUP BY user_id, day
    ),
    daystats AS (
      SELECT user_id, MAX(dc) AS max_day FROM days GROUP BY user_id
    ),
    nights AS (
      SELECT user_id, SUM(night) AS n_night FROM base GROUP BY user_id
    ),
    joined AS (
      SELECT t.user_id, t.n_events, t.n_types,
             CAST((t.n_events * t.n_events - t.ssq) * 1000000
                  // (t.n_events * t.n_events) AS BIGINT) AS gini_e6,
             CAST(nn.n_night * 1000000 // t.n_events AS BIGINT)
               AS night_share_e6,
             CAST(dd.max_day * 1000000 // t.n_events AS BIGINT)
               AS max_day_share_e6,
             g.gn, g.gs, g.gss
      FROM typestats t
      JOIN nights nn ON nn.user_id = t.user_id
      JOIN daystats dd ON dd.user_id = t.user_id
      LEFT JOIN gapstats g ON g.user_id = t.user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           gini_e6, night_share_e6, max_day_share_e6,
           (n_events >= 20 AND gini_e6 < 100000) AS single_minded,
           (n_events >= 20 AND night_share_e6 > 800000) AS nocturnal,
           (n_events >= 20 AND max_day_share_e6 > 500000) AS bursty,
           COALESCE(gn >= 19
                    AND 100 * (gn * gss - gs * gs) < gs * gs, FALSE)
             AS metronomic,
           ((n_events >= 20 AND gini_e6 < 100000)
            OR (n_events >= 20 AND night_share_e6 > 800000)
            OR (n_events >= 20 AND max_day_share_e6 > 500000)
            OR COALESCE(gn >= 19
                        AND 100 * (gn * gss - gs * gs) < gs * gs, FALSE))
             AS bot_verdict
    FROM joined
    """,
)
def q_events_bot_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed per-user bot screen with per-rule attribution: type
    Gini < 0.1 on >= 20 events (single-minded), > 80% of activity in
    the 00:00-06:00 window (nocturnal), > 50% of events on one day
    (bursty), and inter-event gap cv < 0.1 over >= 19 gaps
    (metronomic — the cross-multiplied exact comparison
    100·var_num < s², same rule-20 form as q_orders_xyz_parts);
    bot_verdict is their OR.  Every share is floored micro-units from
    exact integer counts; gap microseconds come from the zone-free NTZ
    epoch diff (rule 25).  Plan: ONE user exchange serves the lag
    window and all four per-user aggregates (co-partitioned); the
    hour/day deriving is narrow."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.expr(_US).alias("us"),
        F.to_date("ts").alias("day"),
        F.when(F.hour("ts") < 6, 1).otherwise(0).alias("night"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = base.select(
        "user_id", (F.col("us") - F.lag("us").over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    g38 = "CAST(g AS DECIMAL(38,0))"
    gapstats = gaps.groupBy("user_id").agg(
        F.count("g").alias("gn"),
        F.expr(f"SUM({g38})").alias("gs"),
        F.expr(f"SUM({g38} * g)").alias("gss"),
    )
    types = base.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    c38 = "CAST(c AS DECIMAL(38,0))"
    typestats = types.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.expr(f"SUM({c38} * c)").alias("ssq"),
    )
    days = base.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("dc"))
    daystats = days.groupBy("user_id").agg(F.max("dc").alias("max_day"))
    nights = base.groupBy("user_id").agg(F.sum("night").alias("n_night"))
    ne38 = "CAST(n_events AS DECIMAL(38,0))"
    joined = (
        typestats.join(nights, "user_id")
        .join(daystats, "user_id")
        .join(gapstats, "user_id", "left_outer")
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_types").cast("long").alias("n_types"),
            F.expr(
                f"({ne38} * n_events - ssq) * 1000000"
                f" div ({ne38} * n_events)"
            )
            .cast("long")
            .alias("gini_e6"),
            F.expr("n_night * 1000000 div n_events")
            .cast("long")
            .alias("night_share_e6"),
            F.expr("max_day * 1000000 div n_events")
            .cast("long")
            .alias("max_day_share_e6"),
            "gn",
            "gs",
            "gss",
        )
    )
    gv = "CAST(gn AS DECIMAL(38,0)) * gss - gs * gs"
    # COALESCE: a no-gap user (single event) is NOT metronomic, never NULL
    metron = F.expr(
        f"COALESCE(gn >= 19 AND 100 * ({gv}) < gs * gs, FALSE)"
    )
    single = (F.col("n_events") >= 20) & (F.col("gini_e6") < 100000)
    nocturnal = (F.col("n_events") >= 20) & (
        F.col("night_share_e6") > 800000
    )
    bursty = (F.col("n_events") >= 20) & (
        F.col("max_day_share_e6") > 500000
    )
    return joined.select(
        "user_id",
        "n_events",
        "n_types",
        "gini_e6",
        "night_share_e6",
        "max_day_share_e6",
        single.alias("single_minded"),
        nocturnal.alias("nocturnal"),
        bursty.alias("bursty"),
        metron.alias("metronomic"),
        (single | nocturnal | bursty | metron).alias("bot_verdict"),
    )
