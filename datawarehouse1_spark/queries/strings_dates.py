"""String + date scalar function surface (SURVEY.md C17-C18).

The reference's data demands these: leading/trailing whitespace in
clients.adresse / produits.nom, numeric-looking phone strings, and
date_vente delivered as an Excel serial float (SURVEY.md §5.2).

Calendar queries beside them: month gap-filling and business-day
counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.excel_serial import (
    excel_serial_to_timestamp,
    sql_excel_serial_to_timestamp,
)
from datawarehouse1_spark.functions.money import money_sum, sql_money_sum
from datawarehouse1_spark.registry import declared


# --- C17: trim/case/concat/substring/regexp ---
@declared(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           trim(c_name)  AS name_trimmed,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS segment_lower,
           concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
           substr(c_name, 1, 8) AS name_prefix,
           regexp_replace(c_name, '[0-9]', '', 'g') AS name_no_digits,
           length(c_name) AS name_len
    FROM customer
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleanup ops the reference's quirky data needs (SURVEY.md §5.2:
    ' 1 rue de Paris', 'USB ') — trim/upper/lower/concat_ws/substr/
    regexp_replace, all JVM built-ins inside whole-stage codegen."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.trim(F.col("c_name")).alias("name_trimmed"),
        F.upper(F.col("c_name")).alias("name_upper"),
        F.lower(F.col("c_mktsegment")).alias("segment_lower"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.regexp_replace(F.col("c_name"), "[0-9]", "").alias("name_no_digits"),
        F.length(F.col("c_name")).alias("name_len"),
    )


# --- C18: Excel serial-date conversion (the ventes.xlsx date_vente path) ---
@declared(
    "q_excel_serial_date",
    oracle=f"""
    SELECT event_id,
           40000.0 + value AS excel_serial,
           {sql_excel_serial_to_timestamp('40000.0 + value')} AS converted_ts,
           CAST({sql_excel_serial_to_timestamp('40000.0 + value')} AS DATE)
             AS converted_date
    FROM events
    """,
)
def q_excel_serial_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """45787.604166666664 -> 2025-04-10 14:30:00 (epoch 1899-12-30,
    offset 25569 days to Unix epoch; SURVEY.md §5.2/C18). The testdata has
    no serial column, so a synthetic serial (40000 + value) exercises the
    exact conversion arithmetic in integral seconds."""
    ev = table(spark, sf_dir, "events")
    serial = (F.lit(40000.0) + F.col("value")).alias("excel_serial")
    converted = excel_serial_to_timestamp(F.lit(40000.0) + F.col("value"))
    return ev.select(
        "event_id",
        serial,
        converted.alias("converted_ts"),
        converted.cast("date").alias("converted_date"),
    )


@declared(
    "q_null_semantics",
    oracle="""
    SELECT e.event_id,
           COALESCE(v_label, 'none') AS label,
           (e.value IS NOT DISTINCT FROM 0.0) AS is_zero_nullsafe,
           NULLIF(e.event_type, 'error') AS type_or_null
    FROM (SELECT event_id, value, event_type,
                 CASE WHEN value > 100 THEN 'big' END AS v_label
          FROM events) e
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics pack: COALESCE fallback, null-safe equality
    (Spark <=> == SQL IS NOT DISTINCT FROM), NULLIF. The constraint
    checks (O15) and left joins (C5) lean on exactly these rules."""
    ev = table(spark, sf_dir, "events")
    v_label = F.when(F.col("value") > 100, F.lit("big"))
    return ev.select(
        "event_id",
        F.coalesce(v_label, F.lit("none")).alias("label"),
        F.col("value").eqNullSafe(F.lit(0.0)).alias("is_zero_nullsafe"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
    )


@declared(
    "q_date_parts",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(isodow(o_orderdate) AS INT) AS iso_dow,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(last_day(o_orderdate) AS DATE) AS month_end
    FROM orders
    """,
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function breadth over the fact date column: parts extraction,
    interval arithmetic, month boundaries. (ISO day-of-week: Spark's
    dayofweek() is Sunday=1, so Monday=1 ISO form is derived.)"""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        (((F.dayofweek(d) + 5) % 7) + 1).alias("iso_dow"),
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.last_day(d).alias("month_end"),
    )


# ---------------------------------------------------------------------------
# Gap-filled time series (dimension completion)
# ---------------------------------------------------------------------------


@declared(
    "q_date_gapfill_months",
    oracle=f"""
    WITH big AS (
      SELECT * FROM orders WHERE o_totalprice > 400000
    ),
    bounds AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
      FROM orders
    ),
    months AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
               AS month
      FROM bounds
    ),
    rev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             {sql_money_sum("o_totalprice", "revenue")},
             COUNT(*) AS n_orders
      FROM big GROUP BY 1
    )
    SELECT m.month,
           COALESCE(r.revenue, 0.0) AS revenue,
           COALESCE(r.n_orders, 0) AS n_orders
    FROM months m LEFT JOIN rev r ON m.month = r.month
    """,
)
def q_date_gapfill_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled monthly revenue of big-ticket orders: the month spine
    is generated from the FULL table's bounds, so months where no order
    clears the threshold appear with 0 — the classic reporting
    dimension-completion the reference gets from Metabase date
    bucketing. The spine is a one-row aggregate exploded driver-free
    (sequence + explode), broadcast into the left join; the fact scan
    is filtered before its one shuffle."""
    o = table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    bounds = o.agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("hi"),
    )
    months = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month")
    )
    rev = big.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        money_sum("o_totalprice", "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        months.join(rev, "month", "left")
        .select(
            "month",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Business-day ship latency histogram
# ---------------------------------------------------------------------------

# W(d) = business days from the Monday epoch 1969-12-29 through d
# inclusive: 5 full weeks' worth plus min(weekday_index + 1, 5).
# Latency in business days over (order, ship] is then W(ship) -
# W(order) — pure integer arithmetic on days-since-epoch, identical in
# both engines (no DOW builtin, whose week conventions differ).


@declared(
    "q_date_business_days",
    oracle="""
    WITH d AS (
      SELECT o.o_orderpriority,
             date_diff('day', DATE '1969-12-29',
                       CAST(l.l_shipdate AS DATE)) AS ms,
             date_diff('day', DATE '1969-12-29',
                       CAST(o.o_orderdate AS DATE)) AS mo
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    w AS (
      SELECT o_orderpriority,
             (5 * (ms // 7) + LEAST((ms % 7) + 1, 5))
           - (5 * (mo // 7) + LEAST((mo % 7) + 1, 5)) AS busdays
      FROM d
    )
    SELECT o_orderpriority, CAST(busdays AS BIGINT) AS busdays,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM w GROUP BY o_orderpriority, busdays
    """,
)
def q_date_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days (weekends excluded) per
    priority class, as an exact histogram — the calendar-aware twin of
    q_orders_ship_latency.  The weekday count is closed-form integer
    arithmetic on days since a Monday epoch (W(d) = 5·⌊m/7⌋ +
    min(m%7+1, 5)), deliberately avoiding each engine's DOW builtin
    (their week-start conventions differ).  Scale shape: project both
    sides to (key, date) before the orderkey-keyed fact join, then one
    partial-combinable aggregate to a |priority|×|latency-domain| grid
    — bounded by the DATE domain (~15k rows on this testdata, whose
    synthetic shipdates span ±2400 days around the order), independent
    of fact row count.  The W() operands are non-negative day counts
    (dates are post-epoch), so // and Spark div agree even when the
    resulting latency is negative."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE '1969-12-29')"
        ).alias("ms"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1969-12-29')"
        ).alias("mo"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    w = j.select(
        "o_orderpriority",
        (
            F.expr("5 * (ms div 7) + LEAST((ms % 7) + 1, 5)")
            - F.expr("5 * (mo div 7) + LEAST((mo % 7) + 1, 5)")
        )
        .cast("long")
        .alias("busdays"),
    )
    return w.groupBy("o_orderpriority", "busdays").agg(
        F.count(F.lit(1)).alias("n_lineitems")
    )

