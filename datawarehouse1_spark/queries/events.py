"""Event-stream analytics (SURVEY.md C19-C20): tumbling windows and
sessionization over the `events` table — batch-checkable here, with the
true streaming forms (watermark / session_window) in streaming/.

The event-analytics battery beside them: funnels and conversion,
retention (weekly cohorts, triangles), DAU/WAU and user lifecycle,
streaks, hopping windows, last-touch attribution, path mining,
change points (CUSUM, EWMA, anomaly days), inter-arrival and gap
distributions, burstiness, Markov stationary distributions, peak
concurrency and dwell time. Every ratio is an exact integer
micro-unit (floor(x * 1e6)); timestamps follow the NTZ discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_sum, sql_money_sum
from datawarehouse1_spark.functions.money import DEC38 as _DEC
from datawarehouse1_spark.functions.money import exact_floor_div as _exact_floor_div
from datawarehouse1_spark.functions.text_tokens import word_tokens
from datawarehouse1_spark.registry import declared

SESSION_GAP_SECONDS = 1800  # 30 min, the classic web-session gap


def _epoch_secs(c):
    """NTZ timestamp -> whole seconds since epoch, tz-free: truncate to
    the second FIRST (DuckDB's date_diff counts second-boundary
    crossings, not elapsed full seconds), then diff against an NTZ epoch
    literal. NTZ cannot cast to BIGINT, and unix_timestamp would drag in
    the session time zone."""
    return F.timestamp_diff(
        "SECOND",
        F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"),
        F.date_trunc("second", c),
    )


# --- C19: event-time tumbling window aggregation ---
@declared(
    "q_events_tumbling_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_money_sum('value', 'total_value')}
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window is the native tumbling-window operator (streaming-ready:
    add withWatermark and this same plan handles late data). Oracle twin
    is date_trunc('hour') since 1h windows are epoch-aligned."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value", "total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --- C20: sessionization via gap detection ---
@declared(
    "q_events_sessionize",
    oracle=f"""
    WITH gaps AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           CAST(SUM(is_new_session) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS session_id
    FROM gaps
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag-gap > 30min starts a session; running sum of the starts numbers
    sessions per user. Streaming twin: F.session_window (streaming/
    session.py). One shuffle on user_id serves both window passes.

    Oracle casts the windowed SUM to BIGINT: DuckDB SUM(integer) returns
    HUGEINT, which pandas-based fetch paths canonicalize as float64
    ('3.0' vs Spark's long '3') — the r1 driver hash mismatch."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = _epoch_secs(F.col("ts"))
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(
        gap.isNull() | (gap > SESSION_GAP_SECONDS), F.lit(1)
    ).otherwise(F.lit(0))
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select("event_id", "user_id", "ts").withColumn(
        "session_id", F.sum(is_new).over(running)
    )


# --- C20b: session stats (events per session, duration) ---
@declared(
    "q_events_session_stats",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           date_diff('second', MIN(ts), MAX(ts)) AS duration_s,
           {sql_money_sum('value', 'session_value')}
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = _epoch_secs(F.col("ts"))
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(
        gap.isNull() | (gap > SESSION_GAP_SECONDS), F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = ev.select("user_id", "ts", "value", "event_id").withColumn(
        "session_id", F.sum(is_new).over(running)
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(_epoch_secs(F.col("ts"))) - F.min(_epoch_secs(F.col("ts")))).alias(
            "duration_s"
        ),
        money_sum("value", "session_value"),
    )


# --- JSON extraction from the props column (C23 family) ---
@declared(
    "q_events_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props is a JSON string (TESTDATA.md); get_json_object is the
    JVM-side extraction path (no Python)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


@declared(
    "q_events_resample_ohlc",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             date_trunc('hour', ts) AS bucket,
             value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_first,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM events
      WHERE value IS NOT NULL
    )
    SELECT event_type, bucket,
           MAX(CASE WHEN rn_first = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_last = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM ranked
    GROUP BY event_type, bucket
    """,
)
def q_events_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to OHLC bars (open/high/low/close) per
    event type and hour — the standard resample step for metric and
    market-style series. First/last are made deterministic with the
    explicit (ts, event_id) tiebreak (a bare first_value over ts ties
    is engine-dependent); both row_number windows share one
    (event_type, hour) exchange, the bar aggregate reuses it. At
    100 TB: windows are per-(type, hour) partitions — bounded and
    parallel, never global.

    TZ hardening (r10): Spark's date_trunc coerces TIMESTAMP_NTZ input
    to session-zoned TIMESTAMP; when the session timezone (pinned UTC
    by the tuned session) differs from the PROCESS timezone, collect()
    renders the bucket shifted by the offset. Casting straight back to
    timestamp_ntz round-trips through the same session zone, so the
    bucket stays the naive wall-clock hour under every (session,
    process) timezone combination — pinned by
    tests/test_r10_hardening.py::test_ohlc_bucket_stays_ntz."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = (
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("bucket")
    )
    base = e.select("event_type", bucket, "value", "ts", "event_id")
    w_first = Window.partitionBy("event_type", "bucket").orderBy(
        "ts", "event_id"
    )
    w_last = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = base.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rn_first") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@declared(
    "q_events_funnel",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           (MIN(ts) FILTER (WHERE event_type = 'view')
              < MIN(ts) FILTER (WHERE event_type = 'purchase')) AS converted
    FROM events
    WHERE event_type IN ('view', 'purchase')
    GROUP BY user_id
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel per user (first view strictly before first
    purchase): conditional aggregation in ONE groupBy — no self-join of
    the events table against itself."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    is_view = F.col("event_type") == "view"
    is_buy = F.col("event_type") == "purchase"
    return ev.groupBy("user_id").agg(
        F.count(F.when(is_view, 1)).alias("n_views"),
        F.count(F.when(is_buy, 1)).alias("n_purchases"),
        (
            F.min(F.when(is_view, F.col("ts"))) < F.min(F.when(is_buy, F.col("ts")))
        ).alias("converted"),
    )


@declared(
    "q_events_retention_weekly",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT a.week,
           COUNT(*) AS n_active,
           COUNT(b.user_id) AS n_retained
    FROM active a
      LEFT JOIN active b
        ON b.user_id = a.user_id AND b.week = a.week + INTERVAL 7 DAY
    GROUP BY a.week
    """,
)
def q_events_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort: of the users active in week W, how many
    are also active in W+1. Self-join of the (user, week) DISTINCT set —
    tiny compared to raw events, so the retention join never touches the
    event log twice."""
    ev = table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    nxt = active.select(
        F.col("user_id").alias("user_id_b"), F.col("week").alias("week_b")
    )
    return (
        active.join(
            nxt,
            (F.col("user_id_b") == F.col("user_id"))
            & (F.col("week_b") == F.date_add(F.col("week"), 7)),
            "left",
        )
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count("user_id_b").alias("n_retained"),
        )
    )


# --- ext: event-sequence transition matrix (path analysis) ---
@declared(
    "q_events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-style path analysis: counts of consecutive event-type
    transitions per user — the sequence-analytics shape behind funnels
    and session-flow dashboards. One window shuffle on user_id (events
    already cluster by user at scale if the table is user-bucketed),
    then a tiny (|types|²-row) aggregate; (ts, event_id) ordering makes
    the LAG total even when timestamps tie."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@declared(
    "q_events_anomaly_days",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    tot AS (
      SELECT COUNT(*) AS n_days,
             SUM(n_events) AS s,
             SUM(CAST(n_events AS HUGEINT) * n_events) AS q
      FROM daily
    )
    SELECT day, n_events,
           CAST(n_days * n_events - s AS HUGEINT)
             * CAST(n_days * n_events - s AS HUGEINT)
             > 4 * (CAST(n_days AS HUGEINT) * q
                    - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS is_anomaly
    FROM daily, tot
    """,
)
def q_events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly flags (the ops dashboard check): a day is
    anomalous when its count deviates from the mean by more than two
    population standard deviations. The 2σ test is algebraically
    rearranged to EXACT INTEGER form — (N·n_d − S)² > 4·(N·Q − S²) with
    S=Σn, Q=Σn² — so both engines compare exact integers and no
    floating-point variance accumulation order can diverge. The wide
    products run in DECIMAL(38,0) (Spark) vs HUGEINT (DuckDB): int64
    would overflow N·Q once daily counts pass ~10⁷ over multi-year
    spans, and Spark wraps silently where DuckDB raises — 128-bit
    integers keep the test exact to ~10¹² events/day. Stats come from
    one single-row aggregate broadcast-joined back to the daily counts
    (the scalar-subquery shape); at 100 TB only per-day counts
    shuffle."""
    D = "decimal(20,0)"
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events").cast(D) * F.col("n_events")).alias("q"),
    )
    dev = (F.col("n_days") * F.col("n_events") - F.col("s")).cast(D)
    var_n2 = (
        F.col("n_days").cast(D) * F.col("q")
        - F.col("s").cast(D) * F.col("s").cast(D)
    )
    return daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_events",
        (dev * dev > 4 * var_n2).alias("is_anomaly"),
    )


_EWMA_LAGS = 20


@declared(
    "q_events_ewma_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      FROM events GROUP BY CAST(ts AS DATE)
    )
    SELECT day, n_events,
           """
    + " + ".join(
        f"coalesce(lag(n_events, {k}) OVER (ORDER BY day), 0) * {2.0 ** -(k + 1)!r}"
        for k in range(_EWMA_LAGS)
    )
    + """ AS ewma
    FROM daily
    """,
)
def q_events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing of the daily event volume (the ops
    trendline / naive next-day forecast): a 20-lag TRUNCATED EWMA with
    dyadic α = 1/2, written as an explicit fixed-order sum of LAG
    terms. Every term x·2⁻ᵏ is an exactly representable dyadic and
    every partial sum stays under 2⁵³, so the float result is
    bit-identical across engines and independent of any accumulation
    reordering — and unlike the closed-form Σx·2ʲ rewrite, truncation
    keeps the arithmetic exact for arbitrarily long series (the weight
    tail beyond 20 lags is < 2⁻²⁰ of mass, below one event for any
    realistic daily count). One window sort on day; at 100 TB the
    daily table is already tiny."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.orderBy("day")
    terms = [
        F.coalesce(F.lag("n_events", k).over(w), F.lit(0)) * F.lit(2.0 ** -(k + 1))
        for k in range(_EWMA_LAGS)
    ]
    ewma = terms[0]
    for t in terms[1:]:
        ewma = ewma + t
    return daily.select("day", "n_events", ewma.alias("ewma"))


# ---------------------------------------------------------------------------
# Event-stream analytics extensions
# ---------------------------------------------------------------------------


@declared(
    "q_events_hourly_heatmap",
    oracle=f"""
    SELECT isodow(ts) AS dow, hour(ts) AS hr,
           COUNT(*) AS n_events,
           {sql_money_sum("value", "total_value")}
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (ISO dow, Monday=1). Spark's
    dayofweek is Sunday=1, remapped arithmetically to ISO to match
    DuckDB's isodow. One scan, 168-cell output — pure partial agg."""
    ev = table(spark, sf_dir, "events")
    iso_dow = ((F.dayofweek("ts") + 5) % 7 + 1).alias("dow")
    return ev.groupBy(iso_dow, F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum("value", "total_value"),
    )


@declared(
    "q_events_variant_extract",
    oracle="""
    WITH extracted AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MAX(k) AS max_k
    FROM extracted GROUP BY event_type
    """,
)
def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via VARIANT (Spark 4's native JSON type):
    parse_json once, variant_get typed paths — the columnar-shredding
    path for JSON at scale, vs get_json_object's per-call string
    re-parse (q_events_json_extract covers that legacy form). Stays
    entirely in the JVM; oracle twin is DuckDB's json_extract."""
    ev = table(spark, sf_dir, "events")
    extracted = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
    )
    return extracted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


@declared(
    "q_events_gap_histogram",
    oracle="""
    WITH gaps AS (
      SELECT date_diff('second', lag(ts) OVER w, ts) AS gap_sec
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CAST(floor(gap_sec / 600.0) AS BIGINT) * 600 AS gap_bucket_sec,
           COUNT(*) AS n_gaps
    FROM gaps WHERE gap_sec IS NOT NULL
    GROUP BY 1
    """,
)
def q_events_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event-gap distribution (10-minute buckets) — the data
    profile that justifies the 30-min session gap. Gap seconds follow
    the NTZ discipline (truncate to second, diff against epoch) so both
    engines count boundary crossings identically."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = _epoch_secs(F.col("ts"))
    gap = (secs - F.lag(secs).over(w)).alias("gap_sec")
    return (
        ev.select(gap)
        .filter(F.col("gap_sec").isNotNull())
        .groupBy(
            (F.floor(F.col("gap_sec") / 600) * 600).alias("gap_bucket_sec")
        )
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


@declared(
    "q_events_dau_wau",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    bounds AS (SELECT MAX(day) AS max_day FROM user_days),
    contrib AS (
      SELECT user_id,
             CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM user_days
    ),
    wau AS (
      SELECT day, COUNT(DISTINCT user_id) AS wau
      FROM contrib, bounds WHERE day <= max_day GROUP BY day
    ),
    dau AS (
      SELECT day, COUNT(*) AS dau FROM user_days GROUP BY day
    )
    SELECT w.day, COALESCE(d.dau, 0) AS dau, w.wau
    FROM wau w LEFT JOIN dau d ON w.day = d.day
    """,
)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing-7-day WAU per day. Rolling DISTINCT can't ride a
    window frame, so each active (user, day) is exploded to the 7
    target days it supports — a 7× fan-out of the already-deduped
    user-day set (tiny vs raw events), then one distinct-count. This
    shape stays linear at 100 TB; the naive alternative (range
    self-join) is quadratic in active days."""
    ev = table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    bounds = user_days.agg(F.max("day").alias("max_day"))
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(
                "day",
                F.date_add("day", 6),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    wau = (
        contrib.join(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("max_day"))
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        wau.join(dau, "day", "left")
        .select("day", F.coalesce("dau", F.lit(0)).alias("dau"), "wau")
    )


@declared(
    "q_events_user_lifecycle",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    seq AS (
      SELECT user_id, d,
             LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
             MIN(d) OVER (PARTITION BY user_id) AS first_d
      FROM days
    )
    SELECT d AS day,
           COUNT(*) AS n_active,
           CAST(COUNT(*) FILTER (WHERE d = first_d) AS BIGINT) AS n_new,
           CAST(COUNT(*) FILTER (WHERE datediff('day', prev_d, d) = 1)
                AS BIGINT) AS n_retained,
           CAST(COUNT(*) FILTER (WHERE datediff('day', prev_d, d) > 1)
                AS BIGINT) AS n_resurrected
    FROM seq
    GROUP BY d
    """,
)
def q_events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting lifecycle report: per day, active users split
    into NEW (first-ever active day), RETAINED (also active the
    previous calendar day), and RESURRECTED (returning after a gap) —
    the standard DAU decomposition, and the classes partition
    n_active exactly (law pinned in pytest). Exchanges: the
    (user, day) distinct, the per-user windows (lag + min share one
    user exchange), and the day rollup — three, all narrow; event
    payloads never shuffle."""
    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    wu = Window.partitionBy("user_id")
    wo = wu.orderBy("d")
    seq = days.select(
        "d",
        F.lag("d").over(wo).alias("prev_d"),
        F.min("d").over(wu).alias("first_d"),
    )
    diff = F.datediff(F.col("d"), F.col("prev_d"))
    return seq.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("n_active"),
        F.count(F.when(F.col("d") == F.col("first_d"), 1)).alias("n_new"),
        F.count(F.when(diff == 1, 1)).alias("n_retained"),
        F.count(F.when(diff > 1, 1)).alias("n_resurrected"),
    )


@declared(
    "q_events_interarrival_rate",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             date_diff('microsecond',
                       LAG(ts) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id),
                       ts) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
           CAST(SUM(gap_us) // COUNT(gap_us) AS BIGINT) AS mean_gap_us,
           CAST(CAST(COUNT(gap_us) AS HUGEINT) * 3600000000 * 1000000
                // NULLIF(SUM(gap_us), 0) AS BIGINT) AS rate_per_hour_e6
    FROM seq
    GROUP BY event_type
    """,
)
def q_events_interarrival_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event inter-arrival rate: gaps measured per
    (user, type) stream (a per-TYPE total order would funnel each
    type through one task — the window partitions by user instead,
    bounded and parallel), aggregated into exact integer microsecond sums;
    the arrival rate is the rational lambda = n/sum in events-per-hour
    micro-units via integer `div` (NULLIF-guarded for the all-ties
    corner). Wall-clock microsecond diffs on the NTZ column are
    timezone-independent by construction (SCALE.md rule 25). Two
    exchanges: the (user, type) window and the per-type aggregate."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    # microsecond gaps: the NTZ values are microsecond-quantized, so
    # the "complete microseconds" (Spark timestampdiff) and
    # "microsecond boundaries crossed" (DuckDB date_diff) conventions
    # coincide exactly — second-level diffs would NOT (0.9s -> 1.1s is
    # one crossed boundary but zero complete seconds)
    seq = e.select(
        "event_type",
        F.timestamp_diff(
            "MICROSECOND", F.lag("ts").over(w), F.col("ts")
        ).alias("gap_us"),
    )
    agg = seq.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum("gap_us").alias("sum_gap_us"),
    )
    return agg.select(
        "event_type",
        "n_gaps",
        "sum_gap_us",
        F.expr("sum_gap_us div n_gaps").cast("long").alias("mean_gap_us"),
        # n * (3.6e9 us/hour) * 1e6 overflows int64 -> DECIMAL(38,0)
        F.expr(
            "cast(n_gaps as decimal(38,0)) * 3600000000 * 1000000"
            " div nullif(sum_gap_us, 0)"
        )
        .cast("long")
        .alias("rate_per_hour_e6"),
    )


@declared(
    "q_events_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tot AS (
      SELECT event_type,
             SUM(n) AS total_n,
             COUNT(*) AS n_days
      FROM daily GROUP BY event_type
    ),
    cusum AS (
      SELECT d.event_type, d.day, d.n,
             SUM(CAST(d.n AS DECIMAL(38,0)) * t.n_days - t.total_n)
               OVER (PARTITION BY d.event_type ORDER BY d.day) AS s
      FROM daily d JOIN tot t ON d.event_type = t.event_type
    ),
    best AS (
      SELECT event_type, day, n, s,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(s) DESC, day ASC) AS r
      FROM cusum
    )
    SELECT event_type,
           day AS changepoint_day,
           CAST(n AS BIGINT) AS day_events,
           CAST(s AS BIGINT) AS s_scaled,
           CAST(abs(s) AS BIGINT) AS s_abs
    FROM best WHERE r = 1
    """,
)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily event volume per type —
    the sequential-monitoring rung of the drift battery (TVD /
    chi-square / KS test DISTRIBUTIONS; CUSUM finds WHEN a rate
    shifted): the day maximizing |Σ_{d<=k} (n_d - mean)| marks the
    most likely level change. Exactness: the partial sums are scaled
    by n_days (S_k = Σ (n_d * D - N), an integer multiple of the
    textbook CUSUM that preserves the argmax), so every value is an
    exact DECIMAL integer and the argmax + earliest-day tie-break is
    deterministic in both engines. Plan: the daily aggregate is the
    only exchange that sees event rows; the per-type totals join back
    onto the bounded (type, day) table and the cumulative/argmax
    windows ride its per-type partitions (bounded: |types| x |days|
    rows)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("total_n"), F.count(F.lit(1)).alias("n_days")
    )
    joined = daily.join(F.broadcast(tot), "event_type")
    w_cum = Window.partitionBy("event_type").orderBy("day")
    cusum = joined.select(
        "event_type",
        "day",
        "n",
        F.sum(
            F.col("n").cast(_DEC) * F.col("n_days") - F.col("total_n")
        )
        .over(w_cum)
        .alias("s"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("day").asc()
    )
    return (
        cusum.select(
            "event_type",
            "day",
            "n",
            "s",
            F.row_number().over(w_best).alias("r"),
        )
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            F.col("n").alias("day_events"),
            F.col("s").cast("long").alias("s_scaled"),
            F.abs(F.col("s")).cast("long").alias("s_abs"),
        )
    )


_FUNNEL_REPORT_SQL = """
    SELECT 1 AS step, 'view' AS step_name, n1 AS n_users,
           CAST(NULL AS BIGINT) AS conv_from_prev_e6,
           CAST(NULL AS BIGINT) AS conv_from_first_e6
    FROM t
    UNION ALL
    SELECT 2, 'click', n2,
           CAST(n2 * 1000000 // nullif(n1, 0) AS BIGINT),
           CAST(n2 * 1000000 // nullif(n1, 0) AS BIGINT)
    FROM t
    UNION ALL
    SELECT 3, 'purchase', n3,
           CAST(n3 * 1000000 // nullif(n2, 0) AS BIGINT),
           CAST(n3 * 1000000 // nullif(n1, 0) AS BIGINT)
    FROM t
"""


@declared(
    "q_events_funnel_conversion",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_type
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id ORDER BY ts) AS sv
      FROM e
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click'
                          AND sv IS NOT NULL THEN ts END)
                  OVER (PARTITION BY user_id ORDER BY ts) AS qc
      FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase'
                          AND qc IS NOT NULL THEN ts END)
                  OVER (PARTITION BY user_id ORDER BY ts) AS qp
      FROM s2
    ),
    u AS (
      SELECT user_id, min(sv) AS t1, min(qc) AS t2, min(qp) AS t3
      FROM s3 GROUP BY user_id
    ),
    t AS (
      SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM u
    )
    {_FUNNEL_REPORT_SQL}
    """,
)
def q_events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel with AT-OR-AFTER step
    semantics: a click only counts if some view happened at or before
    it (same user), a purchase only if some qualifying click did. The
    running-min windows use the default RANGE frame (peers included),
    so a click simultaneous with the first view qualifies — identical
    tie semantics in both engines, deterministic under any intra-peer
    order because min() ignores row order within the frame. Plan: the
    three window stages and the per-user rollup all share ONE
    user-partitioned sort exchange; the 1-row totals aggregate and the
    3-row stack() report are driver-free. The funnel-type isin filter
    pushes down to the scan, so at 100 TB only the three funnel event
    types' (user_id, ts, type) tuples shuffle."""
    e = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .where(F.col("event_type").isin("view", "click", "purchase"))
    )
    w = Window.partitionBy("user_id").orderBy("ts")  # RANGE default frame
    typ = F.col("event_type")
    s1 = e.withColumn("sv", F.min(F.when(typ == "view", F.col("ts"))).over(w))
    s2 = s1.withColumn(
        "qc",
        F.min(
            F.when((typ == "click") & F.col("sv").isNotNull(), F.col("ts"))
        ).over(w),
    )
    s3 = s2.withColumn(
        "qp",
        F.min(
            F.when((typ == "purchase") & F.col("qc").isNotNull(), F.col("ts"))
        ).over(w),
    )
    u = s3.groupBy("user_id").agg(
        F.min("sv").alias("t1"), F.min("qc").alias("t2"), F.min("qp").alias("t3")
    )
    t = u.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    return t.selectExpr(
        """
        stack(3,
          1, 'view',     n1, CAST(NULL AS BIGINT),
                             CAST(NULL AS BIGINT),
          2, 'click',    n2, n2 * 1000000 div nullif(n1, 0),
                             n2 * 1000000 div nullif(n1, 0),
          3, 'purchase', n3, n3 * 1000000 div nullif(n2, 0),
                             n3 * 1000000 div nullif(n1, 0)
        ) AS (step, step_name, n_users, conv_from_prev_e6,
              conv_from_first_e6)
        """
    )


@declared(
    "q_events_streak_longest",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    runs AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS anchor
      FROM days
    ),
    streaks AS (
      SELECT user_id, anchor, COUNT(*) AS streak_days,
             MIN(d) AS streak_start
      FROM runs GROUP BY user_id, anchor
    ),
    best AS (
      SELECT user_id, streak_days, streak_start,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC,
                                         streak_start ASC) AS rn
      FROM streaks
    )
    SELECT user_id, streak_days, streak_start FROM best WHERE rn = 1
    """,
)
def q_events_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands rewrite: within a user's distinct active days
    ordered by date, (day - row_number) is constant exactly along a
    consecutive run, so grouping by that anchor yields the runs without
    any self-join. The winning run per user breaks ties by earliest
    start, so the output is deterministic. Plan: the distinct lands on
    (user, day); the row_number window repartitions by user, and the
    run grouping + best-run window both REUSE that user partitioning
    (hash(user) already clusters (user, anchor)), so fact rows shuffle
    twice total and nothing wider than (user_id, date) ever moves."""
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = runs.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_days"), F.min("d").alias("streak_start")
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start")
    )


@declared(
    "q_events_hopping_window",
    oracle="""
    WITH hops AS (SELECT unnest([0, 1, 2, 3]) AS k),
    b AS (
      SELECT user_id, event_type,
             date_trunc('hour', ts)
               + INTERVAL 15 MINUTE
                 * CAST(EXTRACT(minute FROM ts) // 15 AS INTEGER) AS b15
      FROM events
    )
    SELECT b15 - INTERVAL 15 MINUTE * k AS window_start,
           b15 - INTERVAL 15 MINUTE * k + INTERVAL 60 MINUTE AS window_end,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM b CROSS JOIN hops
    GROUP BY 1, 2, 3
    """,
)
def q_events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window traffic report: 1-hour windows sliding every 15
    minutes (each event belongs to exactly 4 windows), events and
    distinct users per (window, type) — the smoothed rate curve a
    monitoring dashboard renders where tumbling windows would alias.
    The Spark side is the NATIVE window generator
    F.window(ts, '1 hour', '15 minutes'); the oracle reconstructs the
    identical window set arithmetically (the event's 15-minute bucket
    minus k slides, k=0..3) — both align windows on wall-clock
    15-minute boundaries, and events.ts is TIMESTAMP_NTZ end-to-end so
    the bounds are zone-free (SCALE.md rule 25). Plan: window
    assignment is a narrow 4x explode BEFORE the shuffle; the distinct
    count expands (window, type, user) then aggregates — two bounded
    exchanges carrying (window, type, user) tuples only."""
    e = table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "n_users",
        )
    )


@declared(
    "q_events_attribution_last_touch",
    oracle="""
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS touch
      FROM events
    )
    SELECT coalesce(touch, 'unattributed') AS touch_type,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
             AS value_e6
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY coalesce(touch, 'unattributed')
    """,
)
def q_events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the LAST non-purchase event of the same user at or before it (the
    touchpoint); purchases with no prior touch land in 'unattributed'.
    The running last-non-null rides a ROWS frame ordered by
    (ts, event_id) — the explicit id tie-break makes simultaneous
    touch/purchase pairs deterministic in both engines (a RANGE frame
    would make peer order visible to last_value). Purchase values sum
    as exact floor(v*1e6) integer micro-units. Plan: ONE
    user-partitioned sort exchange for the window, then a tiny
    per-touch-type aggregate — at 100 TB only (user, ts, id, type,
    value) tuples shuffle once."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    touched = e.select("event_type", "value", touch.alias("touch"))
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("touch"), F.lit("unattributed")).alias(
                "touch_type"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long"))
            .cast("long")
            .alias("value_e6"),
        )
    )


@declared(
    "q_events_retention_triangle",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    firstw AS (
      SELECT user_id, MIN(wk) AS cohort FROM active GROUP BY user_id
    ),
    tri AS (
      SELECT f.cohort,
             CAST((a.wk - f.cohort) // 7 AS INT) AS age_weeks,
             COUNT(*) AS n_active
      FROM active a JOIN firstw f ON a.user_id = f.user_id
      GROUP BY f.cohort, (a.wk - f.cohort) // 7
    ),
    base AS (
      SELECT cohort, n_active AS cohort_size FROM tri WHERE age_weeks = 0
    )
    SELECT t.cohort, t.age_weeks, t.n_active, b.cohort_size,
           CAST(t.n_active * 1000000 // b.cohort_size AS BIGINT)
             AS retention_e6
    FROM tri t JOIN base b ON t.cohort = b.cohort
    """,
)
def q_events_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by their first
    active ISO week, activity tracked by whole weeks elapsed — the
    (cohort x age) matrix behind every retention curve. Week
    arithmetic stays in dates (Monday-truncated in both engines), so
    the age is an exact integer; retention is floored micro-units of
    the cohort's own age-0 size (exactly 1e6 at age 0 by
    construction). Plan: (user, week) distinct, the per-user first
    week is a WINDOW over the user partition (no groupBy+join-back),
    the bounded (cohort, age) triangle localCheckpoints so its age-0
    base row doesn't recompute the chain (rule 12), and the base
    broadcasts back onto it."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    active = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    cohort = F.min("wk").over(Window.partitionBy("user_id"))
    tri = (
        active.withColumn("cohort", cohort)
        .select(
            "cohort",
            F.expr("CAST(datediff(wk, cohort) div 7 AS INT)").alias(
                "age_weeks"
            ),
        )
        .groupBy("cohort", "age_weeks")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .localCheckpoint(eager=True)
    )
    base = tri.where(F.col("age_weeks") == 0).select(
        "cohort", F.col("n_active").alias("cohort_size")
    )
    return tri.join(F.broadcast(base), "cohort").select(
        "cohort",
        "age_weeks",
        "n_active",
        "cohort_size",
        F.expr("n_active * 1000000 div cohort_size")
        .cast("long")
        .alias("retention_e6"),
    )


@declared(
    "q_events_path_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           COUNT(*) AS n_paths,
           COUNT(DISTINCT user_id) AS n_users
    FROM seq
    WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY path
    ORDER BY n_paths DESC, path LIMIT 20
    """,
)
def q_events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step event-type journeys: consecutive type triples
    per user under deterministic (ts, event_id) order, counted with
    the distinct users walking each path — the order-3 sequence view
    behind a Sankey/flow chart (q_events_transition_matrix is the
    order-2 Markov view). Plan: both lead() windows share ONE
    user-sorted exchange; the (path, user) distinct expands and
    aggregates narrow strings only; top-20 is
    TakeOrderedAndProject."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    path = F.concat_ws(">", "event_type", "t2", "t3").alias("path")
    return (
        seq.select(path, "user_id")
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(20)
    )


@declared(
    "q_text_source_divergence",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text),
                                                   '[^a-z0-9]+'),
                                t -> t <> '')) AS word
      FROM documents
    ),
    sw AS (SELECT source, word, COUNT(*) AS c_sw
           FROM tok GROUP BY source, word),
    wtot AS (SELECT word, SUM(c_sw) AS c_w FROM sw GROUP BY word),
    stot AS (SELECT source, SUM(c_sw) AS n_s FROM sw GROUP BY source),
    gtot AS (SELECT SUM(c_sw) AS n FROM sw),
    -- HUGEINT-native arithmetic throughout (DuckDB promotes over-wide
    -- DECIMAL ops to DOUBLE; the Spark twin uses DECIMAL(38,0))
    terms AS (
      SELECT s.source,
             abs(s.c_sw * g.n - w.c_w * st.n_s) AS num,
             w.c_w * st.n_s AS own_mass
      FROM sw s
      JOIN wtot w ON w.word = s.word
      JOIN stot st ON st.source = s.source
      CROSS JOIN gtot g
    ),
    agg AS (
      SELECT source, SUM(num) AS total, SUM(own_mass) AS own_mass
      FROM terms GROUP BY source
    )
    SELECT a.source,
           CAST(st.n_s AS BIGINT) AS n_tokens,
           CAST((a.total + (g.n * st.n_s - a.own_mass)) * 1000000
                // (2 * st.n_s * g.n) AS BIGINT) AS tvd_e6
    FROM agg a
    JOIN stot st ON st.source = a.source
    CROSS JOIN gtot g
    """,
)
def q_text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance from the corpus unigram
    distribution, in exact micro-units: TVD = (1/2)Σ|p_s(w) − p(w)|
    over ALL corpus words — computed from the born-rational identity
    |c_sw·N − c_w·n_s| / (2·n_s·N) so every summand is an exact
    DECIMAL integer. Words a source never uses can't appear in its
    join rows, but they still contribute |0 − c_w·n_s|; summed in
    closed form that missing mass is (N − n_s)·n_s ... MINUS the
    c_w·n_s already counted for the source's own words — equivalently
    add Σ_{w∉s} c_w·n_s = (N − Σ_{w∈s} c_w)·n_s, which the oracle and
    Spark twin both express by the same two-term decomposition. The
    'which provider doesn't sound like the corpus' screen beside the
    set-based vocab Jaccard. Plan: bodies tokenize map-side; the
    (source, word) aggregate is the only exchange that sees token
    rows; word totals join back on the bounded count table; the 1-row
    corpus total broadcasts."""
    d = table(spark, sf_dir, "documents")
    word = F.explode(
        word_tokens()
    ).alias("word")
    sw = (
        d.select("source", word)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c_sw"))
        .localCheckpoint(eager=True)
    )
    wtot = sw.groupBy("word").agg(F.sum("c_sw").alias("c_w"))
    stot = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    gtot = sw.agg(F.sum("c_sw").alias("n"))
    dec = "decimal(38,0)"
    terms = (
        sw.join(wtot, "word")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            F.abs(
                F.col("c_sw").cast(dec) * F.col("n")
                - F.col("c_w").cast(dec) * F.col("n_s")
            ).alias("num"),
            # the c_w·n_s mass of the source's OWN words, to subtract
            # from the closed-form missing-words term
            (F.col("c_w").cast(dec) * F.col("n_s")).alias("own_mass"),
        )
        .groupBy("source")
        .agg(
            F.sum("num").alias("total"),
            F.sum("own_mass").alias("own_mass"),
        )
    )
    out = (
        terms.join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            F.expr(
                "(total + (CAST(n AS DECIMAL(38,0)) * n_s - own_mass))"
                " * 1000000"
                " div (2 * CAST(n_s AS DECIMAL(38,0)) * n)"
            )
            .cast("long")
            .alias("tvd_e6"),
        )
    )
    return out


@declared(
    "q_events_user_type_gini",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST((SUM(c) * SUM(c) - SUM(CAST(c AS HUGEINT) * c)) * 1000000
                // (SUM(c) * SUM(c)) AS BIGINT) AS gini_e6
    FROM ut
    GROUP BY user_id
    """,
)
def q_events_user_type_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type Gini impurity in exact floored micro-units —
    the single-mindedness / bot-behavior screen (gini 0 = one type
    only; uniform over k types = floor((1-1/k)·1e6)).  Two-level
    aggregate (user+type, then user — rule 4: no Expand on the fact
    table); the squared sums ride DECIMAL(38,0) in Spark and native
    HUGEINT in the oracle, so n_events is safe to ~1e18 per user."""
    e = table(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    d = "CAST(SUM(c) AS DECIMAL(38,0))"
    return ut.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr(
            f"({d} * {d} - SUM(CAST(c AS DECIMAL(19,0)) * c)) * 1000000"
            f" div ({d} * {d})"
        )
        .cast("long")
        .alias("gini_e6"),
    )


_LAGS = (1, 2, 3, 4, 5, 6, 7)


@declared(
    "q_events_autocorr_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    pairs AS (
      SELECT l.k, a.x AS xa, b.x AS xb
      FROM daily a
      CROSS JOIN unnest([{", ".join(str(k) for k in _LAGS)}]) AS l(k)
      JOIN daily b ON b.d = a.d + CAST(l.k AS INT)
    ),
    mom AS (
      SELECT k, COUNT(*) AS n,
             SUM(xa) AS sx, SUM(xb) AS sy,
             SUM(CAST(xa AS HUGEINT) * xa) AS sxx,
             SUM(CAST(xb AS HUGEINT) * xb) AS syy,
             SUM(CAST(xa AS HUGEINT) * xb) AS sxy
      FROM pairs GROUP BY k
    )
    SELECT CAST(k AS INT) AS lag_days, CAST(n AS BIGINT) AS n_pairs,
           round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * sxx
                                    - CAST(sx AS HUGEINT) * sx AS DOUBLE)),
                          0.0)
                 / NULLIF(sqrt(CAST(n * syy
                                    - CAST(sy AS HUGEINT) * sy AS DOUBLE)),
                          0.0), 6) AS acf
    FROM mom
    """,
)
def q_events_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1..7 days — the weekly-rhythm / trend-persistence read a
    time-series monitor starts from (q_orders_seasonality_decompose is
    the month-level decomposition; this is the correlogram).  Convention:
    Pearson r per lag over the (x_t, x_{t+k}) pairs that BOTH exist
    (calendar join on the bounded daily table; gap days pair with
    nothing, identically in both engines).  The q_stats_corr_matrix
    discipline: exact integer co-moments AND first-moment products
    (DECIMAL(38,0) in Spark, HUGEINT in the oracle — a bare BIGINT
    sx*sx overflows past ~3e9 summed daily events), one fixed IEEE
    parenthesization, round to 6 dp; acf is NULL when a lag's series
    is constant or has a single pair (zero variance — rule 27's
    NULLIF convention, never a raised divide-by-zero).  Plan: one fact exchange (the daily aggregate); the lag
    explode and self-join touch only the bounded daily table."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=True)
    )
    a = daily.select(
        "d",
        F.col("x").alias("xa"),
        F.explode(F.array(*[F.lit(k) for k in _LAGS])).alias("k"),
    )
    b = daily.select(F.col("d").alias("bd"), F.col("x").alias("xb"))
    pairs = a.join(
        F.broadcast(b), F.expr("date_add(d, k) = bd")
    )
    d38 = "CAST({c} AS DECIMAL(38,0))"
    mom = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.expr(f"SUM({d38.format(c='xa')} * xa)").alias("sxx"),
        F.expr(f"SUM({d38.format(c='xb')} * xb)").alias("syy"),
        F.expr(f"SUM({d38.format(c='xa')} * xb)").alias("sxy"),
    )
    return mom.select(
        F.col("k").cast("int").alias("lag_days"),
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            "round(CAST(CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / NULLIF(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)), 0.0)"
            " / NULLIF(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy"
            " - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)), 0.0), 6)"
        ).alias("acf"),
    )


@declared(
    "q_events_time_to_convert",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS first_view_us
      FROM events
    ),
    conv AS (
      SELECT us - first_view_us AS lat_us,
             (us - first_view_us) // 60000000 AS lat_min
      FROM ordered
      WHERE event_type = 'purchase' AND first_view_us IS NOT NULL
    ),
    hist AS (
      SELECT lat_min, COUNT(*) AS cnt, SUM(lat_us) AS sum_us
      FROM conv GROUP BY lat_min
    ),
    cum AS (
      SELECT lat_min, cnt, sum_us,
             SUM(cnt) OVER () AS n,
             SUM(sum_us) OVER () AS total_us,
             SUM(cnt) OVER (ORDER BY lat_min) AS cumc
      FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_conversions,
           CAST(MAX(total_us) // MAX(n) AS BIGINT) AS mean_latency_us,
           CAST(MIN(CASE WHEN cumc * 2 >= n THEN lat_min END) AS BIGINT)
             AS median_latency_min,
           CAST(MIN(CASE WHEN cumc * 10 >= n * 9 THEN lat_min END)
                AS BIGINT) AS p90_latency_min,
           CAST(MAX(lat_min) AS BIGINT) AS max_latency_min
    FROM cum
    """,
)
def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion latency: for every purchase preceded by
    a view from the same user, the exact integer-MICROSECOND gap to
    that user's FIRST view (running min over a ROWS frame with
    (ts, event_id) ordering — the funnel/attribution discipline).
    Summary: exact mean in microseconds (integer div) and exact
    discrete median/p90/max in whole minutes off the bounded
    (lat_min) histogram — latency values are horizon-bounded, so the
    ordered window never touches per-event rows (rule 22).  Plan: one
    user-sorted exchange serves the running-min window; then the
    bounded histogram aggregate."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # ts is TIMESTAMP_NTZ (rule 25): microseconds come from a zone-free
    # diff against the NTZ epoch, never a unix_* function that would
    # coerce through the session zone; only DIFFERENCES of this value
    # are consumed anyway
    us = F.expr(
        "timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    ordered = e.select(
        "event_type",
        us.alias("us"),
        F.min(
            F.when(F.col("event_type") == "view", us)
        ).over(w).alias("first_view_us"),
    )
    conv = ordered.filter(
        (F.col("event_type") == "purchase")
        & F.col("first_view_us").isNotNull()
    ).select(
        (F.col("us") - F.col("first_view_us")).alias("lat_us"),
        F.expr("(us - first_view_us) div 60000000").alias("lat_min"),
    )
    hist = conv.groupBy("lat_min").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("lat_us").alias("sum_us")
    )
    g = Window.partitionBy()
    cum = hist.select(
        "lat_min",
        "cnt",
        F.sum("cnt").over(g).alias("n"),
        F.sum("sum_us").over(g).alias("total_us"),
        F.sum("cnt")
        .over(Window.orderBy("lat_min").rangeBetween(Window.unboundedPreceding, 0))
        .alias("cumc"),
    )
    return cum.agg(
        F.max("n").cast("long").alias("n_conversions"),
        F.expr("MAX(total_us) div MAX(n)").cast("long").alias("mean_latency_us"),
        F.min(F.when(F.col("cumc") * 2 >= F.col("n"), F.col("lat_min")))
        .cast("long")
        .alias("median_latency_min"),
        F.min(F.when(F.col("cumc") * 10 >= F.col("n") * 9, F.col("lat_min")))
        .cast("long")
        .alias("p90_latency_min"),
        F.max("lat_min").cast("long").alias("max_latency_min"),
    )


@declared(
    "q_stats_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    diffs AS (
      SELECT d, x - lag(x) OVER (ORDER BY d) AS dx FROM daily
    ),
    signs AS (
      SELECT d, CASE WHEN dx > 0 THEN 1 ELSE -1 END AS s
      FROM diffs WHERE dx IS NOT NULL AND dx <> 0
    ),
    runs AS (
      SELECT s,
             CASE WHEN s <> lag(s) OVER (ORDER BY d) THEN 1 ELSE 0 END
               AS brk
      FROM signs
    )
    SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_up,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_down,
           CAST(1 + SUM(COALESCE(brk, 0)) AS BIGINT) AS n_runs,
           round((CAST(1 + SUM(COALESCE(brk, 0)) AS DOUBLE)
                  - (1.0 + 2.0 * SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                           * SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                           / COUNT(*)))
                 / NULLIF(sqrt((2.0 * SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                             * SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                         * (2.0 * SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                                * SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                            - COUNT(*)))
                        / NULLIF(CAST(COUNT(*) AS DOUBLE) * COUNT(*)
                                  * (COUNT(*) - 1), 0.0)), 0.0), 6) AS z
    FROM runs
    """,
)
def q_stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily
    event-count direction: day-over-day changes sign to +1/-1 (ties
    dropped — the standard convention), R counts maximal same-sign
    runs, and z standardizes R against the exact null moments
    mu = 1 + 2ab/n, var = 2ab(2ab - n) / (n²(n - 1)).  n_up/n_down/R
    are exact integers (a and b are calendar-bounded, so the double
    products in z never leave the exact-integer range of IEEE754);
    z is NULL when the null variance is zero (a single-direction
    series, or a single usable sign where even the variance
    denominator vanishes) and otherwise one
    fixed IEEE assembly rounded to 6 dp (the welch/
    corr discipline, rule 20).  Every ordered window runs over the
    bounded daily table (rule 22)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wd = Window.orderBy("d")
    diffs = daily.select(
        "d", (F.col("x") - F.lag("x").over(wd)).alias("dx")
    ).filter(F.col("dx").isNotNull() & (F.col("dx") != 0))
    signs = diffs.select(
        "d", F.when(F.col("dx") > 0, 1).otherwise(-1).alias("s")
    )
    runs = signs.select(
        "s",
        F.when(F.col("s") != F.lag("s").over(wd), 1)
        .otherwise(0)
        .alias("brk"),
    )
    a = "SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)"
    b = "SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)"
    r = "1 + SUM(COALESCE(brk, 0))"
    return runs.agg(
        F.expr(a).cast("long").alias("n_up"),
        F.expr(b).cast("long").alias("n_down"),
        F.expr(r).cast("long").alias("n_runs"),
        F.expr(
            f"round((CAST({r} AS DOUBLE)"
            f" - (1.0 + 2.0 * {a} * {b} / COUNT(*)))"
            f" / NULLIF(sqrt((2.0 * {a} * {b} * (2.0 * {a} * {b}"
            f" - COUNT(*))) / NULLIF(CAST(COUNT(*) AS DOUBLE) * COUNT(*)"
            f" * (COUNT(*) - 1), 0.0)), 0.0), 6)"
        ).alias("z"),
    )


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


# ---------------------------------------------------------------------------
# Markov stationary distribution (exact integer power iteration)
# ---------------------------------------------------------------------------

_MARKOV_STEPS = 8

_MARKOV_E = 1_000_000_000_000  # e12 mass scale


def _markov_oracle() -> str:
    steps = []
    for i in range(1, _MARKOV_STEPS + 1):
        steps.append(
            f"""
    x{i} AS (
      SELECT t.next_type AS state,
             SUM(CAST(x.v AS HUGEINT) * t.c // t.r) AS v
      FROM x{i - 1} x JOIN m t ON x.state = t.prev_type
      GROUP BY t.next_type
    )"""
        )
    return (
        f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    m AS (
      SELECT prev_type, next_type, c,
             SUM(c) OVER (PARTITION BY prev_type) AS r
      FROM trans
    ),
    x0 AS (
      SELECT prev_type AS state,
             {_MARKOV_E} // (SELECT COUNT(DISTINCT prev_type) FROM trans)
               AS v
      FROM (SELECT DISTINCT prev_type FROM trans)
    ),"""
        + ",".join(steps)
        + f"""
    SELECT state,
           CAST(CAST(v AS HUGEINT) // 1000000 AS BIGINT) AS stationary_e6
    FROM x{_MARKOV_STEPS}
    """
    )


@declared("q_events_markov_stationary", oracle=_markov_oracle())
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    — an 8-step power iteration x·P⁸ from the uniform start, the
    "where does the flow settle" read-out over
    q_events_transition_matrix's counts.  Deterministic BY CONSTRUCTION
    rather than by convergence: mass is e12-scaled integer, every term
    x_i·c_ij is floored by its row total with exact integer division,
    so both engines produce bit-identical e6 masses whatever the
    chain's mixing time (the contract is "the 8-step iterate", exactly
    — the rows-only q_graph_pagerank's float twin, made hashable).
    States with no outgoing transitions shed their mass at the next
    step; the floored-remainder mass loss is part of the contract.
    Scale shape: ONE window exchange on user_id builds the lag pairs
    (same as the transition matrix), everything after runs on the
    |types|²-bounded matrix — localCheckpoint'ed so the 8 chained
    tiny-table joins never re-run the fact scan."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    trans = (
        ev.select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = trans.select(
        "prev_type",
        "next_type",
        "c",
        F.sum("c").over(Window.partitionBy("prev_type")).alias("r"),
    ).localCheckpoint(eager=True)  # bounded: |types|² rows

    n_states = Window.partitionBy()
    x = (
        m.select("prev_type")
        .distinct()
        .select(
            F.col("prev_type").alias("state"),
            F.expr(f"CAST({_MARKOV_E} AS DECIMAL(38,0))").alias("_e"),
            F.count(F.lit(1)).over(n_states).cast(_DEC).alias("_k"),
        )
        .select("state", F.expr("_e div _k").cast(_DEC).alias("v"))
    )
    for _ in range(_MARKOV_STEPS):
        x = (
            x.join(m, x["state"] == m["prev_type"])
            .select(
                F.col("next_type").alias("state"),
                (F.col("v") * F.col("c")).alias("_num"),
                F.col("r").cast(_DEC).alias("_den"),
            )
            .select("state", F.expr("_num div _den").alias("term"))
            .groupBy("state")
            .agg(F.sum("term").cast(_DEC).alias("v"))
        )
    return x.select(
        "state",
        F.expr("v div CAST(1000000 AS DECIMAL(38,0))")
        .cast("long")
        .alias("stationary_e6"),
    )


# ---------------------------------------------------------------------------
# Day-of-week uniformity chi-square per event type
# ---------------------------------------------------------------------------


@declared(
    "q_events_dow_uniformity_chisq",
    oracle="""
    WITH dowc AS (
      SELECT event_type,
             (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
               AS dow,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    with_n AS (
      SELECT event_type, c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM dowc
    ),
    per_type AS (
      SELECT event_type, n,
             COUNT(*) AS m_present,
             SUM(CAST(7 * c - n AS HUGEINT) * (7 * c - n)) AS present_sq
      FROM with_n GROUP BY event_type, n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST((present_sq + (7 - m_present)
                 * CAST(n AS HUGEINT) * n) * 1000000
                // (7 * CAST(n AS HUGEINT)) AS BIGINT) AS chisq_e6
    FROM per_type
    """,
)
def q_events_dow_uniformity_chisq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly periodicity screen per event type: Pearson chi-square of
    the day-of-week histogram against the uniform null, χ² =
    Σ_d (7c_d − N)²/(7N) — born-rational, emitted as an exact floored
    e6.  Weekday is pure epoch-day arithmetic ((days + 4) mod 7, days
    ≥ 0 for this data), immune to the engines' dayofweek numbering
    split and to any session timezone (ts is NTZ).  Weekdays with zero
    events contribute algebraically ((7·0 − N)² = N² each), so no
    7-row calendar spine is generated and the statistic stays exact on
    sparse types.  Plan: one (type, dow) exchange, one per-type
    reduction (the window inside runs on the ≤7-row per-type
    histogram)."""
    ev = table(spark, sf_dir, "events")
    days = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    dowc = (
        ev.select("event_type", ((days + 4) % 7).alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_win = Window.partitionBy("event_type")
    scored = dowc.select(
        "event_type",
        "c",
        F.sum("c").over(n_win).alias("n"),
    ).select(
        "event_type",
        "n",
        (
            (7 * F.col("c") - F.col("n")).cast(_DEC)
            * (7 * F.col("c") - F.col("n")).cast(_DEC)
        ).alias("sq"),
    )
    per_type = scored.groupBy("event_type", "n").agg(
        F.count(F.lit(1)).alias("m_present"),
        F.sum("sq").alias("present_sq"),
    )
    return per_type.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        (
            (
                F.col("present_sq")
                + (7 - F.col("m_present"))
                * F.col("n").cast(_DEC)
                * F.col("n")
            )
            * F.lit(1000000)
        ).alias("_num"),
        (F.lit(7).cast(_DEC) * F.col("n")).alias("_den"),
    ).select(
        "event_type",
        "n_events",
        F.expr("_num div _den").cast("long").alias("chisq_e6"),
    )


# ---------------------------------------------------------------------------
# Fano-factor burstiness per event type
# ---------------------------------------------------------------------------


@declared(
    "q_events_fano_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
             + 1 AS n_days
      FROM events
    ),
    per_type AS (
      SELECT event_type,
             SUM(c) AS s,
             SUM(CAST(c AS HUGEINT) * c) AS q
      FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(span.n_days AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS n_events,
           CAST((span.n_days * q - CAST(s AS HUGEINT) * s) * 1000000
                // (span.n_days * CAST(s AS HUGEINT)) AS BIGINT)
             AS fano_e6
    FROM per_type, span
    """,
)
def q_events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean of DAILY counts) per event type
    over the full corpus day span — the index-of-dispersion burstiness
    screen: ≈1e6 is Poisson-like, ≫1e6 is bursty/scripted.  Days with
    zero events contribute algebraically (they add 0 to both Σc and
    Σc², only the span n enters), so no calendar spine is generated.
    Born-rational: F = (n·Σc² − S²)/(n·S) on exact integers, one
    floored e6 quotient (numerator ≥ 0 by Cauchy-Schwarz — rule 27
    happy path).  Plan: one (type, day) exchange, a per-type
    reduction, and a broadcast 1-row span."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    span = ev.agg(
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        )
        .cast(_DEC)
        .alias("n_days")
    )
    per_type = daily.groupBy("event_type").agg(
        F.sum("c").cast(_DEC).alias("s"),
        F.sum(F.col("c").cast(_DEC) * F.col("c")).alias("q"),
    )
    return (
        per_type.join(F.broadcast(span))
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("s").cast("long").alias("n_events"),
            (
                (F.col("n_days") * F.col("q") - F.col("s") * F.col("s"))
                * F.lit(1000000)
            ).alias("_num"),
            (F.col("n_days") * F.col("s")).alias("_den"),
        )
        .select(
            "event_type",
            "n_days",
            "n_events",
            F.expr("_num div _den").cast("long").alias("fano_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Event-type affinity (user-set Jaccard + lift)
# ---------------------------------------------------------------------------


@declared(
    "q_events_type_affinity",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    marg AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS nu
      FROM ut GROUP BY event_type
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS HUGEINT) AS u FROM ut),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS HUGEINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(ma.nu AS BIGINT) AS n_a,
           CAST(mb.nu AS BIGINT) AS n_b,
           CAST(n_both * 1000000 // (ma.nu + mb.nu - n_both) AS BIGINT)
             AS jaccard_ppm,
           CAST(n_both * u * 1000000 // (ma.nu * mb.nu) AS BIGINT)
             AS lift_e6
    FROM inter
    JOIN marg ma ON ma.event_type = type_a
    JOIN marg mb ON mb.event_type = type_b
    CROSS JOIN tot
    """,
)
def q_events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise affinity between event types' user sets: Jaccard
    overlap and lift (observed co-usage over the independence
    expectation, in users) — who does A also does B, the behavioral
    co-occurrence matrix funnels are designed from; the events-side
    twin of q_orders_market_basket.  Both rates are exact floored
    ratios of user counts (the Jaccard denominator |A∪B| ≥ n_both > 0
    by construction — only realized pairs appear).  Plan: one exchange
    to the distinct (user, type) grain, a self-join keyed on user_id
    (per-user type sets are bounded by |types|, so no pair blow-up),
    and a |types|²-bounded result joined to broadcast marginals."""
    ev = table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    marg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("nu"))
    tot = ut.agg(
        F.countDistinct("user_id").cast(_DEC).alias("u")
    )
    a = ut.alias("a")
    b = ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("nu").alias("na")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("nu").alias("nb")
    )
    return (
        inter.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.expr(
                "CAST((n_both * 1000000) div (na + nb - n_both) AS LONG)"
            ).alias("jaccard_ppm"),
            (F.col("n_both").cast(_DEC) * F.col("u") * 1000000).alias(
                "_lx"
            ),
            (F.col("na").cast(_DEC) * F.col("nb")).alias("_ld"),
        )
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b", "jaccard_ppm",
            _exact_floor_div("_lx", "_ld").cast("long").alias("lift_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Next-event Gini impurity (sequence predictability)
# ---------------------------------------------------------------------------


@declared(
    "q_events_transition_gini",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS HUGEINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type,
           CAST(SUM(n) AS BIGINT) AS n_out,
           CAST(COUNT(*) AS BIGINT) AS n_next_types,
           CAST(MAX(n) * 1000000 // SUM(n) AS BIGINT) AS top_share_e6,
           CAST(1000000 - SUM(n * n) * 1000000 // (SUM(n) * SUM(n))
                AS BIGINT) AS gini_e6
    FROM c GROUP BY prev_type
    """,
)
def q_events_transition_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per current event type, the Gini impurity of the NEXT-event
    distribution — 0 means the next step is fully determined, →1 means
    anything follows: the scalar predictability read over
    q_events_transition_matrix's counts, and the polynomial stand-in
    for entropy rate (Gini needs no libm, so it stays exact integer).
    Also reports the modal next share.  Scale shape: ONE window
    exchange on user_id builds the lag pairs (identical to the
    transition matrix); everything after runs on the |types|²-bounded
    count table.  Σn² widens to DECIMAL(38,0)/HUGEINT (n_out² at
    corpus scale exceeds BIGINT); all quotients are non-negative
    floors."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    c = (
        ev.select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast(_DEC).alias("n"))
    )
    return c.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("n_out"),
        F.count(F.lit(1)).alias("n_next_types"),
        F.expr("MAX(n) * 1000000 div SUM(n)").cast("long").alias(
            "top_share_e6"
        ),
        F.expr(
            "1000000 - SUM(n * n) * 1000000 div (SUM(n) * SUM(n))"
        )
        .cast("long")
        .alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# Peak concurrency per day (sweep line over 5-minute holds)
# ---------------------------------------------------------------------------

_HOLD_SECONDS = 300


# Sortable sweep key: microseconds-since-epoch doubled, +1 for starts —
# ends sort BEFORE starts at the same instant (half-open intervals), and
# a single integer key lets the running sum use a RANGE frame (peer-
# inclusive => tie-order-proof) in both engines.


@declared(
    "q_events_peak_concurrency",
    oracle=f"""
    WITH deltas AS (
      SELECT CAST(ts AS DATE) AS day,
             2 * date_diff('microsecond', TIMESTAMP '1970-01-01', ts) + 1
               AS k,
             1 AS delta
      FROM events
      UNION ALL
      SELECT CAST(ts + INTERVAL {_HOLD_SECONDS} SECOND AS DATE) AS day,
             2 * date_diff('microsecond', TIMESTAMP '1970-01-01',
                           ts + INTERVAL {_HOLD_SECONDS} SECOND) AS k,
             -1 AS delta
      FROM events
    ),
    in_day AS (
      SELECT day, delta,
             SUM(delta) OVER (PARTITION BY day ORDER BY k
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS run
      FROM deltas
    ),
    day_tot AS (
      SELECT day, SUM(delta) AS tot,
             CAST(COUNT(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_starts
      FROM deltas GROUP BY day
    ),
    carry AS (
      SELECT day, n_starts,
             SUM(tot) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS carry_in
      FROM day_tot
    )
    SELECT c.day, c.n_starts,
           CAST(coalesce(c.carry_in, 0) AS BIGINT) AS carry_in,
           CAST(GREATEST(coalesce(c.carry_in, 0),
                         MAX(coalesce(c.carry_in, 0) + i.run)) AS BIGINT)
             AS peak_concurrency
    FROM carry c JOIN in_day i ON i.day = c.day
    GROUP BY c.day, c.n_starts, c.carry_in
    """,
)
def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous 5-minute event holds per day — the sweep-line
    capacity metric (max concurrent sessions) that tumbling/hopping
    windows cannot express.  Portability: the (instant, end-first)
    order is ONE integer key (2·μs + is_start) so the running sum uses
    a peer-inclusive RANGE frame — tie order inside an instant cannot
    change any observed prefix, making the max engine-identical;
    intervals are half-open (an end and a start at the same μs never
    overlap).  Rule 22: the running sum partitions BY DAY; cross-day
    carry-over cumulates on the bounded per-day totals table only and
    broadcasts back.  The peak is GREATEST(carry_in, carry_in +
    max(run)): the carried midnight plateau is itself an attained
    level (held until the day's first delta), so a day whose first
    deltas are ends must not under-report it (r12 review catch — the
    oracle encoded the same formula, so only a semantic reading found
    it).  Scale: 2 rows per event, one day-keyed exchange, no global
    sort."""
    ev = table(spark, sf_dir, "events").select("ts")
    # ts is TIMESTAMP_NTZ (rule 25): zone-free diff against the NTZ
    # epoch, never unix_* (which coerces through the session zone)
    us = (
        "timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00', {0})"
    )
    end = f"ts + INTERVAL {_HOLD_SECONDS} SECOND"
    starts = ev.select(
        F.expr("CAST(ts AS DATE)").alias("day"),
        F.expr("2 * " + us.format("ts") + " + 1").alias("k"),
        F.lit(1).alias("delta"),
    )
    ends = ev.select(
        F.expr(f"CAST({end} AS DATE)").alias("day"),
        F.expr("2 * " + us.format(end)).alias("k"),
        F.lit(-1).alias("delta"),
    )
    deltas = starts.unionByName(ends)
    w_run = (
        Window.partitionBy("day")
        .orderBy("k")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_day = deltas.select(
        "day", "delta", F.sum("delta").over(w_run).alias("run")
    )
    day_tot = deltas.groupBy("day").agg(
        F.sum("delta").alias("tot"),
        F.count(F.when(F.col("delta") == 1, 1)).alias("n_starts"),
    )
    w_carry = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = day_tot.select(
        "day",
        "n_starts",
        F.coalesce(F.sum("tot").over(w_carry), F.lit(0))
        .cast("long")
        .alias("carry_in"),
    )
    return (
        in_day.join(F.broadcast(carry), "day")
        .groupBy("day", "n_starts", "carry_in")
        .agg(
            F.greatest(
                F.col("carry_in"),
                F.max(F.col("carry_in") + F.col("run")),
            )
            .cast("long")
            .alias("peak_concurrency")
        )
    )


# ---------------------------------------------------------------------------
# Dwell time per event type
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

