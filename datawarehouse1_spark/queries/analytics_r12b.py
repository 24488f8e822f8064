"""Round-12 analytics, batch 2: Markov chain stationary analysis,
customer-acquisition revenue split, lexical diversity, and weekly
periodicity detection.

* **Markov stationary distribution** — the read-out of
  q_events_transition_matrix: where does the event flow settle?  An
  8-step power iteration on the row-normalized transition matrix,
  carried ENTIRELY in exact integer arithmetic (e12-scaled mass, every
  term floored with `div`//HUGEINT-`//`), so unlike the rows-only
  q_graph_pagerank this iterative operator is fully DuckDB-hash-matched.

* **New-vs-returning revenue** — the monthly acquisition split every
  warehouse dashboard carries: revenue and order counts from each
  customer's FIRST order vs all subsequent ones, with the new-revenue
  share as an exact e6 quotient.

* **Simpson lexical diversity** — the log-free entropy analog per
  source: repeat probability Σc(c−1)/(N(N−1)) over the unigram
  distribution, exact in ppm-e6.  Complements q_text_hapax_ratio (tail
  mass) and q_text_char_gini (character level) with the word-level
  concentration reading.

* **Day-of-week uniformity chi-square** — weekly periodicity detection
  per event type: χ² against the uniform 7-day null, with the absent
  weekdays' (0−E)² mass folded in algebraically so no calendar spine
  is generated.  Weekday from epoch-day arithmetic ((days+4) mod 7 —
  1970-01-01 was a Thursday), dodging the engines' dayofweek numbering
  divergence and any session-timezone dependence.

Exactness discipline as batch 1 (SCALE.md rules 20/22/27): integer /
DECIMAL(38,0) sums, Spark `div` + DuckDB HUGEINT `//` for every floored
quotient (floor(decimal `/`) rounds first in BOTH engines — the batch-1
lesson), non-negative numerators throughout, money through
DECIMAL(18,2).

Reference parity: the reference ETL (etl/app.py) has no analytics
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.registry import declared

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# 1. Markov stationary distribution (exact integer power iteration)
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
# 2. New-vs-returning monthly revenue split
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
# 3. Simpson lexical diversity per source
# ---------------------------------------------------------------------------




@declared(
    "q_text_simpson_diversity",
    oracle=f"""
    WITH tf AS (
      SELECT source, w, COUNT(*) AS c
      FROM (SELECT source, unnest({WORD_TOKENS_SQL}) AS w FROM documents)
      GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) * 1000000
                // NULLIF(CAST(SUM(c) AS HUGEINT)
                          * (SUM(c) - 1), 0) AS BIGINT) AS simpson_e6
    FROM tf GROUP BY source
    """,
)
def q_text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration index per source — the probability two
    random token draws collide, Σc(c−1)/(N(N−1)): the log-free lexical
    diversity reading (low = diverse vocabulary, high = templated
    spam).  Word-level companion to q_text_char_gini and
    q_text_hapax_ratio.  Born-rational: both sums are exact integers
    and simpson_e6 is one exact integer division (numerator ≥ 0;
    NULLIF guards the ≤1-token source).  Plan: one (source, word)
    exchange (token text never travels past the partial aggregate),
    one per-source reduction."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(word_tokens()).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = tf.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c").cast(_DEC) * (F.col("c") - 1)).alias("s2"),
    )
    return s.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        (F.col("s2") * F.lit(1000000)).alias("_num"),
        F.nullif(
            F.col("n_tokens").cast(_DEC) * (F.col("n_tokens") - 1),
            F.lit(0).cast(_DEC),
        ).alias("_den"),
    ).select(
        "source",
        "n_tokens",
        "vocab",
        F.expr("_num div _den").cast("long").alias("simpson_e6"),
    )


# ---------------------------------------------------------------------------
# 4. Day-of-week uniformity chi-square per event type
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
