"""Round-12 analytics, batch 4: survival analysis, categorical effect
size, and corpus growth-law fitting.

* **Conversion hazard table** — censoring-aware discrete survival
  analysis of the first→second order gap: per week since first order,
  the customers still at risk, the conversions, the right-censored
  drop-outs (observation ends at the corpus max date), and the exact
  hazard rate.  The statistically-correct successor to naive
  "time-to-convert averages", which silently ignore customers who
  have not converted YET.

* **Cramér's V** — the effect-size companion to the chi-square drift
  battery: HOW STRONGLY are two categorical columns associated, on the
  calibrated 0..1 scale V = sqrt(χ²/(n·min(r−1,c−1))).  χ² accumulates
  over the DENSE contingency grid (zero cells contribute r·c/n — built
  by crossing the two bounded marginal tables, never a fact spine).

* **Vocabulary coverage spectrum** — frequency-spectrum buckets with
  cumulative corpus-mass coverage walking from the most frequent types
  down: the tokenizer-budget read ("how many types buy 99% of token
  mass").  Bounded by log₂(max count) rows at any corpus size.

* **Heaps'-law fit** — vocabulary-growth diagnostic: V(N) ≈ K·N^β over
  doubling corpus prefixes.  β comes from the same floor-log2 integer
  OLS device as q_text_zipf_fit (length(bin(n))−1, no libm); prefixes
  are doc-id-bucket cumulative sums, so the whole curve costs one
  (word → first-doc) aggregate plus bounded-bucket cumsums.  Natural
  text fits β ≈ 0.5; a β near 1 means unbounded vocabulary (OCR noise,
  serial numbers), β near 0 a closed template vocabulary.

Exactness discipline as batches 1-3 (SCALE.md rules 20/22/27): exact
integer sums, Spark `div` + DuckDB HUGEINT `//` for floored quotients,
non-negative numerators, IEEE-only float assembly at the edge.

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
# 1. Conversion hazard table (discrete survival with right censoring)
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
# 2. Cramér's V (categorical association effect size)
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
# 3. Heaps'-law vocabulary growth fit
# ---------------------------------------------------------------------------




# floor(log2(n)) for n >= 1 as exact integer arithmetic (the zipf device)
_FLOG2 = "(length(bin({n})) - 1)"


@declared(
    "q_text_heaps_fit",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {WORD_TOKENS_SQL} AS t FROM documents
    ),
    doc_buckets AS (
      SELECT {_FLOG2.format(n="doc_id + 1")} AS bk, SUM(len(t)) AS toks
      FROM toks GROUP BY 1
    ),
    first_seen AS (
      SELECT w, MIN(doc_id) AS fd
      FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY w
    ),
    vocab_buckets AS (
      SELECT {_FLOG2.format(n="fd + 1")} AS bk, COUNT(*) AS nv
      FROM first_seen GROUP BY 1
    ),
    cum AS (
      SELECT bk,
             SUM(toks) OVER (ORDER BY bk) AS cum_toks,
             SUM(coalesce(nv, 0)) OVER (ORDER BY bk) AS cum_vocab
      FROM doc_buckets LEFT JOIN vocab_buckets USING (bk)
    ),
    pts AS (
      SELECT {_FLOG2.format(n="cum_toks")} AS x,
             {_FLOG2.format(n="cum_vocab")} AS y
      FROM cum WHERE cum_toks >= 1 AND cum_vocab >= 1
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts
    )
    SELECT n AS n_points,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6)
             AS beta6,
           round(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
                 / CAST(NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0)
                        AS DOUBLE), 6) AS r2_6
    FROM sums
    """,
)
def q_text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(N) ≈ K·N^β over doubling
    doc-id prefixes: β is the OLS slope of floor(log2(vocab)) on
    floor(log2(tokens)) across the cumulative doc-id-bucket curve —
    the corpus-scaling diagnostic beside the Zipf slope (β≈0.5 natural
    text; →1 unbounded vocab like OCR noise/serials; →0 closed
    template vocabulary).  Vocabulary prefixes come from ONE
    (word → min doc_id) aggregate: vocab(<2^k) = #words first seen in
    an earlier bucket, so the whole growth curve costs one token
    exchange + bounded ~log₂(docs)-row cumsums (rule 22).  floor-log2
    via length(bin(n))−1 — pure integer, no libm (the zipf device);
    OLS from exact integer co-moments, two final IEEE divisions."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", word_tokens().alias("t"))
    flog2 = lambda col: (F.length(F.bin(col)) - 1)  # noqa: E731
    doc_buckets = toks.groupBy(
        flog2(F.col("doc_id") + 1).alias("bk")
    ).agg(F.sum(F.size("t")).alias("toks"))
    first_seen = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
    )
    vocab_buckets = first_seen.groupBy(
        flog2(F.col("fd") + 1).alias("bk")
    ).agg(F.count(F.lit(1)).alias("nv"))
    cum_w = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        doc_buckets.join(vocab_buckets, "bk", "left")
        .select(
            "bk",
            F.sum("toks").over(cum_w).alias("cum_toks"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0))).over(cum_w).alias(
                "cum_vocab"
            ),
        )
        .filter((F.col("cum_toks") >= 1) & (F.col("cum_vocab") >= 1))
    )
    pts = cum.select(
        flog2(F.col("cum_toks")).alias("x"),
        flog2(F.col("cum_vocab")).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    deny = F.nullif(
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ).cast("double"),
        F.lit(0.0),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(num / den, 6).alias("beta6"),
        F.round(num * num / deny, 6).alias("r2_6"),
    )


# ---------------------------------------------------------------------------
# 4. Vocabulary coverage spectrum (tokenizer-budget read)
# ---------------------------------------------------------------------------


@declared(
    "q_text_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest({WORD_TOKENS_SQL}) AS w FROM documents)
      GROUP BY w
    ),
    spectrum AS (
      SELECT {_FLOG2.format(n="c")} AS count_log2,
             COUNT(*) AS n_types,
             SUM(c) AS mass
      FROM tf GROUP BY 1
    )
    SELECT count_log2,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(mass AS BIGINT) AS mass,
           CAST(SUM(n_types) OVER (ORDER BY count_log2 DESC) AS BIGINT)
             AS cum_types,
           CAST(CAST(SUM(mass) OVER (ORDER BY count_log2 DESC) AS HUGEINT)
                * 1000000 // SUM(CAST(mass AS HUGEINT)) OVER ()
                AS BIGINT) AS coverage_ppm
    FROM spectrum
    """,
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency spectrum with cumulative corpus-mass
    coverage — the tokenizer-budget read: walking buckets from the
    most frequent down, how many types (cum_types) buy what fraction
    of all token occurrences (coverage_ppm)?  Types bucket by
    floor(log2(count)) via length(bin(c))−1 (pure integer, the zipf
    device), so the spectrum is bounded by log₂(max count) (~30 rows
    at any corpus size) and the descending cumulative windows obey
    rule 22 — they never touch type-grain rows.  coverage_ppm is an
    exact HUGEINT/`div` quotient.  Plan: one (word) exchange, one
    bounded-bucket aggregate."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(word_tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spectrum = tf.groupBy(
        (F.length(F.bin(F.col("c"))) - 1).alias("count_log2")
    ).agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("mass"),
    )
    desc = Window.orderBy(F.desc("count_log2")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    return spectrum.select(
        "count_log2",
        F.col("n_types").cast("long").alias("n_types"),
        F.col("mass").cast("long").alias("mass"),
        F.sum("n_types").over(desc).cast("long").alias("cum_types"),
        (F.sum(F.col("mass").cast(_DEC)).over(desc) * F.lit(1000000)).alias(
            "_num"
        ),
        F.sum(F.col("mass").cast(_DEC)).over(tot).alias("_den"),
    ).select(
        "count_log2",
        "n_types",
        "mass",
        "cum_types",
        F.expr("_num div _den").cast("long").alias("coverage_ppm"),
    )
