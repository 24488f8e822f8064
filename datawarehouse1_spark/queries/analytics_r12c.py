"""Round-12 analytics, batch 3: keyphrase extraction, burstiness,
layout advice, and score calibration.

* **RAKE keyphrases** — Rapid Automatic Keyword Extraction (Rose et
  al. 2010): candidate phrases are maximal stopword-free token runs
  (capped at 4 words), scored by the classic degree/frequency word
  metric.  The extraction tier ABOVE q_text_tfidf_topterms: phrases,
  not unigrams.  All scores are exact floored e6 rationals, so the
  ranking is engine-identical with no float accumulation anywhere.

* **Fano burstiness** — variance-to-mean ratio of daily event counts
  per type over the full corpus day span (zero days folded in
  algebraically, no calendar spine): F≈1 Poisson, F≫1 bursty.  The
  dispersion reading beside q_events_autocorr_daily (correlation) and
  q_stats_runs_test (direction runs).

* **Sort-order advisor** — rule-23 "maintenance decision as a query":
  for each candidate clustering column, the expected file-touch cost
  of an equality predicate if the fact were range-sorted by that
  column into R-row files — ceil(n_v/R)+1 straddle-inclusive files per
  value, averaged exactly.  Ranks which ZORDER/sort key buys the most
  pruning BEFORE paying for the rewrite; deterministic integers, so a
  re-run plans the identical layout (rule 23).

* **Calibration bins** — the calibration-curve companion to
  q_quality_auc_by_source: bin the quality score (length), report the
  per-bin label rate and its lift over the base rate, both exact ppm.
  AUC says "is the signal predictive"; this says WHERE the signal is
  usable as a threshold.

Exactness discipline as batches 1-2 (SCALE.md rules 20/22/27): exact
integer sums, Spark `div` + DuckDB HUGEINT `//` for every floored
quotient, non-negative numerators throughout.

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
# 1. RAKE keyphrase extraction
# ---------------------------------------------------------------------------

# Classic RAKE English stopword core; phrase delimiters. Fixed tuple so
# both engines see the identical set.
_RAKE_STOP = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "in", "is", "it", "of", "on", "or", "that", "the", "this", "to",
    "was", "we", "with", "you", "i",
)
_RAKE_MAX_LEN = 4
_RAKE_TOP_K = 20


def _rake_stop_sql() -> str:
    return ", ".join(f"'{w}'" for w in _RAKE_STOP)


@declared(
    "q_text_keyphrases_rake",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {WORD_TOKENS_SQL} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, pos, t[pos] AS w FROM (
        SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
        FROM toks
      )
    ),
    seg AS (
      SELECT doc_id, pos, w,
             w IN ({_rake_stop_sql()}) AS is_stop,
             SUM(CASE WHEN w IN ({_rake_stop_sql()}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS seg
      FROM pos
    ),
    words AS (
      SELECT doc_id, seg, pos, w FROM seg WHERE NOT is_stop
    ),
    phr AS (
      SELECT doc_id, seg,
             COUNT(*) AS plen,
             string_agg(w, ' ' ORDER BY pos) AS phrase
      FROM words GROUP BY doc_id, seg
      HAVING COUNT(*) <= {_RAKE_MAX_LEN}
    ),
    kept AS (
      SELECT words.w, words.doc_id, words.seg, phr.plen, phr.phrase
      FROM words JOIN phr USING (doc_id, seg)
    ),
    wsc AS (
      SELECT w, CAST(SUM(plen) AS HUGEINT) * 1000000 // COUNT(*) AS ws
      FROM kept GROUP BY w
    ),
    psc AS (
      SELECT kept.doc_id, kept.seg, kept.phrase, SUM(wsc.ws) AS sc
      FROM kept JOIN wsc USING (w)
      GROUP BY kept.doc_id, kept.seg, kept.phrase
    )
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(sc) AS BIGINT) AS score_e6
    FROM psc GROUP BY phrase
    ORDER BY score_e6 DESC, phrase LIMIT {_RAKE_TOP_K}
    """,
)
def q_text_keyphrases_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the corpus: candidate phrases =
    maximal stopword-free token runs (≤4 words); each word scores
    deg(w)/freq(w) (deg = Σ phrase length over its occurrences), a
    phrase scores the sum of its member-occurrence word scores — the
    classic co-occurrence-degree heuristic that surfaces multi-word
    terms TF-IDF fragments.  Exactness: word scores are exact floored
    e6 (deg·1e6 `div` freq — the per-word floor is the cross-engine
    convention), phrase scores are integer sums of those, identical
    phrase texts share one score so the MAX in the final dedup is
    value-deterministic, and the top-20 has a full (score, phrase)
    tie-break (rule 29).  Plan: posexplode inside codegen, the
    segment-id window is per-doc (bounded by doc length), then three
    narrow exchanges — (doc, seg) phrase build, word-stat aggregate,
    phrase dedup; token text past the first aggregate is only the ≤4-
    word phrases."""
    d = table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(word_tokens()).alias("pos", "w")
    )
    is_stop = F.col("w").isin(*_RAKE_STOP)
    seg_w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = pos.select(
        "doc_id",
        "pos",
        "w",
        is_stop.alias("is_stop"),
        F.sum(F.when(is_stop, 1).otherwise(0)).over(seg_w).alias("seg"),
    )
    words = seg.filter(~F.col("is_stop")).select("doc_id", "seg", "pos", "w")
    phr = (
        words.groupBy("doc_id", "seg")
        .agg(
            F.count(F.lit(1)).alias("plen"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
    )
    kept = words.join(phr, ["doc_id", "seg"])
    wsc = (
        kept.groupBy("w")
        .agg(
            F.sum("plen").cast(_DEC).alias("_deg"),
            F.count(F.lit(1)).cast(_DEC).alias("_freq"),
        )
        .select("w", F.expr("(_deg * 1000000) div _freq").alias("ws"))
    )
    psc = (
        kept.join(wsc, "w")
        .groupBy("doc_id", "seg", "phrase")
        .agg(F.sum("ws").alias("sc"))
    )
    return (
        psc.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("sc").cast("long").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("phrase"))
        .limit(_RAKE_TOP_K)
    )


# ---------------------------------------------------------------------------
# 2. Fano-factor burstiness per event type
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
# 3. Sort-order / clustering-key advisor
# ---------------------------------------------------------------------------

_ADVISOR_ROWS_PER_FILE = 4096
# candidate clustering keys: (label, spark Column factory, duckdb expr)
_ADVISOR_CANDIDATES = (
    ("l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey"),
    ("l_orderkey", "l_orderkey"),
    ("l_shipdate", "date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))"),
)


def _advisor_arm_sql(label: str, expr: str) -> str:
    r = _ADVISOR_ROWS_PER_FILE
    return f"""
    SELECT '{label}' AS col,
           CAST(SUM(nv) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST((SUM(nv) + {r} - 1) // {r} AS BIGINT) AS n_files_total,
           CAST(SUM((nv + {r} - 1) // {r} + 1) * CAST(1000000 AS HUGEINT)
                // COUNT(*) AS BIGINT) AS avg_files_per_value_e6,
           CAST(GREATEST(
             CAST(0 AS HUGEINT),
             1000000 - SUM((nv + {r} - 1) // {r} + 1)
                       * CAST(1000000 AS HUGEINT)
                       // (COUNT(*) * ((SUM(nv) + {r} - 1) // {r}))
           ) AS BIGINT) AS prune_score_e6
    FROM (SELECT {expr} AS v, COUNT(*) AS nv FROM lineitem GROUP BY 1)"""


@declared(
    "q_layout_sort_advisor",
    oracle="\nUNION ALL\n".join(
        _advisor_arm_sql(lbl, ex) for lbl, ex in _ADVISOR_CANDIDATES
    ),
)
def q_layout_sort_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-key advisor — which sort/ZORDER column buys the most
    file pruning BEFORE paying for the rewrite: if the fact were
    range-sorted by the candidate into 4096-row files, an equality
    predicate on value v touches at most ceil(n_v/R)+1 files (the +1
    is the boundary straddle).  The report carries the exact average
    files-per-value (e6) and a prune score = 1e6 − avg_share_e6 of
    total files, clamped at 0 for hopeless keys.  Every decision value
    is an integer, so a re-run plans the identical layout (rule 23 —
    the same discipline as q_layout_compaction_plan); the chosen key
    then feeds write_zordered / write_partitioned_fact.  Plan: one
    value-grain exchange per candidate (the union arms are
    independent), nothing else touches the fact."""
    li = table(spark, sf_dir, "lineitem")
    r = _ADVISOR_ROWS_PER_FILE
    epoch = F.to_date(F.lit("1970-01-01"))
    exprs = {
        "l_partkey": F.col("l_partkey"),
        "l_suppkey": F.col("l_suppkey"),
        "l_orderkey": F.col("l_orderkey"),
        "l_shipdate": F.datediff(F.to_date("l_shipdate"), epoch),
    }
    out = None
    for label, _ in _ADVISOR_CANDIDATES:
        counts = li.groupBy(exprs[label].alias("v")).agg(
            F.count(F.lit(1)).alias("nv")
        )
        arm = (
            counts.agg(
                F.sum("nv").cast(_DEC).alias("n_rows_d"),
                F.count(F.lit(1)).cast(_DEC).alias("n_distinct_d"),
                F.sum(
                    F.expr(f"(nv + {r} - 1) div {r}").cast(_DEC) + 1
                ).alias("files_sum"),
            )
            .select(
                F.lit(label).alias("col"),
                F.col("n_rows_d").cast("long").alias("n_rows"),
                F.col("n_distinct_d").cast("long").alias("n_distinct"),
                F.expr(f"(n_rows_d + {r} - 1) div {r}")
                .cast(_DEC)
                .alias("nft_d"),
                "files_sum",
                "n_distinct_d",
            )
            .select(
                "col",
                "n_rows",
                "n_distinct",
                F.col("nft_d").cast("long").alias("n_files_total"),
                F.expr("(files_sum * 1000000) div n_distinct_d")
                .cast("long")
                .alias("avg_files_per_value_e6"),
                F.greatest(
                    F.lit(0).cast("long"),
                    (
                        F.lit(1000000)
                        - F.expr(
                            "(files_sum * 1000000) div (n_distinct_d * nft_d)"
                        )
                    ).cast("long"),
                ).alias("prune_score_e6"),
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# 4. Quality-score calibration bins
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
