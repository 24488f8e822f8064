"""Round-10 curation: train/holdout splitting with a leakage audit,
a Zipf doubling-law fit over token frequencies, and character-trigram
language profiles.

Three steps a training-data pipeline runs after cleaning that were
missing from the battery:

* **Deterministic split + leakage audit** — every corpus ships as
  train/val/test, and the split must be (a) a pure function of the
  document identity (reshuffling the corpus must not move documents
  across splits) and (b) audited for exact-duplicate leakage: a val or
  test document whose text also appears in train silently inflates
  eval scores (the Lee et al. "Deduplicating Training Data" concern).
  Split = md5(doc_id) hex-prefix thresholds (~90/5/5); leakage = an
  equi-join of holdout text-hashes against the distinct train
  text-hash set. Only (hash, split) tuples shuffle — never bodies.

* **Zipf doubling-law fit** — corpus health check: natural language
  token frequencies follow freq ~ rank^-s with s near 1; templated or
  synthetic text departs wildly. To keep the fit bit-identical across
  engines it is computed on EXACT integers: x = floor(log2(rank)) and
  y = floor(log2(freq)) via length(bin(n))-1 (no float log whose libm
  rounding differs), then an OLS slope from integer co-moment sums
  with one final IEEE division + 6dp round — same discipline as
  q_stats_regression (profiling_r8.py).

* **Trigram language profile** — the training step of every classical
  language-ID model (Cavnar-Trenkle n-gram profiles): top character
  trigrams per language by exact count. At 100 TB only (lang, trigram)
  pairs shuffle — text explodes to trigrams map-side and aggregates
  partially before the exchange.

Reference parity: the reference ETL (etl/app.py) has no curation
surface; SURVEY.md §2D extension inventory (LLM-pipeline tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.splits import SPLIT_SQL, split_col
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.operators.scale import widen_if_narrow
from datawarehouse1_spark.registry import declared

# ---------------------------------------------------------------- 1.

@declared(
    "q_split_train_holdout",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, lang, n_chars, md5(text) AS th,
             {SPLIT_SQL} AS split
      FROM documents
    ),
    train_h AS (
      SELECT DISTINCT th FROM tagged WHERE split = 'train'
    ),
    hit AS (
      SELECT t.split, t.lang, t.n_chars,
             (h.th IS NOT NULL) AS in_train
      FROM tagged t LEFT JOIN train_h h ON t.th = h.th
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(COUNT(*) FILTER (WHERE split <> 'train' AND in_train)
                AS BIGINT) AS n_leaked_from_train
    FROM hit
    GROUP BY split
    """,
)
def q_split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split report with an exact-dup
    leakage audit: per split — document count, char volume, language
    breadth, and the number of holdout documents whose exact text
    (md5) also appears somewhere in train. The split is a pure
    function of doc_id (md5 hex-prefix thresholds, ~90/5/5), so it
    survives any re-partitioning. Plan shape: documents project to
    (split, text-hash, lang, n_chars) map-side; the leakage check is a
    distinct + equi-join on the 32-hex hash; the final aggregate
    groups 3 rows. Bodies never shuffle — at 100 TB the join moves
    only hashes, and the train side could additionally carry a bloom
    prefilter (operators/scale.py) to drop non-leaking holdout rows
    before the exchange."""
    d = table(spark, sf_dir, "documents")
    tagged = d.select(
        split_col("doc_id").alias("split"),
        F.md5("text").alias("th"),
        "lang",
        "n_chars",
    )
    train_h = tagged.filter(F.col("split") == "train").select("th").distinct()
    hit = tagged.join(
        train_h.withColumn("in_train", F.lit(True)),
        "th",
        "left",
    )
    return hit.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.count(
            F.when((F.col("split") != "train") & F.col("in_train"), 1)
        ).alias("n_leaked_from_train"),
    )


# ---------------------------------------------------------------- 2.




# floor(log2(n)) for n >= 1 as EXACT integer arithmetic in both
# engines: the binary representation's length minus one. No float log.
_FLOG2 = "(length(bin({n})) - 1)"


@declared(
    "q_text_zipf_fit",
    oracle=f"""
    WITH tf AS (
      SELECT lang, term, COUNT(*) AS cnt
      FROM (SELECT lang, unnest({WORD_TOKENS_SQL}) AS term FROM documents)
      GROUP BY lang, term
    ),
    ranked AS (
      SELECT lang, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, term ASC) AS rnk
      FROM tf
    ),
    pts AS (
      SELECT lang,
             {_FLOG2.format(n='rnk')} AS x,
             {_FLOG2.format(n='cnt')} AS y
      FROM ranked WHERE rnk <= 256
    ),
    sums AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts GROUP BY lang
    )
    SELECT lang,
           n AS n_terms,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6)
             AS slope6,
           round(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
                 / CAST(NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0)
                        AS DOUBLE), 6) AS r2_6
    FROM sums
    """,
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf doubling-law fit per language: OLS slope of
    floor(log2(freq)) against floor(log2(rank)) over each language's
    top-256 tokens, plus the fit's R². Natural text slopes near -1;
    boilerplate and templated corpora depart — the corpus-health gate
    a data pipeline reads before training. Exactness: floor-log2 via
    length(bin(n))-1 (pure integer, no libm), OLS from exact integer
    co-moment sums, ONE final IEEE division + 6dp round per output
    (the q_stats_regression discipline). Three exchanges, all narrow:
    (lang, term) counts, the per-lang rank window, the per-lang sum —
    token text never travels past the first partial aggregate."""
    d = table(spark, sf_dir, "documents")
    tf = (
        widen_if_narrow(d.select("lang", "text"))
        .select("lang", F.explode(word_tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    ranked = tf.select(
        "lang", "cnt", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 256)
    flog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731
    pts = ranked.select(
        "lang",
        flog2(F.col("rnk")).cast("long").alias("x"),
        flog2(F.col("cnt")).cast("long").alias("y"),
    )
    sums = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        "lang",
        F.col("n").alias("n_terms"),
        F.round(
            num.cast("double") / F.nullif(den_x, F.lit(0)).cast("double"), 6
        ).alias("slope6"),
        F.round(
            (num * num).cast("double")
            / F.nullif(den_x * den_y, F.lit(0)).cast("double"),
            6,
        ).alias("r2_6"),
    )


# ---------------------------------------------------------------- 3.


@declared(
    "q_text_trigram_lang_profile",
    oracle="""
    WITH txt AS (
      SELECT lang, lower(text) AS t FROM documents WHERE len(text) >= 3
    ),
    tri AS (
      SELECT lang, substr(t, CAST(i AS INT), 3) AS trigram
      FROM txt, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    cnt AS (
      SELECT lang, trigram, COUNT(*) AS n
      FROM tri
      WHERE regexp_matches(trigram, '^[a-z ]{3}$')
      GROUP BY lang, trigram
    ),
    ranked AS (
      SELECT lang, trigram, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, trigram ASC) AS rnk
      FROM cnt
    )
    SELECT lang, rnk, trigram, n
    FROM ranked WHERE rnk <= 16
    """,
)
def q_text_trigram_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language profiles: the top-16 trigrams per
    language with exact counts — the training step of a
    Cavnar-Trenkle language-ID model, and the fingerprint a routing
    pipeline compares unknown text against. The trigram explosion is
    MAP-SIDE (positions from sequence(), no join, no shuffle of text);
    partial aggregation collapses each partition's trigram counts
    before the single (lang, trigram) exchange, and the per-lang
    top-16 window rides a second narrow exchange. At 100 TB the
    exchange carries at most |langs| x 27^3 distinct keys — bounded by
    the alphabet, not the corpus."""
    d = table(spark, sf_dir, "documents")
    # widen BEFORE the ~len(text)-fold explode: a narrow scan (one fat
    # file / few row groups) would serialize the trigram generation on
    # 1-2 cores; at production split counts this is a no-op
    # (operators/scale.py::widen_if_narrow — the minhash-fold pattern)
    txt = widen_if_narrow(
        d.filter(F.length("text") >= 3).select(
            "lang", F.lower(F.col("text")).alias("t")
        )
    )
    tri = txt.select(
        "lang",
        F.expr(
            "explode(transform(sequence(1, length(t) - 2),"
            " i -> substring(t, i, 3)))"
        ).alias("trigram"),
    ).filter(F.col("trigram").rlike("^[a-z ]{3}$"))
    cnt = tri.groupBy("lang", "trigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("trigram").asc()
    )
    return (
        cnt.select(
            "lang", "trigram", "n", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= 16)
        .select("lang", "rnk", "trigram", "n")
    )


# ---------------------------------------------------------------- 4.

# The classifier applies the SAME profile the previous query trains:
# top-16 trigrams per language, raw counts as weights.
_PROFILE_SQL = """
    txt AS (
      SELECT doc_id, lang, lower(text) AS t FROM documents
      WHERE len(text) >= 3
    ),
    tri AS (
      SELECT doc_id, lang, substr(t, CAST(i AS INT), 3) AS trigram
      FROM txt, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    valid AS (
      SELECT doc_id, lang, trigram FROM tri
      WHERE regexp_matches(trigram, '^[a-z ]{3}$')
    ),
    profile AS (
      SELECT lang AS model_lang, trigram, n FROM (
        SELECT lang, trigram, COUNT(*) AS n,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, trigram ASC) AS rnk
        FROM valid GROUP BY lang, trigram
      ) WHERE rnk <= 16
    )
"""


@declared(
    "q_text_lang_classify_confusion",
    oracle=f"""
    WITH {_PROFILE_SQL},
    doc_tri AS (
      SELECT doc_id, lang, trigram, COUNT(*) AS c
      FROM valid GROUP BY doc_id, lang, trigram
    ),
    scored AS (
      SELECT d.doc_id, d.lang, p.model_lang,
             SUM(d.c * p.n) AS score
      FROM doc_tri d JOIN profile p ON d.trigram = p.trigram
      GROUP BY d.doc_id, d.lang, p.model_lang
    ),
    best AS (
      SELECT doc_id, lang, model_lang AS predicted FROM (
        SELECT doc_id, lang, model_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, model_lang ASC) AS r
        FROM scored
      ) WHERE r = 1
    ),
    labeled AS (
      SELECT t.doc_id, t.lang,
             COALESCE(b.predicted, 'unknown') AS predicted
      FROM txt t LEFT JOIN best b ON t.doc_id = b.doc_id
    )
    SELECT lang, predicted, COUNT(*) AS n_docs
    FROM labeled GROUP BY lang, predicted
    """,
)
def q_text_lang_classify_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID APPLICATION step: score every document's trigrams
    against each language's top-16 trigram profile (trained in-query —
    the q_text_trigram_lang_profile model), predict the argmax
    language (ties broken lang-asc; profile-miss docs 'unknown'), and
    report the (actual, predicted) confusion matrix — the evaluation
    artifact a routing pipeline reads before trusting the classifier.
    All scores are exact integer sums (count x count), so prediction
    is deterministic in both engines. Plan: the profile is a bounded
    table (|langs| x 16) that BROADCASTS to the per-doc trigram
    counts; per-doc scores and the argmax window share the doc_id
    exchange; the confusion aggregate is |langs|² rows. The wide
    trigram explode is map-side — at 100 TB the only per-row shuffles
    carry (doc_id, trigram-count) and (doc_id, lang, score) tuples."""
    d = table(spark, sf_dir, "documents")
    # widen before the explode (see q_text_trigram_lang_profile)
    txt = widen_if_narrow(
        d.filter(F.length("text") >= 3).select(
            "doc_id", "lang", F.lower(F.col("text")).alias("t")
        )
    )
    valid = txt.select(
        "doc_id",
        "lang",
        F.expr(
            "explode(transform(sequence(1, length(t) - 2),"
            " i -> substring(t, i, 3)))"
        ).alias("trigram"),
    ).filter(F.col("trigram").rlike("^[a-z ]{3}$"))

    # One wide explode, not two: per-doc trigram counts are computed
    # once (localCheckpoint — the SCALE.md rule-12 pattern) and the
    # corpus-level profile DERIVES from them (sum of per-doc counts ==
    # count of all occurrences), so the training and scoring sides
    # share the expensive subtree instead of re-exploding the corpus.
    doc_tri = (
        valid.groupBy("doc_id", "lang", "trigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )

    w_prof = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("trigram").asc()
    )
    profile = (
        doc_tri.groupBy("lang", "trigram")
        .agg(F.sum("c").alias("n"))
        .select(
            F.col("lang").alias("model_lang"),
            "trigram",
            "n",
            F.row_number().over(w_prof).alias("rnk"),
        )
        .filter(F.col("rnk") <= 16)
        .drop("rnk")
    )
    scored = (
        doc_tri.join(F.broadcast(profile), "trigram")
        .groupBy("doc_id", "lang", "model_lang")
        .agg(F.sum(F.col("c") * F.col("n")).alias("score"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("model_lang").asc()
    )
    best = (
        scored.select(
            "doc_id",
            F.col("model_lang").alias("predicted"),
            F.row_number().over(w_best).alias("r"),
        )
        .filter(F.col("r") == 1)
        .drop("r")
    )
    labeled = txt.join(best, "doc_id", "left").select(
        "lang", F.coalesce("predicted", F.lit("unknown")).alias("predicted")
    )
    return labeled.groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ---------------------------------------------------------------- 5.


_DOMAIN_CAP_ORACLE_TEMPLATE = """
    WITH staged AS (
      SELECT doc_id, n_chars,
             {url} AS url
      FROM documents
    ),
    hosted AS (
      SELECT doc_id, n_chars,
             {host} AS host
      FROM staged
    ),
    ranked AS (
      SELECT host, doc_id, n_chars,
             row_number() OVER (PARTITION BY host
                                ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                         doc_id ASC) AS rnk
      FROM hosted
    )
    SELECT host,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE rnk <= 3) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE rnk > 3) AS BIGINT) AS n_dropped,
           CAST(SUM(n_chars) FILTER (WHERE rnk <= 3) AS BIGINT)
             AS kept_chars
    FROM ranked
    GROUP BY host
"""


def _domain_cap_oracle() -> str:
    from datawarehouse1_spark.queries.curation_r8 import _HOST_SQL, _URL_SQL

    return _DOMAIN_CAP_ORACLE_TEMPLATE.format(
        url=_URL_SQL.format(S="VARCHAR"), host=_HOST_SQL.format(url="url")
    )


@declared("q_curation_domain_cap_apply", oracle=_domain_cap_oracle())
def q_curation_domain_cap_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap APPLICATION — the action half of the decision
    q_curation_domain_stats informs (RefinedWeb/C4 cap the documents
    any one host contributes so boilerplate-heavy domains cannot
    dominate the corpus): keep at most 3 documents per lowercased
    www-stripped host, selected by md5(doc_id) rank (deterministic,
    uniform, identity-only — re-partitioning or re-ingesting never
    changes the survivor set), and report kept/dropped counts and the
    surviving char mass per host. ONE exchange: the rank window and
    the host aggregate share the host partitioning (Catalyst reuses
    the exchange). Bodies never shuffle — at 100 TB only
    (host, doc_id, n_chars) tuples move, and the kept set feeds the
    downstream dedup tiers by doc_id."""
    from datawarehouse1_spark.queries.curation_r8 import (
        _HOST_SQL,
        _URL_SQL,
        host_expr,
    )

    d = table(spark, sf_dir, "documents")
    url = F.expr(_URL_SQL.format(S="STRING")).alias("url")
    staged = d.select("doc_id", "n_chars", url)
    hosted = staged.select(
        "doc_id", "n_chars", host_expr(F.col("url")).alias("host")
    )
    w = Window.partitionBy("host").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    ranked = hosted.select(
        "host", "n_chars", F.row_number().over(w).alias("rnk")
    )
    return ranked.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("rnk") <= 3, 1)).alias("n_kept"),
        F.count(F.when(F.col("rnk") > 3, 1)).alias("n_dropped"),
        F.sum(F.when(F.col("rnk") <= 3, F.col("n_chars"))).alias(
            "kept_chars"
        ),
    )
