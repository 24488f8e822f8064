"""Round-10 text analysis, batch 4: Flesch readability scoring and
hapax-legomena / type-token lexical diversity.

* **Flesch reading ease** — the classic readability screen re-derived
  in pure integer milli-units: 206.835 - 1.015*(words/sentences)
  - 84.6*(syllables/words) becomes 206835 - (1015*W div S)
  - (84600*Y div W), every term an exact floored integer (1.015e3 and
  84.6e3 are exact integers, so no float ever appears). Words are the
  corpus's established [a-z0-9]+ tokens; sentences are [.!?]+ runs
  (min 1); syllables are approximated by vowel-group runs ([aeiouy]+)
  — the standard public heuristic. A per-document quality gate for a
  training-data pipeline: zero exchanges, everything folds into the
  scan projection.

* **Hapax / type-token ratio** — per-source lexical diversity: token
  and type counts, hapax legomena (words seen exactly once in that
  source), TTR and hapax share in micro-units. The Heaps'-law-side
  companion to q_text_zipf_fit's rank-frequency slope: a source whose
  TTR collapses is template spam even when its Zipf slope looks sane.

Reference parity: the reference ETL (etl/app.py) has no text surface;
SURVEY.md §2D LLM-pipeline extension inventory (text analysis band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.arrays import word_ngrams
from datawarehouse1_spark.functions.text_tokens import word_tokens
from datawarehouse1_spark.operators.scale import widen_if_narrow
from datawarehouse1_spark.registry import declared

# ---------------------------------------------------------------- 1.

_BAND_SQL = """CASE WHEN n_words = 0 THEN 'empty'
         WHEN flesch_e3 >= 60000 THEN 'easy'
         WHEN flesch_e3 >= 30000 THEN 'medium'
         ELSE 'hard' END"""


@declared(
    "q_text_readability_flesch",
    oracle=f"""
    WITH counted AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_words, n_sentences, n_syllables,
             CAST(206835 - (1015 * n_words // n_sentences)
                         - (84600 * n_syllables // nullif(n_words, 0))
                  AS BIGINT) AS flesch_e3
      FROM counted
    )
    SELECT doc_id, n_words, n_sentences, n_syllables, flesch_e3,
           {_BAND_SQL} AS band
    FROM scored
    """,
)
def q_text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document in exact integer milli-units:
    flesch_e3 = 206835 - (1015*W div S) - (84600*Y div W) with W =
    [a-z0-9]+ word runs, S = [.!?]+ sentence runs (floored at 1 so
    unpunctuated text scores as one long sentence), Y = [aeiouy]+
    vowel-group runs (the public syllable heuristic). All operands are
    positive, so Spark's `div` and DuckDB's `//` floor identically;
    word-free documents score NULL and band 'empty'. Plan: a pure
    projection — the regex counting runs inside the scan's codegen
    stage and only (doc_id, 4 ints, band) survive; widen_if_narrow
    lifts a small-file scan to full parallelism for the CPU-bound
    regex stage (no-op at production split counts, where the plan is
    zero exchanges)."""
    d = widen_if_narrow(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    low = F.lower(F.col("text"))
    n_words = F.size(F.regexp_extract_all(low, F.lit("[a-z0-9]+"), 0)).cast(
        "long"
    )
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        F.lit(1),
    ).cast("long")
    n_syllables = F.size(
        F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0)
    ).cast("long")
    counted = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    scored = counted.withColumn(
        "flesch_e3",
        F.expr(
            "206835 - (1015 * n_words div n_sentences)"
            " - (84600 * n_syllables div nullif(n_words, 0))"
        ).cast("long"),
    )
    return scored.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        "flesch_e3",
        F.expr(_BAND_SQL).alias("band"),
    )


# ---------------------------------------------------------------- 2.


@declared(
    "q_text_hapax_ratio",
    oracle=r"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
               AS word
      FROM documents
    ),
    wc AS (
      SELECT source, word, COUNT(*) AS c
      FROM tok WHERE word <> '' GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
           CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_e6,
           CAST(COUNT(*) FILTER (WHERE c = 1) * 1000000 // COUNT(*)
                AS BIGINT) AS hapax_share_e6
    FROM wc GROUP BY source
    """,
)
def q_text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: tokens, distinct types, hapax
    legomena (types occurring exactly once in the source), type-token
    ratio and hapax share in floored micro-units. The lexical-richness
    quality signal beside the Zipf slope: template/boilerplate farms
    show a collapsing TTR and near-zero hapax share long before their
    rank-frequency curve degrades. Plan: the explode is map-side; one
    (source, word) exchange aggregates counts, one narrow (source)
    exchange rolls them up — document bodies never shuffle, only
    (source, word) tuples; both `div` operands are positive so the
    floors agree across engines. widen_if_narrow parallelizes the
    CPU-bound tokenize+explode over a small-file scan (no-op at
    production split counts)."""
    d = widen_if_narrow(
        table(spark, sf_dir, "documents").select("source", "text")
    )
    word = F.explode(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+")
    ).alias("word")
    wc = (
        d.select("source", word)
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = wc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n_hapax"),
    )
    # ratios derive from the aggregates, so each count is defined once
    return agg.withColumn(
        "ttr_e6", F.expr("n_types * 1000000 div n_tokens").cast("long")
    ).withColumn(
        "hapax_share_e6",
        F.expr("n_hapax * 1000000 div n_types").cast("long"),
    )


# ---------------------------------------------------------------- 3.


@declared(
    "q_text_successor_diversity",
    oracle=r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    big AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    pair AS (SELECT bigram, COUNT(*) AS c FROM big GROUP BY bigram),
    tok AS (
      SELECT split_part(bigram, ' ', 1) AS token,
             CAST(SUM(c) AS BIGINT) AS n_total,
             COUNT(*) AS n_successors,
             CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT)
               AS branching_e6
      FROM pair GROUP BY split_part(bigram, ' ', 1)
    )
    SELECT token, n_total, n_successors, branching_e6
    FROM tok ORDER BY n_total DESC, token LIMIT 50
    """,
)
def q_text_successor_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token successor diversity (branching factor): for the 50
    most frequent bigram heads — total continuations, DISTINCT
    continuations, and their ratio in floored micro-units. The
    log-free cousin of conditional entropy: boilerplate and template
    spam collapse a token's branching factor toward 0 long before the
    unigram stats move (a 1e6 branching factor means every occurrence
    is followed by a different word). Plan: bigrams build inside a
    higher-order array expression (no token self-join), one (bigram)
    exchange counts pairs, one (token) exchange rolls up heads — the
    head roll-up counts pair ROWS so distinct-successor needs no
    second expand — and the top-50 is TakeOrderedAndProject."""
    d = widen_if_narrow(table(spark, sf_dir, "documents").select("text"))
    toks = word_tokens()
    t = d.select(toks.alias("t")).filter(F.size("t") >= 2)
    bigrams = t.select(F.explode(word_ngrams(F.col("t"), 2)).alias("bigram"))
    pair = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    tok = (
        pair.select(
            F.substring_index("bigram", " ", 1).alias("token"), "c"
        )
        .groupBy("token")
        .agg(
            F.sum("c").alias("n_total"),
            F.count(F.lit(1)).alias("n_successors"),
        )
        .withColumn(
            "branching_e6",
            F.expr("n_successors * 1000000 div n_total").cast("long"),
        )
    )
    return tok.orderBy(F.desc("n_total"), F.asc("token")).limit(50)
