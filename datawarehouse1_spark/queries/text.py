"""Text-analysis queries over `documents` (SURVEY.md C21 + north-star
extensions): tokenize/word-count, token stats & quality scoring,
language-ID scoring, fingerprinting, exact-hash dedup.

All JVM-side expressions (split/explode/regexp/md5) — the hot path stays
in whole-stage codegen; no Python in any of these.

The corpus battery beside it: n-gram statistics (bigrams, collocation
PMI, Heaps and token histograms), TF-IDF and RAKE key terms,
contamination by shingle overlap, readability, lexical diversity
(hapax, TTR, Simpson, successor diversity), charset and boilerplate
profiles, per-source vocabulary and OOV rates, k-fold split balance
and embedding quantization diagnostics. Token sums use exact integer
arithmetic, so both engines agree bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.arrays import word_ngrams
from datawarehouse1_spark.functions.checksum import hexn_to_int_sql
from datawarehouse1_spark.functions.money import DEC38 as _DEC
from datawarehouse1_spark.functions.money import FLOOR_LOG2_SQL as _FLOG2
from datawarehouse1_spark.functions.text_tokens import (
    BPE_ISH_PATTERN,
    WORD_TOKENS_SQL,
    word_tokens,
)
from datawarehouse1_spark.operators.scale import widen_if_narrow
from datawarehouse1_spark.registry import declared


# the pattern contains contraction apostrophes: escape for SQL literals
_BPE_SQL = BPE_ISH_PATTERN.replace("'", "''")


# Tiny English stopword list for quality scoring (deterministic, shared
# verbatim with the SQL oracle).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


# --- C21: tokenize + word count (the canonical explode/groupBy) ---
@declared(
    "q_text_tokenize_wordcount",
    oracle=r"""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
          FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
)
def q_text_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- ext: per-document token counting (whitespace tokenizer) ---
@declared(
    "q_text_token_count",
    oracle=r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))
             AS n_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget accounting for a training-data pipeline: cheap
    whitespace tokens per doc (the BPE-ish GPT-2-style pre-tokenizer is
    functions/text_tokens.py, counted by q_text_bpe_token_count)."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )


# --- ext: quality scoring (length / stopword-ratio / mean token length) ---
@declared(
    "q_text_quality_score",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, length(text) AS n_chars,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tokens
      FROM documents
    )
    SELECT doc_id, n_chars,
           len(tokens) AS n_tokens,
           len(list_filter(tokens,
               t -> list_contains({list(STOPWORDS)!r}, t))) AS n_stopwords,
           CAST(len(list_filter(tokens,
               t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
             / len(tokens) AS stopword_ratio,
           CAST(n_chars AS DOUBLE) / len(tokens) AS chars_per_token,
           (len(tokens) BETWEEN 10 AND 100000)
             AND (CAST(n_chars AS DOUBLE) / len(tokens) BETWEEN 3.0 AND 12.0)
             AS quality_ok
    FROM toks
    WHERE len(tokens) > 0
    """,
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style heuristic quality gates: doc length, stopword ratio,
    mean token length — the pre-training filter battery, all as codegen'd
    array expressions."""
    d = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    out = (
        d.select("doc_id", F.length("text").alias("n_chars"), toks.alias("tokens"))
        .filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            "n_chars",
            F.size("tokens").alias("n_tokens"),
            F.size(F.filter("tokens", lambda t: F.array_contains(stop, t))).alias(
                "n_stopwords"
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.col("n_stopwords").cast("double") / F.col("n_tokens"),
        )
        .withColumn(
            "chars_per_token", F.col("n_chars").cast("double") / F.col("n_tokens")
        )
        .withColumn(
            "quality_ok",
            F.col("n_tokens").between(10, 100000)
            & F.col("chars_per_token").between(3.0, 12.0),
        )
    )
    return out


# --- ext: language-ID scoring (stopword-hit heuristic) ---
@declared(
    "q_text_lang_score",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tokens
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(list_filter(tokens,
                t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
             / len(tokens) AS en_score,
           CAST(len(list_filter(tokens,
                t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
             / len(tokens) >= 0.05 AS looks_english
    FROM toks WHERE len(tokens) > 0
    """,
)
def q_text_lang_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic (the testdata text is synthetic
    word salad, so the interesting part is the deterministic scoring
    plumbing; a real corpus would carry per-language marker lists)."""
    d = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    scored = (
        d.select("doc_id", "lang", toks.alias("tokens"))
        .filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            "lang",
            (
                F.size(F.filter("tokens", lambda t: F.array_contains(stop, t))).cast(
                    "double"
                )
                / F.size("tokens")
            ).alias("en_score"),
        )
        .withColumn("looks_english", F.col("en_score") >= 0.05)
    )
    return scored


# --- ext: document fingerprinting (normalized md5) + exact-hash dedup ---
@declared(
    "q_text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize (lower, trim, collapse whitespace) then md5 — the content
    fingerprint used by the exact-dedup path; md5 hex matches DuckDB's."""
    d = table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(normalized).alias("fingerprint"))


@declared(
    "q_dedup_exact_hash",
    oracle=r"""
    WITH staged AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    ),
    hashed AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      FROM staged
    )
    SELECT fp, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM hashed GROUP BY fp
    """,
)
def q_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at scale: hash-groupBy on the md5 fingerprint, keep the
    smallest doc_id. Only (hash, id) pairs cross the shuffle — not the
    document bodies — which is what survives 100 TB."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = d.unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        staged.select("doc_id", F.md5(normalized).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --- ext: n-gram (shingle) Jaccard near-dup on a bounded pair set ---
@declared(
    "q_dedup_ngram_jaccard",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text || ' zebra quill oxcart' AS text
      FROM documents WHERE doc_id < 40 AND doc_id % 3 = 0
    ),
    shingled AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(toks) - 2, 0) + 1),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
                     AS toks
            FROM base)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))) AS jaccard
    FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
      AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))) >= 0.1
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-word shingle Jaccard similarity, exact, on a bounded doc subset
    (pairwise is O(n²) — this is the small-scale oracle twin; the scale
    path is MinHash+LSH in operators/dedup.py, rows-only checked).

    The synthetic word salad in testdata has no organic near-dup pairs at
    threshold 0.1, so (like q_dedup_exact_hash) every 3rd subset doc is
    staged again with a 3-token suffix — a guaranteed ~0.9-Jaccard
    near-dup — making the oracle comparison non-vacuous at any SF."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    base = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zebra quill oxcart")).alias("text"),
        )
    )
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    docs = base.select("doc_id", toks.alias("toks"))
    # zip_with chain (functions/arrays.py::word_ngrams): same strings
    # as the oracle's range()+concat_ws, empty below 3 tokens (the slice
    # length clamps to 0, matching range(1, greatest(len-2,0)+1)).
    shingles = F.array_distinct(word_ngrams(F.col("toks"), 3))
    sh = docs.select("doc_id", shingles.alias("shingles")).filter(
        F.size("shingles") > 0
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union_sz = F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    jac = inter.cast("double") / union_sz
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.1)
    )


# --- ext: group-wise top-k curation (keep best N docs per language) ---
@declared(
    "q_curation_topk_per_lang",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS tokens
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(tokens,
                  t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
               / len(tokens) AS score
      FROM toks WHERE len(tokens) > 0
    )
    SELECT lang, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY score DESC, doc_id) AS rk
    FROM scored
    QUALIFY rk <= 20
    """,
)
def q_curation_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: keep the best-scoring N documents per
    language bucket — the group-wise top-k that follows quality scoring
    in a pre-training pipeline ("best 10% per language/domain"). One
    window over (lang) with a deterministic double score (stopword-hit
    ratio) and doc_id tiebreak; at 100 TB the rank shuffle carries only
    (lang, doc_id, score), never document bodies, and per-lang
    partitions rank independently."""
    d = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    scored = (
        d.select("doc_id", "lang", toks.alias("tokens"))
        .filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            "lang",
            (
                F.size(F.filter("tokens", lambda t: F.array_contains(stop, t)))
                .cast("double") / F.size("tokens")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("lang", "doc_id", "score", "rk")
    )


# --- ext: BPE-ish pre-tokenizer budget accounting (r6) ---
@declared(
    "q_text_bpe_token_count",
    oracle=rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpeish,
           len(list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '')) AS n_ws,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS DOUBLE)
             / greatest(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')), 1) AS bpeish_per_word
    FROM documents
    """,
)
def q_text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting with the GPT-2-style pre-tokenizer
    (functions/text_tokens.py: contractions / letter runs / digit runs /
    punctuation runs — RE2-safe, so Spark's Java regex and DuckDB's RE2
    count IDENTICAL token streams and this hash-matches) next to the
    cheap whitespace count; bpeish_per_word is the fertility proxy a
    mixture planner budgets with."""
    from datawarehouse1_spark.functions.text_tokens import bpe_ish_token_count

    d = table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    return d.select(
        "doc_id",
        bpe_ish_token_count("text").alias("n_bpeish"),
        F.size(ws).alias("n_ws"),
        (
            bpe_ish_token_count("text").cast("double")
            / F.greatest(F.size(ws), F.lit(1))
        ).alias("bpeish_per_word"),
    )


# Shared tokenizer (Spark + DuckDB twins must stay in lockstep).


@declared(
    "q_text_bigram_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {WORD_TOKENS_SQL} AS t FROM documents
    ),
    bigrams AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def q_text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams — the n-gram language-model statistic
    over the documents table. Bigrams are built inside a higher-order
    array expression (no self-join of exploded tokens), explode feeds a
    partial-aggregated count, and the top-20 is TakeOrderedAndProject —
    at 100 TB only (bigram, partial count) pairs shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(word_tokens().alias("t")).filter(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(word_ngrams(F.col("t"), 2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@declared(
    "q_text_tfidf_topterms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({WORD_TOKENS_SQL}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — keyword extraction for corpus
    curation. tf and df are integer counts; the only float op is one
    ln of an exact integer ratio (identical IEEE in both engines),
    rounded at 6 dp. Plan: explode → two chained aggregations (term
    grain ≪ token grain) → broadcast-joined idf → per-doc window."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(word_tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@declared(
    "q_text_contamination_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {WORD_TOKENS_SQL} AS t FROM documents
    ),
    shingles AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 2),
               i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM toks WHERE len(t) >= 3
    ),
    bench AS (
      SELECT DISTINCT doc_id, sh FROM shingles WHERE doc_id % 97 = 0
    ),
    corpus AS (
      SELECT DISTINCT doc_id, sh FROM shingles WHERE doc_id % 97 <> 0
    )
    SELECT b.doc_id AS bench_doc_id,
           COUNT(DISTINCT c.doc_id) AS n_contaminated_docs
    FROM bench b JOIN corpus c ON b.sh = c.sh
    GROUP BY b.doc_id
    """,
)
def q_text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check: for each held-out 'benchmark'
    document (doc_id % 97 == 0), count corpus documents sharing at
    least one 3-token shingle — the n-gram-overlap decontamination step
    of LLM training pipelines (real corpora use 8-13-gram shingles; 3
    keeps the check non-vacuous on this synthetic corpus's vocabulary).
    Shingles are md5-hashed so only (hash, doc_id) pairs shuffle into
    the equi-join, never text; both sides dedupe (doc, shingle) before
    joining to bound fan-out."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", word_tokens().alias("t")).filter(F.size("t") >= 3)
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.transform(word_ngrams(F.col("t"), 3), F.md5)
        ).alias("sh"),
    )
    bench = shingles.filter(F.col("doc_id") % 97 == 0).distinct()
    corpus = shingles.filter(F.col("doc_id") % 97 != 0).distinct()
    return (
        bench.alias("b")
        .join(corpus.alias("c"), "sh")
        .groupBy(F.col("b.doc_id").alias("bench_doc_id"))
        .agg(F.count_distinct("c.doc_id").alias("n_contaminated_docs"))
    )


@declared(
    "q_text_token_histogram",
    oracle=f"""
    WITH counted AS (
      SELECT len({WORD_TOKENS_SQL}) AS n_tokens FROM documents
    )
    SELECT CAST(floor(n_tokens / 50.0) AS BIGINT) * 50 AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM counted GROUP BY 1
    """,
)
def q_text_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (50-token buckets) — the corpus length
    profile that drives packing/truncation decisions. Pure narrow
    expression + one partial agg; integers only."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.size(word_tokens()).cast("long").alias("n_tokens"))
        .groupBy((F.floor(F.col("n_tokens") / 50) * 50).alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@declared(
    "q_text_posexplode_tokens",
    oracle=f"""
    SELECT doc_id, pos, t[pos] AS token FROM (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t))) AS pos
      FROM (SELECT doc_id, {WORD_TOKENS_SQL} AS t
            FROM documents WHERE doc_id < 20)
    )
    """,
)
def q_text_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral token explosion with 1-based positions (the LATERAL /
    UNNEST WITH ORDINALITY surface) over a bounded doc slice — the
    building block for positional n-gram and alignment features.
    posexplode is a generator inside whole-stage codegen, no join."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(word_tokens()).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "token")


@declared(
    "q_docs_length_percentiles",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           median(n_chars) AS p50_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def q_docs_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length profile (median/p90 exact linear
    interpolation, Spark `percentile` == DuckDB `quantile_cont`).
    Scale path: approx_percentile (t-digest) — same query shape."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@declared(
    "q_text_repetition_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {WORD_TOKENS_SQL} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, t,
             list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1]) AS bg
      FROM toks WHERE len(t) >= 2
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           CAST(floor((1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                      * 1000000) AS BIGINT) AS dup_token_frac_e6,
           CAST(floor((1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg))
                      * 1000000) AS BIGINT) AS dup_bigram_frac_e6
    FROM grams
    """,
)
def q_text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition — the duplicate-token and
    duplicate-bigram fractions used as quality-filter signals in LLM
    corpus curation (high repetition flags boilerplate/spam; the
    published corpus-cleaning pipelines gate on exactly these n-gram
    repetition fractions). Entirely narrow higher-order array
    expressions — no shuffle, no explode; fractions reported as floored
    integer micro-units so engines can't diverge on float rendering."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", word_tokens().alias("t")).filter(F.size("t") >= 2)
    bg = word_ngrams(F.col("t"), 2)
    grams = toks.withColumn("bg", bg)

    def dup_frac_e6(col):
        return F.floor(
            (
                F.lit(1.0)
                - F.size(F.array_distinct(col)).cast("double") / F.size(col)
            )
            * 1000000
        ).cast("long")

    return grams.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        dup_frac_e6(F.col("t")).alias("dup_token_frac_e6"),
        dup_frac_e6(F.col("bg")).alias("dup_bigram_frac_e6"),
    )


@declared(
    "q_docs_dup_rate_by_source",
    oracle="""
    WITH hashed AS (SELECT source, md5(text) AS h FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT h) AS n_unique,
           COUNT(*) - COUNT(DISTINCT h) AS n_dupes
    FROM hashed GROUP BY source
    """,
)
def q_docs_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source — the per-provider quality report
    that decides which feeds need dedup attention. Only (source, md5)
    shuffles; document bodies never move. At 100 TB the COUNT(DISTINCT)
    switches to approx_count_distinct with no shape change."""
    d = table(spark, sf_dir, "documents")
    hashed = d.select("source", F.md5("text").alias("h"))
    return hashed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("h").alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct("h")).alias("n_dupes"),
    )


@declared(
    "q_curation_pack_chunks",
    oracle=f"""
    WITH counted AS (
      SELECT doc_id, lang, len({WORD_TOKENS_SQL}) AS n_tokens FROM documents
    ),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM counted
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS chunk_id
    FROM cum
    """,
)
def q_curation_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing for LLM training: documents are
    concatenated per language in stable doc_id order and assigned to
    2048-token chunks by where each document STARTS in the running
    token stream (documents may straddle a boundary — the standard
    pack-then-split tokenizer behavior, not bin packing). One shuffle to
    lang partitions, one running DECIMAL-free integer sum; deterministic
    because the order key is the unique doc_id. At 100 TB the per-lang
    ordering becomes a range-partitioned sort — same plan shape."""
    d = table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", "lang", F.size(word_tokens()).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return counted.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048.0
        ).cast("long").alias("chunk_id"),
    )


@declared(
    "q_embedding_quantize_error",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, label, v,
             list_max(list_transform(v, x -> abs(x))) AS amax
      FROM vecs
    )
    SELECT vec_id, label,
           CAST(floor(amax * 1000000) AS BIGINT) AS amax_e6,
           CASE WHEN amax = 0 THEN 0
                ELSE CAST(floor(list_max(list_transform(v,
                  x -> abs(x - floor(x * (127.0 / amax) + 0.5)
                               / (127.0 / amax)))) * 1000000) AS BIGINT)
           END AS max_abs_err_e6
    FROM scaled
    """,
)
def q_embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization diagnostics: per-vector max-abs
    reconstruction error under symmetric 127/amax scaling — the
    decision metric for whether an embedding corpus can ship quantized.
    Entirely higher-order array expressions (JVM codegen, no UDF, no
    shuffle). Determinism: quantization is floor(x*scale + 0.5), not
    round() — the max error sits EXACTLY at half a quantization step,
    where the engines' round() tie modes diverge, while floor is a
    single bit-deterministic double op; outputs are integer micro-units
    (floor(v*1e6)) for the same reason."""
    e = table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    vecs = e.select("vec_id", "label", v.alias("v"))
    amax = F.array_max(F.transform("v", F.abs))
    scaled = vecs.withColumn("amax", amax)
    scale = F.lit(127.0) / F.col("amax")
    err = F.array_max(
        F.transform(
            "v",
            lambda x: F.abs(x - F.floor(x * scale + F.lit(0.5)) / scale),
        )
    )
    return scaled.select(
        "vec_id",
        "label",
        F.floor(F.col("amax") * 1000000).cast("long").alias("amax_e6"),
        F.when(F.col("amax") == 0, F.lit(0).cast("long"))
        .otherwise(F.floor(err * 1000000).cast("long"))
        .alias("max_abs_err_e6"),
    )


@declared(
    "q_embedding_norm_stats",
    oracle="""
    WITH norms AS (
      SELECT label,
             CAST(round(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
                  AS DECIMAL(18,6)) AS norm
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(norm) AS DOUBLE) / COUNT(*) AS mean_norm,
           CAST(MIN(norm) AS DOUBLE) AS min_norm,
           CAST(MAX(norm) AS DOUBLE) AS max_norm
    FROM norms GROUP BY label
    """,
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile — detects unnormalized or degenerate
    embedding batches before they hit ANN indexing. The per-vector fold
    runs left-to-right in both engines (deterministic), and the
    cross-row MEAN goes through rounded DECIMAL so group aggregation
    order can't perturb the float sum."""
    e = table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norms = e.select(
        "label",
        F.round(F.sqrt(sq_sum), 6).cast("decimal(18,6)").alias("norm"),
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum("norm").cast("double") / F.count(F.lit(1))).alias("mean_norm"),
        F.min("norm").cast("double").alias("min_norm"),
        F.max("norm").cast("double").alias("max_norm"),
    )


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


@declared(
    "q_text_source_vocab_jaccard",
    oracle=r"""
    WITH tok AS (
      SELECT DISTINCT source,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
      FROM documents
    ),
    wc AS (SELECT source, word FROM tok WHERE word <> ''),
    sizes AS (SELECT source, COUNT(*) AS n_words FROM wc GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common
      FROM wc a JOIN wc b ON a.word = b.word AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.n_common,
           sa.n_words AS n_words_a, sb.n_words AS n_words_b,
           CAST(p.n_common * 1000000
                // (sa.n_words + sb.n_words - p.n_common) AS BIGINT)
             AS jaccard_e6
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    """,
)
def q_text_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: distinct word sets
    per provider, overlap counted by the word EQUI-join (exact — a
    pair overlaps iff it shares a word, and distinct (source, word)
    rows make the grouped join count the intersection size), Jaccard
    in floored micro-units. The provider-redundancy screen: two
    sources whose vocabularies coincide are mirrors even when no
    single document duplicates. Plan: bodies tokenize map-side and
    only (source, word) tuples shuffle; the pair aggregate's output is
    bounded by (#sources choose 2); per-source sizes broadcast. A
    corpus-wide stop-word shared by all S sources contributes S(S-1)/2
    pair rows — the same class as the output itself, not a quadratic
    blowup in the corpus."""
    d = table(spark, sf_dir, "documents")
    word = F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias(
        "word"
    )
    # the distinct (source, word) set feeds three consumers (both join
    # sides + the size table); localCheckpoint runs the tokenize +
    # distinct ONCE (SCALE.md rule 12) instead of once per consumer
    wc = (
        d.select("source", word)
        .filter(F.col("word") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = wc.groupBy("source").agg(F.count(F.lit(1)).alias("n_words"))
    a = wc.alias("a")
    b = wc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_words").alias("n_words_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_words").alias("n_words_b")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_words_a",
            "n_words_b",
            F.expr(
                "n_common * 1000000 div (n_words_a + n_words_b - n_common)"
            )
            .cast("long")
            .alias("jaccard_e6"),
        )
    )


# staged multi-script suffix (identical literal in both twins)
_ML_SUFFIX = " 世界汉字 русский мир 12345."


# character classes counted as length(t) - length(regexp_replace(t, cls, ''))
# NOTE: '[ ]' not '\\s' — Java \\s includes \\x0B, RE2's does not.
_CLASSES = (
    ("alpha", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ ]"),
    ("cjk", r"[\x{4e00}-\x{9fff}]"),
    ("cyr", r"[\x{0400}-\x{04ff}]"),
)


def _duck_counts() -> str:
    return ", ".join(
        f"SUM(length(text) - length(regexp_replace(text, '{pat}', '', 'g')))"
        f" AS c_{name}"
        for name, pat in _CLASSES
    )


@declared(
    "q_text_charset_profile",
    oracle=f"""
    WITH base AS (
      SELECT source, text FROM documents
      UNION ALL
      SELECT source, text || '{_ML_SUFFIX}' AS text
      FROM documents WHERE doc_id % 7 = 0
    ),
    agg AS (
      SELECT source, COUNT(*) AS n_docs, SUM(length(text)) AS total,
             {_duck_counts()}
      FROM base GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total AS BIGINT) AS n_chars,
           CAST(c_alpha * 1000000 // total AS BIGINT) AS alpha_e6,
           CAST(c_digit * 1000000 // total AS BIGINT) AS digit_e6,
           CAST(c_space * 1000000 // total AS BIGINT) AS space_e6,
           CAST(c_cjk * 1000000 // total AS BIGINT) AS cjk_e6,
           CAST(c_cyr * 1000000 // total AS BIGINT) AS cyr_e6,
           CAST((total - c_alpha - c_digit - c_space - c_cjk - c_cyr)
                * 1000000 // total AS BIGINT) AS other_e6
    FROM agg
    """,
)
def q_text_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source script-class character shares in floored micro-units:
    ASCII letters/digits/spaces, CJK (U+4E00..9FFF), Cyrillic
    (U+0400..04FF), and the exact remainder ('other' is total minus
    the named classes, so the six counts partition every character —
    closure law pinned).  Character counting is length-difference
    after class removal — identical codepoint semantics in Java regex
    and RE2 for these explicit ranges (the '[ ]' class dodges the
    Java-vs-RE2 \\s divergence on \\x0B).  Plan: one scan, narrow
    per-doc counts, a single bounded per-source exchange."""
    d = table(spark, sf_dir, "documents")
    base = d.select("source", "text").unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            "source", F.concat(F.col("text"), F.lit(_ML_SUFFIX)).alias("text")
        )
    )
    counts = [
        F.sum(
            F.length("text")
            - F.length(F.regexp_replace("text", pat, ""))
        ).alias(f"c_{name}")
        for name, pat in _CLASSES
    ]
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total"),
        *counts,
    )
    named = [
        F.expr(f"c_{name} * 1000000 div total").cast("long").alias(f"{name}_e6")
        for name, _ in _CLASSES
    ]
    return agg.select(
        "source",
        "n_docs",
        F.col("total").cast("long").alias("n_chars"),
        *named,
        F.expr(
            "(total - c_alpha - c_digit - c_space - c_cjk - c_cyr)"
            " * 1000000 div total"
        )
        .cast("long")
        .alias("other_e6"),
    )


_FOOTER = "subscribe to our newsletter today"


@declared(
    "q_curation_boilerplate_snippets",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' {_FOOTER}' ELSE text END AS text
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS tk
      FROM base
    ),
    snips AS (
      SELECT source, 'header' AS kind,
             concat_ws(' ', tk[1], tk[2], tk[3], tk[4], tk[5]) AS snippet
      FROM toks WHERE len(tk) >= 10
      UNION ALL
      SELECT source, 'footer' AS kind,
             concat_ws(' ', tk[-5], tk[-4], tk[-3], tk[-2], tk[-1]) AS snippet
      FROM toks WHERE len(tk) >= 10
    ),
    src AS (SELECT source, COUNT(*) AS n_src_docs FROM base GROUP BY source),
    freq AS (
      SELECT source, kind, snippet, COUNT(*) AS n_docs
      FROM snips GROUP BY source, kind, snippet
    )
    SELECT f.source, f.kind, f.snippet,
           CAST(f.n_docs AS BIGINT) AS n_docs,
           CAST(f.n_docs * 1000000 // s.n_src_docs AS BIGINT) AS share_e6
    FROM freq f JOIN src s ON f.source = s.source
    WHERE f.n_docs >= 3
      AND f.n_docs * 1000000 // s.n_src_docs >= 100000
    """,
)
def q_curation_boilerplate_snippets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeated header/footer detection per source: the first and last
    5-token windows of each doc (docs with >= 10 tokens, so the two
    windows never overlap) are candidate boilerplate; a snippet
    appearing in >= 3 docs AND >= 10% of its source is reported with
    its doc count and floored micro-share.  Every 3rd doc is staged
    with a fixed appended footer so detection is non-vacuous at any
    SF.  This is the strip-before-dedup report (boilerplate inflates
    every similarity tier); q_dedup_paragraphs is the orthogonal
    global exact-paragraph dedup.  Plan: one scan; narrow (source,
    kind, snippet) tuples through one bounded aggregate; per-source
    doc totals broadcast."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _FOOTER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    tk = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    toks = base.select("source", tk.alias("tk")).filter(F.size("tk") >= 10)
    snips = toks.select(
        "source",
        F.explode(
            F.array(
                F.struct(
                    F.lit("header").alias("kind"),
                    F.array_join(F.slice("tk", 1, 5), " ").alias("snippet"),
                ),
                F.struct(
                    F.lit("footer").alias("kind"),
                    F.array_join(F.slice("tk", -5, 5), " ").alias("snippet"),
                ),
            )
        ).alias("s"),
    ).select("source", "s.kind", "s.snippet")
    src = base.groupBy("source").agg(F.count(F.lit(1)).alias("n_src_docs"))
    freq = snips.groupBy("source", "kind", "snippet").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        freq.join(F.broadcast(src), "source")
        .withColumn(
            "share_e6",
            F.expr("n_docs * 1000000 div n_src_docs").cast("long"),
        )
        .filter((F.col("n_docs") >= 3) & (F.col("share_e6") >= 100000))
        .select("source", "kind", "snippet", "n_docs", "share_e6")
    )


# 24-bit md5 key (shared Spark/DuckDB text from functions/checksum.py),
# then mod 5: bias is 2^24 mod 5 = 1 part in 16.7M — negligible and
# deterministic


_KEY24 = hexn_to_int_sql("md5(CAST(doc_id AS {S}))", 6)


@declared(
    "q_split_kfold_assign",
    oracle=f"""
    WITH folded AS (
      SELECT doc_id, lang, n_chars,
             {_KEY24.format(S='VARCHAR')} % 5 AS fold
      FROM documents
    ),
    cell AS (
      SELECT fold, lang, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
      FROM folded GROUP BY fold, lang
    )
    SELECT CAST(fold AS INT) AS fold, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_docs * 1000000
                // SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
             AS share_in_lang_e6
    FROM cell
    """,
)
def q_split_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: fold =
    md5-derived 24-bit key mod 5 — a pure function of doc identity
    (the q_split_train_holdout discipline: reruns, engines, and
    retried tasks agree; adding docs never moves existing ones) —
    reported as the (fold, lang) balance matrix with each cell's
    floored micro-share of its language.  The stratification-quality
    read: a fold whose share strays far from 200000 flags a skewed
    split.  Plan: one scan, one bounded (fold, lang) aggregate; the
    share window runs on the bounded cell table."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    folded = d.select(
        "lang",
        "n_chars",
        (F.expr(_KEY24.format(S="STRING")) % 5).alias("fold"),
    )
    cell = folded.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    w = Window.partitionBy("lang")
    return cell.select(
        F.col("fold").cast("int").alias("fold"),
        "lang",
        "n_docs",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr("n_docs * 1000000")
        .cast("long")
        .alias("_num"),
        F.sum("n_docs").over(w).alias("_den"),
    ).select(
        "fold",
        "lang",
        "n_docs",
        "n_chars",
        F.expr("_num div _den").cast("long").alias("share_in_lang_e6"),
    )


_VOCAB_K = 1000


@declared(
    "q_docs_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT source, token, COUNT(*) AS c
      FROM (SELECT source,
                   unnest(list_filter(
                     string_split_regex(lower(text), '\\s+'),
                     t -> t <> '')) AS token
            FROM documents)
      GROUP BY source, token
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token,
               ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, token) AS r
        FROM toks GROUP BY token
      ) WHERE r <= {_VOCAB_K}
    )
    SELECT t.source,
           CAST(SUM(t.c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN t.c ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.token IS NULL THEN t.c ELSE 0 END)
                * 1000000 // SUM(t.c) AS BIGINT) AS oov_share_e6
    FROM toks t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.source
    """,
)
def q_docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus' own
    top-1000 (_VOCAB_K) token vocabulary (rank by count desc, ties by token
    asc — a total order, so the vocabulary is value-deterministic):
    the share of token OCCURRENCES falling outside the head — the
    rare-word / domain-drift signal beside the TVD divergence report
    (q_text_source_divergence measures distribution distance; this
    measures tail mass).  Plan: the (source, token) count table is the
    single fact aggregate and localCheckpoints (rule 12) to feed BOTH
    the global vocabulary roll-up and the per-source OOV join; the
    vocabulary is a bounded TakeOrderedAndProject broadcast; floored
    micro-units."""
    d = table(spark, sf_dir, "documents")
    tok = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    toks = (
        d.select("source", F.explode(tok).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), "token")
        .limit(_VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "token", "left_outer")
    oov_c = F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(F.lit(0))
    return joined.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(oov_c).cast("long").alias("n_oov"),
        F.expr(
            "SUM(CASE WHEN in_vocab IS NULL THEN c ELSE 0 END)"
            " * 1000000 div SUM(c)"
        )
        .cast("long")
        .alias("oov_share_e6"),
    )


# ---------------------------------------------------------------------------
# PMI collocations (exact integer lift ranking)
# ---------------------------------------------------------------------------


_PMI_MIN_COUNT = 5


@declared(
    "q_text_collocations_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT {WORD_TOKENS_SQL} AS t FROM documents
    ),
    uni AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    cb AS (
      SELECT bigram, COUNT(*) AS c_xy
      FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i+1]))
                     AS bigram
            FROM toks WHERE len(t) >= 2)
      GROUP BY bigram
    ),
    n AS (SELECT CAST(SUM(c_xy) AS HUGEINT) AS n_bi FROM cb),
    cand AS (
      SELECT bigram, c_xy,
             string_split(bigram, ' ')[1] AS w1,
             string_split(bigram, ' ')[2] AS w2
      FROM cb WHERE c_xy >= {_PMI_MIN_COUNT}
    )
    SELECT bigram,
           CAST(c_xy AS BIGINT) AS n_pair,
           CAST(u1.c AS BIGINT) AS n_w1,
           CAST(u2.c AS BIGINT) AS n_w2,
           CAST(CAST(c_xy AS HUGEINT) * n.n_bi * 1000000
                // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT)
             AS lift_e6
    FROM cand
    JOIN uni u1 ON cand.w1 = u1.w
    JOIN uni u2 ON cand.w2 = u2.w, n
    ORDER BY lift_e6 DESC, bigram LIMIT 20
    """,
)
def q_text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information over the
    documents corpus — the phrase-mining statistic (NLTK convention:
    PMI = ln(N·c(xy) / (c(x)·c(y))) with N = total bigram count).
    Ranked by the EXACT integer lift_e6 = N·c(xy)·1e6 // (c(x)·c(y)),
    a monotone transform of PMI, so the ranking and the hashed values
    carry no libm log (rule 20); both operands positive (rule 27);
    min-count {_PMI_MIN_COUNT} suppresses the degenerate
    hapax-pair PMI ceiling.  Plan: bigrams build inside one zip_with
    array expression (no token self-join), unigram and bigram counts
    partial-aggregate before their exchanges, the 1-row corpus total
    broadcasts, and the top-20 resolves as TakeOrderedAndProject with
    a full (lift, bigram) tie-break (rule 29)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(word_tokens().alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cb = (
        toks.filter(F.size("t") >= 2)
        .select(F.explode(word_ngrams(F.col("t"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    n = cb.agg(F.sum("c_xy").cast(_DEC).alias("n_bi"))
    cand = cb.filter(F.col("c_xy") >= _PMI_MIN_COUNT).select(
        "bigram",
        "c_xy",
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(n))
        .select(
            "bigram",
            F.col("c_xy").cast("long").alias("n_pair"),
            F.col("c_x").cast("long").alias("n_w1"),
            F.col("c_y").cast("long").alias("n_w2"),
            (F.col("c_xy").cast(_DEC) * F.col("n_bi") * F.lit(1000000))
            .alias("_num"),
            (F.col("c_x").cast(_DEC) * F.col("c_y")).alias("_den"),
        )
        .select(
            "bigram",
            "n_pair",
            "n_w1",
            "n_w2",
            # exact `div`, not floor(decimal `/`) — see q_quality_auc_by_source
            F.expr("_num div _den").cast("long").alias("lift_e6"),
        )
    )
    return scored.orderBy(F.desc("lift_e6"), F.asc("bigram")).limit(20)


# ---------------------------------------------------------------------------
# Simpson lexical diversity per source
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
# RAKE keyphrase extraction
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
# Heaps'-law vocabulary growth fit
# ---------------------------------------------------------------------------


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
# Vocabulary coverage spectrum (tokenizer-budget read)
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


# ---------------------------------------------------------------------------
# Type-token ratio by length bucket
# ---------------------------------------------------------------------------


@declared(
    "q_text_ttr_by_length",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest({WORD_TOKENS_SQL}) AS w FROM documents)
      GROUP BY doc_id, w
    ),
    per_doc AS (
      SELECT doc_id, SUM(c) AS n_tok, COUNT(*) AS n_types,
             COUNT(*) FILTER (WHERE c = 1) AS n_hapax
      FROM tf GROUP BY doc_id
    )
    SELECT (length(bin(n_tok)) - 1) AS len_log2,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_types) * CAST(1000000 AS HUGEINT) // SUM(n_tok)
                AS BIGINT) AS pooled_ttr_ppm,
           CAST(SUM(CAST(n_types AS HUGEINT) * 1000000 // n_tok)
                // COUNT(*) AS BIGINT) AS mean_ttr_ppm,
           CAST(SUM(n_hapax) * CAST(1000000 AS HUGEINT) // SUM(n_types)
                AS BIGINT) AS hapax_rate_ppm
    FROM per_doc GROUP BY 1
    """,
)
def q_text_ttr_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token-ratio curve by document length — TTR falls with
    length (Herdan's law), so a single corpus TTR is meaningless;
    per floor-log2 token-count bucket this reports pooled TTR
    (Σtypes/Σtokens), mean per-doc TTR, and the in-doc hapax share of
    types, each an exact floored ppm (per-doc TTR floors are
    engine-identical; docs with zero tokens can't exist — a doc with
    no [a-z0-9] runs has no tf rows at all, identically in both
    engines).  The curve that calibrates q_text_heaps_fit's β and the
    dedup-suspicion read (a bucket with collapsing TTR is templated).
    Plan: one (doc, word) exchange, one doc-grain reduction, a ≤~15-row
    log2 histogram."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(word_tokens()).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.count(F.lit(1)).alias("n_types"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n_hapax"),
    )
    return (
        per_doc.select(
            (F.length(F.bin(F.col("n_tok"))) - 1).cast("long").alias(
                "len_log2"
            ),
            "n_tok",
            "n_types",
            "n_hapax",
            F.expr("CAST(n_types * 1000000 div n_tok AS LONG)").alias(
                "_doc_ttr"
            ),
        )
        .groupBy("len_log2")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.expr(
                "CAST((sum(n_types) * 1000000) div sum(n_tok) AS LONG)"
            ).alias("pooled_ttr_ppm"),
            F.expr("CAST(sum(_doc_ttr) div count(1) AS LONG)").alias(
                "mean_ttr_ppm"
            ),
            F.expr(
                "CAST((sum(n_hapax) * 1000000) div sum(n_types) AS LONG)"
            ).alias("hapax_rate_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Head/tail vocabulary drift (positional unigram TVD per source)
# ---------------------------------------------------------------------------


@declared(
    "q_text_head_tail_drift",
    oracle=f"""
    WITH tok AS (
      SELECT source, t[pos] AS token,
             CAST(2 * pos <= len(t) AS INT) AS is_head
      FROM (
        SELECT source, t, unnest(generate_series(1, len(t))) AS pos
        FROM (SELECT source, {WORD_TOKENS_SQL} AS t FROM documents)
      )
    ),
    tc AS (
      SELECT source, token,
             CAST(SUM(is_head) AS HUGEINT) AS ch,
             CAST(SUM(1 - is_head) AS HUGEINT) AS ct
      FROM tok GROUP BY source, token
    ),
    tot AS (
      SELECT source, SUM(ch) AS th, SUM(ct) AS tt FROM tc GROUP BY source
    )
    SELECT tc.source,
           CAST(th AS BIGINT) AS head_tokens,
           CAST(tt AS BIGINT) AS tail_tokens,
           CAST(COUNT(*) FILTER (WHERE ch > 0) AS BIGINT)
             AS head_vocab,
           CAST(COUNT(*) FILTER (WHERE ct > 0) AS BIGINT)
             AS tail_vocab,
           CAST(SUM(ABS(ch * tt - ct * th)) * 500000
                // NULLIF(th * tt, 0) AS BIGINT) AS tvd_e6
    FROM tc JOIN tot ON tot.source = tc.source
    GROUP BY tc.source, th, tt
    """,
)
def q_text_head_tail_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source, the total-variation distance between the unigram
    distribution of each document's FIRST half and SECOND half —
    boilerplate-framed or templated corpora drift (headers/footers
    differ from bodies), organic prose doesn't: a positional curation
    screen invisible to every whole-document profile.  TVD stays exact
    by cross-multiplying: Σ|c_h·T_t − c_t·T_h| · 5e5 // (T_h·T_t)
    — integers end to end (DECIMAL(38,0)/HUGEINT), one floored
    non-negative quotient per source.  Scale shape: posexplode is a
    generator inside codegen (no join); ONE exchange to the (source,
    token) grain with head/tail partial counts; per-source totals are
    a bounded second aggregate broadcast back; the TVD reduction runs
    on the token-grain table once."""
    d = table(spark, sf_dir, "documents")
    # materialize the token array ONCE behind a projection boundary —
    # inlining word_tokens() into both size() and posexplode() makes
    # codegen run the regex split twice per document (measured 4.5 s →
    # 1.0 s at sf0.1)
    arr = d.select("source", word_tokens().alias("t"))
    tok = arr.select(
        "source",
        F.size("t").alias("n"),
        F.posexplode("t").alias("pos0", "token"),
    ).select(
        "source",
        "token",
        (2 * (F.col("pos0") + 1) <= F.col("n")).cast("int").alias("is_head"),
    )
    tc = tok.groupBy("source", "token").agg(
        F.sum("is_head").cast(_DEC).alias("ch"),
        F.sum(1 - F.col("is_head")).cast(_DEC).alias("ct"),
    )
    tot = tc.groupBy("source").agg(
        F.sum("ch").alias("th"), F.sum("ct").alias("tt")
    )
    j = tc.join(F.broadcast(tot), "source")
    return (
        j.groupBy("source", "th", "tt")
        .agg(
            F.count(F.when(F.col("ch") > 0, 1)).alias("head_vocab"),
            F.count(F.when(F.col("ct") > 0, 1)).alias("tail_vocab"),
            F.sum(F.abs(F.col("ch") * F.col("tt") - F.col("ct") * F.col("th")))
            .alias("absdiff"),
        )
        .select(
            "source",
            F.col("th").cast("long").alias("head_tokens"),
            F.col("tt").cast("long").alias("tail_tokens"),
            "head_vocab",
            "tail_vocab",
            F.expr(
                "absdiff * 500000"
                " div NULLIF(th * tt, CAST(0 AS decimal(38,0)))"
            )
            .cast("long")
            .alias("tvd_e6"),
        )
    )

