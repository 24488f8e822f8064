"""Round-5 text/embedding battery for the training-data pipeline:
corpus n-gram statistics (bigrams, Zipf-style histograms), TF-IDF key
terms, train/test contamination detection by shingle overlap, lateral
token explosion, and embedding quantization diagnostics.

All hash-matched against DuckDB oracles over the same parquet. Text
normalization is shared between engines as plain expressions (lower +
non-alphanumeric split + empty-token filter) so token streams are
bit-identical; float outputs are explicitly rounded where the two
engines could accumulate in different orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.arrays import word_ngrams
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.registry import declared

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
