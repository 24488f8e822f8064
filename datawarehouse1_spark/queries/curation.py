"""Training-data curation: the steps a web-scale pipeline runs between
raw extraction and tokenization, over `documents`.

* cleaning: paragraph dedup, PII redaction, Gopher-style document-shape
  rules and the composed keep/drop verdict with its funnel report;
* canonicalization dedup: URL and Unicode normal forms, exact
  substrings, per-domain statistics and caps, opt-out takedown;
* tokenization: BPE merge learning and encoding, sliding-window
  chunking, length-bucket packing, character-trigram language profiles
  and a Zipf doubling-law fit;
* sampling and splits: exact stratified and PPS-systematic samples,
  the mixture token budget, deterministic sharding, train/holdout
  splits with their shingle and n-gram leakage audits, and test-set
  decontamination;
* the composed master pipeline over all of the above.

Every step is a declared query with a DuckDB twin wherever the step is
SQL-expressible; staging (URLs, Unicode variants, PII) is closed-form
in doc_id, so both engines see the same input.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.arrays import word_ngrams
from datawarehouse1_spark.functions.money import FLOOR_LOG2_SQL as _FLOG2
from datawarehouse1_spark.functions.splits import SPLIT_SQL, split_col
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.operators.scale import widen_if_narrow
from datawarehouse1_spark.queries.dedup_ext import MIXTURE_RATES
from datawarehouse1_spark.queries.text import STOPWORDS
from datawarehouse1_spark.registry import declared


# Boilerplate lines injected as the shared duplicate mass: every web
# corpus is full of these, and paragraph dedup exists to strip them.
_BOILER = (
    "subscribe to our newsletter for updates",
    "all rights reserved by the site owner",
    "click here to accept cookies and continue",
)


def _staged_paragraphs(docs: DataFrame) -> DataFrame:
    """(doc_id, para_idx, para): 3 paragraphs per doc — two doc-text
    slices around one boilerplate line chosen by doc_id % 3. The same
    construction is written in SQL inside the oracles below; both
    engines must see byte-identical paragraphs."""
    boiler = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_BOILER[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_BOILER[1]))
        .otherwise(F.lit(_BOILER[2]))
    )
    paras = F.array(
        F.substring("text", 1, 60),
        boiler,
        F.substring("text", 61, 60),
    )
    return docs.select(
        "doc_id", F.posexplode(paras).alias("para_idx", "para")
    ).filter(F.trim("para") != "")


_PARAS_SQL = """
      SELECT doc_id, para_idx, para
      FROM (
        SELECT doc_id,
               unnest(ARRAY[
                 substr(text, 1, 60),
                 CASE doc_id % 3
                   WHEN 0 THEN 'subscribe to our newsletter for updates'
                   WHEN 1 THEN 'all rights reserved by the site owner'
                   ELSE 'click here to accept cookies and continue'
                 END,
                 substr(text, 61, 60)
               ]) AS para,
               unnest([0, 1, 2]) AS para_idx
        FROM documents
      )
      WHERE trim(para) <> ''
"""


@declared(
    "q_dedup_paragraphs",
    oracle=f"""
    WITH paras AS ({_PARAS_SQL}),
    ranked AS (
      SELECT doc_id, para_idx, para,
             row_number() OVER (
               PARTITION BY regexp_replace(lower(trim(para)), '\\s+', ' ', 'g')
               ORDER BY doc_id, para_idx) AS rn
      FROM paras
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           coalesce(
             string_agg(para, chr(10) ORDER BY para_idx)
               FILTER (WHERE rn = 1),
             '') AS kept_text
    FROM ranked
    GROUP BY doc_id
    """,
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (the RefinedWeb/CCNet step): split
    each document into paragraphs, keep only the GLOBALLY first
    occurrence of each normalized paragraph (ordered by doc_id then
    position), and reassemble the surviving text per document.

    Scale posture: paragraphs shuffle once, keyed by their normalized
    form, to elect the keeper (groupBy-min of the (doc_id, para_idx)
    struct — partial aggregation absorbs hot boilerplate keys map-side,
    and AQE skew-join splits them on the join-back); at 100 TB you'd
    key by a 128-bit hash of the paragraph so
    only (hash, doc_id, idx) triples shuffle in the election — the
    election join back to occurrences then carries the winner ids, and
    the reassembly groupBy is per-doc (co-partitioned with the explode's
    source). No driver-side state, no all-pairs step anywhere."""
    paras = _staged_paragraphs(table(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.lower(F.trim("para")), r"\s+", " ")
    occ = paras.withColumn("norm", norm)
    keepers = occ.groupBy("norm").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("first_occ")
    )
    kept_flag = occ.join(keepers, "norm").withColumn(
        "is_kept",
        (F.col("doc_id") == F.col("first_occ.doc_id"))
        & (F.col("para_idx") == F.col("first_occ.para_idx")),
    )
    return kept_flag.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.count(F.when(F.col("is_kept"), 1)).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_kept"),
                                F.struct("para_idx", "para"),
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
                "\n",
            ),
            F.lit(""),
        ).alias("kept_text"),
    )


# PII staged into the text as closed-form functions of doc_id: an email,
# a phone, and an IPv4 — the three canonical scrub targets. Patterns are
# written in the common subset of Java regex (Spark) and RE2 (DuckDB).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

_PHONE_RE = r"\b555-[0-9]{4}\b"

_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

_PII_TEXT_SQL = """
      text || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@mail.example.com or call 555-0'
           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
           || ' node 10.' || CAST(doc_id % 200 AS VARCHAR)
           || '.' || CAST((doc_id * 7) % 250 AS VARCHAR) || '.25 end'
"""


@declared(
    "q_text_pii_redact",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, {_PII_TEXT_SQL} AS pii_text FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(pii_text, '{_IPV4_RE}')) AS BIGINT)
             AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_IPV4_RE}', '<IP>', 'g') AS redacted
    FROM staged
    """,
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (pre-release scrub): count and mask
    emails, phone numbers, and IPv4 addresses with JVM-side regexes.
    The staged text embeds one of each as closed-form functions of
    doc_id, so the redaction is non-vacuous at any SF and both engines
    scrub byte-identical inputs. Narrow per-row projection — no
    shuffle, no Python; at 100 TB this is pure map-side codegen."""
    docs = table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-0"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" node 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 250).cast("string"),
        F.lit(".25 end"),
    )
    staged = docs.select("doc_id", pii_text.alias("pii_text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("pii_text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IPV4_RE,
        "<IP>",
    )
    return staged.select(
        "doc_id",
        F.regexp_count("pii_text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("pii_text", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_count("pii_text", F.lit(_IPV4_RE)).alias("n_ips"),
        redacted.alias("redacted"),
    )


@declared(
    "q_text_bigram_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
               AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                            i -> concat_ws(' ', t[i], t[i+1])) AS bgs
      FROM toks WHERE len(t) >= 2
    ),
    exploded AS (
      SELECT doc_id, len(bgs) AS n_bigrams, unnest(bgs) AS bg FROM grams
    ),
    vocab AS (
      SELECT bg FROM exploded GROUP BY bg HAVING COUNT(*) >= 3
    )
    SELECT e.doc_id,
           CAST(e.n_bigrams AS BIGINT) AS n_bigrams,
           CAST(count(*) FILTER (WHERE v.bg IS NULL) AS BIGINT) AS n_novel,
           CAST(floor(count(*) FILTER (WHERE v.bg IS NULL)
                      * 1000000.0 / e.n_bigrams) AS BIGINT) AS novelty_e6
    FROM exploded e LEFT JOIN vocab v ON e.bg = v.bg
    GROUP BY e.doc_id, e.n_bigrams
    """,
)
def q_text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-novelty quality signal (LM-lite perplexity proxy): the
    fraction of a document's bigrams that fall outside the corpus's
    frequent-bigram vocabulary (count >= 3). High novelty flags
    gibberish/OCR noise exactly the way an n-gram LM's high perplexity
    would — but the statistic stays in INTEGER micro-units (count
    ratio, floored), so no cross-engine float accumulation can diverge.

    Scale shape: one bigram-count aggregate builds the vocab (only
    (bigram, partial count) pairs shuffle); per-doc novelty is an
    explode → broadcast-friendly anti-lookup → per-doc count. The
    exploded rows carry (doc_id, bigram) — never document bodies."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    from datawarehouse1_spark.functions.arrays import word_ngrams

    grams = d.select("doc_id", toks.alias("t")).filter(
        F.size("t") >= 2
    ).select("doc_id", word_ngrams(F.col("t"), 2).alias("bgs"))
    exploded = grams.select(
        "doc_id", F.size("bgs").alias("n_bigrams"), F.explode("bgs").alias("bg")
    )
    # one pass: the corpus frequency of each bigram is a window count
    # over the exploded rows (single shuffle keyed on bg), so the
    # explode is computed once instead of feeding both a vocab
    # aggregate and a join back (2.3 s -> one scan at sf0.1)
    from pyspark.sql import Window

    freq = F.count(F.lit(1)).over(Window.partitionBy("bg"))
    flagged = exploded.withColumn("_known", freq >= 3)
    return flagged.groupBy("doc_id", "n_bigrams").agg(
        F.count(F.when(~F.col("_known"), 1)).alias("n_novel")
    ).select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_novel").alias("n_novel"),
        F.floor(F.col("n_novel") * 1000000.0 / F.col("n_bigrams"))
        .cast("long")
        .alias("novelty_e6"),
    )


def _bpe_pairs(words: DataFrame) -> DataFrame:
    """(l, r, n): adjacent-symbol pair counts weighted by word count,
    from the wrapped representation ('<s><p><a>...')."""
    s = F.split(
        F.col("repr").substr(F.lit(2), F.length("repr") - 2), "><"
    )
    m = F.greatest(F.size(s) - 1, F.lit(0))
    zipped = F.zip_with(
        F.slice(s, 1, m),
        F.slice(s, 2, m),
        lambda x, y: F.struct(x.alias("l"), y.alias("r")),
    )
    return (
        words.select("cnt", F.explode(zipped).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("n"))
    )


def _learn_merges(words: DataFrame, rounds: int = 3):
    """The shared BPE training loop (used by both the learn and apply
    queries so merge semantics and tie-breaking can never diverge):
    per round, checkpoint the vocabulary-sized word table (keeps
    lineage linear), take the weighted-count argmax pair with
    lexicographic tie-break, and apply the merge corpus-wide via a
    broadcast single-row join. Extra columns on `words` (e.g. the raw
    word) ride along untouched. Returns (words_after, [merge rows])."""
    merges = []
    for i in range(1, rounds + 1):
        words = words.localCheckpoint(eager=True)
        best = (
            _bpe_pairs(words)
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
        )
        merges.append(best.select(F.lit(i).alias("rank"), "l", "r", "n"))
        pattern = F.concat(
            F.lit("<"), F.col("l"), F.lit("><"), F.col("r"), F.lit(">")
        )
        merged = F.concat(F.lit("<"), F.col("l"), F.col("r"), F.lit(">"))
        keep = [
            F.replace("repr", pattern, merged).alias("repr")
            if c == "repr"
            else F.col(c)
            for c in words.columns
        ]
        words = words.crossJoin(F.broadcast(best)).select(*keep)
    return words, merges


_BPE_ORACLE = r"""
    WITH words AS (
      SELECT t AS word, COUNT(*) AS cnt FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS t
        FROM documents
      ) GROUP BY t
    ),
    r0 AS (SELECT cnt, regexp_replace(word, '(.)', '<\1>', 'g') AS repr
           FROM words),
    {iters}
    SELECT * FROM (
      SELECT 1 AS rank, l, r, n FROM b1
      UNION ALL SELECT 2, l, r, n FROM b2
      UNION ALL SELECT 3, l, r, n FROM b3
    )
"""

_BPE_ITER = r"""
    s{i} AS (
      SELECT cnt, string_split(substr(repr, 2, length(repr) - 2), '><') AS s
      FROM r{prev}
    ),
    p{i} AS (
      SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS n FROM (
        SELECT cnt, s[j] AS l, s[j+1] AS r
        FROM s{i}, unnest(range(1, greatest(len(s) - 1, 0) + 1)) AS t(j)
      ) GROUP BY l, r
    ),
    b{i} AS (SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1),
    r{i} AS (
      SELECT cnt,
             replace(repr,
                     '<' || (SELECT l FROM b{i}) || '><'
                         || (SELECT r FROM b{i}) || '>',
                     '<' || (SELECT l FROM b{i})
                         || (SELECT r FROM b{i}) || '>') AS repr
      FROM r{prev}
    )
"""


@declared(
    "q_bpe_learn_merges",
    oracle=_BPE_ORACLE.format(
        iters=",\n".join(
            _BPE_ITER.format(i=i, prev=i - 1) for i in (1, 2, 3)
        )
    ),
)
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE vocabulary induction — the first 3 merge rounds
    of byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016),
    run as a dataflow: word counts → per-round weighted adjacent-pair
    counts → argmax pair (ties broken lexicographically) → merge
    applied to every word's symbol string. Symbols are wrapped as
    '<s><p>...' so the merge is a plain non-overlapping left-to-right
    replace of '<l><r>' with '<lr>' — identical semantics in Spark's
    replace() and DuckDB's — and the oracle unrolls the same three
    rounds as CTEs. Each round's chosen pair re-enters the plan via a
    broadcast single-row join (no driver collect): at 100 TB only
    (pair, count) rows shuffle per round, never word strings, and the
    word table itself stays partition-parallel through every replace."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    words = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "cnt",
            F.regexp_replace("word", "(.)", "<$1>").alias("repr"),
        )
    )
    _, merges = _learn_merges(words)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


@declared(
    "q_bpe_apply_encode",
    oracle=_BPE_ORACLE.format(
        iters=",\n".join(_BPE_ITER.format(i=i, prev=i - 1) for i in (1, 2, 3))
    ).replace(
        """    SELECT * FROM (
      SELECT 1 AS rank, l, r, n FROM b1
      UNION ALL SELECT 2, l, r, n FROM b2
      UNION ALL SELECT 3, l, r, n FROM b3
    )""",
        r"""    , vocab AS (
      SELECT replace(replace(repr, '<', ''), '>', '') AS word,
             len(string_split(substr(repr, 2, length(repr) - 2), '><'))
               AS ntok
      FROM r3
    ),
    doc_words AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.ntok) AS BIGINT) AS n_bpe_tokens
    FROM doc_words d JOIN vocab v ON v.word = d.word
    GROUP BY d.doc_id""",
    ),
)
def q_bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY side of the trained tokenizer: encode every document with
    the 3 learned BPE merges and report its post-merge token count —
    the number a packing/budgeting pipeline actually consumes. The
    vocabulary (word → merged symbol count) is computed once by the
    same training loop and broadcast back onto the exploded corpus
    words; the oracle replays the identical rounds and joins the same
    way (a word's unmerged spelling is recovered by stripping the
    symbol separators)."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    words = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "word",
            "cnt",
            F.regexp_replace("word", "(.)", "<$1>").alias("repr"),
        )
    )
    words, _ = _learn_merges(words)
    vocab = words.select(
        "word",
        F.size(
            F.split(F.col("repr").substr(F.lit(2), F.length("repr") - 2), "><")
        ).alias("ntok"),
    )
    doc_words = d.select("doc_id", F.explode(toks).alias("word"))
    return (
        doc_words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("ntok").alias("n_bpe_tokens"),
        )
    )


# --- Gopher-style document-shape rules (Rae et al. 2021, appendix A1) ---
# The testdata documents are single-line word salad, so the LINE
# structure is staged deterministically in both engines (same twin
# convention as the paragraph dedup above): three lines per doc — a
# text slice, a slice that doc_id%4 turns into a bullet line ('- ') or
# an ellipsis line ('...'), and a slice that doc_id%5 turns into an
# exact duplicate of line one. Fractions are floored integer
# micro-units and every rule threshold compares integers, so the keep
# verdict cannot diverge on float rendering.
_GOPHER_LINES_SQL = """
      SELECT doc_id,
             list_filter(ARRAY[
               substr(text, 1, 50),
               CASE WHEN doc_id % 4 = 0 THEN '- ' || substr(text, 51, 30)
                    WHEN doc_id % 4 = 1 THEN substr(text, 51, 30) || '...'
                    ELSE substr(text, 51, 30) END,
               CASE WHEN doc_id % 5 = 0 THEN substr(text, 1, 50)
                    ELSE substr(text, 81, 40) END
             ], l -> trim(l) <> '') AS lines
      FROM documents
"""


@declared(
    "q_curation_gopher_rules",
    oracle=rf"""
    WITH staged AS ({_GOPHER_LINES_SQL}),
    feat AS (
      SELECT doc_id, lines,
             -- coalesce: duckdb array_to_string([]) is NULL where spark
             -- array_join([]) is '' — a zero-line doc must get 0 tokens
             -- (not NULL) in both engines
             list_filter(string_split_regex(
               coalesce(lower(array_to_string(lines, chr(10))), ''), '\s+'),
               t -> t <> '') AS toks
      FROM staged
    ),
    scored AS (
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(floor(1000000.0 * len(list_filter(lines,
                    l -> l LIKE '- %' OR l LIKE '* %')) / nullif(len(lines), 0))
                  AS BIGINT) AS bullet_frac_e6,
             CAST(floor(1000000.0 * len(list_filter(lines,
                    l -> l LIKE '%...')) / nullif(len(lines), 0))
                  AS BIGINT) AS ellipsis_frac_e6,
             CAST(floor(1000000.0 * (1.0 -
                    CAST(len(list_distinct(lines)) AS DOUBLE)
                    / nullif(len(lines), 0)))
                  AS BIGINT) AS dup_line_frac_e6,
             CAST(floor(1000000.0 *
                    list_sum(list_transform(toks, t -> length(t)))
                    / nullif(len(toks), 0)) AS BIGINT) AS mean_word_len_e6
      FROM feat
    )
    SELECT *,
           (n_tokens BETWEEN 50 AND 100000)
             AND (mean_word_len_e6 BETWEEN 3000000 AND 10000000)
             AND bullet_frac_e6 <= 900000
             AND ellipsis_frac_e6 <= 300000
             AND dup_line_frac_e6 <= 300000 AS gopher_keep
    FROM scored
    """,
)
def q_curation_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-shape quality rules (word-count band, mean word
    length band, bullet-line / ellipsis-line / duplicate-line caps) —
    the published MassiveText filter battery, per doc. Entirely narrow
    higher-order array expressions over the staged lines: no shuffle,
    no explode, no Python. Complements q_text_quality_score (token-level
    signals) with the LINE-level signals; q_text_repetition_score owns
    the n-gram repetition family."""
    d = table(spark, sf_dir, "documents")
    slice2 = F.substring("text", 51, 30)
    line2 = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("- "), slice2))
        .when(F.col("doc_id") % 4 == 1, F.concat(slice2, F.lit("...")))
        .otherwise(slice2)
    )
    line3 = F.when(
        F.col("doc_id") % 5 == 0, F.substring("text", 1, 50)
    ).otherwise(F.substring("text", 81, 40))
    lines = F.filter(
        F.array(F.substring("text", 1, 50), line2, line3),
        lambda l: F.trim(l) != "",
    )
    staged = d.select("doc_id", lines.alias("lines"))
    toks = F.filter(
        F.split(F.lower(F.array_join("lines", "\n")), r"\s+"),
        lambda t: t != "",
    )
    feat = staged.withColumn("toks", toks)

    n_lines = F.size("lines")

    # Degenerate-doc guard (r6 ADVICE): an empty/whitespace-only doc has
    # zero lines/tokens, and 0.0/0 diverges across engines (Spark NULL
    # or ANSI error vs DuckDB ieee inf) — both sides agree on NULL via
    # an explicit emptiness gate here and nullif() in the oracle.
    def frac_e6(cnt):
        return F.when(
            n_lines > 0, F.floor(F.lit(1000000.0) * cnt / n_lines)
        ).cast("long")

    bullet = F.size(
        F.filter(
            F.col("lines"),
            lambda l: l.startswith("- ") | l.startswith("* "),
        )
    )
    ellipsis = F.size(F.filter(F.col("lines"), lambda l: l.endswith("...")))
    dup_frac = F.when(
        n_lines > 0,
        F.floor(
            F.lit(1000000.0)
            * (
                F.lit(1.0)
                - F.size(F.array_distinct("lines")).cast("double") / n_lines
            )
        ),
    ).cast("long")
    word_len_sum = F.aggregate(
        F.col("toks"), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = F.when(
        F.size("toks") > 0,
        F.floor(F.lit(1000000.0) * word_len_sum / F.size("toks")),
    ).cast("long")
    scored = feat.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.size("toks").cast("long").alias("n_tokens"),
        frac_e6(bullet).alias("bullet_frac_e6"),
        frac_e6(ellipsis).alias("ellipsis_frac_e6"),
        dup_frac.alias("dup_line_frac_e6"),
        mean_word_len.alias("mean_word_len_e6"),
    )
    return scored.withColumn(
        "gopher_keep",
        F.col("n_tokens").between(50, 100000)
        & F.col("mean_word_len_e6").between(3000000, 10000000)
        & (F.col("bullet_frac_e6") <= 900000)
        & (F.col("ellipsis_frac_e6") <= 300000)
        & (F.col("dup_line_frac_e6") <= 300000),
    )


# (rule, failure label) in attribution order. Labels are data: they
# appear verbatim in fail_reasons on both engines.
_RULES = (
    ("rule_tokens", "tokens"),
    ("rule_word_shape", "word_shape"),
    ("rule_lang", "lang"),
    ("rule_repetition", "repetition"),
    ("rule_novelty", "novelty"),
)

_VERDICT_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, length(text) AS n_chars,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
               AS t
      FROM documents
    ),
    narrow AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(floor(1000000.0 * n_chars / nullif(len(t), 0)) AS BIGINT)
               AS chars_per_token_e6,
             CAST(floor(1000000.0 * len(list_filter(t,
                    x -> list_contains({list(STOPWORDS)!r}, x)))
                  / nullif(len(t), 0)) AS BIGINT) AS stop_score_e6,
             CAST(floor(1000000.0 * (1.0 -
                    CAST(len(list_distinct(t)) AS DOUBLE) / nullif(len(t), 0)))
                  AS BIGINT) AS dup_token_frac_e6,
             list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                            i -> concat_ws(' ', t[i], t[i+1])) AS bgs
      FROM toks
    ),
    exploded AS (
      SELECT doc_id, len(bgs) AS nb, unnest(bgs) AS bg
      FROM narrow WHERE len(bgs) >= 1
    ),
    vocab AS (SELECT bg FROM exploded GROUP BY bg HAVING COUNT(*) >= 3),
    nov AS (
      SELECT e.doc_id,
             CAST(floor(1000000.0 * (1.0 -
                    CAST(len(list_distinct(list(e.bg))) AS DOUBLE) / e.nb))
                  AS BIGINT) AS dup_bigram_frac_e6,
             CAST(floor(count(*) FILTER (WHERE v.bg IS NULL)
                    * 1000000.0 / e.nb) AS BIGINT) AS novelty_e6
      FROM exploded e LEFT JOIN vocab v ON e.bg = v.bg
      GROUP BY e.doc_id, e.nb
    ),
    scored AS (
      SELECT n.doc_id, n.n_tokens, n.chars_per_token_e6, n.stop_score_e6,
             n.dup_token_frac_e6, v.dup_bigram_frac_e6, v.novelty_e6,
             coalesce(n.n_tokens BETWEEN 10 AND 100000, FALSE) AS rule_tokens,
             coalesce(n.chars_per_token_e6 BETWEEN 3000000 AND 10000000, FALSE)
               AS rule_word_shape,
             coalesce(n.stop_score_e6 >= 30000, FALSE) AS rule_lang,
             coalesce(n.dup_token_frac_e6 <= 600000, FALSE)
               AND coalesce(v.dup_bigram_frac_e6 <= 150000, TRUE)
               AS rule_repetition,
             coalesce(v.novelty_e6 <= 100000, TRUE) AS rule_novelty
      FROM narrow n LEFT JOIN nov v ON n.doc_id = v.doc_id
    )
    SELECT *,
           CAST(5 - (CAST(rule_tokens AS INT) + CAST(rule_word_shape AS INT)
               + CAST(rule_lang AS INT) + CAST(rule_repetition AS INT)
               + CAST(rule_novelty AS INT)) AS BIGINT) AS n_rules_failed,
           concat_ws(',',
             CASE WHEN NOT rule_tokens THEN 'tokens' END,
             CASE WHEN NOT rule_word_shape THEN 'word_shape' END,
             CASE WHEN NOT rule_lang THEN 'lang' END,
             CASE WHEN NOT rule_repetition THEN 'repetition' END,
             CASE WHEN NOT rule_novelty THEN 'novelty' END) AS fail_reasons,
           rule_tokens AND rule_word_shape AND rule_lang
             AND rule_repetition AND rule_novelty AS keep
    FROM scored
"""


@declared("q_curation_quality_verdict", oracle=_VERDICT_ORACLE)
def q_curation_quality_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed filter stack: five calibrated rules, one verdict,
    per-rule attribution. Missing-evidence semantics, applied uniformly
    in both engines:

      * a doc too degenerate to measure a PER-DOC signal (0 tokens)
        FAILS the rules that need it — there is nothing to keep;
      * a doc too short to measure a CORPUS-RELATIVE signal (<2 tokens,
        so no bigrams) PASSES repetition/novelty — insufficient
        evidence is not evidence of badness, and the token-band rule
        already owns the too-short case."""
    d = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")

    n_tokens = F.size("t")

    def per_tok_e6(expr):
        return F.when(n_tokens > 0, F.floor(expr)).cast("long")

    narrow = d.select(
        "doc_id", F.length("text").alias("n_chars"), toks.alias("t")
    ).select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        per_tok_e6(F.lit(1000000.0) * F.col("n_chars") / n_tokens).alias(
            "chars_per_token_e6"
        ),
        per_tok_e6(
            F.lit(1000000.0)
            * F.size(F.filter("t", lambda x: F.array_contains(stop, x)))
            / n_tokens
        ).alias("stop_score_e6"),
        per_tok_e6(
            F.lit(1000000.0)
            * (
                F.lit(1.0)
                - F.size(F.array_distinct("t")).cast("double") / n_tokens
            )
        ).alias("dup_token_frac_e6"),
        word_ngrams(F.col("t"), 2).alias("bgs"),
    )

    # corpus-relative branch: bigram frequency via a window over the
    # exploded pairs (single shuffle keyed on bg — same shape as
    # q_text_bigram_novelty), folded back per doc. The per-doc distinct
    # bigram count stays a count_distinct AGGREGATE on purpose: the
    # tempting "narrow" alternative — size(array_distinct(bgs)) in the
    # same projection as the explode — gets collapsed into the Generate
    # by Catalyst and recomputed per EXPLODED row, O(tokens²) per doc
    # (measured 3.10 s vs 1.20 s at sf0.1 — keep the aggregate)
    exploded = narrow.filter(F.size("bgs") >= 1).select(
        "doc_id", F.size("bgs").alias("nb"), F.explode("bgs").alias("bg")
    )
    freq = F.count(F.lit(1)).over(Window.partitionBy("bg"))
    nov = (
        exploded.withColumn("_known", freq >= 3)
        .groupBy("doc_id", "nb")
        .agg(
            F.count_distinct("bg").alias("_n_distinct"),
            F.count(F.when(~F.col("_known"), 1)).alias("_n_novel"),
        )
        .select(
            "doc_id",
            F.floor(
                F.lit(1000000.0)
                * (
                    F.lit(1.0)
                    - F.col("_n_distinct").cast("double") / F.col("nb")
                )
            )
            .cast("long")
            .alias("dup_bigram_frac_e6"),
            F.floor(F.col("_n_novel") * F.lit(1000000.0) / F.col("nb"))
            .cast("long")
            .alias("novelty_e6"),
        )
    )

    scored = (
        narrow.drop("bgs")
        .join(nov, on="doc_id", how="left")
        .withColumn(
            "rule_tokens",
            F.coalesce(F.col("n_tokens").between(10, 100000), F.lit(False)),
        )
        .withColumn(
            "rule_word_shape",
            F.coalesce(
                F.col("chars_per_token_e6").between(3000000, 10000000),
                F.lit(False),
            ),
        )
        .withColumn(
            "rule_lang",
            F.coalesce(F.col("stop_score_e6") >= 30000, F.lit(False)),
        )
        .withColumn(
            "rule_repetition",
            F.coalesce(F.col("dup_token_frac_e6") <= 600000, F.lit(False))
            & F.coalesce(F.col("dup_bigram_frac_e6") <= 150000, F.lit(True)),
        )
        .withColumn(
            "rule_novelty",
            F.coalesce(F.col("novelty_e6") <= 100000, F.lit(True)),
        )
    )
    flags = [F.col(rule) for rule, _ in _RULES]
    n_failed = F.lit(len(_RULES)) - sum(
        flag.cast("int") for flag in flags
    )
    reasons = F.concat_ws(
        ",", *[F.when(~F.col(rule), F.lit(label)) for rule, label in _RULES]
    )
    keep = flags[0]
    for flag in flags[1:]:
        keep = keep & flag
    return scored.select(
        "*",
        n_failed.cast("long").alias("n_rules_failed"),
        reasons.alias("fail_reasons"),
        keep.alias("keep"),
    )


@declared(
    "q_sample_stratified_exact",
    oracle="""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 20
    """,
)
def q_sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: exactly 20 docs per language, chosen
    as the k smallest md5(doc_id) — deterministic across runs,
    partitionings, and engines (no rand()), the eval-set / human-review
    draw a curation run needs to be reproducible. Declared path is the
    plain per-stratum window (operators/sampling.py::stratified_sample,
    oversample=0); the exact-or-loud prefilter scale path (sorts
    ~oversample*k candidates per stratum instead of the whole stratum)
    is the same operator with oversample>0 — path equivalence is
    pytest-pinned."""
    from datawarehouse1_spark.operators.sampling import stratified_sample

    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(d, strata=("lang",), key="doc_id", k=20).select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


# Target mixture for the token-budget plan: micro-unit weights, sum 1e6.
# Static data shared verbatim with the oracle below.
_MIX_W_E6 = {"en": 400000, "zh": 200000, "de": 150000, "fr": 150000, "es": 100000}

_MIX_WEIGHTS_SQL = "(VALUES " + ", ".join(
    f"('{lang}', {w})" for lang, w in sorted(_MIX_W_E6.items())
) + ") AS w(lang, w_e6)"


@declared(
    "q_mixture_token_budget",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang,
             CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> ''))) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY lang
    ),
    avail AS (
      SELECT w.lang, w.w_e6, coalesce(p.avail_tokens, 0) AS avail_tokens
      FROM {_MIX_WEIGHTS_SQL} LEFT JOIN per_lang p ON w.lang = p.lang
    ),
    capped AS (
      SELECT *,
             CAST(floor(avail_tokens * CAST(1000000 AS DECIMAL(38,0)) / w_e6)
                  AS BIGINT) AS budget_cap
      FROM avail
    ),
    solved AS (
      SELECT *, MIN(budget_cap) OVER () AS t_max FROM capped
    )
    SELECT lang, w_e6, avail_tokens, budget_cap,
           CAST(floor(CAST(w_e6 AS DECIMAL(38,0)) * t_max / 1000000) AS BIGINT)
             AS allotted_tokens,
           CAST(floor(CAST(floor(CAST(w_e6 AS DECIMAL(38,0)) * t_max / 1000000)
                           AS DECIMAL(38,0))
                * 1000000 / nullif(avail_tokens, 0)) AS BIGINT)
             AS sample_rate_e6,
           budget_cap = t_max AS binding
    FROM solved
    """,
)
def q_mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture PLANNING — the arithmetic a training run does before
    sampling: given target mixture weights per language and the tokens
    actually available, the largest total budget T the mixture can
    support is min over strata of avail/weight; each stratum is then
    allotted weight*T tokens, giving its sampling rate, and `binding`
    marks the stratum that limits the whole mixture (what you must
    source more of to scale the run). One token-count aggregate (the
    only shuffle) + a 5-row window; all ratios in integer micro-units
    through DECIMAL(38,0) intermediates so no engine can diverge on
    float rounding or int64 overflow."""
    d = table(spark, sf_dir, "documents")
    w = spark.createDataFrame(
        sorted(_MIX_W_E6.items()), "lang string, w_e6 long"
    )
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    # weights drive the join (left from w): a TARGET language with zero
    # available tokens must surface as avail=0 and force T=0 — an inner
    # join would silently drop the stratum and "solve" an unsatisfiable
    # mixture (pinned in test_r7_hardening.py)
    per_lang = d.groupBy("lang").agg(
        F.sum(F.size(toks)).cast("long").alias("avail_tokens")
    )
    avail = w.join(per_lang, "lang", "left").select(
        "lang", "w_e6", F.coalesce("avail_tokens", F.lit(0)).alias("avail_tokens")
    )
    dec = "decimal(38,0)"
    capped = avail.withColumn(
        "budget_cap",
        F.floor(
            F.col("avail_tokens").cast(dec)
            * F.lit(1000000).cast(dec)
            / F.col("w_e6")
        ).cast("long"),
    )
    solved = capped.withColumn(
        "t_max", F.min("budget_cap").over(Window.partitionBy())
    )
    # floor() explicitly before every decimal->long cast: Spark's cast
    # TRUNCATES a fractional decimal while DuckDB's cast ROUNDS — floor
    # is the only semantics both engines share
    allotted = F.floor(
        F.col("w_e6").cast(dec) * F.col("t_max") / F.lit(1000000)
    ).cast("long")
    return solved.select(
        "lang",
        "w_e6",
        "avail_tokens",
        "budget_cap",
        allotted.alias("allotted_tokens"),
        F.floor(
            allotted.cast(dec)
            * F.lit(1000000)
            / F.nullif(F.col("avail_tokens"), F.lit(0))
        )
        .cast("long")
        .alias("sample_rate_e6"),
        (F.col("budget_cap") == F.col("t_max")).alias("binding"),
    )


@declared(
    "q_curation_chunk_sliding",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
               AS t
      FROM documents
    ),
    chunked AS (
      SELECT doc_id, len(t) AS n_tokens,
             unnest(list_transform(
               range(0, CAST(floor((len(t) - 1) / 48) AS BIGINT) + 1),
               i -> struct_pack(
                 chunk_idx := CAST(i AS BIGINT),
                 chunk := array_to_string(t[i*48 + 1 : i*48 + 64], ' ')
               ))) AS c
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           c.chunk_idx,
           c.chunk,
           CAST(len(list_filter(string_split_regex(c.chunk, ' '),
                                x -> x <> '')) AS BIGINT) AS chunk_tokens
    FROM chunked
    """,
)
def q_curation_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token windows, stride 48 →
    16-token overlap): the context-window segmentation step both RAG
    indexing and long-doc pretraining run, DISTINCT from sequence
    packing (q_curation_pack_chunks packs whole docs into fixed
    budgets; this splits single docs into overlapping windows).
    Entirely narrow — slice/transform on the token array, one explode,
    zero exchanges; chunk text is re-joined so the full chunk content
    hash-matches across engines. The last window is partial by design
    (every token appears in ≥1 chunk; stride < size ⇒ boundary tokens
    appear in 2)."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    size, stride = 64, 48
    staged = d.select("doc_id", toks.alias("t")).filter(F.size("t") > 0)
    chunks = F.transform(
        F.sequence(F.lit(0), F.floor((F.size("t") - 1) / stride)),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(F.col("t"), i * stride + 1, size)
            ).alias("chunk"),
        ),
    )
    out = staged.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.explode(chunks).alias("c"),
    )
    chunk_toks = F.filter(F.split(F.col("c.chunk"), " "), lambda x: x != "")
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk").alias("chunk"),
        F.size(chunk_toks).cast("long").alias("chunk_tokens"),
    )


@declared(
    "q_curation_decontaminate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
               AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 2),
               i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM toks WHERE len(t) >= 3
    ),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_shingle_hits
      FROM tr t JOIN ev e ON t.sh = e.sh GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_eval_shingle_hits, 0) AS n_eval_shingle_hits,
           coalesce(h.n_eval_shingle_hits, 0) >= 3 AS drop_doc
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def q_curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval DECONTAMINATION — the filter the overlap REPORT
    (q_text_contamination_overlap) informs: every training document
    scored by how many distinct 3-token shingles it shares with the
    held-out eval set (doc_id % 97), with the drop verdict at ≥3
    shared shingles (calibrated: 171/494 train docs share ≥1 shingle
    on this dense synthetic vocabulary — dropping those would gut the
    corpus — but only 10 share ≥3; real corpora use 8-13-gram
    shingles where ≥1 is the standard). Scale shape identical to the
    report: md5 shingle hashes equi-join, (hash, doc_id) pairs
    shuffle, never text; the eval side is the small, broadcastable
    side."""
    d = table(spark, sf_dir, "documents")
    toks_col = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    shingled = d.select("doc_id", toks_col.alias("t")).filter(
        F.size("t") >= 3
    ).select(
        "doc_id",
        F.explode(F.transform(word_ngrams(F.col("t"), 3), F.md5)).alias("sh"),
    )
    ev = shingled.filter(F.col("doc_id") % 97 == 0).select("sh").distinct()
    tr = shingled.filter(F.col("doc_id") % 97 != 0).distinct()
    hits = (
        tr.join(ev, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eval_shingle_hits"))
    )
    train_docs = d.filter(F.col("doc_id") % 97 != 0).select("doc_id")
    return train_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_eval_shingle_hits", F.lit(0)).alias(
            "n_eval_shingle_hits"
        ),
        (F.coalesce("n_eval_shingle_hits", F.lit(0)) >= 3).alias("drop_doc"),
    )


# Deterministic URL staging: every doc_id yields a URL whose canonical
# form is fully determined by doc_id % 200, while scheme case, www,
# trailing slash, param order, utm params, and fragments vary on other
# residues — exactly the variant axes the canonicalizer must collapse.
# The SAME CASE arithmetic runs in both engines (twin staging);
# {S} is the dialect string type (STRING for Spark, VARCHAR for DuckDB).
_URL_SQL = """
    CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'HTTP://'
         ELSE 'https://' END
    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
    || 'Site' || CAST(doc_id % 50 AS {S}) || '.Example.COM'
    || '/docs/' || CAST(doc_id % 200 AS {S})
    || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
    || CASE doc_id % 3
         WHEN 0 THEN '?b=1&id=' || CAST(doc_id % 200 AS {S})
         WHEN 1 THEN '?id=' || CAST(doc_id % 200 AS {S}) || '&b=1'
         ELSE '?id=' || CAST(doc_id % 200 AS {S}) || '&utm_src=9&b=1'
       END
    || CASE WHEN doc_id % 7 = 0 THEN '#sec-2' ELSE '' END
"""


# Shared host canonicalization (r9 code review: one definition of
# "host" for every tier that routes on it — url dedup, domain stats,
# takedown, master pipeline). {url} is the staged URL expression.
_HOST_SQL = """
    regexp_replace(
      lower(regexp_extract(regexp_replace({url}, '^[A-Za-z]+://', ''),
                           '^([^/?#]+)', 1)),
      '^www\\.', '')
"""


def host_expr(url_col):
    """Spark twin of _HOST_SQL: lowercased, www-stripped host of a URL
    column/expression."""
    from pyspark.sql import functions as F

    no_scheme = F.regexp_replace(url_col, "^[A-Za-z]+://", "")
    return F.regexp_replace(
        F.lower(F.regexp_extract(no_scheme, "^([^/?#]+)", 1)), r"^www\.", ""
    )


@declared(
    "q_dedup_url_normalize",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, {_URL_SQL.format(S='VARCHAR')} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id,
             regexp_replace(
               lower(regexp_extract(regexp_replace(url, '^[A-Za-z]+://', ''),
                                    '^([^/?#]+)', 1)),
               '^www\\.', '') AS host,
             regexp_replace(
               regexp_extract(regexp_replace(url, '^[A-Za-z]+://', ''),
                              '^[^/?#]+([^?#]*)', 1),
               '/$', '') AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM staged
    ),
    canon AS (
      SELECT doc_id,
             host || path ||
             CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_canon
      FROM (
        SELECT doc_id, host, path,
               array_to_string(
                 list_sort(list_filter(string_split(query, '&'),
                                       p -> NOT starts_with(p, 'utm_'))),
                 '&') AS q
        FROM parts
      )
    )
    SELECT url_canon,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) - 1 AS n_dupes
    FROM canon
    GROUP BY url_canon
    """,
)
def q_dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: stage scheme/www/case/tracking-param/
    fragment variant URLs deterministically from doc_id, canonicalize
    (lowercase host, strip www./fragment/trailing slash, drop utm_*
    params, sort survivors), then keep the first occurrence per
    canonical URL. One narrow projection + ONE aggregate exchange on
    the canonical key; bodies never move."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    url = F.expr(_URL_SQL.format(S="STRING")).alias("url")
    staged = d.select("doc_id", url)
    no_scheme = F.regexp_replace(F.col("url"), "^[A-Za-z]+://", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(no_scheme, "^([^/?#]+)", 1)), r"^www\.", ""
    )
    path = F.regexp_replace(
        F.regexp_extract(no_scheme, "^[^/?#]+([^?#]*)", 1), "/$", ""
    )
    query = F.regexp_extract(F.col("url"), r"\?([^#]*)", 1)
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = staged.select(
        "doc_id",
        F.concat(
            host, path, F.when(q == "", "").otherwise(F.concat(F.lit("?"), q))
        ).alias("url_canon"),
    )
    return canon.groupBy("url_canon").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        (F.count(F.lit(1)) - F.lit(1)).alias("n_dupes"),
    )


_N_SHARDS = 16


# first md5 hex nibble -> 0..15: portable hex-to-int without conv()
# (DuckDB has no conv; instr over the hex alphabet is identical in both)
_NIBBLE = "instr('0123456789abcdef', substr(md5(CAST(doc_id AS {S})), 1, 1)) - 1"


@declared(
    "q_curation_shard_assign",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS k,
             {_NIBBLE.format(S='VARCHAR')} AS shard
      FROM documents
    )
    SELECT doc_id, lang, n_chars, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id)
                AS BIGINT) AS shard_pos
    FROM keyed
    """,
)
def q_curation_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle into training shards: shard = first
    md5 nibble (16 shards), position = md5 rank within the shard. The
    one exchange repartitions by shard — the exact layout the shard
    writer wants — and each shard sorts ~|corpus|/16 keys, not the
    whole corpus (no global sort). Reruns and engines agree bit-for-bit
    (md5 over the stable key, ties broken by doc_id)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    keyed = d.withColumn(
        "k", F.md5(F.col("doc_id").cast("string"))
    ).withColumn("shard", F.expr(_NIBBLE.format(S="STRING")).cast("int"))
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        "lang",
        "n_chars",
        "shard",
        F.row_number().over(w).cast("long").alias("shard_pos"),
    )


_FUNNEL_STAGES = ("exact_dedup", "length", "lang", "mixture_sample")

_FUNNEL_LANGS = ("en", "zh", "es", "fr")


@declared(
    "q_curation_funnel_report",
    oracle="""
    WITH flagged AS (
      SELECT doc_id, lang, n_chars,
             (ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
               AS k1
      FROM documents
    ),
    cum AS (
      SELECT k1,
             k1 AND n_chars BETWEEN 100 AND 20000 AS k2,
             k1 AND n_chars BETWEEN 100 AND 20000
                AND lang IN ('en', 'zh', 'es', 'fr') AS k3,
             k1 AND n_chars BETWEEN 100 AND 20000
                AND lang IN ('en', 'zh', 'es', 'fr')
                AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <=
                    CASE lang WHEN 'en' THEN '7fffffff' WHEN 'zh' THEN 'cccccccc'
                              WHEN 'es' THEN '33333333' WHEN 'de' THEN '33333333'
                              WHEN 'fr' THEN 'ffffffff' ELSE '00000000' END AS k4
      FROM flagged
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(SUM(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM cum
    )
    SELECT s.stage_idx, s.stage,
           CASE s.stage_idx WHEN 1 THEN n0 WHEN 2 THEN n1
                            WHEN 3 THEN n2 ELSE n3 END AS n_in,
           CASE s.stage_idx WHEN 1 THEN n1 WHEN 2 THEN n2
                            WHEN 3 THEN n3 ELSE n4 END AS n_kept,
           CASE s.stage_idx WHEN 1 THEN n0 - n1 WHEN 2 THEN n1 - n2
                            WHEN 3 THEN n2 - n3 ELSE n3 - n4 END AS n_dropped
    FROM tot,
         (VALUES (1, 'exact_dedup'), (2, 'length'),
                 (3, 'lang'), (4, 'mixture_sample')) AS s(stage_idx, stage)
    """,
)
def q_curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-pipeline FUNNEL observability: per-stage in/kept/dropped
    counts for a 4-stage filter chain (exact dedup → length band → lang
    allowlist → deterministic mixture sample) — the removal-rate report
    every published pipeline (C4, Gopher, RefinedWeb) leads with, and
    the first artifact a corpus engineer asks for when yield drops.

    One corpus scan: the dedup flag is a first-occurrence window on
    md5(text) (the only data-sized exchange; text itself never
    shuffles beyond its hash), every later stage is a narrow AND over
    that row, and ONE aggregate folds all cumulative counters; the
    4-row report explodes from a literal array. At 100 TB this costs
    exactly what the dedup stage alone costs — the funnel report is
    free observability on top."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    mixture_threshold = F.when(F.col("lang") == "en", "7fffffff").otherwise(
        F.when(F.col("lang") == "zh", "cccccccc").otherwise(
            F.when(F.col("lang").isin("es", "de"), "33333333").otherwise(
                F.when(F.col("lang") == "fr", "ffffffff").otherwise("00000000")
            )
        )
    )
    k1 = F.row_number().over(w) == 1
    k2 = k1 & F.col("n_chars").between(100, 20000)
    k3 = k2 & F.col("lang").isin(*_FUNNEL_LANGS)
    k4 = k3 & (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
        <= mixture_threshold
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    tot = d.select(
        k1.alias("k1"), k2.alias("k2"), k3.alias("k3"), k4.alias("k4")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        cnt(F.col("k1")).alias("n1"),
        cnt(F.col("k2")).alias("n2"),
        cnt(F.col("k3")).alias("n3"),
        cnt(F.col("k4")).alias("n4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"n{i}").alias("n_in"),
                F.col(f"n{i + 1}").alias("n_kept"),
                (F.col(f"n{i}") - F.col(f"n{i + 1}")).alias("n_dropped"),
            )
            for i, name in enumerate(_FUNNEL_STAGES)
        ]
    )
    return tot.select(F.explode(stages).alias("s")).select("s.*")


_ES_WIN = 10  # ExactSubstr window length in tokens


# 10-token window strings at every start position (stride 1), DuckDB side
_ES_WINDOW_SQL = (
    "list_transform(range(1, greatest(len(t) - {m}, 0) + 1), "
    "i -> concat_ws(' ', {elems}))".format(
        m=_ES_WIN - 1, elems=", ".join(f"t[i+{j}]" for j in range(_ES_WIN))
    )
)


@declared(
    "q_dedup_exact_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {WORD_TOKENS_SQL} AS t
      FROM documents WHERE doc_id < 300
    ),
    wins AS (
      SELECT doc_id, md5(unnest({_ES_WINDOW_SQL})) AS w FROM toks
    ),
    counts AS (
      SELECT w, COUNT(*) AS c FROM wins GROUP BY w
    )
    SELECT v.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeated,
           CAST(FLOOR(1000000.0 * SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS repeated_micro
    FROM wins v JOIN counts c ON v.w = c.w
    GROUP BY v.doc_id
    """,
)
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-window dedup report (the
    "Deduplicating Training Data Makes Language Models Better"
    suffix-array step, re-expressed bucketed): every 10-token window at
    stride 1 is fingerprinted (md5), window counts aggregate
    corpus-wide, and each doc reports how much of it is corpus-repeated
    text (the span a real pipeline would cut). Per-doc repeated
    fraction in floored integer micro-units (float-safe cross-engine).

    Scale shape: windows are built by the zip_with chain (no O(len²)
    lambda indexing), and only (window-hash, doc_id) pairs shuffle —
    never text. The corpus-wide count rides a WINDOW over the hash
    (kept, with the per-doc agg, to 2 exchanges — measured 36% faster
    than the count-aggregate + join-back form, results identical); the
    all-pairs suffix-array form this replaces is O(corpus²) and exists
    nowhere. Bounded to 300 docs as a query; the operator shape is
    SF-independent."""
    from datawarehouse1_spark.functions.arrays import word_ngrams

    d = table(spark, sf_dir, "documents").filter("doc_id < 300")
    toks = d.select(
        "doc_id",
        word_tokens().alias("t"),
    )
    wins = toks.select(
        "doc_id",
        F.explode(word_ngrams(F.col("t"), _ES_WIN)).alias("win"),
    ).select("doc_id", F.md5("win").alias("w"))
    c = F.count(F.lit(1)).over(Window.partitionBy("w"))
    flagged = wins.withColumn("c", c)
    rep = F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        rep.cast("long").alias("n_repeated"),
        F.floor(1000000.0 * rep / F.count(F.lit(1)))
        .cast("long")
        .alias("repeated_micro"),
    )


@declared(
    "q_curation_domain_stats",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, lang, n_chars,
             {_URL_SQL.format(S='VARCHAR')} AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, lang, n_chars,
             {_HOST_SQL.format(url='url')} AS host,
             regexp_extract(url, '/docs/([0-9]+)', 1) AS page
      FROM staged
    )
    SELECT host,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT page) AS n_pages,
           CAST(((COUNT(*) - COUNT(DISTINCT page)) * 1000000)
                // COUNT(*) AS BIGINT) AS dup_share_e6,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM parts
    GROUP BY host
    """,
)
def q_curation_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation statistics over the staged URL population
    (same deterministic staging as q_dedup_url_normalize): document
    count, distinct canonical pages, duplicate share in floored
    micro-units, total content chars, and language breadth per
    lowercased www-stripped host. The pipeline's per-domain cap /
    block-list decision reads exactly this row. TWO exchanges: the two
    count-distincts expand the (host, page, lang) rows and aggregate in
    two phases — both shuffles carry only those narrow tuples; bodies
    never move."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    url = F.expr(_URL_SQL.format(S="STRING")).alias("url")
    staged = d.select("doc_id", "lang", "n_chars", url)
    host = host_expr(F.col("url")).alias("host")
    page = F.regexp_extract(F.col("url"), "/docs/([0-9]+)", 1).alias("page")
    n = F.count(F.lit(1))
    n_pages = F.countDistinct("page")
    return (
        staged.select(host, page, "lang", "n_chars")
        .groupBy("host")
        .agg(
            n.alias("n_docs"),
            n_pages.alias("n_pages"),
            # integer `div` (not floor(double)): exact at any corpus size
            F.expr(
                "(count(1) - count(distinct page)) * 1000000 div count(1)"
            )
            .cast("long")
            .alias("dup_share_e6"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


# Portable power-of-two bucket ladder (training context buckets). A
# CASE ladder instead of log2(): identical integer answers in both
# engines, and real batching systems use a FIXED ladder anyway.
_BUCKET_SQL = """
    CASE WHEN {n} <= 16 THEN 16
         WHEN {n} <= 32 THEN 32
         WHEN {n} <= 64 THEN 64
         WHEN {n} <= 128 THEN 128
         WHEN {n} <= 256 THEN 256
         WHEN {n} <= 512 THEN 512
         WHEN {n} <= 1024 THEN 1024
         ELSE 2048 END
"""


@declared(
    "q_curation_length_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({WORD_TOKENS_SQL}) AS n_tokens FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_tokens,
             {_BUCKET_SQL.format(n='n_tokens')} AS bucket
      FROM toks
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(((bucket * COUNT(*) - SUM(n_tokens)) * 1000000)
                // (bucket * COUNT(*)) AS BIGINT) AS pad_waste_e6
    FROM bucketed
    GROUP BY bucket
    """,
)
def q_curation_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucket report: every document lands in the
    smallest power-of-two context bucket that holds its token count,
    and each bucket reports how much padding a batch padded to the
    bucket boundary wastes (floored micro-units — exact integers in
    both engines). This is the measurement behind a dynamic-batching
    ladder. ONE exchange: the narrow (doc, n_tokens, bucket) projection
    partial-aggregates map-side into <= 8 bucket rows."""
    d = table(spark, sf_dir, "documents")
    toks = word_tokens()
    n_tokens = F.size(toks).cast("long").alias("n_tokens")
    staged = d.select(n_tokens).select(
        "n_tokens",
        F.expr(_BUCKET_SQL.format(n="n_tokens")).cast("long").alias("bucket"),
    )
    n = F.count(F.lit(1))
    return staged.groupBy("bucket").agg(
        n.alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        # integer `div` (not floor(double)): exact at any corpus size
        F.expr(
            "(bucket * count(1) - sum(n_tokens)) * 1000000"
            " div (bucket * count(1))"
        )
        .cast("long")
        .alias("pad_waste_e6"),
    )


# Deterministic Unicode staging: doc_id % 50 picks the logical string,
# doc_id % 3 its encoding — precomposed lower (NFC), combining-mark
# decomposed (NFD, the 'e' + U+0301 / 'u' + U+0308 forms), precomposed
# UPPER. NFC(lower(x)) + whitespace collapse merges all three; distinct
# logical strings stay distinct. The combining characters are embedded
# verbatim so the identical literal runs in both engines.
_UNI_STAGE_SQL = """
    CASE doc_id % 3
      WHEN 0 THEN 'café menü  no.' || CAST(doc_id % 50 AS {S})
      WHEN 1 THEN 'café menü  no.' || CAST(doc_id % 50 AS {S})
      ELSE 'CAFÉ   MENÜ NO.' || CAST(doc_id % 50 AS {S})
    END
"""


@declared(
    "q_dedup_unicode_normalize",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, {_UNI_STAGE_SQL.format(S='VARCHAR')} AS raw
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             trim(regexp_replace(nfc_normalize(lower(raw)), '\\s+', ' ', 'g'))
               AS text_canon
      FROM staged
    )
    SELECT text_canon,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) - 1 AS n_dupes
    FROM canon
    GROUP BY text_canon
    """,
)
def q_dedup_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-canonicalization dedup (the C4/mC4 unicode-fixing tier):
    NFC-normalize + lowercase + collapse whitespace, then keep the
    first occurrence per canonical text. NFC runs in a VECTORIZED
    pandas UDF (pandas `Series.str.normalize('NFC')`, Arrow-batched;
    Spark has no built-in normalizer) — the plan shows ArrowEvalPython,
    never BatchEvalPython. DuckDB's utf8proc-backed `nfc_normalize` is
    the oracle twin; both implement Unicode NFC, so the canonical
    bytes agree exactly. ONE aggregate exchange on the canonical key;
    at 100 TB the group key would be md5(canonical) to keep the
    shuffle narrow (kept textual here so the oracle hash covers the
    canonical form itself)."""

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    d = table(spark, sf_dir, "documents").select("doc_id")
    raw = F.expr(_UNI_STAGE_SQL.format(S="STRING")).alias("raw")
    canon = F.trim(
        F.regexp_replace(nfc(F.lower(F.col("raw"))), r"\s+", " ")
    ).alias("text_canon")
    return (
        d.select("doc_id", raw)
        .select("doc_id", canon)
        .groupBy("text_canon")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_dupes"),
        )
    )


@declared(
    "q_sample_pps_systematic",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS rk
      FROM documents
    ),
    cum AS (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (PARTITION BY lang ORDER BY rk
                                ROWS UNBOUNDED PRECEDING) AS cum_w,
             SUM(n_chars) OVER (PARTITION BY lang) AS total_w
      FROM w
    ),
    stepped AS (
      SELECT doc_id, lang, n_chars, cum_w,
             CAST(total_w // 10 AS BIGINT) AS step
      FROM cum
    )
    SELECT doc_id, lang, n_chars,
           CAST((cum_w // NULLIF(step, 0))
                - ((cum_w - n_chars) // NULLIF(step, 0))
                AS BIGINT) AS n_hits
    FROM stepped
    WHERE step > 0
      AND (cum_w // NULLIF(step, 0))
          > ((cum_w - n_chars) // NULLIF(step, 0))
    """,
)
def q_sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS (probability-proportional-to-size) sampling — the
    weighted rung of the sampling battery (exact-stratified, hash
    mixture, mixture budget, now PPS): draw ~10 docs per language with
    inclusion probability proportional to n_chars (the 'sample by
    token mass' curation step), fully deterministic and integer-exact.

    Mechanics: docs order by md5(doc_id) within language (the same
    portable pseudo-randomness as operators/sampling.py), the per-lang
    char mass lays them on a cumulative line, and a doc is selected
    iff its interval (cum_w - w, cum_w] contains a multiple of
    step = floor(total/10); n_hits carries the with-replacement
    multiplicity for docs heavier than one step. Every quantity is an
    integer, so both engines select the identical sample.

    Scale: windows are per-language cumulative sums over (lang, md5
    rank) — partitioned, not global; at 100 TB the per-lang cumsum
    crosses a bounded per-bucket offset summary exactly like the KS
    CDF (SCALE.md rule 22). Only (doc_id, lang, n_chars, rk) tuples
    shuffle; text never moves."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    rk = F.md5(F.col("doc_id").cast("string"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy(rk)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("lang")
    cum_w = F.sum("n_chars").over(wcum).alias("cum_w")
    total_w = F.sum("n_chars").over(wall).alias("total_w")
    staged = d.select("doc_id", "lang", "n_chars", cum_w, total_w).select(
        "doc_id",
        "lang",
        "n_chars",
        "cum_w",
        F.expr("total_w div 10").cast("long").alias("step"),
    )
    # true integer division (`div` / `//`): exact at ANY mass, where
    # floor(double/double) would wobble past 2^53 total chars. The
    # oracle guards the divisor with NULLIF: DuckDB's `//` ERRORS on a
    # zero divisor even when the step > 0 conjunct would exclude the
    # row (conjunct evaluation order is not guaranteed), while Spark's
    # `div` yields NULL — NULLIF makes both engines yield NULL, and
    # the step > 0 filter then drops the row in both.
    hi = F.expr("cum_w div step")
    lo = F.expr("(cum_w - n_chars) div step")
    return (
        staged.filter((F.col("step") > 0) & (hi > lo))
        .select(
            "doc_id", "lang", "n_chars", (hi - lo).cast("long").alias("n_hits")
        )
    )


@declared(
    "q_curation_optout_takedown",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id, source,
             {_URL_SQL.format(S='VARCHAR')} AS url
      FROM documents
    ),
    staged AS (
      SELECT doc_id, source, {_HOST_SQL.format(url='url')} AS host
      FROM urls
    ),
    flagged AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END AS id_hit,
             CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS BIGINT)
                       % 7 = 3 THEN 1 ELSE 0 END AS dom_hit
      FROM staged
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(id_hit) AS BIGINT) AS n_removed_id,
           CAST(SUM(dom_hit) AS BIGINT) AS n_removed_domain,
           CAST(SUM(CASE WHEN id_hit = 1 OR dom_hit = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed_total,
           CAST(SUM(CASE WHEN id_hit = 0 AND dom_hit = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM flagged
    GROUP BY source
    """,
)
def q_curation_optout_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-out / takedown propagation — the right-to-be-forgotten step
    of a training-data pipeline: a document-id tombstone feed (direct
    opt-outs) and a domain tombstone list (site-level takedowns) must
    remove every matching document, with a per-source audit report of
    what each tombstone class removed and what survives. Both feeds
    are staged deterministically (ids: doc_id % 37 == 0; domains: the
    7 hosts whose site number ≡ 3 mod 7) and applied as BROADCAST LEFT
    joins against the corpus — the join shape a real tombstone table
    takes at 100 TB, where the feed is millions of rows against
    billions and the corpus must never re-shuffle to honor it. The
    overlap class (id- AND domain-hit) is counted once in
    n_removed_total; n_kept + n_removed_total == n_docs by
    construction. One aggregate exchange; bodies never move."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.expr(_URL_SQL.format(S="STRING"))
    staged = d.select("doc_id", "source", host_expr(url).alias("host"))

    # the tombstone feeds — real DataFrames, broadcast-joined like a
    # takedown table would be (not folded into the corpus projection)
    id_tombstones = (
        staged.filter(F.col("doc_id") % 37 == 0)
        .select("doc_id")
        .withColumn("id_hit", F.lit(1))
    )
    domain_tombstones = (
        staged.select(
            F.col("host").alias("t_host"),
            F.regexp_extract("host", "site([0-9]+)", 1)
            .cast("long")
            .alias("site_no"),
        )
        .filter(F.col("site_no") % 7 == 3)
        .select("t_host")
        .distinct()
        .withColumn("dom_hit", F.lit(1))
    )
    flagged = (
        staged.join(F.broadcast(id_tombstones), "doc_id", "left")
        .join(
            F.broadcast(domain_tombstones),
            staged.host == F.col("t_host"),
            "left",
        )
        .select(
            "source",
            F.coalesce("id_hit", F.lit(0)).alias("id_hit"),
            F.coalesce("dom_hit", F.lit(0)).alias("dom_hit"),
        )
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("id_hit").cast("long").alias("n_removed_id"),
        F.sum("dom_hit").cast("long").alias("n_removed_domain"),
        F.sum(
            F.when((F.col("id_hit") == 1) | (F.col("dom_hit") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_removed_total"),
        F.sum(
            F.when((F.col("id_hit") == 0) & (F.col("dom_hit") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_kept"),
    )


# The shared tokenizer (same as text.py) — token count feeds the
# quality gate and the shard summary.
# Built from dedup_ext.MIXTURE_RATES — the SAME thresholds the
# certified q_sample_hash_mixture tier uses (r9 code review: a
# hardcoded copy here would silently diverge if the rates are retuned)
_MIXTURE_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in MIXTURE_RATES.items())
    + " ELSE '00000000' END"
)


@declared(
    "q_curation_master_pipeline",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, lang, text,
             {_URL_SQL.format(S='VARCHAR')} AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, lang, text,
             {_HOST_SQL.format(url='url')} AS host,
             regexp_extract(url, '/docs/([0-9]+)', 1) AS page
      FROM staged
    ),
    takedown AS (
      SELECT * FROM canon
      WHERE doc_id % 37 <> 0
        AND CAST(regexp_extract(host, 'site([0-9]+)', 1) AS BIGINT) % 7 <> 3
    ),
    url_dedup AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY host, page
                                     ORDER BY doc_id) AS rn
        FROM takedown
      ) WHERE rn = 1
    ),
    exact_dedup AS (
      SELECT * FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn2
        FROM url_dedup
      ) WHERE rn2 = 1
    ),
    quality AS (
      SELECT doc_id, lang,
             len({WORD_TOKENS_SQL}) AS n_tokens
      FROM exact_dedup
      WHERE len({WORD_TOKENS_SQL}) BETWEEN 20 AND 1000
    ),
    mixture AS (
      SELECT doc_id, lang, n_tokens FROM quality
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <= {_MIXTURE_CASE}
    ),
    sharded AS (
      SELECT doc_id, lang, n_tokens,
             CAST(instr('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                  AS BIGINT) % 8 AS shard
      FROM mixture
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT lang) AS n_langs
    FROM sharded
    GROUP BY shard
    """,
)
def q_curation_master_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data build — every curation tier the
    battery certifies individually, chained in ONE declarative plan the
    way a production corpus build runs them, in the canonical order
    (cheapest-first so each tier shrinks the next tier's input):

      takedown (id + domain tombstones) → URL-canonical dedup
      (first occurrence per host+page) → exact-text dedup (md5) →
      quality gate (token band 20..1000) → language hash-mixture
      (md5-prefix thresholds) → shard assignment (md5 nibble mod 8)
      → per-shard summary (docs, token mass, language breadth).

    Catalyst fuses the narrow tiers (takedown, quality, mixture, shard)
    into the scans around the three keyed operators, so the whole
    six-stage build costs FOUR data exchanges — the two dedup windows
    (host+page, md5(text)) and the two-phase shard aggregate (the
    count-distinct expand) — and only (doc_id, lang, host, page,
    text-hash, n_tokens) tuples ever shuffle; bodies stay columnar in
    the scan. The standalone queries certify each tier's join/operator
    form (q_curation_optout_takedown does tombstones as broadcast
    joins; here they are the fused filter form) — this query certifies
    the COMPOSITION: staging identical in both engines, the final
    shard summary hash-matched."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    from pyspark.sql import Window

    url = F.expr(_URL_SQL.format(S="STRING"))
    page = F.regexp_extract(url, "/docs/([0-9]+)", 1)
    canon = d.select(
        "doc_id", "lang", "text",
        host_expr(url).alias("host"), page.alias("page"),
    )
    takedown = canon.filter(
        (F.col("doc_id") % 37 != 0)
        & (
            F.regexp_extract("host", "site([0-9]+)", 1).cast("long") % 7
            != 3
        )
    )
    w_url = Window.partitionBy("host", "page").orderBy("doc_id")
    url_dedup = (
        takedown.withColumn("rn", F.row_number().over(w_url))
        .filter("rn = 1")
        .drop("rn")
    )
    w_txt = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact_dedup = (
        url_dedup.withColumn("rn2", F.row_number().over(w_txt))
        .filter("rn2 = 1")
        .select("doc_id", "lang", "text")
    )
    toks = word_tokens()
    quality = exact_dedup.select(
        "doc_id", "lang", F.size(toks).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens").between(20, 1000))
    mixture = quality.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
        <= F.expr(_MIXTURE_CASE)
    )
    shard = (
        (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
            )
            - 1
        ).cast("long")
        % 8
    ).alias("shard")
    return (
        mixture.select(shard, "lang", "n_tokens")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


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


@declared(
    "q_split_ngram_leakage",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -(doc_id + 1) AS doc_id, text
      FROM documents WHERE doc_id % 2 = 0
    ),
    tagged AS (
      SELECT doc_id, {SPLIT_SQL} AS split, {WORD_TOKENS_SQL} AS t
      FROM base
    ),
    wins AS (
      SELECT doc_id, split, md5(unnest({_ES_WINDOW_SQL})) AS w
      FROM tagged
    ),
    train_w AS (SELECT DISTINCT w FROM wins WHERE split = 'train'),
    leaked AS (
      SELECT DISTINCT v.doc_id, v.split
      FROM wins v JOIN train_w tw ON v.w = tw.w
      WHERE v.split <> 'train'
    ),
    holdout AS (
      SELECT split, COUNT(*) AS n_docs
      FROM tagged WHERE split <> 'train' GROUP BY split
    )
    SELECT h.split, CAST(h.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(l.n, 0) AS BIGINT) AS n_leaked,
           CAST(COALESCE(l.n, 0) * 1000000 // h.n_docs AS BIGINT)
             AS leak_share_e6
    FROM holdout h
    LEFT JOIN (SELECT split, COUNT(*) AS n FROM leaked GROUP BY split) l
      ON h.split = l.split
    """,
)
def q_split_ngram_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-holdout-split n-gram contamination report: a val/test doc is
    LEAKED if any of its 10-token stride-1 windows (md5-fingerprinted,
    the q_dedup_exact_substring construction) appears in any train
    doc.  Split is the md5(doc_id) hex-prefix rule shared with
    q_split_train_holdout — a pure function of identity.  Every other
    doc is staged again as an exact copy under -(doc_id+1) — negated
    ids never collide with real non-negative ids at any SF — so
    train/holdout-straddling n-gram dups exist at any SF.  Plan: the
    narrow (doc_id, split, window-hash) table localCheckpoints (rule
    12) and feeds the train-window distinct AND the holdout probe; the
    probe is one hash equi-join (left semi); text never shuffles."""
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 2 == 0).select(
            # negated ids can never collide with real (non-negative)
            # doc_ids at ANY corpus size (review finding: a +50000
            # offset collides past 50k docs)
            (-(F.col("doc_id") + 1)).alias("doc_id"),
            "text",
        )
    )
    tagged = base.select(
        "doc_id",
        split_col("doc_id").alias("split"),
        word_tokens().alias("t"),
    )
    wins = (
        tagged.select(
            "doc_id",
            "split",
            F.explode(word_ngrams(F.col("t"), _ES_WIN)).alias("win"),
        )
        .select("doc_id", "split", F.md5("win").alias("w"))
        .localCheckpoint(eager=True)
    )
    train_w = wins.filter(F.col("split") == "train").select("w").distinct()
    leaked = (
        wins.filter(F.col("split") != "train")
        .join(train_w, "w", "left_semi")
        .select("doc_id", "split")
        .distinct()
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    holdout = (
        tagged.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        holdout.join(F.broadcast(leaked), "split", "left_outer")
        .select(
            "split",
            "n_docs",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_leaked"),
            F.expr("COALESCE(n, 0) * 1000000 div n_docs")
            .cast("long")
            .alias("leak_share_e6"),
        )
    )

