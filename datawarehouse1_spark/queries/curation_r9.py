"""Round-9 curation: domain-level corpus statistics, length-bucket
packing report, and Unicode-canonicalization dedup.

Three steps a web-scale training-data pipeline runs that were missing
from the battery:

* **Domain statistics** — curation decisions in the published web
  pipelines (RefinedWeb, Dolma, C4) are taken per DOMAIN before any
  per-document scoring: block-lists, per-domain caps, and dup-share
  gates all need one row per host. Computed here from the same staged
  URL population as q_dedup_url_normalize: per lowercased www-stripped
  host — document count, distinct canonical pages, duplicate share
  (micro-units), content volume, language breadth. One aggregate
  exchange on the host key; document bodies never shuffle.

* **Length-bucket packing report** — training batches pad every
  sequence to a bucket boundary, so the corpus-level padding waste per
  power-of-two bucket decides the bucket ladder (dynamic batching /
  sequence-length binning). Pure integer arithmetic: tokens counted
  with the shared tokenizer, bucket chosen by a portable CASE ladder,
  waste reported in floored micro-units — both engines produce the
  identical integers. ONE exchange (the bucket aggregate).

* **Unicode-canonicalization dedup** — the dedup tier between URL
  normalization and exact hashing: the same logical text arrives in
  NFC/NFD encodings and case variants (the C4/mC4 unicode-fixing
  step). Canonical form = NFC(lower(text)) with whitespace collapsed.
  Spark has no built-in NFC, so normalization runs in a VECTORIZED
  pandas UDF (`Series.str.normalize('NFC')`, Arrow-batched — never
  row-at-a-time Python); DuckDB's `nfc_normalize` is the oracle twin.
  Only (canonical_text, doc_id) pairs shuffle — and at 100 TB the
  projection would carry md5(canonical) instead of the text itself
  (kept textual here so the oracle hash covers the canonical form).

Reference parity: the reference ETL (etl/app.py) has no curation
surface; SURVEY.md §2D extension inventory (LLM-pipeline tier).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.queries.curation_r8 import (
    _HOST_SQL,
    _URL_SQL,
    host_expr,
)
from datawarehouse1_spark.queries.dedup_ext import MIXTURE_RATES
from datawarehouse1_spark.registry import declared

# ---------------------------------------------------------------- 1.


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


# ---------------------------------------------------------------- 2.


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


# ---------------------------------------------------------------- 3.

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


# ---------------------------------------------------------------- 4.


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


# ---------------------------------------------------------------- 5.


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


# ---------------------------------------------------------------- 6.

# The shared tokenizer (same as text_r5) — token count feeds the
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
