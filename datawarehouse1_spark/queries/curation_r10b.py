"""Round-10 curation, batch 11: n-gram split leakage audit.

* **N-gram leakage** — q_split_train_holdout audits EXACT-text
  leakage across the train/val/test boundary; real eval contamination
  is subtler: a holdout doc sharing any long token run with train
  inflates scores even when no full text matches (the Lee et al. /
  GPT-3 appendix-C concern, audited at n-gram granularity).  This
  query reports, per holdout split, how many docs share at least one
  10-token window with ANY train doc — the decision row for
  quarantining an eval set.  Windows ride the same stride-1 zip_with
  construction (and md5 fingerprints) as q_dedup_exact_substring —
  only (window-hash, split) tuples shuffle, never text.  Every other
  doc is staged again as an exact copy under a fresh doc_id, so copies
  land in train/holdout by the split hash and the audit is
  non-vacuous at any SF.

Reference parity: the reference ETL (etl/app.py) has no curation
surface; SURVEY.md §2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.arrays import word_ngrams
from datawarehouse1_spark.functions.splits import SPLIT_SQL, split_col
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.queries.curation_r8 import _ES_WIN, _ES_WINDOW_SQL
from datawarehouse1_spark.registry import declared


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
