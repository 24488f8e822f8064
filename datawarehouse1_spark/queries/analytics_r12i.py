"""Round-12 analytics, batch 9: gains/lift curve, graph triangle
closure, sequence predictability, and positional vocabulary drift.

Four operators:

* **Cumulative gains / lift by decile** — the deployment-side read of
  a ranking signal: rank docs by score decile (exact percentile_disc
  boundaries, the q_orders_value_deciles rule-22 construction), then
  per decile the positive count, the cumulative capture from the top,
  and the lift over the base rate.  AUC says the signal ranks; this
  table says what a top-k% cut actually harvests.

* **Clustering-coefficient profile** — per degree class of the
  co-purchase graph: node count, triangle incidences, and the mean
  local clustering coefficient (2·Σtri / (n·d·(d−1))) — the
  community-density read beside q_graph_degree_distribution (skew)
  and q_graph_components_copurchase (connectivity).

* **Next-event Gini impurity** — per current event type, the Gini
  impurity of the next-event distribution: 0 = perfectly predictable
  next step, →1 = anything can follow.  The scalar predictability
  read over q_events_transition_matrix's counts (entropy without
  libm: Gini is polynomial, so it stays exact integer).

* **Head/tail vocabulary drift** — per source, the total-variation
  distance between the unigram distribution of each document's first
  half and second half.  Templated/boilerplate-framed corpora drift
  (headers/footers differ from bodies); organic prose doesn't — a
  curation screen none of the whole-doc profiles can see.

Exactness discipline as batches 1-8: integer/DECIMAL(38,0)
accumulation, non-negative floored quotients (`div` == `//`), no libm
in hashed output.

Reference parity: the reference ETL (etl/app.py) has no analytics
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.queries.copurchase import (
    copurchase_edges,
    copurchase_edges_sql,
)
from datawarehouse1_spark.queries.deciles import (
    decile_bounds,
    decile_bounds_sql,
    decile_expr_sql,
)
from datawarehouse1_spark.registry import declared

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# 1. Cumulative gains / lift by score decile
# ---------------------------------------------------------------------------

_GAINS_BOUNDS_SQL = decile_bounds_sql("n_chars")
_GAINS_DECILE_SQL = decile_expr_sql("n_chars")


@declared(
    "q_quality_cumulative_gains",
    oracle=f"""
    WITH b AS (SELECT {_GAINS_BOUNDS_SQL} FROM documents),
    d AS (
      SELECT {_GAINS_DECILE_SQL} AS decile,
             CAST(coalesce(lang, '') = 'en' AS INT) AS y
      FROM documents, b
    ),
    agg AS (
      SELECT decile, CAST(COUNT(*) AS HUGEINT) AS n_docs,
             CAST(SUM(y) AS HUGEINT) AS n_pos
      FROM d GROUP BY decile
    )
    SELECT decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(SUM(n_docs) OVER (ORDER BY decile DESC) AS BIGINT)
             AS cum_docs,
           CAST(SUM(n_pos) OVER (ORDER BY decile DESC) * 1000000
                // NULLIF(SUM(n_pos) OVER (), 0) AS BIGINT)
             AS capture_e6,
           CAST(n_pos * SUM(n_docs) OVER () * 1000000
                // NULLIF(n_docs * SUM(n_pos) OVER (), 0) AS BIGINT)
             AS lift_e6
    FROM agg
    """,
)
def q_quality_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table of the length→English signal by score decile —
    what a "keep the top k%" curation cut actually captures, the
    deployment companion to q_quality_auc_by_source (ranking) and
    q_quality_pr_threshold_sweep (fixed thresholds).  Rule-22 shape:
    the nine decile boundaries are exact order statistics
    (percentile_disc — both engines pick an actual data value), each
    doc buckets via a broadcast comparison chain (no global sort, ties
    fall LOW deterministically), and every window runs on the ≤10-row
    decile aggregate.  capture/lift are exact floored e6 on
    DECIMAL(38,0) products (HUGEINT in the oracle), NULLIF-guarded for
    a positive-free corpus."""
    d = table(spark, sf_dir, "documents")
    bounds = decile_bounds(d, "n_chars")
    is_en = F.coalesce(F.col("lang"), F.lit("")) == "en"
    dd = d.crossJoin(F.broadcast(bounds)).select(
        F.expr(_GAINS_DECILE_SQL).alias("decile"),
        is_en.cast("int").alias("y"),
    )
    agg = dd.groupBy("decile").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n_docs"),
        F.sum("y").cast(_DEC).alias("n_pos"),
    )
    w_cum = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return agg.select(
        "decile",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.sum("n_docs").over(w_cum).cast("long").alias("cum_docs"),
        F.expr(
            "SUM(n_pos) OVER (ORDER BY decile DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " * 1000000"
            " div NULLIF(SUM(n_pos) OVER (), CAST(0 AS decimal(38,0)))"
        )
        .cast("long")
        .alias("capture_e6"),
        F.expr(
            "n_pos * SUM(n_docs) OVER () * 1000000"
            " div NULLIF(n_docs * SUM(n_pos) OVER (),"
            " CAST(0 AS decimal(38,0)))"
        )
        .cast("long")
        .alias("lift_e6"),
    )


# ---------------------------------------------------------------------------
# 2. Clustering-coefficient profile of the co-purchase graph
# ---------------------------------------------------------------------------

@declared(
    "q_graph_clustering_coeff",
    oracle=f"""
    WITH {copurchase_edges_sql()},
    sym AS (
      SELECT pa AS u, pb AS v FROM e
      UNION ALL
      SELECT pb AS u, pa AS v FROM e
    ),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
    tris AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM e e1
      JOIN e e2 ON e2.pa = e1.pb
      JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    node_tri AS (
      SELECT node, COUNT(*) AS tri FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY node
    ),
    nodes AS (
      SELECT deg.d, coalesce(node_tri.tri, 0) AS tri
      FROM deg LEFT JOIN node_tri USING (node)
    )
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(tri) AS BIGINT) AS n_triangle_incidences,
           CAST(CAST(2 * SUM(tri) AS HUGEINT) * 1000000
                // NULLIF(CAST(COUNT(*) AS HUGEINT) * d * (d - 1), 0)
                AS BIGINT) AS mean_closure_e6
    FROM nodes GROUP BY d
    """,
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean local clustering coefficient per degree class of the
    support-≥2 co-purchase graph — triangle closure (are my neighbors
    also neighbors?), the community-density read beside the degree
    distribution (skew) and connected components (reach).  Per degree
    d: n_nodes, triangle incidences, and 2·Σtri·1e6 // (n·d·(d−1)) —
    the exact mean of each node's 2tri/(d(d−1)) since the class shares
    d; degree-1 nodes yield NULL via NULLIF, not a crash.  Scale
    shape: candidate pairs generate PER ORDER (bounded basket, never
    all-pairs over parts); triangles enumerate a<b<c exactly once via
    two equi-joins on the ORIENTED edge list (each shuffles on an edge
    endpoint — the standard distributed triangle count); the profile
    is bounded by the degree domain."""
    # shared support>=2 edge list, checkpointed for the 3-branch reuse
    e = copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("pa").alias("node")).unionAll(
        e.select(F.col("pb").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    e1 = e.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = e.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    e3 = e.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    tris = (
        e1.join(e2, e1.b == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    node_tri = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    nodes = deg.join(node_tri, "node", "left").select(
        "d", F.coalesce(F.col("tri"), F.lit(0)).alias("tri")
    )
    return (
        nodes.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("tri").alias("n_triangle_incidences"),
        )
        .select(
            F.col("d").cast("long").alias("degree"),
            "n_nodes",
            F.col("n_triangle_incidences").cast("long").alias(
                "n_triangle_incidences"
            ),
            F.expr(
                "CAST(2 * n_triangle_incidences AS decimal(38,0)) * 1000000"
                " div NULLIF(CAST(n_nodes AS decimal(38,0)) * d * (d - 1),"
                " CAST(0 AS decimal(38,0)))"
            )
            .cast("long")
            .alias("mean_closure_e6"),
        )
    )


# ---------------------------------------------------------------------------
# 3. Next-event Gini impurity (sequence predictability)
# ---------------------------------------------------------------------------


@declared(
    "q_events_transition_gini",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS HUGEINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type,
           CAST(SUM(n) AS BIGINT) AS n_out,
           CAST(COUNT(*) AS BIGINT) AS n_next_types,
           CAST(MAX(n) * 1000000 // SUM(n) AS BIGINT) AS top_share_e6,
           CAST(1000000 - SUM(n * n) * 1000000 // (SUM(n) * SUM(n))
                AS BIGINT) AS gini_e6
    FROM c GROUP BY prev_type
    """,
)
def q_events_transition_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per current event type, the Gini impurity of the NEXT-event
    distribution — 0 means the next step is fully determined, →1 means
    anything follows: the scalar predictability read over
    q_events_transition_matrix's counts, and the polynomial stand-in
    for entropy rate (Gini needs no libm, so it stays exact integer).
    Also reports the modal next share.  Scale shape: ONE window
    exchange on user_id builds the lag pairs (identical to the
    transition matrix); everything after runs on the |types|²-bounded
    count table.  Σn² widens to DECIMAL(38,0)/HUGEINT (n_out² at
    corpus scale exceeds BIGINT); all quotients are non-negative
    floors."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    c = (
        ev.select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast(_DEC).alias("n"))
    )
    return c.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("n_out"),
        F.count(F.lit(1)).alias("n_next_types"),
        F.expr("MAX(n) * 1000000 div SUM(n)").cast("long").alias(
            "top_share_e6"
        ),
        F.expr(
            "1000000 - SUM(n * n) * 1000000 div (SUM(n) * SUM(n))"
        )
        .cast("long")
        .alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# 4. Head/tail vocabulary drift (positional unigram TVD per source)
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
