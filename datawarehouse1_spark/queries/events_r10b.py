"""Round-10 events/text batch 8: user-journey path mining and
per-source distribution divergence.

* **Path trigrams** — the top 3-step event-type journeys (the Sankey /
  flow view): per user, consecutive type triples under (ts, event_id)
  order, counted corpus-wide. Complements q_events_transition_matrix
  (pairs, Markov view) with the order-3 sequence view a funnel
  designer actually reads. lead() windows share ONE user-sorted
  exchange; the path aggregate carries only (path, partial) rows and
  the top-20 is TakeOrderedAndProject.

* **Source unigram divergence** — per provider: total-variation
  distance between the source's unigram distribution and the whole
  corpus's, in exact micro-units. TVD = (1/2) Σ |p_s(w) - p(w)| is
  computed from the born-rational identity
  |c_sw·N - c_w·N_s| / (2·N_s·N): every numerator term is an exact
  integer (DECIMAL co-products), summed exactly, with ONE integer
  div at the end — the q_drift_* discipline applied across sources
  instead of across time. The "which provider doesn't sound like the
  corpus" screen beside the set-based q_text_source_vocab_jaccard.

Reference parity: the reference ETL (etl/app.py) has no event or text
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.text_tokens import word_tokens
from datawarehouse1_spark.registry import declared

# ---------------------------------------------------------------- 1.


@declared(
    "q_events_path_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           COUNT(*) AS n_paths,
           COUNT(DISTINCT user_id) AS n_users
    FROM seq
    WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY path
    ORDER BY n_paths DESC, path LIMIT 20
    """,
)
def q_events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step event-type journeys: consecutive type triples
    per user under deterministic (ts, event_id) order, counted with
    the distinct users walking each path — the order-3 sequence view
    behind a Sankey/flow chart (q_events_transition_matrix is the
    order-2 Markov view). Plan: both lead() windows share ONE
    user-sorted exchange; the (path, user) distinct expands and
    aggregates narrow strings only; top-20 is
    TakeOrderedAndProject."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    path = F.concat_ws(">", "event_type", "t2", "t3").alias("path")
    return (
        seq.select(path, "user_id")
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(20)
    )


# ---------------------------------------------------------------- 2.


@declared(
    "q_text_source_divergence",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text),
                                                   '[^a-z0-9]+'),
                                t -> t <> '')) AS word
      FROM documents
    ),
    sw AS (SELECT source, word, COUNT(*) AS c_sw
           FROM tok GROUP BY source, word),
    wtot AS (SELECT word, SUM(c_sw) AS c_w FROM sw GROUP BY word),
    stot AS (SELECT source, SUM(c_sw) AS n_s FROM sw GROUP BY source),
    gtot AS (SELECT SUM(c_sw) AS n FROM sw),
    -- HUGEINT-native arithmetic throughout (DuckDB promotes over-wide
    -- DECIMAL ops to DOUBLE; the Spark twin uses DECIMAL(38,0))
    terms AS (
      SELECT s.source,
             abs(s.c_sw * g.n - w.c_w * st.n_s) AS num,
             w.c_w * st.n_s AS own_mass
      FROM sw s
      JOIN wtot w ON w.word = s.word
      JOIN stot st ON st.source = s.source
      CROSS JOIN gtot g
    ),
    agg AS (
      SELECT source, SUM(num) AS total, SUM(own_mass) AS own_mass
      FROM terms GROUP BY source
    )
    SELECT a.source,
           CAST(st.n_s AS BIGINT) AS n_tokens,
           CAST((a.total + (g.n * st.n_s - a.own_mass)) * 1000000
                // (2 * st.n_s * g.n) AS BIGINT) AS tvd_e6
    FROM agg a
    JOIN stot st ON st.source = a.source
    CROSS JOIN gtot g
    """,
)
def q_text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance from the corpus unigram
    distribution, in exact micro-units: TVD = (1/2)Σ|p_s(w) − p(w)|
    over ALL corpus words — computed from the born-rational identity
    |c_sw·N − c_w·n_s| / (2·n_s·N) so every summand is an exact
    DECIMAL integer. Words a source never uses can't appear in its
    join rows, but they still contribute |0 − c_w·n_s|; summed in
    closed form that missing mass is (N − n_s)·n_s ... MINUS the
    c_w·n_s already counted for the source's own words — equivalently
    add Σ_{w∉s} c_w·n_s = (N − Σ_{w∈s} c_w)·n_s, which the oracle and
    Spark twin both express by the same two-term decomposition. The
    'which provider doesn't sound like the corpus' screen beside the
    set-based vocab Jaccard. Plan: bodies tokenize map-side; the
    (source, word) aggregate is the only exchange that sees token
    rows; word totals join back on the bounded count table; the 1-row
    corpus total broadcasts."""
    d = table(spark, sf_dir, "documents")
    word = F.explode(
        word_tokens()
    ).alias("word")
    sw = (
        d.select("source", word)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c_sw"))
        .localCheckpoint(eager=True)
    )
    wtot = sw.groupBy("word").agg(F.sum("c_sw").alias("c_w"))
    stot = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    gtot = sw.agg(F.sum("c_sw").alias("n"))
    dec = "decimal(38,0)"
    terms = (
        sw.join(wtot, "word")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            F.abs(
                F.col("c_sw").cast(dec) * F.col("n")
                - F.col("c_w").cast(dec) * F.col("n_s")
            ).alias("num"),
            # the c_w·n_s mass of the source's OWN words, to subtract
            # from the closed-form missing-words term
            (F.col("c_w").cast(dec) * F.col("n_s")).alias("own_mass"),
        )
        .groupBy("source")
        .agg(
            F.sum("num").alias("total"),
            F.sum("own_mass").alias("own_mass"),
        )
    )
    out = (
        terms.join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            F.expr(
                "(total + (CAST(n AS DECIMAL(38,0)) * n_s - own_mass))"
                " * 1000000"
                " div (2 * CAST(n_s AS DECIMAL(38,0)) * n)"
            )
            .cast("long")
            .alias("tvd_e6"),
        )
    )
    return out
