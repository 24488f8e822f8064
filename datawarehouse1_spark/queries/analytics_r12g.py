"""Round-12 analytics, batch 7: scale-shift testing, co-purchase graph
components, lexical-diversity curves, and event-type affinity.

Four operators:

* **Brown-Forsythe variance homogeneity** — completes the one-factor
  triad: q_stats_eta_squared reads the MEAN shift, q_stats_kruskal_wallis
  the distributional LOCATION shift, this the SCALE shift (does the
  factor change the spread?).  Classic Levene-on-medians: z = |x −
  group median|, then one-way ANOVA F on z.  Exact: medians travel as
  the integer TWO-median-sum m2 (so 2z = |2x − m2| is an integer even
  for even-sized groups), and the /2 cancels in the F ratio — every
  term is an integer/DECIMAL(38,0) sum with engine-identical floors.

* **Co-purchase connected components** — the standalone graph-
  clustering operator (q_semantic_dedup_corpus buries the same step in
  a dedup pipeline): parts linked when bought together in ≥2 orders,
  components via distributed min-label propagation, hash-matched
  against a DuckDB recursive-CTE fixpoint; output is the component
  size histogram (the substitute-group / bundle structure read).

* **Type-token ratio by length** — the lexical-diversity CURVE: TTR
  falls with document length (Herdan), so a single corpus TTR is
  meaningless; per floor-log2 token-count bucket this reports pooled
  and mean-of-docs TTR plus the in-doc hapax rate, all exact ppm.
  The read that calibrates q_text_heaps_fit's β.

* **Event-type affinity** — pairwise Jaccard and lift between event
  types' USER sets (who does A also does B?) — the behavioral
  co-occurrence matrix behind funnel design; the events-side twin of
  q_orders_market_basket.  Bounded output: |types|² pairs.

Exactness discipline as batches 1-6 (SCALE.md rules 20/22/27/30).

Reference parity: the reference ETL (etl/app.py) has no analytics
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_units_long, sql_cents
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.queries.analytics_r12f import _exact_floor_div
from datawarehouse1_spark.queries.copurchase import (
    copurchase_edges,
    copurchase_edges_sql,
)
from datawarehouse1_spark.queries.deciles import running_sum
from datawarehouse1_spark.registry import declared

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# 1. Brown-Forsythe (Levene-on-medians) variance homogeneity
# ---------------------------------------------------------------------------

# (label, table, group column, numeric column, rank-bucket width in cents)
_BF_CASES = (
    ("acctbal_by_segment", "customer", "c_mktsegment", "c_acctbal", 25_000),
    ("totalprice_by_priority", "orders", "o_orderpriority", "o_totalprice",
     1_000_000),
)


def _bf_arm_sql(label: str, tbl: str, grp: str, num: str) -> str:
    cents = sql_cents(num)
    return f"""
    SELECT '{label}' AS case_name,
           CAST(n AS BIGINT) AS n_rows,
           CAST(k AS BIGINT) AS n_groups,
           CAST(GREATEST(CAST(0 AS HUGEINT), a - (s * s * 1000000 // n))
                * (n - k) * 1000000
                // NULLIF((k - 1) * (q - a), 0) AS BIGINT) AS f_e6
    FROM (
      SELECT SUM(ng) AS n, COUNT(*) AS k, SUM(sg) AS s,
             SUM(qg) * 1000000 AS q,
             SUM(sg * sg * 1000000 // ng) AS a
      FROM (
        SELECT g, SUM(c * z2) AS sg, SUM(c * z2 * z2) AS qg,
               SUM(c) AS ng
        FROM (
          SELECT j.g, abs(2 * j.v - med.m2) AS z2, j.c
          FROM (
            SELECT {grp} AS g, {cents} AS v,
                   CAST(COUNT(*) AS HUGEINT) AS c
            FROM {tbl} GROUP BY 1, 2
          ) j
          JOIN (
            SELECT g,
                   SUM(v * (CASE WHEN (ng + 1) // 2 > cum - c
                                  AND (ng + 1) // 2 <= cum
                            THEN 1 ELSE 0 END
                          + CASE WHEN ng // 2 + 1 > cum - c
                                  AND ng // 2 + 1 <= cum
                            THEN 1 ELSE 0 END)) AS m2
            FROM (
              SELECT g, v, c,
                     SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
                     SUM(c) OVER (PARTITION BY g) AS ng
              FROM (
                SELECT {grp} AS g, {cents} AS v,
                       CAST(COUNT(*) AS HUGEINT) AS c
                FROM {tbl} GROUP BY 1, 2
              )
            ) GROUP BY g
          ) med ON j.g = med.g
        ) GROUP BY g
      )
    )"""


def _bf_arm(
    spark: SparkSession, sf_dir: str, label: str, tbl: str, grp: str,
    num: str, width: int
) -> DataFrame:
    t = table(spark, sf_dir, tbl)
    joint = (
        t.select(F.col(grp).alias("g"), money_units_long(num).alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # per-group cumulative count over the VALUE marginal (rule 22)
    w = running_sum(joint, "v", ["c"], width, by=["g"]).select(
        "g",
        "v",
        F.col("c_before").alias("prev"),
        (F.col("c_before") + F.col("c")).alias("cum"),
        F.col("c_total").alias("ng"),
    )
    r1 = F.expr("(ng + 1) div 2")
    r2 = F.expr("ng div 2 + 1")
    hit = (
        F.when((r1 > F.col("prev")) & (r1 <= F.col("cum")), 1).otherwise(0)
        + F.when((r2 > F.col("prev")) & (r2 <= F.col("cum")), 1).otherwise(0)
    )
    med = w.groupBy("g").agg(F.sum(F.col("v") * hit).alias("m2"))
    z = joint.join(F.broadcast(med), "g").select(
        "g",
        F.abs(2 * F.col("v") - F.col("m2")).cast(_DEC).alias("z2"),
        F.col("c").cast(_DEC).alias("c"),
    )
    gg = z.groupBy("g").agg(
        F.sum(F.col("c") * F.col("z2")).alias("sg"),
        F.sum(F.col("c") * F.col("z2") * F.col("z2")).alias("qg"),
        F.sum("c").alias("ngd"),
    )
    scored = gg.select(
        "ngd", "qg",
        (F.col("sg") * F.col("sg") * F.lit(1000000)).alias("_x"),
        F.col("sg").alias("sg"),
    ).select(
        "ngd", "qg", "sg", _exact_floor_div("_x", "ngd").alias("ag")
    )
    agg = scored.agg(
        F.sum("ngd").alias("n"),
        F.count(F.lit(1)).cast(_DEC).alias("k"),
        F.sum("sg").alias("s"),
        (F.sum("qg") * 1000000).alias("q"),
        F.sum("ag").alias("a"),
    )
    return (
        agg.select(
            "n", "k", "q", "a",
            (F.col("s") * F.col("s") * F.lit(1000000)).alias("_sx"),
        )
        .select(
            "n", "k", "q", "a",
            _exact_floor_div("_sx", "n").alias("scorr"),
        )
        .select(
            "n", "k",
            (
                F.greatest(
                    F.lit(0).cast(_DEC), F.col("a") - F.col("scorr")
                )
                * (F.col("n") - F.col("k"))
                * F.lit(1000000)
            ).alias("_fx"),
            F.nullif(
                (F.col("k") - 1) * (F.col("q") - F.col("a")),
                F.lit(0).cast(_DEC),
            ).alias("_fd"),
        )
        .select(
            F.lit(label).alias("case_name"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("k").cast("long").alias("n_groups"),
            _exact_floor_div("_fx", "_fd").cast("long").alias("f_e6"),
        )
    )


@declared(
    "q_stats_brown_forsythe",
    oracle="\nUNION ALL\n".join(
        _bf_arm_sql(label, tbl, grp, num)
        for label, tbl, grp, num, _ in _BF_CASES
    ),
)
def q_stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene on medians): one-way ANOVA F on
    z = |x − group median| — does the factor shift the SPREAD, not the
    location?  Completes the triad with η² (means) and Kruskal-Wallis
    (ranks).  Exactness: the group median travels as the integer sum
    of the two middle order statistics m2 (ranks ⌈n/2⌉ and ⌊n/2⌋+1
    from the per-group cumulative over the value marginal), so
    2z = |2x − m2| is an integer and the /2 cancels in F; the three
    convention points (per-group s_g²·1e6/n_g, the S²·1e6/N
    correction, the final F quotient) are engine-identical exact
    floors on non-negative numerators (rules 27/30; SSW = Q−A ≥ 0
    because each floor only shrinks A).  Width bound: s_g² ≤
    (N·z_max)²·1e6 holds DECIMAL(38,0) to N ≈ 1e9 at cent scale.
    Plan (rule 22): one exchange to the (group, value) joint; the
    median scan's unbounded windows see only per-group BUCKET
    summaries; moment reduction on the |groups|-row table."""
    out = None
    for label, tbl, grp, num, width in _BF_CASES:
        arm = _bf_arm(spark, sf_dir, label, tbl, grp, num, width)
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# 2. Co-purchase connected components
# ---------------------------------------------------------------------------

_COPURCHASE_SUPPORT = 2  # orders containing both parts


@declared(
    "q_graph_components_copurchase",
    oracle=f"""
    WITH RECURSIVE {copurchase_edges_sql(_COPURCHASE_SUPPORT)},
    sym AS (
      SELECT pa AS src, pb AS dst FROM e
      UNION
      SELECT pb AS src, pa AS dst FROM e
    ),
    walk(id, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.src, w.label FROM sym s JOIN walk w ON w.id = s.dst
    ),
    comp AS (SELECT id, MIN(label) AS keeper FROM walk GROUP BY id),
    sizes AS (SELECT keeper, COUNT(*) AS comp_size FROM comp GROUP BY keeper)
    SELECT CAST(comp_size AS BIGINT) AS comp_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(comp_size * COUNT(*) AS BIGINT) AS n_parts
    FROM sizes GROUP BY comp_size
    """,
)
def q_graph_components_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components of the co-purchase graph (parts bought
    together in ≥2 orders), reported as the component-size histogram —
    the bundle/substitute-group structure read, and the standalone
    version of the min-label clustering step q_semantic_dedup_corpus
    embeds.  The Spark side iterates distributed min-label propagation
    (operators/dedup.py::dedup_clusters_from_pairs — O(diameter)
    rounds, localCheckpoint per round, only (id,label) longs shuffle)
    and still hash-matches DuckDB's recursive-CTE fixpoint.  Scale
    shape: candidate pairs are generated PER ORDER (bounded basket
    size — never all-pairs over parts), the support filter prunes
    before any graph work, and the histogram is one reduction over
    |components| rows."""
    from datawarehouse1_spark.operators.dedup import (
        dedup_clusters_from_pairs,
    )

    pairs = copurchase_edges(
        spark, sf_dir, _COPURCHASE_SUPPORT, checkpoint=False
    )
    # r17 (VERDICT r16 #6): pointer-doubling shortcut — the co-purchase
    # graph has REAL diameter (~8 at sf0.1), so the per-round jump cuts
    # materialized rounds 4 -> 3 here (O(log d) at scale) where the
    # shallow near-dup callers leave it off; fixpoint identical
    # (oracle recursive-CTE hash-match + union-find law test).
    comp = dedup_clusters_from_pairs(
        pairs, id_a="pa", id_b="pb", shortcut=True
    )
    sizes = comp.groupBy("keeper").agg(F.count(F.lit(1)).alias("comp_size"))
    return sizes.groupBy("comp_size").agg(
        F.count(F.lit(1)).alias("n_components"),
        (F.col("comp_size") * F.count(F.lit(1))).alias("n_parts"),
    )


# ---------------------------------------------------------------------------
# 3. Type-token ratio by length bucket
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
# 4. Event-type affinity (user-set Jaccard + lift)
# ---------------------------------------------------------------------------


@declared(
    "q_events_type_affinity",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    marg AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS nu
      FROM ut GROUP BY event_type
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS HUGEINT) AS u FROM ut),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS HUGEINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(ma.nu AS BIGINT) AS n_a,
           CAST(mb.nu AS BIGINT) AS n_b,
           CAST(n_both * 1000000 // (ma.nu + mb.nu - n_both) AS BIGINT)
             AS jaccard_ppm,
           CAST(n_both * u * 1000000 // (ma.nu * mb.nu) AS BIGINT)
             AS lift_e6
    FROM inter
    JOIN marg ma ON ma.event_type = type_a
    JOIN marg mb ON mb.event_type = type_b
    CROSS JOIN tot
    """,
)
def q_events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise affinity between event types' user sets: Jaccard
    overlap and lift (observed co-usage over the independence
    expectation, in users) — who does A also does B, the behavioral
    co-occurrence matrix funnels are designed from; the events-side
    twin of q_orders_market_basket.  Both rates are exact floored
    ratios of user counts (the Jaccard denominator |A∪B| ≥ n_both > 0
    by construction — only realized pairs appear).  Plan: one exchange
    to the distinct (user, type) grain, a self-join keyed on user_id
    (per-user type sets are bounded by |types|, so no pair blow-up),
    and a |types|²-bounded result joined to broadcast marginals."""
    ev = table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    marg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("nu"))
    tot = ut.agg(
        F.countDistinct("user_id").cast(_DEC).alias("u")
    )
    a = ut.alias("a")
    b = ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("nu").alias("na")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("nu").alias("nb")
    )
    return (
        inter.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.expr(
                "CAST((n_both * 1000000) div (na + nb - n_both) AS LONG)"
            ).alias("jaccard_ppm"),
            (F.col("n_both").cast(_DEC) * F.col("u") * 1000000).alias(
                "_lx"
            ),
            (F.col("na").cast(_DEC) * F.col("nb")).alias("_ld"),
        )
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b", "jaccard_ppm",
            _exact_floor_div("_lx", "_ld").cast("long").alias("lift_e6"),
        )
    )
