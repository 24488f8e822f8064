"""Shared co-purchase graph edge construction.

Parts are linked when they appear together in at least `support`
orders.  Three operators read THIS graph — connected components
(q_graph_components_copurchase), the clustering-coefficient profile
(q_graph_clustering_coeff), and link prediction
(q_graph_link_prediction) — so the edge semantics (distinct
(order, part) incidence, oriented pa < pb, the support threshold)
live in one place and cannot drift between them (review finding,
r12).

Scale shape: candidate pairs generate PER ORDER (quadratic in the
basket size — measured by q_orders_basket_profile — never all-pairs
over parts); the support filter prunes before any downstream graph
work.  Candidate VOLUME is Σ C(basket, 2) over orders, so one
pathological basket (a 10k-line order) costs ~5·10⁷ candidate rows on
its own — `max_basket` is the explicit skew cap for that case: orders
with more distinct parts are EXCLUDED from edge evidence (loudly, via
log) before the quadratic self-join, bounding per-order candidate
work at C(max_basket, 2).  The graded queries run uncapped (their
oracle SQL is the uncapped twin and the testdata's basket profile is
bounded ~7); tests/test_r13_hardening.py pins the capped/uncapped
behavior under a staged pathological basket.

The graph queries live here too: PageRank, triangle counts, the
degree distribution, and the three co-purchase operators above
(connected components, clustering coefficients, link prediction).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.registry import declared

COPURCHASE_SUPPORT = 2

_log = logging.getLogger(__name__)


def copurchase_edges_sql(support: int = COPURCHASE_SUPPORT) -> str:
    """The `ip` (distinct incidence) and `e` (oriented edge list,
    columns pa < pb) CTE bodies, for composing WITH clauses."""
    return f"""
    ip AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM ip a JOIN ip b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {support}
    )"""


def copurchase_edges_from_incidence(
    ip: DataFrame,
    support: int = COPURCHASE_SUPPORT,
    max_basket: int | None = None,
    order_col: str = "l_orderkey",
    part_col: str = "l_partkey",
) -> DataFrame:
    """Oriented edge list (pa < pb) from a DISTINCT (order, part)
    incidence DataFrame.

    `max_basket`: skew cap — drop orders whose basket exceeds it BEFORE
    the quadratic per-order pair generation, so one monster order cannot
    blow the candidate volume past C(max_basket, 2)·|orders|. Dropping
    an order removes its (weak) co-occurrence evidence, which can lower
    support counts — a recall/cost knob, logged loudly, NOT silent.

    Shape (r13): the incidence reduces to per-order sorted part ARRAYS
    in one exchange, and the C(basket, 2) oriented pairs generate
    MAP-SIDE from each array inside codegen (nested transform +
    flatten) — the candidate volume is identical to the former
    incidence self-join, but the second fact-grain shuffle (the join's
    probe side) and the join itself are gone: one exchange to the order
    grain, one to the (pa, pb) support aggregate. The basket-size guard
    becomes a free `size(parts) <= max_basket` filter on the built
    array instead of a separate counting pass.
    """
    baskets = ip.groupBy(order_col).agg(
        F.array_sort(F.collect_set(part_col)).alias("__parts")
    )
    if max_basket is not None:
        oversized = baskets.filter(F.size("__parts") > max_basket)
        # bounded driver-side read: pathological orders are by
        # definition rare — cap the report at 20 rows, count the rest
        sample = oversized.select(order_col).limit(20).collect()
        if sample:
            n_over = oversized.count()
            _log.warning(
                "copurchase_edges: EXCLUDING %d order(s) with basket > %d "
                "from co-occurrence evidence (quadratic candidate guard); "
                "first ids: %s",
                n_over,
                max_basket,
                [r[order_col] for r in sample],
            )
            baskets = baskets.filter(F.size("__parts") <= max_basket)
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "__parts",
                    lambda x, i: F.transform(
                        F.slice(
                            "__parts", i + 2, F.size("__parts") - i - 1
                        ),
                        lambda y: F.struct(
                            x.alias("pa"), y.alias("pb")
                        ),
                    ),
                )
            )
        ).alias("__pair")
    )
    return (
        pairs.select(F.col("__pair.pa").alias("pa"), F.col("__pair.pb").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= support)
        .select("pa", "pb")
    )


def copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    support: int = COPURCHASE_SUPPORT,
    checkpoint: bool = True,
    max_basket: int | None = None,
) -> DataFrame:
    """Oriented edge list (pa < pb) of the support-thresholded
    co-purchase graph.  `checkpoint=True` localCheckpoints the result
    so multi-branch consumers (degree + triangles + anti-join) don't
    re-run the incidence self-join per branch."""
    ip = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = copurchase_edges_from_incidence(ip, support, max_basket)
    return e.localCheckpoint() if checkpoint else e


def _pagerank_iter_sql(i: int) -> str:
    return f"""
    r{i} AS (
      SELECT n.id,
             CAST(0.25 / 64 AS DOUBLE) + 0.75 * coalesce(c.c, 0) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst, SUM(r.rank / 2) AS c
        FROM edges e JOIN r{i - 1} r ON r.id = e.src
        GROUP BY e.dst
      ) c ON c.dst = n.id
    )"""


@declared(
    "q_graph_pagerank",
    oracle="""
    WITH nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 64),
    edges AS (
      SELECT id AS src,
             unnest(ARRAY[(2 * id + 1) % 64, (3 * id + 2) % 64]) AS dst
      FROM nodes
    ),
    r0 AS (SELECT id, CAST(1.0 / 64 AS DOUBLE) AS rank FROM nodes),
    """
    + ",".join(_pagerank_iter_sql(i) for i in (1, 2, 3, 4))
    + """
    SELECT id, rank FROM r4
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (operators/graph.py), HASH-MATCHED down to
    the float bits: the synthetic graph is 64 nodes with out-degree 2
    (edges i → (2i+1)%64 and (3i+2)%64) and damping 3/4, so every
    intermediate — 1/64 start, rank/2 splits, 0.75·x damping, 2⁻⁸
    teleport — is an exactly representable dyadic rational and float
    addition is associative over them. Both engines therefore compute
    IDENTICAL doubles after 4 rounds regardless of aggregation order,
    turning an iterative float algorithm into a full value-hash
    verdict (the same trick as q_dedup_clusters for iterative integer
    reachability). The general operator takes any damping/degrees;
    only the bit-portability needs the dyadic choice."""
    from datawarehouse1_spark.operators.graph import pagerank

    nodes = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select(F.col("doc_id").alias("id"))
    )
    edges = nodes.select(
        F.col("id").alias("src"),
        F.explode(
            F.array((2 * F.col("id") + 1) % 64, (3 * F.col("id") + 2) % 64)
        ).alias("dst"),
    )
    return pagerank(nodes, edges, iterations=4, damping=0.75, n_nodes=64)


@declared(
    "q_graph_triangles",
    oracle="""
    WITH nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 64),
    raw AS (
      SELECT id AS src,
             unnest(ARRAY[(2 * id + 1) % 64, (3 * id + 2) % 64]) AS dst
      FROM nodes
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges
    FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (the clustering-coefficient building block) on
    the same synthetic 64-node graph as q_graph_pagerank: canonicalize
    to undirected a<b edges, then the standard two-join wedge-close
    (e1.b=e2.a, close with (e1.a, e2.b)) — each triangle counted once
    because a<b<c. Pure integer output. At scale this is the
    node-iterator algorithm: edges shuffle on their endpoints only,
    and the usual high-degree mitigation (orient edges low→high
    degree) drops in without changing results."""
    nodes = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select(F.col("doc_id").alias("id"))
    )
    raw = nodes.select(
        F.col("id").alias("src"),
        F.explode(
            F.array((2 * F.col("id") + 1) % 64, (3 * F.col("id") + 2) % 64)
        ).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    und = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return tri.crossJoin(
        F.broadcast(und.agg(F.count(F.lit(1)).alias("n_edges")))
    ).select("n_triangles", "n_edges")


# ---------------------------------------------------------------------------
# Graph degree distribution (supplier→customer bipartite)
# ---------------------------------------------------------------------------


@declared(
    "q_graph_degree_distribution",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT l_suppkey, o_custkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    deg AS (
      SELECT l_suppkey, COUNT(*) AS degree FROM edges GROUP BY l_suppkey
    )
    SELECT (length(bin(degree)) - 1) AS deg_log2,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(MIN(degree) AS BIGINT) AS min_degree,
           CAST(MAX(degree) AS BIGINT) AS max_degree,
           CAST(SUM(degree) AS BIGINT) AS n_edges
    FROM deg GROUP BY 1
    """,
)
def q_graph_degree_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree distribution of the supplier→customer bipartite graph
    induced by lineitem⋈orders (edge = the pair traded at least once),
    histogrammed in floor-log2 buckets (length(bin(d))−1 — pure
    integer, no libm).  The pre-flight check every graph/join pipeline
    runs on an entity key: a heavy tail here is the signal to reach
    for q_join_salted_skew's salting.  Plan: orderkey equi-join (both
    sides shuffle on the join key once), one exchange to the distinct
    (supp, cust) pair, one to the supplier grain, and a ≤~20-row log2
    histogram."""
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_suppkey", "o_custkey")
        .distinct()
    )
    deg = edges.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy(
        (F.length(F.bin(F.col("degree"))) - 1).cast("long").alias("deg_log2")
    ).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
        F.sum("degree").alias("n_edges"),
    )


# ---------------------------------------------------------------------------
# Co-purchase connected components
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
# Clustering-coefficient profile of the co-purchase graph
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
# Link prediction: top-20 non-edges by common-neighbor Jaccard
# ---------------------------------------------------------------------------

_LP_TOPK = 20


@declared(
    "q_graph_link_prediction",
    oracle=f"""
    WITH {copurchase_edges_sql()},
    sym AS (
      SELECT pa AS u, pb AS v FROM e
      UNION ALL SELECT pb AS u, pa AS v FROM e
    ),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
    wedge AS (
      SELECT s1.v AS a, s2.v AS c, COUNT(*) AS cn
      FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
      GROUP BY s1.v, s2.v
    ),
    cand AS (
      SELECT w.a, w.c, w.cn
      FROM wedge w ANTI JOIN e ON e.pa = w.a AND e.pb = w.c
    )
    SELECT cand.a AS part_a, cand.c AS part_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(cn * 1000000 // (da.d + dc.d - cn) AS BIGINT)
             AS jaccard_e6
    FROM cand
    JOIN deg da ON da.node = cand.a
    JOIN deg dc ON dc.node = cand.c
    ORDER BY jaccard_e6 DESC, part_a, part_b
    LIMIT {_LP_TOPK}
    """,
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted co-purchase links: non-adjacent part
    pairs ranked by common-neighbor Jaccard — the "bought together
    candidates you haven't bundled yet" generator, turning the graph
    operators predictive.  Candidates come from WEDGES (a—b—c paths:
    one self-join of the symmetric edge list on the middle node),
    never all-pairs; existing edges drop via anti-join; Jaccard =
    cn·1e6 // (deg(a)+deg(c)−cn) is an exact non-negative floor
    (denominator ≥ cn ≥ 1).  The top-k cut orders by (score DESC, a,
    c) — a TOTAL order, so both engines keep the same 20 — and Spark
    plans it as TakeOrdered (no global sort materializes).  Scale:
    wedge counts bound by Σ_b deg(b)², the skew knob being the
    support threshold upstream."""
    # shared support>=2 edge list, checkpointed: reused for sym,
    # wedges, and the anti-join
    e = copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    s1 = sym.select(F.col("u").alias("m"), F.col("v").alias("a2"))
    s2 = sym.select(F.col("u").alias("m"), F.col("v").alias("c2"))
    wedge = (
        s1.join(s2, (s1.m == s2.m) & (F.col("a2") < F.col("c2")))
        .groupBy(F.col("a2").alias("a"), F.col("c2").alias("c"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = wedge.join(
        e,
        (wedge.a == e.pa) & (wedge.c == e.pb),
        "left_anti",
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("v").alias("c"), F.col("d").alias("dc"))
    scored = (
        cand.join(da, "a")
        .join(dc, "c")
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.expr("CAST(cn * 1000000 div (da + dc - cn) AS BIGINT)").alias(
                "jaccard_e6"
            ),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_e6"), F.asc("part_a"), F.asc("part_b")
    ).limit(_LP_TOPK)

