"""Similarity search over the embeddings table (SURVEY.md C22 + north-star
ANN): exact brute-force cosine top-k (the oracle-matched baseline) and
embedding-cosine near-dup pairs. The LSH/IVF scale paths live in
operators/similarity.py (rows-only checked — bucketing is engine-specific).

All vector math is JVM-side higher-order functions (functions/vector.py):
sequential double folds, bit-deterministic against the DuckDB twin.

The embedding analytics beside the search: centroid drift, exact
covariance cells and a driver-solved PCA by power iteration, cluster
balance and purity, and k-NN label agreement. Components are quantized
to integer micro-units first, so every sum is exact and
order-independent in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import DEC38 as _DEC
from datawarehouse1_spark.functions.vector import cosine, sql_cosine
from datawarehouse1_spark.operators.vector_stats import (
    marginals,
    pair_cells,
    quantized_moments,
)
from datawarehouse1_spark.registry import declared
from datawarehouse1_spark.state_memo import AppScopedMemo

N_QUERY_VECTORS = 8  # bounded query set: pairwise stays O(q·n), not O(n²)

TOP_K = 5


# Trained IVF quantizer per (Spark app, corpus dir) (16 x dim float64 —
# tiny). Seeded KMeans on the FIXED training layout train_ivf_centroids
# stages makes a retrain bit-identical for a given corpus, so memoizing
# changes cost, never results (and centroids affect only recall, never
# correctness); mirrors the offline-train/online-serve split. Shared
# eviction discipline with the minhash index memo (VERDICT r12 #3).
_IVF_CENTROIDS = AppScopedMemo()


# --- C22: exact cosine top-k (brute force — the correctness baseline) ---
@declared(
    "q_similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {N_QUERY_VECTORS}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, {sql_cosine('qv', 'cv')} AS cos
           FROM q CROSS JOIN c
           WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id, cos, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN baseline: broadcast the (small) query set against
    every candidate partition — no shuffle of the big side; the top-k
    window only sees q·n scored pairs. Scale path: operators/similarity.py
    LSH bucketing replaces the cross join."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine("qv", "cv").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


# --- north-star: embedding-cosine near-duplicate pairs ---
# Raw sf0.01 embeddings are near-orthogonal (max pairwise cos ~0.385 in
# the bounded subset), so a bare threshold query certifies vacuously
# (0 = 0 rows, round-3 VERDICT gap #3). Stage deterministic near-dups:
# every third vector gets a perturbed twin (+0.01·((i mod 5)−2) per
# component, id+1000). Both engines build the twin with the same indexed
# transform in double, and cosine folds left-to-right in double on both
# sides (functions/vector.py), so the staged pairs hash-match exactly.

# Shared staging CTEs (DuckDB side) — used by q_embedding_neardup and the
# composed q_semantic_dedup_corpus pipeline, so both engines score the
# IDENTICAL staged corpus.
_STAGED_CORPUS_CTES = """
    base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings WHERE vec_id < 60
    ),
    twins AS (
      SELECT vec_id + 1000 AS vec_id,
             list_transform(range(1, len(embedding) + 1),
                            i -> embedding[i] + 0.01 * CAST(((i - 1) % 5) - 2 AS DOUBLE))
               AS embedding
      FROM base WHERE vec_id % 3 = 0
    ),
    sub AS (SELECT * FROM base UNION ALL SELECT * FROM twins)
"""


def _staged_neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _STAGED_CORPUS_CTES: bounded base subset plus
    deterministic perturbed twins (+1000 ids for every third vector)."""
    base = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 60)
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    twins = base.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + F.lit(0.01) * ((i % 5) - 2).cast("double"),
        ).alias("embedding"),
    )
    return base.unionByName(twins)


def _neardup_pairs(sub: DataFrame, threshold: float = 0.8) -> DataFrame:
    """All-pairs cosine over the bounded staged corpus — the exact
    pair-producer both declared queries share. Full-corpus scale path:
    LSH bucketing in operators/similarity.py replaces the self-join."""
    a = sub.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = sub.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine("ea", "eb").alias("cos"))
        .filter(F.col("cos") > threshold)
    )


@declared(
    "q_embedding_neardup",
    oracle=f"""
    WITH {_STAGED_CORPUS_CTES}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cos
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} > 0.8
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection in embedding space: pairs above a cosine
    threshold, certified non-vacuously against staged perturbed twins.
    Bounded subset for the exact oracle; the full-corpus path goes
    through LSH bucketing (operators/similarity.py) so candidate pairs,
    not all pairs, are scored."""
    return _neardup_pairs(_staged_neardup_corpus(spark, sf_dir))


# --- north-star: SemDeDup-style composed pipeline ---
@declared(
    "q_semantic_dedup_corpus",
    oracle=f"""
    WITH RECURSIVE {_STAGED_CORPUS_CTES},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
      WHERE {sql_cosine('a.embedding', 'b.embedding')} > 0.8
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(id, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.src, w.label FROM sym s JOIN walk w ON w.id = s.dst
    ),
    comp AS (SELECT id, MIN(label) AS keeper FROM walk GROUP BY id),
    removed AS (
      SELECT keeper, COUNT(*) AS n FROM comp WHERE id <> keeper GROUP BY keeper
    )
    SELECT s.vec_id, COALESCE(r.n, 0) AS n_dupes_removed
    FROM sub s
    LEFT JOIN removed r ON r.keeper = s.vec_id
    WHERE s.vec_id NOT IN (SELECT id FROM comp WHERE id <> keeper)
    """,
)
def q_semantic_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup as ONE composed pipeline (Abbas et
    al. 2023's shape: embed -> pairwise-similar groups -> keep one per
    group): cosine near-dup pairs over the staged corpus -> connected
    components via distributed min-label propagation
    (operators/dedup.py::dedup_clusters_from_pairs) -> the deduplicated
    corpus, each survivor annotated with how many near-dups it absorbed.
    The iterative clustering step still hash-matches a DuckDB recursive
    CTE computing the same fixpoint.

    Scale shape: pairs come from a bounded/bucketed candidate generator
    (here the exact bounded baseline; LSH at full scale), components
    shuffle only (id,label) longs, and the final keep is a left_anti
    join — embeddings themselves are never shuffled by the dedup
    decision."""
    from datawarehouse1_spark.operators.dedup import dedup_clusters_from_pairs

    sub = _staged_neardup_corpus(spark, sf_dir)
    pairs = _neardup_pairs(sub)
    comp = dedup_clusters_from_pairs(pairs, id_a="vec_a", id_b="vec_b")
    dropped = comp.filter(F.col("id") != F.col("keeper")).select("id")
    removed = (
        comp.filter(F.col("id") != F.col("keeper"))
        .groupBy("keeper")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    kept = sub.join(dropped, sub["vec_id"] == dropped["id"], "left_anti")
    return (
        kept.join(removed, kept["vec_id"] == removed["keeper"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_dupes_removed"),
        )
    )


# --- north-star: centroid distance per label (IVF building block) ---
@declared("q_similarity_lsh_topk", oracle=None)
def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: random-hyperplane LSH bucketing then top-k within
    buckets only. Rows-only check (bucket boundaries are engine-specific);
    recall vs the exact baseline is asserted in tests/test_similarity.py."""
    from datawarehouse1_spark.operators.similarity import lsh_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS)
    # full distance-1 multi-probe: expands only the broadcast query
    # side (corpus hashed/shuffled once either way)
    return lsh_topk(
        emb, queries, k=TOP_K, n_planes=4, n_tables=8, probe_bits=4
    )


@declared("q_similarity_ivf_topk", oracle=None)
def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN #2: IVF coarse quantization — corpus vectors
    indexed in their `index_spill` nearest inverted lists, queries probe
    their nprobe nearest lists, exact rerank within probed lists.
    Rows-only check; recall vs the exact baseline is asserted in
    tests/test_dedup_similarity.py and re-measured per bench run
    (accuracy.py). The demo runs the PRODUCTION operating point:
    KMeans-TRAINED centroids (train_ivf_centroids — distributed, seeded,
    deterministic for the staged layout) with index-side boundary
    multi-assignment (index_spill=2 — the SPANN trick; VERDICT r12 #2)
    at nprobe=6/16: recall@5 0.9 on the gaussian testdata vs 0.725
    spill-free trained and 0.525 untrained — near-orthogonal gaussian
    vectors are IVF's worst case (true neighbors scatter across Voronoi
    cells), and real clustered corpora do better at equal cost.
    tune_nprobe picks the workload's operating point; at 100 TB you
    train on a bounded sample exactly as FAISS does. The quantizer is
    trained ONCE per corpus and memoized per (app, corpus) — the
    production shape: FAISS/IVF systems train offline and serve many
    queries against the fixed codebook, so repeat invocations must not
    re-pay the training job."""
    from datawarehouse1_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS)

    def _train():
        # KMeans cannot fit fewer rows than clusters (empty-corpus
        # law): fall back to the seeded-random quantizer there. The
        # guard's cost is bounded by the cluster count, not the corpus.
        if emb.limit(16).count() < 16:
            return None
        return train_ivf_centroids(emb, n_centroids=16)

    cents = _IVF_CENTROIDS.get_or_build(spark, sf_dir, _train)
    return ivf_topk(
        emb, queries, k=TOP_K, n_centroids=16, nprobe=6, centroids=cents,
        index_spill=2,
    )


@declared(
    "q_embedding_centroid_drift",
    oracle="""
    WITH q AS (
      SELECT label, CAST(i AS INT) AS dim,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS qv
      FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
    ),
    lab AS (
      SELECT label, dim,
             CAST(SUM(qv) AS HUGEINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM q GROUP BY label, dim
    ),
    gdim AS (
      SELECT dim, CAST(SUM(s) AS HUGEINT) AS g FROM lab GROUP BY dim
    ),
    gn AS (
      SELECT SUM(g * g) AS g2 FROM gdim
    ),
    per AS (
      SELECT label,
             SUM(s * g) AS dot,
             SUM(s * s) AS l2,
             MAX(n_rows) AS n_vecs
      FROM lab JOIN gdim USING (dim)
      GROUP BY label
    )
    SELECT label,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(floor(CAST(dot AS DOUBLE) * 1000000
                      / sqrt(CAST(l2 AS DOUBLE) * CAST(g2 AS DOUBLE)))
                AS BIGINT) AS cos_e6
    FROM per, gn
    """,
)
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift against the global centroid, as cosine
    similarity in exact micro-units — the slice-health report a
    curation pipeline reads to catch a corpus subset drifting in
    embedding space. Exactness: components quantize to
    floor(v * 1e6) integers BEFORE any aggregation, so every sum is
    exact and order-independent in both engines (the money-discipline
    argument applied to vectors); scale cancels in the cosine, so the
    centroids' 1/n never needs to materialize; the only float ops are
    one sqrt and one divide on the final 10 rows. Plan: quantized
    components aggregate per (label, dim) — the ONLY exchange that
    sees per-row data; the global centroid re-aggregates the 640-row
    label sums; the cosine assembles from a dim-aligned join of two
    bounded summaries plus a 1-row broadcast of the global norm. At
    100 TB nothing wider than (label, dim, int64) ever shuffles, and
    the DECIMAL(38,0) co-moments hold to ~1e9 vectors x 1e6 quanta
    without overflow."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * 1000000).alias("qv"),
    )
    # lab is bounded (|labels| x |dims| rows) and feeds BOTH the global
    # centroid and the per-label co-moments; localCheckpoint runs the
    # wide posexplode aggregate ONCE instead of once per consumer (the
    # minhash/video-temporal pattern, SCALE.md rule 12).
    lab = (
        q.groupBy("label", "dim")
        .agg(
            F.sum("qv").cast(_DEC).alias("s"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .localCheckpoint(eager=True)
    )
    glob = (
        lab.groupBy("dim")
        .agg(F.sum("s").cast(_DEC).alias("g"))
        .localCheckpoint(eager=True)
    )
    gn = glob.agg(F.sum(F.col("g") * F.col("g")).alias("g2"))
    per = (
        lab.join(F.broadcast(glob), "dim")
        .groupBy("label")
        .agg(
            F.sum(F.col("s") * F.col("g")).alias("dot"),
            F.sum(F.col("s") * F.col("s")).alias("l2"),
            F.max("n_rows").alias("n_vecs"),
        )
    )
    return per.crossJoin(F.broadcast(gn)).select(
        "label",
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.floor(
            F.col("dot").cast("double")
            * 1000000
            / F.sqrt(F.col("l2").cast("double") * F.col("g2").cast("double"))
        )
        .cast("long")
        .alias("cos_e6"),
    )


@declared(
    "q_embedding_covariance_exact",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
               AS q
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id,
             unnest(generate_series(0, len(q) - 1)) AS d,
             unnest(q) AS v
      FROM q
    ),
    marg AS (
      SELECT d, SUM(CAST(v AS DECIMAL(38,0))) AS s FROM ex GROUP BY d
    ),
    cells AS (
      SELECT a.d AS i, b.d AS j,
             CAST(COUNT(*) AS BIGINT) AS n_vecs,
             SUM(CAST(a.v * b.v AS DECIMAL(38,0))) AS sij
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.d >= a.d
      GROUP BY a.d, b.d
    )
    SELECT c.i, c.j, c.n_vecs,
           CAST(c.sij AS VARCHAR) AS sij,
           CAST(ma.s AS VARCHAR) AS si,
           CAST(mb.s AS VARCHAR) AS sj,
           round((c.n_vecs * CAST(c.sij AS DOUBLE)
                  - CAST(ma.s AS DOUBLE) * CAST(mb.s AS DOUBLE))
                 / c.n_vecs / c.n_vecs, 2) AS cov12
    FROM cells c
    JOIN marg ma ON ma.d = c.i
    JOIN marg mb ON mb.d = c.j
    """,
)
def q_embedding_covariance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact upper-triangle covariance cells of the embedding space:
    per (i, j<=i..d-1) — vector count, the exact DECIMAL(38,0)
    quantized co-moment sij = SUM(q_i*q_j) and marginals si/sj, and
    cov12 = (n*sij - si*sj)/n² (the covariance scaled by 1e12, one
    fixed IEEE parenthesization rounded to 2dp). Spark reduces each
    partition to its exact integer Gram matrix with ONE Arrow-batched
    numpy matmul (operators/vector_stats.py — vectors never shuffle;
    only (i, j, decimal) partial cells do, and the cell + marginal
    consumers share a single checkpointed scan); the oracle
    reconstructs the same cells by an explicit position self-join.
    The d-row marginal table broadcasts onto the bounded cell table
    twice."""
    mom = quantized_moments(spark, sf_dir)
    cells = pair_cells(mom)
    marg = marginals(mom)
    ma = marg.select(F.col("d").alias("i"), F.col("s").alias("si"))
    mb = marg.select(F.col("d").alias("j"), F.col("s").alias("sj"))
    out = cells.join(F.broadcast(ma), "i").join(F.broadcast(mb), "j")
    nm = F.col("n_vecs")
    cov12 = F.round(
        (nm * F.col("sij").cast("double")
         - F.col("si").cast("double") * F.col("sj").cast("double"))
        / nm
        / nm,
        2,
    )
    # exact decimals project to STRING: DECIMAL output is never-safe in
    # the driver's pandas fetch (DuckDB decimal -> float64 vs Spark
    # scale-keeping strings — the r1 q_cast_types failure class)
    return out.select(
        "i",
        "j",
        "n_vecs",
        F.col("sij").cast("string").alias("sij"),
        F.col("si").cast("string").alias("si"),
        F.col("sj").cast("string").alias("sj"),
        cov12.alias("cov12"),
    )


@declared("q_embedding_pca_power")  # rows-only: driver-side eigensolve
def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus — two-phase
    distributed PCA: the cluster reduces the corpus to the exact
    quantized co-moment cells (pair_cells over quantized_moments —
    the only fact-touching job), the driver assembles the d x d
    covariance and
    power-iterates (200 fixed steps from the all-ones direction —
    deterministic; sign normalized so the largest-|loading| dimension
    is positive). Output: per dimension, the unit-vector loading in
    floored micro-units and the component's explained-variance share
    (same value each row). The d^2 collect is bounded by construction
    (a config constant, 64^2 here) — the documented-allowed collect
    class. Rows-only by design: an eigensolve has no SQL twin; the
    staged-geometry law pytest pins axis recovery and the explained
    share."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("dim", LongType(), False),
            StructField("loading_e6", LongType(), False),
            StructField("explained_share_e6", LongType(), False),
        ]
    )
    mom = quantized_moments(spark, sf_dir)
    cells = pair_cells(mom).collect()
    marg = {int(r.d): int(r.s) for r in marginals(mom).collect()}
    if not cells:
        return spark.createDataFrame([], schema)

    import numpy as np

    from datawarehouse1_spark.operators.vector_stats import assemble_covariance

    cov = assemble_covariance(cells, marg)
    d = cov.shape[0]
    v = np.ones(d, dtype=np.float64) / np.sqrt(d)
    for _ in range(200):
        w = cov @ v
        nrm = float(np.sqrt((w * w).sum()))
        if nrm == 0.0:
            break
        v = w / nrm
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    trace = float(np.trace(cov))
    explained = float(v @ cov @ v) / trace if trace > 0 else 0.0
    exp_e6 = int(np.floor(explained * 1_000_000))
    rows = [
        (int(k), int(np.floor(float(v[k]) * 1_000_000)), exp_e6)
        for k in range(d)
    ]
    return spark.createDataFrame(rows, schema)


K = 8

_QUANT = (
    "transform(embedding,"
    " v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
)


@declared(
    "q_embedding_cluster_balance",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
               AS q
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, q AS cq FROM q WHERE vec_id < {K}),
    d AS (
      SELECT q.vec_id, c.cid,
             CAST(list_sum(list_transform(range(1, len(q.q) + 1),
                    i -> (q.q[i] - c.cq[i]) * (q.q[i] - c.cq[i])))
                  AS BIGINT) AS dist
      FROM q, c
    ),
    best AS (
      SELECT vec_id, (min({{'d': dist, 'cid': cid}})).cid AS cid,
             (min({{'d': dist, 'cid': cid}})).d AS dist
      FROM d GROUP BY vec_id
    ),
    agg AS (
      SELECT cid, COUNT(*) AS n_vecs, SUM(CAST(dist AS HUGEINT)) AS inertia
      FROM best GROUP BY cid
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(n_vecs * 1000000 // SUM(n_vecs) OVER () AS BIGINT)
             AS share_e6,
           CAST(inertia // n_vecs AS BIGINT) AS inertia_mean_q
    FROM agg
    """,
)
def q_embedding_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment balance over k=8 identity-fixed
    centroids: per cluster — member count, floored micro-share of the
    corpus, and mean exact quantized squared-L2 inertia.  Ties go to
    the lower centroid id (min over struct(dist, cid), bit-identical
    across engines).  The centroid set is ONE collected 8-struct row
    broadcast onto the corpus; assignment is a JVM array fold (k and
    d are config constants); the single exchange is the 8-row cluster
    aggregate."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings")
    q = e.select("vec_id", F.expr(_QUANT).alias("q"))
    cents = (
        q.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cq")))
            ).alias("cs")
        )
    )
    best = q.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.expr(
            """
            aggregate(
              cs,
              named_struct('d', CAST(9223372036854775807 AS BIGINT),
                           'cid', CAST(-1 AS BIGINT)),
              (acc, c) -> CASE
                WHEN named_struct(
                       'd', aggregate(zip_with(q, c.cq,
                              (x, y) -> (x - y) * (x - y)),
                            CAST(0 AS BIGINT), (a, b) -> a + b),
                       'cid', c.cid) < acc
                THEN named_struct(
                       'd', aggregate(zip_with(q, c.cq,
                              (x, y) -> (x - y) * (x - y)),
                            CAST(0 AS BIGINT), (a, b) -> a + b),
                       'cid', c.cid)
                ELSE acc END)
            """
        ).alias("b"),
    ).select(
        "vec_id", F.col("b.cid").alias("cid"), F.col("b.d").alias("dist")
    # an empty centroid set leaves the fold at its cid=-1 init value;
    # drop those rows so the degenerate corpus yields ZERO rows exactly
    # like the oracle's empty cross join (review finding)
    ).filter(F.col("cid") >= 0)
    agg = best.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr("SUM(CAST(dist AS DECIMAL(38,0)))").alias("inertia"),
    )
    w = Window.partitionBy()
    return agg.select(
        F.col("cid").cast("long").alias("cluster_id"),
        "n_vecs",
        F.expr("n_vecs * 1000000").alias("_num"),
        F.sum("n_vecs").over(w).alias("_den"),
        F.expr("inertia div n_vecs").cast("long").alias("inertia_mean_q"),
    ).select(
        "cluster_id",
        "n_vecs",
        F.expr("_num div _den").cast("long").alias("share_e6"),
        "inertia_mean_q",
    )


@declared(
    "q_embedding_cluster_purity",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
               AS q
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, q AS cq FROM q WHERE vec_id < {K}),
    d AS (
      SELECT q.vec_id, q.label, c.cid,
             CAST(list_sum(list_transform(range(1, len(q.q) + 1),
                    i -> (q.q[i] - c.cq[i]) * (q.q[i] - c.cq[i])))
                  AS BIGINT) AS dist
      FROM q, c
    ),
    best AS (
      SELECT vec_id, label, (min({{'d': dist, 'cid': cid}})).cid AS cid
      FROM d GROUP BY vec_id, label
    ),
    cell AS (
      SELECT cid, label, COUNT(*) AS n FROM best GROUP BY cid, label
    ),
    major AS (
      SELECT cid,
             SUM(n) AS n_members,
             (min({{'negn': -n, 'label': label}})).label AS majority_label,
             -(min({{'negn': -n, 'label': label}})).negn AS n_majority
      FROM cell GROUP BY cid
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(majority_label AS INT) AS majority_label,
           CAST(n_majority AS BIGINT) AS n_majority,
           CAST(n_majority * 1000000 // n_members AS BIGINT)
             AS purity_e6
    FROM major
    """,
)
def q_embedding_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster label purity over the k={K} identity-fixed
    nearest-centroid assignment: member count, the majority label
    (ties to the LOWER label via min over struct(-count, label)), its
    member count, and purity in floored micro-units.  Same exact
    quantized-distance assignment as q_embedding_cluster_balance
    (vectors never shuffle; the centroid set broadcasts as one
    collected row); the (cluster, label) contingency and the majority
    election are bounded aggregates."""
    e = table(spark, sf_dir, "embeddings")
    q = e.select("vec_id", "label", F.expr(_QUANT).alias("q"))
    cents = (
        q.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cq")))
            ).alias("cs")
        )
    )
    best = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "label",
            F.expr(
                """
                aggregate(
                  cs,
                  named_struct('d', CAST(9223372036854775807 AS BIGINT),
                               'cid', CAST(-1 AS BIGINT)),
                  (acc, c) -> CASE
                    WHEN named_struct(
                           'd', aggregate(zip_with(q, c.cq,
                                  (x, y) -> (x - y) * (x - y)),
                                CAST(0 AS BIGINT), (a, b) -> a + b),
                           'cid', c.cid) < acc
                    THEN named_struct(
                           'd', aggregate(zip_with(q, c.cq,
                                  (x, y) -> (x - y) * (x - y)),
                                CAST(0 AS BIGINT), (a, b) -> a + b),
                           'cid', c.cid)
                    ELSE acc END).cid
                """
            ).alias("cid"),
        )
        .filter(F.col("cid") >= 0)
    )
    cell = best.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("n"))
    major = cell.groupBy("cid").agg(
        F.sum("n").alias("n_members"),
        F.min(
            F.struct((-F.col("n")).alias("negn"), F.col("label"))
        ).alias("m"),
    )
    return major.select(
        F.col("cid").cast("long").alias("cluster_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("m.label").cast("int").alias("majority_label"),
        (-F.col("m.negn")).cast("long").alias("n_majority"),
        F.expr("-m.negn * 1000000 div n_members")
        .cast("long")
        .alias("purity_e6"),
    )


# ---------------------------------------------------------------------------
# kNN label agreement (leave-one-out majority vote)
# ---------------------------------------------------------------------------


@declared(
    "q_embedding_knn_label_agreement",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS q_label
      FROM embeddings WHERE vec_id < {N_QUERY_VECTORS}
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, label AS n_label
      FROM embeddings
    ),
    top AS (
      SELECT query_id, q_label, n_label FROM (
        SELECT query_id, q_label, n_label,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY {sql_cosine('qv', 'cv')} DESC, neighbor_id
               ) AS rnk
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
      ) WHERE rnk <= {TOP_K}
    ),
    votes AS (
      SELECT query_id, q_label, n_label, COUNT(*) AS cnt
      FROM top GROUP BY 1, 2, 3
    ),
    maj AS (
      SELECT query_id, q_label, n_label AS maj_label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cnt DESC, n_label
        ) AS rn FROM votes
      ) WHERE rn = 1
    )
    SELECT q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) FILTER (WHERE maj_label = q_label) AS BIGINT)
             AS n_agree,
           CAST(COUNT(*) FILTER (WHERE maj_label = q_label)
                * CAST(1000000 AS HUGEINT) // COUNT(*) AS BIGINT)
             AS agree_ppm
    FROM maj GROUP BY q_label
    """,
)
def q_embedding_knn_label_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out 5-NN majority-vote label consistency per label —
    the standard embedding-space quality probe (a good space places
    same-label points together), and the supervised companion to
    q_embedding_cluster_purity.  The vote is engine-portable because
    the neighbor rank reuses q_similarity_cosine_topk's deterministic
    left-to-right double fold with the (cos DESC, neighbor_id)
    tie-break, and the majority pick breaks count ties on the smaller
    label; the agreement rate is an exact floored ppm.  Plan: broadcast
    the bounded query set against candidate partitions (the big side
    never shuffles — the LSH/IVF operators are the corpus² scale
    path); every later stage is over q·k rows."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("n_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "q_label",
            "n_label",
            "neighbor_id",
            cosine("qv", "cv").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    top = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    votes = top.groupBy("query_id", "q_label", "n_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cnt"), F.asc("n_label")
    )
    maj = (
        votes.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("query_id", "q_label", F.col("n_label").alias("maj_label"))
    )
    return maj.groupBy(F.col("q_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count(F.when(F.col("maj_label") == F.col("q_label"), 1)).alias(
            "n_agree"
        ),
        F.expr(
            "CAST((count(CASE WHEN maj_label = q_label THEN 1 END)"
            " * 1000000) div count(1) AS BIGINT)"
        ).alias("agree_ppm"),
    )

