"""Round-12 analytics, batch 1: rank statistics, model-eval AUC,
privacy risk profiling, dependency discovery, and collocation mining.

Five operators a training-data warehouse runs that nothing in the
r1-r11 surface covers:

* **Spearman rank correlation** — the robust companion to
  q_stats_corr_matrix's Pearson: monotone association on ranks, immune
  to the heavy-tailed money columns' leverage points.  Exact: average
  ranks carried as the INTEGER 2·rank (2r = 2·cnt_less + cnt_eq + 1),
  Pearson assembled from exact DECIMAL(38,0) co-moments — only
  per-value aggregates (the x marginal, the y marginal with its x
  moments) ever shuffle.

* **ROC-AUC by group** — evaluates a score column against a binary
  label per source via the rank-sum identity AUC = U/(n1·n0); the
  pipeline's standard check of "is this quality signal predictive?".
  Same integer 2r machinery, so the AUC is an exact floored e6 ratio.

* **k-anonymity report** — privacy risk profile of a quasi-identifier
  tuple: equivalence-class size histogram (floor-log2 buckets, no
  libm), rows-at-risk below the k=5 threshold, and the worst
  l-diversity of a sensitive flag per bucket.  What a curation
  pipeline reads before releasing user-derived training data.

* **Functional-dependency discovery** — data profiling over declared
  candidate FDs det→dep: |distinct det| vs |distinct (det,dep)| and
  the count of violating determinant groups.  Key checks (the PK
  candidates) fall out of the same arithmetic.

* **PMI collocations** — corpus collocation mining: top bigrams by
  pointwise mutual information, ranked by the EXACT integer lift
  N·c(xy)·1e6 // (c(x)·c(y)) (a monotone transform of PMI, so the
  ranking is PMI's without a libm log in the hashed output).

Exactness discipline (SCALE.md rule 20/27): every statistic reduces to
integer/DECIMAL(38,0) sums; floats appear only in one final IEEE
cast-div-sqrt-round per output; every floored quotient has a
non-negative numerator so Spark `div`-truncation == DuckDB `//`-floor.
Rank cumsums go through queries/deciles.py::running_sum (rule 22:
within fixed-width value buckets + a tiny bucket-offset summary), never
a global window over per-value rows.

Reference parity: the reference ETL (etl/app.py) has no analytics
surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.arrays import word_ngrams
from datawarehouse1_spark.functions.money import money_units_long, sql_cents
from datawarehouse1_spark.functions.text_tokens import WORD_TOKENS_SQL, word_tokens
from datawarehouse1_spark.queries.deciles import running_sum
from datawarehouse1_spark.registry import declared
from datawarehouse1_spark.state_memo import rotate_checkpoint

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# 1. Spearman rank correlation (exact, tie-corrected via average ranks)
# ---------------------------------------------------------------------------

# (x, y, bucket width of x in cents, bucket width of y in cents)
_SPEARMAN_PAIRS = (
    ("l_quantity", "l_extendedprice", 1_000, 2_500_000),
    ("l_discount", "l_tax", 2, 2),
)


def _spearman_ctes_sql(i: int, x: str, y: str) -> str:
    """One pair's CTE chain, name-suffixed so all pairs share a single
    top-level WITH (DuckDB rejects WITH inside UNION ALL arms)."""
    return f"""
    joint_{i} AS (
      SELECT {sql_cents(x)} AS xv, {sql_cents(y)} AS yv,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    rx_{i} AS (
      SELECT v AS xv,
             2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2x
      FROM (SELECT xv AS v, SUM(cnt) AS c FROM joint_{i} GROUP BY xv)
    ),
    ry_{i} AS (
      SELECT v AS yv,
             2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2y
      FROM (SELECT yv AS v, SUM(cnt) AS c FROM joint_{i} GROUP BY yv)
    ),
    s_{i} AS (
      SELECT CAST(SUM(cnt) AS DECIMAL(38,0)) AS n,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2x) AS sx,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2y) AS sy,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2x * r2x) AS sxx,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2y * r2y) AS syy,
             SUM(CAST(cnt AS DECIMAL(38,0)) * r2x * r2y) AS sxy
      FROM joint_{i} JOIN rx_{i} USING (xv) JOIN ry_{i} USING (yv)
    )"""


def _spearman_select_sql(i: int, x: str, y: str) -> str:
    return f"""
    SELECT '{x}' AS col_x, '{y}' AS col_y,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0))
                 / sqrt(NULLIF(CAST(n * syy - sy * sy AS DOUBLE), 0)), 6)
             AS rho6
    FROM s_{i}"""


@declared(
    "q_stats_spearman_rho",
    oracle="WITH "
    + ",".join(
        _spearman_ctes_sql(i, x, y)
        for i, (x, y, _, _) in enumerate(_SPEARMAN_PAIRS)
    )
    + "\nUNION ALL\n".join(
        _spearman_select_sql(i, x, y)
        for i, (x, y, _, _) in enumerate(_SPEARMAN_PAIRS)
    ),
)
def q_stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation over lineitem measure pairs — the
    outlier-robust monotone-association twin of q_stats_corr_matrix.
    Exactness: average ranks travel as the integer 2r = 2·cnt_less +
    cnt_eq + 1 (the ·2 cancels in Pearson's r), co-moments accumulate
    as exact DECIMAL(38,0), and the only float ops are the final
    cast/divide/sqrt/round — both engines emit the identical rho6.
    Scale shape: each lineitem row posexplodes into one (pair-id, xv,
    yv) struct per declared pair, so every pair shares each pass and
    each exchange (the r14 merge; it was one scan and exchange PER
    pair). Two passes over the fact: a map-side-combined x marginal,
    bounded by the x domains, and the (pid, yv) y marginal with the
    x-moment partials folded in, which is checkpointed. Both ranks
    come from queries/deciles.py::running_sum grouped by pid (rule 22:
    only bounded per-pid bucket summaries cross a window), with the
    per-pair bucket widths in a literal array indexed by pair id. Only
    the BOUNDED x-rank table is ever broadcast (r17, VERDICT r16 #4).
    The oracle text is unchanged (per-pair CTE chains); the hash match
    pins the rewrite."""
    li = table(spark, sf_dir, "lineitem")
    # one (pid, xv, yv) row per fact row and declared pair
    pairs = li.select(
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        money_units_long(x).alias("xv"),
                        money_units_long(y).alias("yv"),
                    )
                    for x, y, _, _ in _SPEARMAN_PAIRS
                ]
            )
        ).alias("pid", "s")
    ).select("pid", F.col("s.xv").alias("xv"), F.col("s.yv").alias("yv"))
    wx_arr = F.array(*[F.lit(wx) for _, _, wx, _ in _SPEARMAN_PAIRS])
    wy_arr = F.array(*[F.lit(wy) for _, _, _, wy in _SPEARMAN_PAIRS])
    mx = pairs.groupBy("pid", F.col("xv").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # x ranks: the x columns are DOMAIN-BOUNDED (l_quantity 1..50,
    # l_discount 0.00..0.10 → ≤ ~61 distinct cents values across all
    # pairs at ANY corpus scale), so the x-rank table broadcasts by
    # construction — made explicit so a production size estimate can
    # never flip it to a shuffle join (guide §3.1).
    rx = running_sum(
        mx, "v", ["c"], F.element_at(wx_arr, F.col("pid") + 1), by=["pid"]
    ).select(
        "pid",
        F.col("v").alias("xv"),
        (2 * F.col("c_before") + F.col("c") + 1).cast("long").alias("r2x"),
    )
    # The y ranks run on the (pid, yv)-grain y marginal with the
    # x-moment partial sums folded into the same aggregation: the
    # unbounded y-rank table is never broadcast or joined back (pair
    # 0's y, l_extendedprice, is near-unique, so that join would be
    # FACT-GRAIN). Exactness is reassociation only: Σ_rows f(r2x)·g(r2y)
    # = Σ_yv g(r2y)·(Σ_rows of yv f(r2x)) with every sum exact
    # DECIMAL(38,0) — the six moments are value-identical, so rho6 is
    # bit-identical (oracle hash-match pins it at 3 SFs).
    r2x = F.col("r2x").cast(_DEC)
    ty = (
        pairs.join(F.broadcast(rx), ["pid", "xv"])
        .groupBy("pid", "yv")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(r2x).alias("sxc"),
            F.sum(r2x * r2x).alias("sxxc"),
        )
    )
    # rule 12: both levels of the y running sum read ty; materializing
    # it keeps the fact scan, the x-rank join and the (pid, yv)
    # aggregate from running twice. NOTE pair 0's ty is fact-grain
    # (extendedprice is near-unique), so the checkpoint is bounded by
    # min(fact, |domain_y|) — at 100 TB prefer persist(DISK_ONLY)
    # semantics if executor storage is tight; the plan shape is
    # unchanged. rotate_checkpoint (ADVICE r14): each re-invocation in
    # a long-lived session unpersists the previous invocation's blocks.
    ty = rotate_checkpoint(ty, "spearman_ty")
    ranked = running_sum(
        ty, "yv", ["c"], F.element_at(wy_arr, F.col("pid") + 1), by=["pid"]
    ).select(
        "pid",
        "c",
        "sxc",
        "sxxc",
        (2 * F.col("c_before") + F.col("c") + 1).cast("long").alias("r2y"),
    )
    cy = F.col("c").cast(_DEC)
    s = ranked.groupBy("pid").agg(
        F.sum(cy).alias("n"),
        F.sum("sxc").alias("sx"),
        F.sum(cy * F.col("r2y")).alias("sy"),
        F.sum("sxxc").alias("sxx"),
        F.sum(cy * F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("sxc") * F.col("r2y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        ),
        F.lit(0.0),
    )
    dy = F.nullif(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        ),
        F.lit(0.0),
    )
    names_x = F.array(*[F.lit(x) for x, _, _, _ in _SPEARMAN_PAIRS])
    names_y = F.array(*[F.lit(y) for _, y, _, _ in _SPEARMAN_PAIRS])
    return s.select(
        F.element_at(names_x, F.col("pid") + 1).alias("col_x"),
        F.element_at(names_y, F.col("pid") + 1).alias("col_y"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / F.sqrt(dx) / F.sqrt(dy), 6).alias("rho6"),
    )


# ---------------------------------------------------------------------------
# 2. ROC-AUC of a score vs a binary label, per group (rank-sum identity)
# ---------------------------------------------------------------------------


@declared(
    "q_quality_auc_by_source",
    oracle="""
    WITH pv AS (
      SELECT source, n_chars,
             COUNT(*) FILTER (WHERE coalesce(lang, '') = 'en') AS p,
             COUNT(*) FILTER (WHERE coalesce(lang, '') <> 'en') AS q
      FROM documents GROUP BY source, n_chars
    ),
    r AS (
      SELECT source, p, q,
             2 * (SUM(p + q) OVER (PARTITION BY source ORDER BY n_chars)
                  - (p + q)) + (p + q) + 1 AS r2
      FROM pv
    ),
    s AS (
      SELECT source,
             CAST(SUM(p) AS DECIMAL(38,0)) AS n1,
             CAST(SUM(q) AS DECIMAL(38,0)) AS n0,
             SUM(CAST(p AS DECIMAL(38,0)) * r2) AS s2r
      FROM r GROUP BY source
    )
    SELECT source,
           CAST(n1 AS BIGINT) AS n_pos,
           CAST(n0 AS BIGINT) AS n_neg,
           CAST(CAST((s2r - n1 * (n1 + 1)) * 500000 AS HUGEINT)
                // NULLIF(CAST(n1 * n0 AS HUGEINT), 0) AS BIGINT) AS auc_e6
    FROM s
    """,
)
def q_quality_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC-AUC of document length predicting the English
    label — the standard "is this signal predictive?" evaluation a
    curation pipeline runs on every candidate quality score.  Uses the
    rank-sum identity AUC = U/(n1·n0) with tie-corrected average ranks
    carried as integer 2r, so auc_e6 = (Σ_pos 2r − n1(n1+1))·5e5 //
    (n1·n0) is exact in both engines (numerator provably ≥ 0: any n1
    ranks sum to at least n1(n1+1)/2 — rule 27's happy path).  Scale:
    one exchange to the (source, score) grain; within-source rank
    cumsum is two-level per rule 22 (score buckets parallel, only the
    per-source bucket summary crosses a window); NULLIF guards the
    single-class degenerate source."""
    d = table(spark, sf_dir, "documents")
    is_en = F.coalesce(F.col("lang"), F.lit("")) == "en"
    pv = d.groupBy("source", "n_chars").agg(
        F.count(F.when(is_en, 1)).alias("p"),
        F.count(F.when(~is_en, 1)).alias("q"),
    )
    ranked = running_sum(
        pv.withColumn("pq", F.col("p") + F.col("q")),
        "n_chars",
        ["pq"],
        1024,
        by=["source"],
    ).select(
        "source",
        "p",
        "q",
        (2 * F.col("pq_before") + F.col("pq") + 1).cast(_DEC).alias("r2"),
    )
    s = ranked.groupBy("source").agg(
        F.sum("p").cast(_DEC).alias("n1"),
        F.sum("q").cast(_DEC).alias("n0"),
        F.sum(F.col("p").cast(_DEC) * F.col("r2")).alias("s2r"),
    )
    # exact integral division (`div` / HUGEINT `//`), NOT
    # floor(decimal `/`): Spark's decimal divide rounds HALF_UP at the
    # result scale before the floor, and DuckDB's DECIMAL `//` rounds
    # too — an off-by-one when the true quotient sits near an integer.
    # Numerator >= 0 by the rank-sum bound (rule 27 happy path).
    return s.select(
        "source",
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        ((F.col("s2r") - F.col("n1") * (F.col("n1") + 1)) * F.lit(500000))
        .cast(_DEC)
        .alias("_num"),
        F.nullif(F.col("n1") * F.col("n0"), F.lit(0).cast(_DEC)).alias("_den"),
    ).select(
        "source",
        "n_pos",
        "n_neg",
        F.expr("_num div _den").cast("long").alias("auc_e6"),
    )


# ---------------------------------------------------------------------------
# 3. k-anonymity / l-diversity privacy risk report
# ---------------------------------------------------------------------------


@declared(
    "q_privacy_k_anonymity",
    oracle="""
    WITH cls AS (
      SELECT c_mktsegment, c_nationkey,
             COUNT(*) AS s,
             COUNT(DISTINCT CAST(c_acctbal < 0 AS INT)) AS ldiv
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    rep AS (
      SELECT (length(bin(s)) - 1) AS size_log2,
             CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(SUM(s) AS BIGINT) AS n_rows,
             CAST(MIN(s) AS BIGINT) AS min_size,
             CAST(SUM(CASE WHEN s < 5 THEN s ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             CAST(MIN(ldiv) AS BIGINT) AS min_l_div
      FROM cls GROUP BY 1
    )
    SELECT size_log2, n_classes, n_rows,
           CAST(CAST(n_rows AS HUGEINT) * 1000000
                // SUM(CAST(n_rows AS HUGEINT)) OVER ()
                AS BIGINT) AS rows_ppm,
           min_size, n_rows_at_risk, min_l_div
    FROM rep
    """,
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk profile of the (mktsegment, nationkey)
    quasi-identifier over customer: equivalence-class sizes histogram
    in floor-log2 buckets (length(bin(s))-1 — pure integer, no libm,
    the q_text_zipf_fit device), rows in classes below the k=5
    re-identification threshold, and the worst l-diversity of the
    delinquency flag (distinct sensitive values per class) in each
    bucket.  The privacy gate a pipeline reads before releasing
    user-derived training data.  Plan: one exchange to the QI grain
    (count-distinct of the binary flag stays inside the same
    aggregate), a ≤~15-row log2 histogram, and a window only over that
    bounded histogram for the ppm shares (numerators positive —
    rule 27 happy path)."""
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("s"),
        F.countDistinct((F.col("c_acctbal") < 0).cast("int")).alias("ldiv"),
    )
    rep = (
        cls.select(
            (F.length(F.bin(F.col("s"))) - 1).alias("size_log2"),
            "s",
            "ldiv",
        )
        .groupBy("size_log2")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("s").alias("n_rows"),
            F.min("s").alias("min_size"),
            F.sum(F.when(F.col("s") < 5, F.col("s")).otherwise(0)).alias(
                "n_rows_at_risk"
            ),
            F.min("ldiv").alias("min_l_div"),
        )
    )
    total = Window.partitionBy()
    return rep.select(
        "size_log2",
        "n_classes",
        "n_rows",
        (F.col("n_rows").cast(_DEC) * F.lit(1000000)).alias("_num"),
        F.sum(F.col("n_rows").cast(_DEC)).over(total).alias("_den"),
        "min_size",
        "n_rows_at_risk",
        "min_l_div",
    ).select(
        "size_log2",
        "n_classes",
        "n_rows",
        # exact `div`, not floor(decimal `/`) — see q_quality_auc_by_source
        F.expr("_num div _den").cast("long").alias("rows_ppm"),
        "min_size",
        "n_rows_at_risk",
        "min_l_div",
    )


# ---------------------------------------------------------------------------
# 4. Functional-dependency / candidate-key discovery
# ---------------------------------------------------------------------------

# (table, determinant columns, dependent column)
_FD_CASES = (
    ("orders", ("o_orderkey",), "o_custkey"),
    ("orders", ("o_custkey",), "o_orderpriority"),
    ("customer", ("c_custkey",), "c_mktsegment"),
    ("customer", ("c_mktsegment",), "c_nationkey"),
    ("lineitem", ("l_orderkey", "l_linenumber"), "l_partkey"),
    ("lineitem", ("l_partkey",), "l_suppkey"),
)


def _fd_arm_sql(tbl: str, det: tuple, dep: str) -> str:
    det_list = ", ".join(det)
    det_label = "+".join(det)
    return f"""
    SELECT '{tbl}' AS tbl, '{det_label}' AS det, '{dep}' AS dep,
           CAST(COUNT(*) AS BIGINT) AS n_det,
           CAST(SUM(nd) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT)
             AS n_violating_dets,
           (COUNT(*) FILTER (WHERE nd > 1)) = 0 AS holds
    FROM (SELECT {det_list}, COUNT(DISTINCT {dep}) AS nd
          FROM {tbl} GROUP BY {det_list})"""


@declared(
    "q_profile_fd_discovery",
    oracle="\nUNION ALL\n".join(_fd_arm_sql(*case) for case in _FD_CASES),
)
def q_profile_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over declared candidate FDs
    det→dep: a dependency holds iff no determinant group maps to more
    than one dependent value; the report carries |distinct det|,
    |distinct (det,dep)| and the violating-group count, so candidate
    keys verify and BAD candidates get rejected from the same
    arithmetic — in this synthetic data o_orderkey and c_custkey hold
    while (l_orderkey, l_linenumber) is correctly exposed as NOT a key
    (the generator does not enforce it).  The schema audit a warehouse
    runs before trusting an upsert key.
    Plan per case: groupBy(det) with a single countDistinct(dep) —
    Catalyst plans the two-level partial distinct (no Expand, rule 4),
    so each case is one exchange on the determinant plus a 1-row
    reduction; the six 1-row arms union driver-side free."""
    out = None
    for tbl, det, dep in _FD_CASES:
        t = table(spark, sf_dir, tbl)
        g = t.groupBy(*[F.col(c) for c in det]).agg(
            F.countDistinct(dep).alias("nd")
        )
        arm = g.agg(
            F.count(F.lit(1)).alias("n_det"),
            F.sum("nd").alias("n_pairs"),
            F.count(F.when(F.col("nd") > 1, 1)).alias("n_violating_dets"),
        ).select(
            F.lit(tbl).alias("tbl"),
            F.lit("+".join(det)).alias("det"),
            F.lit(dep).alias("dep"),
            F.col("n_det").cast("long").alias("n_det"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_violating_dets").cast("long").alias("n_violating_dets"),
            (F.col("n_violating_dets") == 0).alias("holds"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# 5. PMI collocations (exact integer lift ranking)
# ---------------------------------------------------------------------------




_PMI_MIN_COUNT = 5


@declared(
    "q_text_collocations_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT {WORD_TOKENS_SQL} AS t FROM documents
    ),
    uni AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    cb AS (
      SELECT bigram, COUNT(*) AS c_xy
      FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i+1]))
                     AS bigram
            FROM toks WHERE len(t) >= 2)
      GROUP BY bigram
    ),
    n AS (SELECT CAST(SUM(c_xy) AS HUGEINT) AS n_bi FROM cb),
    cand AS (
      SELECT bigram, c_xy,
             string_split(bigram, ' ')[1] AS w1,
             string_split(bigram, ' ')[2] AS w2
      FROM cb WHERE c_xy >= {_PMI_MIN_COUNT}
    )
    SELECT bigram,
           CAST(c_xy AS BIGINT) AS n_pair,
           CAST(u1.c AS BIGINT) AS n_w1,
           CAST(u2.c AS BIGINT) AS n_w2,
           CAST(CAST(c_xy AS HUGEINT) * n.n_bi * 1000000
                // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT)
             AS lift_e6
    FROM cand
    JOIN uni u1 ON cand.w1 = u1.w
    JOIN uni u2 ON cand.w2 = u2.w, n
    ORDER BY lift_e6 DESC, bigram LIMIT 20
    """,
)
def q_text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information over the
    documents corpus — the phrase-mining statistic (NLTK convention:
    PMI = ln(N·c(xy) / (c(x)·c(y))) with N = total bigram count).
    Ranked by the EXACT integer lift_e6 = N·c(xy)·1e6 // (c(x)·c(y)),
    a monotone transform of PMI, so the ranking and the hashed values
    carry no libm log (rule 20); both operands positive (rule 27);
    min-count {_PMI_MIN_COUNT} suppresses the degenerate
    hapax-pair PMI ceiling.  Plan: bigrams build inside one zip_with
    array expression (no token self-join), unigram and bigram counts
    partial-aggregate before their exchanges, the 1-row corpus total
    broadcasts, and the top-20 resolves as TakeOrderedAndProject with
    a full (lift, bigram) tie-break (rule 29)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(word_tokens().alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cb = (
        toks.filter(F.size("t") >= 2)
        .select(F.explode(word_ngrams(F.col("t"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    n = cb.agg(F.sum("c_xy").cast(_DEC).alias("n_bi"))
    cand = cb.filter(F.col("c_xy") >= _PMI_MIN_COUNT).select(
        "bigram",
        "c_xy",
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(n))
        .select(
            "bigram",
            F.col("c_xy").cast("long").alias("n_pair"),
            F.col("c_x").cast("long").alias("n_w1"),
            F.col("c_y").cast("long").alias("n_w2"),
            (F.col("c_xy").cast(_DEC) * F.col("n_bi") * F.lit(1000000))
            .alias("_num"),
            (F.col("c_x").cast(_DEC) * F.col("c_y")).alias("_den"),
        )
        .select(
            "bigram",
            "n_pair",
            "n_w1",
            "n_w2",
            # exact `div`, not floor(decimal `/`) — see q_quality_auc_by_source
            F.expr("_num div _den").cast("long").alias("lift_e6"),
        )
    )
    return scored.orderBy(F.desc("lift_e6"), F.asc("bigram")).limit(20)
