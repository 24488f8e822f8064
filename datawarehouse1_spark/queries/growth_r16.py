"""Round-16 surface-growth queries — STAGED, NOT YET DECLARED.

VERDICT r14 #8 resumes registry growth in r16, but r15's graded window
is reserved for the freshness rotation (never-graded queries front the
window by structural rule, which would evict the r9-vintage re-grades
the cycle needs).  These four queries are therefore implemented and
oracle-tested now (tests/test_r16_staging.py runs the same
compare_query loop the driver uses) and get their @declared decorators
+ a window rotation in r16: move each (name, fn) into STAGED_QUERIES'
registry form, add the module to queries._MODULES, and front the
window with the four names.

Four rungs a 100 TB training-data pipeline still lacked:
  * Kaplan-Meier life table of order→ship latency (survival analysis);
  * Good-Turing frequency smoothing (count-of-counts);
  * per-step-timeout conversion funnel (time-bounded chains);
  * conditional bigram predictability (KenLM-shaped quality gate).

All outputs are exact integers or floored e6 micro-units — no libm in
any hashed value (SCALE.md rule 20).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table

# ---------------------------------------------------------------- 1.

_KM_HORIZON = 60  # days: orders still open past this are right-censored


def q_orders_km_lifetable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier life table of order→ship latency, right-censored at
    a fixed {H}-day horizon: per event day t — the at-risk count, the
    event count, the discrete hazard, and the KM survival estimate in
    exact floored micro-units.

    Exactness: with ALL censoring at the single horizon H (the study
    design here), the KM product-limit estimator collapses EXACTLY to
    the empirical survival S(t) = (n − cumE(t))/n for t ≤ H — every
    at-risk set still contains the censored orders — so survival_e6 is
    one integer division, not a float product (rule 20), while
    n_at_risk and hazard_e6 still exercise the general life-table
    columns a multi-time-censoring extension would keep.

    Scale shape: the lineitem close aggregate and the orderkey join are
    the only fact exchanges; durations reduce to a ≤H+1-row day
    histogram (rule 22), and the cumulative window runs on that bounded
    table with the 1-row total broadcast back.
    """
    li = table(spark, sf_dir, "lineitem")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_date")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("placed")
    )
    dur = (
        o.join(close, o.o_orderkey == close.l_orderkey)
        .select(F.datediff("close_date", "placed").alias("d"))
        .filter(F.col("d") >= 0)
    )
    # the bounded day histogram feeds BOTH the total and the event
    # branch; localCheckpoint runs the fact join once (SCALE.md rule 12
    # — without it the orders+lineitem subtree re-executes per consumer)
    hist = (
        dur.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    total = hist.agg(F.sum("n").alias("n_total"))
    events = hist.filter(F.col("d") <= _KM_HORIZON)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = events.select(
        "d", "n", F.sum("n").over(w).alias("cum_e")
    ).crossJoin(F.broadcast(total))
    return cum.select(
        F.col("d").cast("long").alias("duration_days"),
        (F.col("n_total") - F.col("cum_e") + F.col("n"))
        .cast("long")
        .alias("n_at_risk"),
        F.col("n").cast("long").alias("n_events"),
        F.expr("n * 1000000 div (n_total - cum_e + n)")
        .cast("long")
        .alias("hazard_e6"),
        F.expr("(n_total - cum_e) * 1000000 div n_total")
        .cast("long")
        .alias("survival_e6"),
    )


KM_LIFETABLE_ORACLE = f"""
    WITH close AS (
      SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_date
      FROM lineitem GROUP BY l_orderkey
    ),
    dur AS (
      SELECT date_diff('day', CAST(o.o_orderdate AS DATE), c.close_date) AS d
      FROM orders o JOIN close c ON o.o_orderkey = c.l_orderkey
      WHERE date_diff('day', CAST(o.o_orderdate AS DATE), c.close_date) >= 0
    ),
    hist AS (SELECT d, COUNT(*) AS n FROM dur GROUP BY d),
    total AS (SELECT SUM(n) AS n_total FROM hist),
    cum AS (
      SELECT d, n, SUM(n) OVER (ORDER BY d
                                ROWS UNBOUNDED PRECEDING) AS cum_e
      FROM hist WHERE d <= {_KM_HORIZON}
    )
    SELECT CAST(d AS BIGINT) AS duration_days,
           CAST(n_total - cum_e + n AS BIGINT) AS n_at_risk,
           CAST(n AS BIGINT) AS n_events,
           CAST(n * 1000000 // (n_total - cum_e + n) AS BIGINT) AS hazard_e6,
           CAST((n_total - cum_e) * 1000000 // n_total AS BIGINT)
             AS survival_e6
    FROM cum, total
"""

# ---------------------------------------------------------------- 2.

_GT_MAX_R = 10  # Good-Turing is a small-count correction by design


def q_text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing over the corpus BIGRAM counts:
    for observed counts r = 1..{R}, the type count N_r, N_{{r+1}}, and
    the smoothed count r* = (r+1)·N_{{r+1}}/N_r in floored micro-units
    — the language-modeling mass-reallocation estimate (how much
    probability the unseen tail deserves is N_1/N, and r* < r exactly
    where the spectrum says so).  Bigrams, not unigrams, because GT is
    a SMALL-COUNT correction and the synthetic corpus's unigram
    vocabulary is tiny and uniform (no counts below ~29 at sf0.001) —
    the bigram spectrum is singleton-heavy at every SF, the regime GT
    exists for.  Integer arithmetic end to end.

    Scale shape: one (bigram) exchange to pair frequencies, one
    bounded count-of-counts aggregate (≤ max count rows), and a
    self-join of that bounded spectrum on r+1 — nothing row-scale
    after the first aggregate.
    """
    from datawarehouse1_spark.functions.arrays import word_ngrams

    d = table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    tf = (
        d.select(toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(F.explode(word_ngrams(F.col("t"), 2)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # bounded count-of-counts table, checkpointed for the self-join
    # (rule 12: without it the bigram aggregate re-runs on both sides)
    spectrum = (
        tf.groupBy(F.col("c").alias("r"))
        .agg(F.count(F.lit(1)).alias("n_types"))
        .localCheckpoint(eager=True)
    )
    nxt = spectrum.select(
        (F.col("r") - 1).alias("r"), F.col("n_types").alias("n_types_next")
    )
    joined = (
        spectrum.filter(F.col("r") <= _GT_MAX_R)
        .join(F.broadcast(nxt), "r", "left_outer")
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_types").cast("long").alias("n_types"),
            F.coalesce("n_types_next", F.lit(0))
            .cast("long")
            .alias("n_types_next"),
        )
    )
    return joined.withColumn(
        "r_star_e6",
        F.expr("(r + 1) * n_types_next * 1000000 div n_types").cast("long"),
    )


GOOD_TURING_ORACLE = f"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    tf AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(1, len(t) - 1 + 1),
                                     i -> t[i] || ' ' || t[i+1])) AS w
        FROM toks WHERE len(t) >= 2
      ) GROUP BY w
    ),
    spectrum AS (SELECT c AS r, COUNT(*) AS n_types FROM tf GROUP BY c)
    SELECT CAST(s.r AS BIGINT) AS r,
           CAST(s.n_types AS BIGINT) AS n_types,
           CAST(COALESCE(n.n_types, 0) AS BIGINT) AS n_types_next,
           CAST((s.r + 1) * COALESCE(n.n_types, 0) * 1000000 // s.n_types
                AS BIGINT) AS r_star_e6
    FROM spectrum s LEFT JOIN spectrum n ON n.r = s.r + 1
    WHERE s.r <= {_GT_MAX_R}
"""

# ---------------------------------------------------------------- 3.


def q_events_funnel_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step-timeout conversion funnel: the first view starts the
    clock, a click counts only within 1 HOUR of that first view, and a
    purchase only within 24 HOURS of that qualifying click — the
    time-bounded chain semantics real attribution windows use (the
    unbounded variant is q_events_funnel_conversion).  Steps bind to
    the FIRST qualifying event (min ts), so the chain is deterministic.

    Scale shape: three user-grain aggregates, each reached by one
    user-keyed exchange Catalyst reuses (the per-user scalars join
    back broadcast-free on the same key); the 3-row report is
    driver-free.
    """
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    # each step's per-user scalar table checkpoints (rule 12): the
    # chain is inherently sequential (t2 needs t1, t3 needs t2), and
    # without the cut t3's plan re-executes the whole t1->t2 subtree —
    # measured 6 event scans collapsing to the honest 3 (one filtered
    # pass per step)
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=True)
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(
            (F.col("ts") >= F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint(eager=True)
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(
            (F.col("ts") >= F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
        .localCheckpoint(eager=True)
    )
    t = (
        t1.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(t2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(t3.agg(F.count(F.lit(1)).alias("n3")))
    )
    return t.selectExpr(
        """
        inline(array(
          struct(1 AS step, 'view' AS step_name, n1 AS n_users,
                 CAST(NULL AS BIGINT) AS conv_from_prev_e6),
          struct(2 AS step, 'click_1h' AS step_name, n2 AS n_users,
                 CAST(n2 * 1000000 div nullif(n1, 0) AS BIGINT)
                   AS conv_from_prev_e6),
          struct(3 AS step, 'purchase_24h' AS step_name, n3 AS n_users,
                 CAST(n3 * 1000000 div nullif(n2, 0) AS BIGINT)
                   AS conv_from_prev_e6)
        ))
        """
    )


FUNNEL_TIMEOUT_ORACLE = """
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= t1.t1 AND e.ts <= t1.t1 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN t2 ON t2.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= t2.t2 AND e.ts <= t2.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ),
    t AS (
      SELECT (SELECT COUNT(*) FROM t1) AS n1,
             (SELECT COUNT(*) FROM t2) AS n2,
             (SELECT COUNT(*) FROM t3) AS n3
    )
    SELECT 1 AS step, 'view' AS step_name, n1 AS n_users,
           CAST(NULL AS BIGINT) AS conv_from_prev_e6 FROM t
    UNION ALL
    SELECT 2, 'click_1h', n2,
           CAST(n2 * 1000000 // nullif(n1, 0) AS BIGINT) FROM t
    UNION ALL
    SELECT 3, 'purchase_24h', n3,
           CAST(n3 * 1000000 // nullif(n2, 0) AS BIGINT) FROM t
"""

# ---------------------------------------------------------------- 4.


def q_text_bigram_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram predictability per document — the
    KenLM-shaped quality gate: each bigram occurrence scores the
    floored e6 conditional frequency c(w1 w2)/c(w1 ·) (how predictable
    is the continuation given the head, over the corpus), and a doc
    reports the floored mean of its occurrence scores.  Template spam
    scores near 1e6 (every continuation deterministic), gibberish near
    0 — the CONDITIONAL companion of q_text_bigram_novelty's unigram
    membership test, with no libm log anywhere.

    Scale shape: one explode feeds a (bigram) count aggregate; head
    totals reduce from that bounded bigram table (not from the
    occurrence stream); per-bigram ratios join back onto the
    occurrences by bigram key; the final exchange is the doc-grain
    mean.  Only (doc_id, bigram) pairs and bounded count tables ever
    shuffle.
    """
    from datawarehouse1_spark.functions.arrays import word_ngrams

    d = table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    grams = (
        d.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(word_ngrams(F.col("t"), 2)).alias("bg"))
    )
    # the bounded bigram-count table feeds the head totals AND the
    # ratio join-back; checkpointing it keeps the tokenize+explode
    # subtree at two scans (build + occurrence join) instead of three
    bt = (
        grams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .localCheckpoint(eager=True)
    )
    heads = (
        bt.select(F.substring_index("bg", " ", 1).alias("w1"), "c_xy")
        .groupBy("w1")
        .agg(F.sum("c_xy").alias("c_x"))
    )
    ratios = (
        bt.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(heads, "w1")
        .select("bg", F.expr("c_xy * 1000000 div c_x").alias("ratio_e6"))
    )
    return (
        grams.join(ratios, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.expr("sum(ratio_e6) div count(1)").cast("long").alias(
                "predictability_e6"
            ),
        )
    )


BIGRAM_CONDITIONAL_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1 + 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bg
      FROM toks WHERE len(t) >= 2
    ),
    bt AS (SELECT bg, COUNT(*) AS c_xy FROM grams GROUP BY bg),
    heads AS (
      SELECT string_split(bg, ' ')[1] AS w1, SUM(c_xy) AS c_x
      FROM bt GROUP BY 1
    ),
    ratios AS (
      SELECT bt.bg, bt.c_xy * 1000000 // h.c_x AS ratio_e6
      FROM bt JOIN heads h ON string_split(bt.bg, ' ')[1] = h.w1
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(r.ratio_e6) // COUNT(*) AS BIGINT) AS predictability_e6
    FROM grams g JOIN ratios r ON g.bg = r.bg
    GROUP BY g.doc_id
"""

# ---------------------------------------------------------------- 5.

_RESERVOIR_K = 5
_RESERVOIR_SEED = "r42"


def q_sample_reservoir_stratified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seeded uniform reservoir sample, k={K} per language stratum —
    the third sampling tier beside PPS-systematic and exact stratified:
    rank key = md5(seed:doc_id), so the survivor set is a pure function
    of (seed, identity) — engines, reruns, retried tasks, and corpus
    REORDERINGS all agree, and bumping the seed redraws the whole
    reservoir (the property a data-mix ablation needs).  Classic
    reservoir sampling is stream-order-dependent; the hash-rank form is
    its deterministic distributed equivalent (uniform because md5 is
    uniform on identities).

    Scale shape: one narrow projection, one lang-keyed window over
    (hash, id) — per-stratum groups, no global sort; only
    (lang, doc_id, 16-byte rank) tuples shuffle.
    """
    d = table(spark, sf_dir, "documents")
    rank_key = F.md5(
        F.concat(
            F.lit(_RESERVOIR_SEED + ":"), F.col("doc_id").cast("string")
        )
    )
    w = Window.partitionBy("lang").orderBy(rank_key.asc(), F.col("doc_id").asc())
    return (
        d.select("lang", "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RESERVOIR_K)
    )


RESERVOIR_ORACLE = f"""
    SELECT lang, doc_id, rnk FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('{_RESERVOIR_SEED}:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rnk
      FROM documents
    ) WHERE rnk <= {_RESERVOIR_K}
"""

# ---------------------------------------------------------------- 6.


def q_curation_url_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """URL-keyed holdout decontamination: an eval (val/test) document
    is CONTAMINATED if its canonical host+path — scheme/www/case/
    query/fragment stripped, the page-identity key — also appears
    among train documents.  The n-gram leakage report catches copied
    TEXT; this catches the same PAGE crawled twice into different
    splits (the usual eval-contamination vector), using the staged
    URL variants from the url-normalize family and the md5 split rule
    shared with q_split_train_holdout.  Per holdout split: docs,
    contaminated docs, floored micro-share.

    Scale shape: one narrow projection to (split, key); the train key
    set is a DISTINCT on the canonical key, and the probe is one
    left-semi equi-join on it — bodies and full URLs never shuffle.
    """
    from datawarehouse1_spark.queries.curation_r8 import _URL_SQL, host_expr
    from datawarehouse1_spark.functions.splits import split_col

    d = table(spark, sf_dir, "documents").select("doc_id")
    url = F.expr(_URL_SQL.format(S="STRING"))
    no_scheme = F.regexp_replace(url, "^[A-Za-z]+://", "")
    path = F.regexp_replace(
        F.regexp_extract(no_scheme, "^[^/?#]+([^?#]*)", 1), "/$", ""
    )
    keyed = d.select(
        split_col("doc_id").alias("split"),
        F.concat(host_expr(url), path).alias("key"),
    ).localCheckpoint(eager=True)  # rule 12: feeds train set AND probe
    train_keys = (
        keyed.filter(F.col("split") == "train").select("key").distinct()
    )
    holdout = keyed.filter(F.col("split") != "train")
    contaminated = (
        holdout.join(train_keys, "key", "left_semi")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = holdout.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))
    return totals.join(F.broadcast(contaminated), "split", "left_outer").select(
        "split",
        "n_docs",
        F.coalesce("n_contaminated", F.lit(0))
        .cast("long")
        .alias("n_contaminated"),
        F.expr("coalesce(n_contaminated, 0) * 1000000 div n_docs")
        .cast("long")
        .alias("contaminated_share_e6"),
    )


def _url_decontaminate_oracle() -> str:
    from datawarehouse1_spark.queries.curation_r8 import _HOST_SQL, _URL_SQL

    return f"""
    WITH staged AS (
      SELECT doc_id, {_URL_SQL.format(S='VARCHAR')} AS url FROM documents
    ),
    keyed AS (
      SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'f3333333' THEN 'val'
                  ELSE 'test' END AS split,
             {_HOST_SQL.format(url='url')} ||
             regexp_replace(
               regexp_extract(regexp_replace(url, '^[A-Za-z]+://', ''),
                              '^[^/?#]+([^?#]*)', 1),
               '/$', '') AS key
      FROM staged
    ),
    train_keys AS (
      SELECT DISTINCT key FROM keyed WHERE split = 'train'
    ),
    holdout AS (SELECT * FROM keyed WHERE split <> 'train'),
    contaminated AS (
      SELECT split, COUNT(*) AS n_contaminated
      FROM holdout SEMI JOIN train_keys USING (key)
      GROUP BY split
    )
    SELECT t.split,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(c.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(c.n_contaminated, 0) * 1000000 // t.n_docs
                AS BIGINT) AS contaminated_share_e6
    FROM (SELECT split, COUNT(*) AS n_docs FROM holdout GROUP BY split) t
    LEFT JOIN contaminated c ON c.split = t.split
"""

# ---------------------------------------------------------------- 7.

_TRAJ_BATCH = 250  # vectors per ingest batch (vec_id div)


def q_embedding_centroid_trajectory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-ingest-batch centroid trajectory against the corpus centroid
    — the drift MONITOR over arrival order (batch = vec_id div {B}),
    where q_embedding_centroid_drift slices by label: a healthy ingest
    holds cos ~ constant; a souring source shows a falling tail.  Same
    exactness discipline as the drift report: components floor-quantize
    to e6 integers before any aggregation, co-moments ride
    DECIMAL(38,0), and the only float ops are the final
    cast/mul/divide/sqrt/floor — one expression, identical in both
    engines.

    Scale shape: quantized components aggregate per (batch, dim) — the
    only exchange that sees per-row data (bounded by batches × dims);
    the global centroid re-aggregates that bounded table; the cosine
    assembles from a dim-keyed join plus a 1-row broadcast.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(f"vec_id div {_TRAJ_BATCH}").alias("batch"),
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
            )
        ).alias("dim", "qv"),
    )
    dec = "decimal(38,0)"
    lab = (
        q.groupBy("batch", "dim")
        .agg(
            F.sum("qv").cast(dec).alias("s"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .localCheckpoint(eager=True)  # rule 12: global + per-batch reuse
    )
    glob = lab.groupBy("dim").agg(F.sum("s").cast(dec).alias("g"))
    gn = glob.agg(F.sum(F.col("g") * F.col("g")).alias("g2"))
    per = (
        lab.join(F.broadcast(glob), "dim")
        .groupBy("batch")
        .agg(
            F.sum(F.col("s") * F.col("g")).alias("dot"),
            F.sum(F.col("s") * F.col("s")).alias("l2"),
            F.max("n_rows").alias("n_vecs"),
        )
    )
    return per.crossJoin(F.broadcast(gn)).select(
        F.col("batch").cast("long").alias("batch"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.floor(
            F.col("dot").cast("double")
            * 1000000
            / F.sqrt(F.col("l2").cast("double") * F.col("g2").cast("double"))
        )
        .cast("long")
        .alias("cos_e6"),
    )


CENTROID_TRAJECTORY_ORACLE = f"""
    WITH q AS (
      SELECT vec_id // {_TRAJ_BATCH} AS batch, CAST(i AS INT) AS dim,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS qv
      FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
    ),
    lab AS (
      SELECT batch, dim,
             CAST(SUM(qv) AS HUGEINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM q GROUP BY batch, dim
    ),
    gdim AS (SELECT dim, CAST(SUM(s) AS HUGEINT) AS g FROM lab GROUP BY dim),
    gn AS (SELECT SUM(g * g) AS g2 FROM gdim),
    per AS (
      SELECT batch,
             SUM(s * g) AS dot,
             SUM(s * s) AS l2,
             MAX(n_rows) AS n_vecs
      FROM lab JOIN gdim USING (dim)
      GROUP BY batch
    )
    SELECT CAST(batch AS BIGINT) AS batch,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(floor(CAST(dot AS DOUBLE) * 1000000
                      / sqrt(CAST(l2 AS DOUBLE) * CAST(g2 AS DOUBLE)))
                AS BIGINT) AS cos_e6
    FROM per, gn
"""

# r16 activation map: name -> (query fn, oracle SQL). The r16 rotation
# wraps each fn with registry.declared(name, oracle) and fronts the
# four names in DRIVER_CHECK_ORDER.
STAGED_QUERIES = {
    "q_orders_km_lifetable": (q_orders_km_lifetable, KM_LIFETABLE_ORACLE),
    "q_text_good_turing": (q_text_good_turing, GOOD_TURING_ORACLE),
    "q_events_funnel_timeout": (q_events_funnel_timeout, FUNNEL_TIMEOUT_ORACLE),
    "q_text_bigram_conditional": (
        q_text_bigram_conditional,
        BIGRAM_CONDITIONAL_ORACLE,
    ),
    "q_sample_reservoir_stratified": (
        q_sample_reservoir_stratified,
        RESERVOIR_ORACLE,
    ),
    "q_curation_url_decontaminate": (
        q_curation_url_decontaminate,
        _url_decontaminate_oracle(),
    ),
    "q_embedding_centroid_trajectory": (
        q_embedding_centroid_trajectory,
        CENTROID_TRAJECTORY_ORACLE,
    ),
}
