"""Round-12 analytics, batch 8: schema-profiling discovery operators,
grouped regression, and calendar-aware latency.

Four operators:

* **Inclusion-dependency discovery** — for a candidate list of
  (child.column ⊆ parent.column) referential arcs, report the distinct
  child values, how many are missing from the parent, and whether the
  IND holds.  The profiling twin of q_profile_fd_discovery (FDs find
  keys WITHIN a table; INDs find the join graph BETWEEN tables) and the
  generalization of the single-arc q_join_anti_orphans check.

* **Candidate-key discovery** — per (table, column-set) candidate:
  row count, distinct-tuple count, duplicate surplus, and an is-key
  verdict.  The uniqueness profiler a warehouse runs before declaring
  surrogate keys (reference init-db/init.sql:11-67 DECLARES its
  PRIMARY KEYs; this operator is how you discover/verify them from
  data).

* **Grouped price elasticity** — per-brand OLS of quantity on discount
  (slope, intercept, R²): does discounting move volume, and for which
  brands?  A grouped regression — one slope per group in one pass —
  where q_stats_regression fits a single global line.

* **Business-day ship latency** — order→ship latency in BUSINESS days
  (weekends excluded) per order priority, as an exact histogram.  The
  calendar-aware twin of q_orders_ship_latency.

Exactness discipline: all accumulation is integer/DECIMAL(38,0); the
only float ops are single IEEE divides of exact integers at the very
edge (the q_stats_kendall_tau precedent — correctly-rounded and
engine-identical), so every cell hash-matches bit-for-bit.

Reference parity: the reference ETL (etl/app.py) has no profiling or
analytics surface; SURVEY.md §2C/§2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_units_long, sql_cents
from datawarehouse1_spark.registry import declared

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# 1. Inclusion-dependency discovery (the join-graph profiler)
# ---------------------------------------------------------------------------

# (child table, child col, parent table, parent col) — the candidate
# arcs a profiler would propose from name/type affinity; two are
# deliberate negatives so the output is a verdict, not a tautology.
_IND_CANDIDATES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("part", "p_size", "nation", "n_nationkey"),
)


def _ind_arm_sql(ct: str, cc: str, pt: str, pc: str) -> str:
    return f"""
    SELECT '{ct}.{cc} -> {pt}.{pc}' AS dependency,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(COUNT(*) FILTER (WHERE p.v IS NULL) AS BIGINT) AS n_missing,
           CAST(COUNT(*) FILTER (WHERE p.v IS NULL) = 0 AS BIGINT) AS holds
    FROM (SELECT DISTINCT CAST({cc} AS BIGINT) AS v FROM {ct}
          WHERE {cc} IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT CAST({pc} AS BIGINT) AS v FROM {pt}
               WHERE {pc} IS NOT NULL) p USING (v)"""


def _ind_arm(
    spark: SparkSession, sf_dir: str, ct: str, cc: str, pt: str, pc: str
) -> DataFrame:
    child = (
        table(spark, sf_dir, ct)
        .filter(F.col(cc).isNotNull())
        .select(F.col(cc).cast("long").alias("v"))
        .distinct()
    )
    parent = (
        table(spark, sf_dir, pt)
        .filter(F.col(pc).isNotNull())
        .select(F.col(pc).cast("long").alias("v"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    j = child.join(parent, "v", "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_values"),
        F.count(F.when(F.col("hit").isNull(), 1)).alias("n_missing"),
    ).select(
        F.lit(f"{ct}.{cc} -> {pt}.{pc}").alias("dependency"),
        "n_values",
        "n_missing",
        (F.col("n_missing") == 0).cast("long").alias("holds"),
    )


@declared(
    "q_profile_ind_discovery",
    oracle="\nUNION ALL\n".join(
        _ind_arm_sql(*cand) for cand in _IND_CANDIDATES
    ),
)
def q_profile_ind_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery over a candidate arc list: for
    each proposed (child.col ⊆ parent.col), the distinct child values,
    the count missing from the parent, and a holds verdict — the
    profiler that recovers the warehouse's join graph (and flags the
    orphan arcs) from data.  Scale shape: BOTH sides reduce to their
    distinct value sets BEFORE the join (one exchange each, sized by
    the value domain, not the fact row count); the left join keyed on
    the value is the only cross-table movement, and each arm's output
    is a single row.  No driver-side collection anywhere."""
    out = None
    for cand in _IND_CANDIDATES:
        arm = _ind_arm(spark, sf_dir, *cand)
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# 2. Candidate-key discovery (the uniqueness profiler)
# ---------------------------------------------------------------------------

# (table, column tuple) — declared-PK candidates plus natural-key
# guesses; several are deliberate non-keys.
_KEY_CANDIDATES = (
    ("orders", ("o_orderkey",)),
    ("orders", ("o_custkey",)),
    ("orders", ("o_custkey", "o_orderdate")),
    ("lineitem", ("l_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("lineitem", ("l_partkey", "l_suppkey")),
    ("customer", ("c_custkey",)),
    ("events", ("event_id",)),
    ("events", ("user_id", "ts")),
    ("documents", ("doc_id",)),
)


def _key_arm_sql(tbl: str, cols: tuple[str, ...]) -> str:
    collist = ", ".join(cols)
    return f"""
    SELECT '{tbl}' AS table_name, '{collist}' AS key_cols,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_rows,
           CAST(SUM(c) = COUNT(*) AS BIGINT) AS is_key
    FROM (SELECT COUNT(*) AS c FROM {tbl} GROUP BY {collist})"""


def _key_arm(
    spark: SparkSession, sf_dir: str, tbl: str, cols: tuple[str, ...]
) -> DataFrame:
    t = table(spark, sf_dir, tbl)
    per_key = t.groupBy(*cols).agg(F.count(F.lit(1)).alias("c"))
    return per_key.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    ).select(
        F.lit(tbl).alias("table_name"),
        F.lit(", ".join(cols)).alias("key_cols"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "n_keys",
        (F.col("n_rows") - F.col("n_keys")).cast("long").alias("n_dup_rows"),
        (F.col("n_rows") == F.col("n_keys")).cast("long").alias("is_key"),
    )


@declared(
    "q_profile_key_discovery",
    oracle="\nUNION ALL\n".join(
        _key_arm_sql(t, c) for t, c in _KEY_CANDIDATES
    ),
)
def q_profile_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: per (table, column-set) candidate the
    row count, distinct-tuple count, duplicate surplus, and an is-key
    verdict — how you VERIFY from data the PRIMARY KEYs the reference
    simply declares (init-db/init.sql:11-67).  Scale shape: each arm
    is one partial-aggregated exchange on the candidate tuple followed
    by a single-row reduction — distinct-counting via two-level
    group-count, never a global COUNT(DISTINCT struct) (which would
    both skew one reducer and diverge on NULL tuple semantics)."""
    out = None
    for tbl, cols in _KEY_CANDIDATES:
        arm = _key_arm(spark, sf_dir, tbl, cols)
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# 3. Grouped price elasticity (per-brand OLS of quantity on discount)
# ---------------------------------------------------------------------------


@declared(
    "q_orders_price_elasticity",
    oracle=f"""
    WITH pts AS (
      SELECT p.p_brand,
             {sql_cents("l.l_discount")} AS x,
             {sql_cents("l.l_quantity")} AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    m AS (
      SELECT p_brand,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand,
           CAST(n AS BIGINT) AS n_lines,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS slope,
           CAST(sy * sxx - sx * sxy AS DOUBLE)
             / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS intercept,
           (CAST(n * sxy - sx * sy AS DOUBLE)
              * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
                  * CAST(NULLIF(n * syy - sy * sy, 0) AS DOUBLE)) AS r2
    FROM m
    """,
)
def q_orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount elasticity: a GROUPED ordinary-least-squares
    fit of quantity (cents of units) on discount (cents of rate) — one
    slope/intercept/R² per brand in ONE pass, where q_stats_regression
    fits a single global line.  Exactness: x, y are integer cents, the
    five co-moments accumulate as exact DECIMAL(38,0), and slope /
    intercept / R² are single IEEE divides of exact integers (the
    kendall-tau precedent) — bit-identical across engines.  Scale
    shape: part is the broadcast dim side of the fact join; the
    moment aggregation is partial-combinable (one exchange on brand);
    degenerate brands (constant discount) yield NULL via NULLIF, not a
    crash.  R²'s numerator/denominator multiply IN DOUBLE so no
    decimal-width ceiling appears at any SF."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        money_units_long("l_discount").alias("x"),
        money_units_long("l_quantity").alias("y"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    # widen BEFORE the sum: the oracle's SUM(BIGINT) natively
    # accumulates in HUGEINT, and Spark's 64-bit accumulator would wrap
    # on syy past ~4e11 rows (ANSI off => silently) — the
    # q_orders_value_deciles lesson applied to accumulation
    xd = F.col("x").cast(_DEC)
    yd = F.col("y").cast(_DEC)
    m = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    num = "(n * sxy - sx * sy)"
    den = "NULLIF(n * sxx - sx * sx, CAST(0 AS decimal(38,0)))"
    deny = "NULLIF(n * syy - sy * sy, CAST(0 AS decimal(38,0)))"
    return m.select(
        "p_brand",
        F.col("n").cast("long").alias("n_lines"),
        F.expr(
            f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)"
        ).alias("slope"),
        F.expr(
            f"CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST({den} AS DOUBLE)"
        ).alias("intercept"),
        F.expr(
            f"(CAST({num} AS DOUBLE) * CAST({num} AS DOUBLE))"
            f" / (CAST({den} AS DOUBLE) * CAST({deny} AS DOUBLE))"
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# 4. Business-day ship latency histogram
# ---------------------------------------------------------------------------

# W(d) = business days from the Monday epoch 1969-12-29 through d
# inclusive: 5 full weeks' worth plus min(weekday_index + 1, 5).
# Latency in business days over (order, ship] is then W(ship) -
# W(order) — pure integer arithmetic on days-since-epoch, identical in
# both engines (no DOW builtin, whose week conventions differ).


@declared(
    "q_date_business_days",
    oracle="""
    WITH d AS (
      SELECT o.o_orderpriority,
             date_diff('day', DATE '1969-12-29',
                       CAST(l.l_shipdate AS DATE)) AS ms,
             date_diff('day', DATE '1969-12-29',
                       CAST(o.o_orderdate AS DATE)) AS mo
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    w AS (
      SELECT o_orderpriority,
             (5 * (ms // 7) + LEAST((ms % 7) + 1, 5))
           - (5 * (mo // 7) + LEAST((mo % 7) + 1, 5)) AS busdays
      FROM d
    )
    SELECT o_orderpriority, CAST(busdays AS BIGINT) AS busdays,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM w GROUP BY o_orderpriority, busdays
    """,
)
def q_date_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days (weekends excluded) per
    priority class, as an exact histogram — the calendar-aware twin of
    q_orders_ship_latency.  The weekday count is closed-form integer
    arithmetic on days since a Monday epoch (W(d) = 5·⌊m/7⌋ +
    min(m%7+1, 5)), deliberately avoiding each engine's DOW builtin
    (their week-start conventions differ).  Scale shape: project both
    sides to (key, date) before the orderkey-keyed fact join, then one
    partial-combinable aggregate to a |priority|×|latency-domain| grid
    — bounded by the DATE domain (~15k rows on this testdata, whose
    synthetic shipdates span ±2400 days around the order), independent
    of fact row count.  The W() operands are non-negative day counts
    (dates are post-epoch), so // and Spark div agree even when the
    resulting latency is negative."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE '1969-12-29')"
        ).alias("ms"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1969-12-29')"
        ).alias("mo"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    w = j.select(
        "o_orderpriority",
        (
            F.expr("5 * (ms div 7) + LEAST((ms % 7) + 1, 5)")
            - F.expr("5 * (mo div 7) + LEAST((mo % 7) + 1, 5)")
        )
        .cast("long")
        .alias("busdays"),
    )
    return w.groupBy("o_orderpriority", "busdays").agg(
        F.count(F.lit(1)).alias("n_lineitems")
    )
