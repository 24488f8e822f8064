"""Core relational operators: scan/project/filter/route/cast + the join
family (SURVEY.md §2A O1/O3/O5/O6, §2C C1-C7).

All pure DataFrame built-ins — Catalyst gets full pushdown/pruning; joins
against dimension tables broadcast (explicitly where the reference's
schema guarantees the dim is small, else by AQE).

Also here: pivot / unpivot, lateral top-n per nation, set operations,
recursive hierarchies and the full outer reconcile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import (
    money_sum,
    money_sum_expr,
    money_units_long,
    sql_money_sum,
    units_to_money_double,
)
from datawarehouse1_spark.functions.money import TOTALPRICE_CENTS as _CENTS
from datawarehouse1_spark.registry import declared


# --- O1: scan + projection (column pruning must reach the parquet reader) ---
@declared(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference analog: safe_read_excel -> DataFrame (etl/app.py:92-141);
    here a parquet scan with projection pushdown (ReadSchema is 4 cols)."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# --- O3: file-type routing (etl/app.py:235-246) as a CASE routing column ---
@declared(
    "q_route_filter",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN lower(event_type) LIKE '%purchase%' THEN 'ventes'
                WHEN lower(event_type) LIKE '%signup%'  THEN 'clients'
                WHEN lower(event_type) LIKE '%view%'    THEN 'produits'
                ELSE 'skip' END AS route
    FROM events
    WHERE NOT starts_with(event_type, '~$')
    """,
)
def q_route_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: substring dispatch on lowercased filename plus the `~$`
    Excel-lock skip (etl/app.py:235-246, 262-263), re-expressed as a
    routing predicate column over an attribute."""
    ev = table(spark, sf_dir, "events")
    lowered = F.lower(F.col("event_type"))
    return ev.filter(~F.col("event_type").startswith("~$")).select(
        "event_id",
        "event_type",
        F.when(lowered.contains("purchase"), F.lit("ventes"))
        .when(lowered.contains("signup"), F.lit("clients"))
        .when(lowered.contains("view"), F.lit("produits"))
        .otherwise(F.lit("skip"))
        .alias("route"),
    )


# --- O5: lineage/audit enrichment (etl/app.py:158-159) — deterministic variant ---
@declared(
    "q_project_enrich",
    oracle="""
    SELECT c_custkey, c_name, 'customer.parquet' AS source_file,
           CAST(c_custkey % 1000 AS BIGINT) AS batch_id
    FROM customer
    """,
)
def q_project_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference appends source_file + imported_at to every row
    (etl/app.py:158-159; contract readme.md:102). current_timestamp is
    excluded from hashed output (SURVEY.md O16) — literal lineage +
    deterministic batch id here; the streaming ingest path uses
    F.input_file_name()/current_timestamp for real."""
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.lit("customer.parquet").alias("source_file"),
        (F.col("c_custkey") % 1000).cast("long").alias("batch_id"),
    )


# --- O6: sink-side type coercion (etl/app.py:163,192,221-225) ---
@declared(
    "q_cast_types",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS orderkey_str,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS totalprice_dec,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_custkey AS INTEGER) AS custkey_int
    FROM orders
    """,
)
def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference forces id columns to VARCHAR(50) at the sink and money to
    DECIMAL(10,2) (init-db/init.sql:40,54); the full §1.2 cast surface.

    The decimal cast is rendered to VARCHAR on BOTH sides: a raw
    DECIMAL(18,2) column canonicalizes differently per fetch path
    (pandas turns DuckDB decimals into float64, '1234.5', while Spark
    yields Decimal('1234.50')) — the r1 driver hash mismatch. The string
    form '1234.50' is identical in both engines and still exercises the
    double->decimal rounding."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("string").alias("orderkey_str"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("totalprice_dec"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_custkey").cast("int").alias("custkey_int"),
    )


# --- C1: conjunctive range + equality filter (the idx_ventes_date shape) ---
@declared(
    "q_filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
      AND l_quantity > 25
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """init-db/init.sql:65-67 index shapes: date range + key equality.
    Pushed to the parquet scan (PushedFilters in explain)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_returnflag") == "R")
        & (F.col("l_quantity") > 25)
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity", "l_returnflag")


# --- C2: fact ⋈ dim equi inner join (ventes⋈clients ≈ orders⋈customer) ---
@declared(
    "q_join_inner_fact_dim",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_inner_fact_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """init-db/init.sql:58 FK join. Dim side is auto-broadcast under the
    64m threshold; at 100 TB the customer dim may exceed it — AQE then
    picks SMJ on the shuffled key."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


# --- C3: explicit broadcast join + agg on the joined dim attribute ---
@declared(
    "q_join_broadcast_dim",
    oracle=f"""
    SELECT p.p_brand,
           {sql_money_sum('l.l_extendedprice', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit F.broadcast: the part dim stays executor-resident, the fact
    side never shuffles for the join (only the final small group-by)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            money_sum("l_extendedprice", "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- C4: multi-way star join over the full FK graph (snowflake to region) ---
@declared(
    "q_join_multi_star",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {sql_money_sum('l.l_extendedprice', 'revenue')},
           COUNT(*) AS n_lineitems
    FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_join_multi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full init-db/init.sql:58-59 FK graph plus the nation->region
    snowflake. Catalyst reorders; nation/region are fixed-cardinality ->
    always broadcast. Lineitem pre-aggregates per orderkey before the
    fact join (r6): the sums are exact and associative, so the orderkey
    shuffle carries one partial row per order instead of every line —
    same result bit-for-bit, ~1/4 the shuffle volume. r16 (guide §2.3):
    the per-order sum runs in LONG integer cents (the group is one
    order — line count bounded by basket size, so no overflow at any
    corpus scale; fact-grain decimal adds measured ~2.5x slower); the
    unbounded region/nation re-aggregation stays DECIMAL(38,0), with
    one double cast at the end — bit-identical to the decimal chain."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    lvl0 = li.groupBy("l_orderkey").agg(
        F.sum(money_units_long("l_extendedprice")).alias("rev_o_c"),
        F.count(F.lit(1)).alias("n_o"),
    )
    return (
        lvl0.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            units_to_money_double(
                F.sum(F.col("rev_o_c").cast("decimal(38,0)")), 2
            ).alias("revenue"),
            F.sum("n_o").alias("n_lineitems"),
        )
    )


# --- C5: left outer join + null handling (clients with no sales) ---
@declared(
    "q_join_left_outer",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS order_cnt,
           {sql_money_sum('o.o_totalprice', 'total_spent_raw')},
           COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
             AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            money_sum("o_totalprice", "total_spent_raw"),
            F.coalesce(money_sum_expr("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


# --- C6: left semi join (EXISTS — clients having ≥1 big sale) ---
@declared(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --- C7/O14: anti join — FK orphan check / NOT EXISTS ---
@declared(
    "q_join_anti_orphans",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    """,
)
def q_join_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity as an explicit op: the reference relies on
    Postgres FK enforcement (init-db/init.sql:58-59) aborting the file;
    Spark enforces nothing, so the ingest pipeline runs this orphan check
    before any append (validate-then-write, SURVEY.md O14).

    The fact side is filtered (>400k orders) so the anti join returns a
    non-empty set at every SF — the r1 unfiltered form matched the oracle
    on 0 vs 0 rows, attesting nothing. 400000 sits inside o_totalprice's
    upper tail at every generated SF (the distribution is SF-invariant),
    leaving a few-percent "customers lacking a large order" remainder;
    the query certifies the left_anti JOIN SHAPE. The pure FK-orphan
    direction (orphans must be empty before append) is exercised
    non-vacuously by the quarantine-ingest tests (orphan-bearing fixture
    frames)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- C6/C7 SQL face: correlated subqueries (Catalyst decorrelates to
#     semi/anti joins — the DataFrame forms are q_join_semi/q_join_anti) ---
@declared(
    "q_subquery_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS via the SQL front door; Catalyst rewrites to a
    left-semi hash join (no per-row subquery execution)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("__c_sq")
    table(spark, sf_dir, "orders").createOrReplaceTempView("__o_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM __c_sq c
        WHERE EXISTS (SELECT 1 FROM __o_sq o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        """
    )


@declared(
    "q_subquery_scalar_agg",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def q_subquery_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (above-average filter): planned as a
    one-row broadcast into the scan filter, a single extra job — not a
    rescan per row. (AVG of doubles is order-dependent in general; both
    engines compute it over the same full scan as one reduction, and the
    threshold comparison tolerates last-ulp differences far below data
    spacing.)"""
    table(spark, sf_dir, "orders").createOrReplaceTempView("__o_scalar")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM __o_scalar
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM __o_scalar)
        """
    )


@declared(
    "q_pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab via pivot with EXPLICIT value list (an implicit pivot
    adds a distinct-value collection job and nondeterministic column
    order — never do that at scale)."""
    o = table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


_RECURSIVE_TREE_SQL = """
    WITH RECURSIVE walk(doc_id, anc, depth) AS (
      SELECT doc_id, doc_id AS anc, 0 AS depth
      FROM documents WHERE doc_id < 127
      UNION ALL
      SELECT doc_id, CAST(floor((anc - 1) / 2.0) AS BIGINT) AS anc, depth + 1
      FROM walk WHERE anc > 0
    )
    SELECT doc_id,
           MAX(depth) AS depth,
           MIN(anc) AS root_id,
           COUNT(*) AS n_ancestors
    FROM walk
    GROUP BY doc_id
"""


@declared("q_hierarchy_sql_recursive", oracle=_RECURSIVE_TREE_SQL)
def q_hierarchy_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE SQL recursion (WITH RECURSIVE, new in Spark 4): walk the
    implicit binary-tree ancestry of doc ids (parent = floor((id-1)/2))
    to the root and report depth / root / ancestor count per doc. The
    IDENTICAL query text runs on both engines — Spark's recursive-CTE
    executor vs DuckDB's — so this certifies the recursion semantics
    themselves, complementing q_hierarchy_recursive_cte which certifies
    the DataFrame-loop re-expression of iterative reachability. Bounded
    to 127 docs (7 levels); each iteration is a narrow self-union."""
    from datawarehouse1_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_TREE_SQL)


@declared(
    "q_unpivot_metrics",
    oracle="""
    WITH wide AS (
      SELECT n.n_name,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             CAST(COUNT(DISTINCT o.o_custkey) AS DOUBLE) AS n_customers
      FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, metric, value FROM (
      SELECT n_name, 'n_orders' AS metric, n_orders AS value FROM wide
      UNION ALL
      SELECT n_name, 'revenue', revenue FROM wide
      UNION ALL
      SELECT n_name, 'n_customers', n_customers FROM wide
    )
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (the inverse of q_pivot_status_by_priority): a
    wide per-nation metrics row becomes (nation, metric, value) long
    form — the shape metric stores and BI exports want. Uses the native
    DataFrame unpivot (Expand under the hood: one pass, no self-union);
    the oracle spells the same melt as UNION ALL. Money goes through
    the exact-decimal sum before the double projection, per the
    determinism contract."""
    from datawarehouse1_spark.functions.money import money_sum

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    wide = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            money_sum("o_totalprice", "revenue"),
            F.count_distinct("o_custkey").cast("double").alias("n_customers"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["n_orders", "revenue", "n_customers"], "metric", "value"
    )


_LATERAL_SQL = """
    SELECT n.n_name, top.c_name, top.bal
    FROM nation n,
    LATERAL (
      SELECT c.c_name, CAST(c.c_acctbal AS DOUBLE) AS bal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c.c_acctbal DESC, c.c_custkey
      LIMIT 2
    ) AS top
"""


@declared("q_lateral_topn_per_nation", oracle=_LATERAL_SQL)
def q_lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 customers per nation) — the
    IDENTICAL query text on Spark's lateral-join planner and DuckDB.
    Spark decorrelates this into the same window-rank shape as
    q_window_rank_topn; this query certifies the SQL surface itself, as
    with q_hierarchy_sql_recursive."""
    from datawarehouse1_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


_SET_ALL_SQL = """
    SELECT o_orderpriority, 'both_months' AS tag FROM (
      SELECT o_orderpriority FROM orders WHERE month(o_orderdate) = 1
      INTERSECT ALL
      SELECT o_orderpriority FROM orders WHERE month(o_orderdate) = 2
    )
    UNION ALL
    SELECT o_orderpriority, 'jan_surplus' AS tag FROM (
      SELECT o_orderpriority FROM orders WHERE month(o_orderdate) = 1
      EXCEPT ALL
      SELECT o_orderpriority FROM orders WHERE month(o_orderdate) = 2
    )
"""


@declared("q_set_ops_all", oracle=_SET_ALL_SQL)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL):
    multiplicity-preserving overlap and surplus of order priorities
    between two months — identical SQL text on both engines,
    complementing the DISTINCT-semantics q_set_intersect/q_set_except.
    Spark plans these as aggregate+generate (count-min replication),
    one shuffle each."""
    from datawarehouse1_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SET_ALL_SQL)


_HIERARCHY_SQL = """
    WITH RECURSIVE nodes AS (
      SELECT c_custkey AS id,
             CASE WHEN c_custkey < 10 THEN NULL
                  ELSE CAST(floor(c_custkey / 10.0) AS BIGINT) END AS parent
      FROM customer WHERE c_custkey < 1000
    ),
    chain(id, root, depth) AS (
      SELECT id, id, 0 FROM nodes WHERE parent IS NULL
      UNION ALL
      SELECT n.id, c.root, c.depth + 1
      FROM nodes n JOIN chain c ON n.parent = c.id
    )
    SELECT id, root, depth FROM chain
"""


@declared("q_hierarchy_recursive_cte", oracle=_HIERARCHY_SQL)
def q_hierarchy_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal via WITH RECURSIVE (Spark 4's recursive CTE
    support — the org-chart/category-tree rollup class BI tools emit).
    The tree is derived deterministically from customer keys (parent =
    floor(id/10), forest rooted at ids < 10), so both engines recurse
    over identical edges; recursion depth is the tree height (~3), and
    each iteration is one bounded join — the same iterate-join shape as
    operators/dedup.py::dedup_clusters_from_pairs, here expressed in
    pure SQL and hash-matched against DuckDB's recursive CTE."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_HIERARCHY_SQL)


@declared(
    "q_join_full_outer_reconcile",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS k, {_CENTS} AS v FROM orders
      WHERE o_orderkey % 3 <> 0
    ),
    b AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN {_CENTS} + 100
                  ELSE {_CENTS} END AS v
      FROM orders WHERE o_orderkey % 5 <> 0
    ),
    j AS (
      SELECT CASE WHEN a.k IS NULL THEN 'right_only'
                  WHEN b.k IS NULL THEN 'left_only'
                  WHEN a.v = b.v THEN 'matched'
                  ELSE 'changed' END AS status,
             coalesce(a.v, 0) AS av, coalesce(b.v, 0) AS bv
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT status, COUNT(*) AS n_keys,
           CAST(SUM(bv - av) AS BIGINT) AS value_delta_cents
    FROM j GROUP BY status
    """,
)
def q_join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join — the diff report a
    warehouse sync runs between yesterday's and today's extracts: two
    staged order snapshots (every 3rd key missing on the left, every
    5th on the right, every 7th value bumped 100 cents on the right)
    joined full-outer on the key, each key classified matched /
    changed / left_only / right_only with the exact integer-cents
    value delta per class. Completes the outer-join coverage of the
    declared join battery. Plan: both snapshot sides shuffle once on
    the key (full outer cannot broadcast — the drift-monitor finding,
    ADVICE r9); the class aggregate is bounded at 4 rows."""
    o = table(spark, sf_dir, "orders")
    cents = F.expr(_CENTS)
    a = o.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"), cents.alias("av")
    )
    b = o.where(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, cents + 100)
        .otherwise(cents)
        .alias("bv"),
    )
    j = a.join(b, "k", "full_outer").select(
        F.when(F.col("av").isNull(), "right_only")
        .when(F.col("bv").isNull(), "left_only")
        .when(F.col("av") == F.col("bv"), "matched")
        .otherwise("changed")
        .alias("status"),
        F.coalesce(F.col("av"), F.lit(0)).alias("av"),
        F.coalesce(F.col("bv"), F.lit(0)).alias("bv"),
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("bv") - F.col("av")).cast("long").alias(
            "value_delta_cents"
        ),
    )

