"""Data profiling + full GROUPING SETS — warehouse operations the
reference delegates to eyeballing Metabase dashboards (readme.md:115-118)
and to Postgres constraints; here first-class, one scan each.

Profiling at 100 TB: one pass computes every column's stats in parallel
(a single aggregate over the scan — NOT one query per column); distinct
counts switch to approx_count_distinct on the scale path (the exact
variant here is oracle-matched).

Beside the column profile: drift reports (TVD, chi-square, KS),
correlation and regression in exact sums, character-diversity and
target-affinity quality scores, key / inclusion / functional
dependency discovery, join-cardinality and shuffle-skew reports, and
the layout reports an operator reads before touching a large table:
compaction, file-skipping statistics, sort advice, snapshot vacuum and
retention (TTL) plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_sum, money_units_long
from datawarehouse1_spark.functions.money import DEC38 as _DEC
from datawarehouse1_spark.functions.money import TOTALPRICE_CENTS as _CENTS
from datawarehouse1_spark.queries.deciles import running_sum
from datawarehouse1_spark.registry import declared

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


@declared(
    "q_profile_columns",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               COUNT({c}) AS n_nonnull,
               COUNT(DISTINCT {c}) AS n_distinct,
               MIN({c}) AS min_v,
               MAX({c}) AS max_v
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ),
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (nulls / distinct / min / max) for the fact table's
    numeric columns. Implementation note: all three profiles come from
    ONE aggregate over ONE scan, unpivoted to the narrow (col_name,
    stats) shape by exploding an array of structs built from the single
    agg row. A union-of-selects over the agg would NOT keep it single:
    Catalyst specializes each union branch down to its own column and
    plans three scans (observed: 3 FileScans, 6 exchanges); the explode
    keeps the agg subtree shared (1 scan). The oracle's UNION ALL of
    three scans is the semantic twin, not the physical plan."""
    li = table(spark, sf_dir, "lineitem")
    agg_exprs = []
    for c in _PROFILE_COLS:
        agg_exprs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            F.count(c).alias(f"{c}__n_nonnull"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            F.min(c).alias(f"{c}__min_v"),
            F.max(c).alias(f"{c}__max_v"),
        ]
    wide = li.agg(*agg_exprs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n_rows").alias("n_rows"),
                F.col(f"{c}__n_nonnull").alias("n_nonnull"),
                F.col(f"{c}__n_distinct").alias("n_distinct"),
                F.col(f"{c}__min_v").alias("min_v"),
                F.col(f"{c}__max_v").alias("max_v"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("s")).select("s.*")


@declared(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube C11),
    expressed through the SQL front door — one Expand + one shuffle, not
    three scans."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@declared(
    "q_upsert_partition_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def q_upsert_partition_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintainable monthly rollup: the full-history result
    here is the oracle anchor; operators/warehouse.py::merge_rollup keeps
    the same table current by recomputing ONLY the months present in each
    new batch (partition-overwrite semantics) instead of rescanning
    history — tested in tests/test_incremental_rollup.py."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice", "total_price"),
    )


@declared(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.9) AS p90,
           quantile_cont(l_quantity, 0.99) AS p99,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`, verified bit-equal). Scale path: exact
    percentile needs the group's values collected per partition —
    switch to approx_percentile (t-digest, mergeable) when groups stop
    fitting; same query shape."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90"),
        F.expr("percentile(l_quantity, 0.99)").alias("p99"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --- ext: heavy-hitter / skew diagnosis report ---
@declared(
    "q_heavy_hitters",
    oracle="""
    WITH per_key AS (
      SELECT l_orderkey, COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS key_revenue
      FROM lineitem GROUP BY l_orderkey
    ),
    tot AS (SELECT COUNT(*) AS total_lines FROM lineitem)
    SELECT l_orderkey, n_lines, key_revenue,
           CAST(n_lines AS DOUBLE) / total_lines AS share
    FROM per_key, tot
    ORDER BY n_lines DESC, key_revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis: the top-N join keys by row count with their share
    of the table — the report you run BEFORE picking a salting factor or
    trusting AQE's skew-join split. Partial-aggregated groupBy, a 1-row
    total broadcast for the share, and TakeOrderedAndProject for the
    top-N (no global sort); total order via (n_lines, key_revenue,
    l_orderkey)."""
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("key_revenue"),
    )
    total = li.agg(F.count(F.lit(1)).alias("total_lines"))
    return (
        per_key.join(F.broadcast(total))
        .select(
            "l_orderkey",
            "n_lines",
            "key_revenue",
            (F.col("n_lines").cast("double") / F.col("total_lines")).alias("share"),
        )
        .orderBy(F.desc("n_lines"), F.desc("key_revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


@declared(
    "q_expectations_orders",
    oracle="""
    WITH m AS (
      SELECT count(*) AS n_rows,
             count(o_custkey) AS nn_custkey,
             count(o_orderdate) AS nn_orderdate,
             count(DISTINCT o_orderkey) AS d_orderkey,
             count(o_orderkey) AS nn_orderkey,
             count(CASE WHEN o_totalprice BETWEEN 0 AND 500000 THEN 1 END)
               AS p_totalprice,
             count(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END)
               AS p_status,
             count(CASE WHEN regexp_matches(o_orderpriority, '^[1-3]-')
                        THEN 1 END) AS p_priority
      FROM orders
    )
    SELECT 'complete_o_custkey' AS constraint, 'o_custkey' AS "column",
           'completeness' AS kind, n_rows, nn_custkey AS n_passed,
           CASE WHEN nn_custkey = n_rows THEN 'pass' ELSE 'fail' END AS status
    FROM m
    UNION ALL
    SELECT 'complete_o_orderdate', 'o_orderdate', 'completeness',
           n_rows, nn_orderdate,
           CASE WHEN nn_orderdate = n_rows THEN 'pass' ELSE 'fail' END
    FROM m
    UNION ALL
    SELECT 'unique_o_orderkey', 'o_orderkey', 'uniqueness',
           n_rows, d_orderkey,
           CASE WHEN nn_orderkey = n_rows AND d_orderkey = n_rows
                THEN 'pass' ELSE 'fail' END
    FROM m
    UNION ALL
    SELECT 'range_o_totalprice', 'o_totalprice', 'range',
           n_rows, p_totalprice,
           CASE WHEN p_totalprice = n_rows THEN 'pass' ELSE 'fail' END
    FROM m
    UNION ALL
    SELECT 'in_set_o_orderstatus', 'o_orderstatus', 'set_membership',
           n_rows, p_status,
           CASE WHEN p_status = n_rows THEN 'pass' ELSE 'fail' END
    FROM m
    UNION ALL
    SELECT 'matches_o_orderpriority', 'o_orderpriority', 'pattern',
           n_rows, p_priority,
           CASE WHEN p_priority = n_rows THEN 'pass' ELSE 'fail' END
    FROM m
    UNION ALL
    SELECT 'fk_o_custkey', 'o_custkey', 'foreign_key',
           n_rows,
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IN (SELECT c_custkey FROM customer)),
           CASE WHEN (SELECT COUNT(*) FROM orders o
                      WHERE o.o_custkey IN (SELECT c_custkey FROM customer))
                     = n_rows
                THEN 'pass' ELSE 'fail' END
    FROM m
    """,
)
def q_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative validation suite over orders — the
    scalable re-expression of the reference's Postgres DDL contract
    surface (init.sql NOT NULL / PRIMARY KEY / CHECK semantics) as ONE
    aggregate pass + an inline() unpivot (operators/expectations.py).
    The o_orderpriority pattern check fails BY DESIGN (priorities 4/5
    exist), so the report's fail path is non-vacuous and the driver
    hash pins both verdict branches. The FOREIGN KEY constraint — the
    one init.sql contract that needs a second table — runs as its own
    left-semi pass (run_fk_expectation) and unions into the report."""
    from datawarehouse1_spark.operators.expectations import (
        expect_complete,
        expect_in_range,
        expect_in_set,
        expect_matches,
        expect_unique,
        run_expectations,
    )

    suite = [
        expect_complete("o_custkey"),
        expect_complete("o_orderdate"),
        expect_unique("o_orderkey"),
        expect_in_range("o_totalprice", 0, 500000),
        expect_in_set("o_orderstatus", ("O", "F", "P")),
        expect_matches("o_orderpriority", "^[1-3]-"),
    ]
    from datawarehouse1_spark.operators.expectations import run_fk_expectation

    orders = table(spark, sf_dir, "orders")
    report = run_expectations(orders, suite)
    fk = run_fk_expectation(
        orders, "o_custkey", table(spark, sf_dir, "customer"), "c_custkey"
    )
    return report.unionByName(fk)


@declared(
    "q_drift_tvd_report",
    oracle="""
    WITH binned AS (
      SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin,
             o_orderkey % 2 = 0 AS in_a
      FROM orders
    ),
    per_bin AS (
      SELECT bin,
             CAST(COUNT(*) FILTER (WHERE in_a) AS BIGINT) AS cnt_a,
             CAST(COUNT(*) FILTER (WHERE NOT in_a) AS BIGINT) AS cnt_b
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT *,
             SUM(cnt_a) OVER () AS n_a, SUM(cnt_b) OVER () AS n_b
      FROM per_bin
    ),
    numd AS (
      SELECT *,
             SUM(abs(CAST(cnt_a AS DECIMAL(38,0)) * n_b
                     - CAST(cnt_b AS DECIMAL(38,0)) * n_a)) OVER () AS num
      FROM tot
    )
    SELECT bin, cnt_a, cnt_b,
           CAST(floor(CAST(num AS DECIMAL(38,0)) * 1000000
                      / (2 * CAST(n_a AS DECIMAL(38,0)) * n_b))
                AS BIGINT) AS tvd_e6
    FROM numd
    """,
)
def q_drift_tvd_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between two snapshots of a column (the
    data-quality check a pipeline runs on every refresh): fixed decile
    bins over o_totalprice, per-bin counts for each snapshot half, and
    the total-variation distance ½·Σ|p_A − p_B| in floored micro-units.
    TVD instead of PSI/KS on purpose: it is a RATIONAL statistic —
    computed as Σ|cntA·nB − cntB·nA| / (2·nA·nB) entirely in
    DECIMAL(38,0) integer arithmetic — so both engines produce the
    identical number, where PSI's ln() can differ in the last ulp
    between libms. One aggregate + one tiny window over ≤10 bin rows;
    at 100 TB the bin counts are the only thing that shuffles."""
    o = table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("long"), F.lit(9)
        ).alias("bin"),
        (F.col("o_orderkey") % 2 == 0).alias("in_a"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.when(F.col("in_a"), 1)).cast("long").alias("cnt_a"),
        F.count(F.when(~F.col("in_a"), 1)).cast("long").alias("cnt_b"),
    )
    w = Window.partitionBy()
    dec = "decimal(38,0)"
    n_a = F.sum("cnt_a").over(w)
    n_b = F.sum("cnt_b").over(w)
    num = F.sum(
        F.abs(
            F.col("cnt_a").cast(dec) * n_b - F.col("cnt_b").cast(dec) * n_a
        )
    ).over(w)
    return per_bin.select(
        "bin",
        "cnt_a",
        "cnt_b",
        F.floor(
            num.cast(dec)
            * F.lit(1000000)
            / (F.lit(2) * n_a.cast(dec) * n_b)
        )
        .cast("long")
        .alias("tvd_e6"),
    )


# ---------------------------------------------------------------------------
# Chi-square drift report (the rational sibling of PSI)
# ---------------------------------------------------------------------------


@declared(
    "q_drift_chisq_report",
    oracle="""
    WITH per_bin AS (
      SELECT o_orderpriority AS bin,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
               AS cnt_a,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 <> 0) AS BIGINT)
               AS cnt_b
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT *,
             SUM(cnt_a) OVER () AS n_a, SUM(cnt_b) OVER () AS n_b
      FROM per_bin
    ),
    contrib AS (
      SELECT bin, cnt_a, cnt_b,
             CAST(cnt_a AS DECIMAL(38,0)) * n_b
               - CAST(cnt_b AS DECIMAL(38,0)) * n_a AS d,
             n_a, n_b
      FROM tot
    ),
    binned AS (
      SELECT bin, cnt_a, cnt_b,
             CAST(floor(d * d * 1000000
                        / ((cnt_a + cnt_b)
                           * CAST(n_a AS DECIMAL(38,0)) * n_b))
                  AS BIGINT) AS chisq_e6
      FROM contrib
    )
    SELECT bin, cnt_a, cnt_b, chisq_e6,
           CAST(SUM(chisq_e6) OVER () AS BIGINT) AS chisq_total_e6
    FROM binned
    """,
)
def q_drift_chisq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square drift over a categorical column (the
    homogeneity test a pipeline runs when PSI would be the textbook
    pick): snapshot halves A/B by o_orderkey parity, bins =
    o_orderpriority, per-bin contribution via the rational identity

        (cntA - E_A)^2/E_A + (cntB - E_B)^2/E_B
          = (cntA*nB - cntB*nA)^2 / ((cntA+cntB) * nA * nB)

    computed entirely in DECIMAL(38,0) integer arithmetic and floored
    to micro-units — both engines produce the IDENTICAL number, where
    PSI's ln() differs in the last ulp between libms (the same
    substitution q_drift_tvd_report makes; chi-square is additionally
    the statistic with a p-value). chisq_total_e6 sums the FLOORED
    per-bin values (deterministic by construction). One aggregate over
    the fact + one window over <=5 bin rows; D^2*1e6 stays inside
    DECIMAL(38) up to ~1e9 rows per class — beyond that the statistic
    itself saturates (any drift is significant) and a double path
    would be the right tool."""
    o = table(spark, sf_dir, "orders")
    per_bin = o.groupBy(F.col("o_orderpriority").alias("bin")).agg(
        F.count(F.when(F.col("o_orderkey") % 2 == 0, 1))
        .cast("long")
        .alias("cnt_a"),
        F.count(F.when(F.col("o_orderkey") % 2 != 0, 1))
        .cast("long")
        .alias("cnt_b"),
    )
    w = Window.partitionBy()
    n_a = F.sum("cnt_a").over(w)
    n_b = F.sum("cnt_b").over(w)
    d = (
        F.col("cnt_a").cast(_DEC) * n_b - F.col("cnt_b").cast(_DEC) * n_a
    ).cast(_DEC)
    chisq = (
        F.floor(
            d
            * d
            * F.lit(1000000)
            / (
                (F.col("cnt_a") + F.col("cnt_b"))
                * n_a.cast(_DEC)
                * n_b
            )
        )
        .cast("long")
        .alias("chisq_e6")
    )
    binned = per_bin.select("bin", "cnt_a", "cnt_b", chisq)
    return binned.select(
        "bin",
        "cnt_a",
        "cnt_b",
        "chisq_e6",
        F.sum("chisq_e6").over(Window.partitionBy()).alias("chisq_total_e6"),
    )


# ---------------------------------------------------------------------------
# Correlation matrix from exact decimal sums
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_CORR_PAIRS = tuple(
    (_CORR_COLS[i], _CORR_COLS[j])
    for i in range(len(_CORR_COLS))
    for j in range(i + 1, len(_CORR_COLS))
)


def _cents_sql(col: str) -> str:
    # exact integer cents: 2-dec data -> DECIMAL(18,2) -> *100 -> int
    return f"CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"


def _corr_oracle() -> str:
    sums = ["CAST(COUNT(*) AS DECIMAL(38,0)) AS n"]
    for c in _CORR_COLS:
        sums.append(f"SUM({_cents_sql(c)}) AS s_{c}")
        sums.append(f"SUM({_cents_sql(c)} * {_cents_sql(c)}) AS ss_{c}")
    for x, y in _CORR_PAIRS:
        sums.append(f"SUM({_cents_sql(x)} * {_cents_sql(y)}) AS sp_{x}_{y}")
    arms = []
    for x, y in _CORR_PAIRS:
        arms.append(
            f"""
      SELECT '{x}' AS col_x, '{y}' AS col_y,
             CAST(n AS BIGINT) AS n_rows,
             round(CAST(n * sp_{x}_{y} - s_{x} * s_{y} AS DOUBLE)
                   / sqrt(CAST(n * ss_{x} - s_{x} * s_{x} AS DOUBLE))
                   / sqrt(CAST(n * ss_{y} - s_{y} * s_{y} AS DOUBLE)), 6)
               AS corr6
      FROM sums"""
        )
    return (
        "WITH sums AS (SELECT "
        + ", ".join(sums)
        + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(arms)
    )


@declared("q_stats_corr_matrix", oracle=_corr_oracle())
def q_stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures,
    ONE scan: all 15 co-moment sums (n, 4 sums, 4 sum-of-squares, 6
    cross-products) accumulate in a single aggregate as EXACT
    DECIMAL(38,0) integer-cents arithmetic (order-independent, unlike
    the engines' native one-pass corr() whose co-moment update order
    differs), then each pair's r is assembled from the exact sums with
    IEEE-only float ops (cast, div, sqrt — all correctly rounded) and
    rounded to 6 dp. Stronger determinism than q_stats_moments' native
    corr() from the same single-scan cost. The 6-row matrix unpivots
    from the one aggregate row — no second scan, no per-pair jobs; at
    100 TB this is one partial-aggregated pass and a 1-row exchange."""
    li = table(spark, sf_dir, "lineitem")

    def cents(c: str) -> F.Column:
        return (F.col(c).cast("decimal(18,2)") * 100).cast(_DEC)

    aggs = [F.count(F.lit(1)).cast(_DEC).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(cents(c)).alias(f"s_{c}"))
        aggs.append(F.sum(cents(c) * cents(c)).alias(f"ss_{c}"))
    for x, y in _CORR_PAIRS:
        aggs.append(F.sum(cents(x) * cents(y)).alias(f"sp_{x}_{y}"))
    sums = li.agg(*aggs)

    pairs = F.array(
        *[
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col("n").cast("long").alias("n_rows"),
                F.round(
                    (
                        F.col("n") * F.col(f"sp_{x}_{y}")
                        - F.col(f"s_{x}") * F.col(f"s_{y}")
                    ).cast("double")
                    / F.sqrt(
                        (
                            F.col("n") * F.col(f"ss_{x}")
                            - F.col(f"s_{x}") * F.col(f"s_{x}")
                        ).cast("double")
                    )
                    / F.sqrt(
                        (
                            F.col("n") * F.col(f"ss_{y}")
                            - F.col(f"s_{y}") * F.col(f"s_{y}")
                        ).cast("double")
                    ),
                    6,
                ).alias("corr6"),
            )
            for x, y in _CORR_PAIRS
        ]
    )
    return (
        sums.select(F.explode(pairs).alias("p"))
        .select("p.col_x", "p.col_y", "p.n_rows", "p.corr6")
    )


# ---------------------------------------------------------------------------
# Character-diversity quality score (Gini impurity, the rational entropy)
# ---------------------------------------------------------------------------


@declared(
    "q_text_char_gini",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    per_char AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM chars WHERE ch <> '' GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_chars_counted,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           CAST(floor((SUM(cnt) * SUM(cnt) - SUM(cnt * cnt)) * 1000000.0
                      / (SUM(cnt) * SUM(cnt))) AS BIGINT) AS gini_e6
    FROM per_char
    GROUP BY doc_id
    """,
)
def q_text_char_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-diversity quality signal: Gini impurity
    1 - sum(p_c^2) over the document's character distribution, in
    floored micro-units. Gini instead of Shannon entropy on purpose —
    it is the RATIONAL member of the diversity family ((L^2 - sum
    cnt^2) / L^2, pure integer arithmetic) so both engines produce the
    identical number, where entropy's log2 differs in the last ulp
    between libms. Low-gini documents are the keyboard-mash /
    single-char-spam tier every quality-filter stack drops (Gopher's
    symbol-ratio cousin). Two partial-aggregated exchanges, both keyed
    by doc_id(+char): the shuffle carries (doc_id, char, count)
    triples, never the text itself. NOTE: character = UTF-16 code unit
    on the Spark side (Java regex split) and code point in DuckDB —
    identical for this corpus's BMP text; a surrogate-pair corpus
    would need a codepoint-explicit splitter."""
    d = table(spark, sf_dir, "documents")
    per_char = (
        d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    s = F.sum("cnt")
    ssq = F.sum(F.col("cnt") * F.col("cnt"))
    return per_char.groupBy("doc_id").agg(
        s.cast("long").alias("n_chars_counted"),
        F.count(F.lit(1)).cast("long").alias("distinct_chars"),
        F.floor((s * s - ssq) * F.lit(1000000.0) / (s * s))
        .cast("long")
        .alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# DSIR-flavored target-affinity reweighting (hashed unigram features)
# ---------------------------------------------------------------------------

# 256 hashed features from md5's first two hex nibbles (portable
# hex->int: DuckDB has no conv(); instr over the hex alphabet is the
# same trick q_curation_shard_assign uses).
_FEAT = (
    "(instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16"
    " + instr('0123456789abcdef', substr(md5(token), 2, 1)) - 1"
)


@declared(
    "q_curation_dsir_affinity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, token
      FROM (SELECT doc_id, lang,
                   unnest(string_split_regex(lower(text), '\\s+')) AS token
            FROM documents)
      WHERE token <> ''
    ),
    feats AS (
      SELECT doc_id, lang, CAST({_FEAT} AS BIGINT) AS feat FROM toks
    ),
    feat_stats AS (
      SELECT feat,
             CAST(COUNT(*) AS BIGINT) AS cnt_all,
             CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS cnt_tgt
      FROM feats GROUP BY feat
    ),
    totals AS (
      SELECT feat, cnt_all, cnt_tgt,
             SUM(cnt_all) OVER () AS n_all, SUM(cnt_tgt) OVER () AS n_tgt
      FROM feat_stats
    ),
    weights AS (
      SELECT feat,
             CAST(floor((cnt_tgt + 1) * CAST(n_all AS DECIMAL(38,0))
                        * 1000000 / ((cnt_all + 1)
                                     * CAST(n_tgt AS DECIMAL(38,0))))
                  AS BIGINT) AS w_e6
      FROM totals
    )
    SELECT f.doc_id,
           MIN(f.lang) AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(floor(CAST(SUM(w.w_e6) AS DECIMAL(38,0)) * 1.0 / COUNT(*))
                AS BIGINT) AS affinity_e6
    FROM feats f JOIN weights w ON f.feat = w.feat
    GROUP BY f.doc_id
    """,
)
def q_curation_dsir_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance reweighting (Xie et al. 2023) with a
    rational statistic: every token hashes to one of 256 md5 features;
    the target corpus (lang='en') and the raw corpus each induce a
    feature distribution; a document's affinity is the mean
    add-one-smoothed frequency ratio p_target(f)/p_raw(f) of its
    tokens, in floored micro-units. The textbook DSIR weight is the
    SUM OF LOGS of these ratios — ln() is libm-dependent, so the score
    here is the mean of the per-feature RATIOS (same ordering signal
    for selection/reweighting, exact integer arithmetic end-to-end;
    the same PSI->chi-square substitution this module makes twice).
    Shape: the 256-row feature table aggregates once (conditional
    count carries target and raw counts in ONE pass) and broadcasts
    back onto the token stream; shuffles carry (feat) counts and
    (doc_id) partial sums — document text never shuffles. Documents
    with zero tokens have no affinity row (no tokens to weight)."""
    d = table(spark, sf_dir, "documents")
    feats = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .select("doc_id", "lang", F.expr(_FEAT).cast("long").alias("feat"))
    )
    feat_stats = feats.groupBy("feat").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_all"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("cnt_tgt"),
    )
    w = Window.partitionBy()
    weights = feat_stats.select(
        "feat",
        F.floor(
            (F.col("cnt_tgt") + 1)
            * F.sum("cnt_all").over(w).cast(_DEC)
            * F.lit(1000000)
            / ((F.col("cnt_all") + 1) * F.sum("cnt_tgt").over(w).cast(_DEC))
        )
        .cast("long")
        .alias("w_e6"),
    )
    return (
        feats.join(F.broadcast(weights), "feat")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.floor(F.sum("w_e6").cast(_DEC) * F.lit(1.0) / F.count(F.lit(1)))
            .cast("long")
            .alias("affinity_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped linear regression from exact sums
# ---------------------------------------------------------------------------


@declared(
    "q_stats_regression",
    oracle=f"""
    WITH sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM({_cents_sql('l_quantity')}) AS sx,
             SUM({_cents_sql('l_extendedprice')}) AS sy,
             SUM({_cents_sql('l_quantity')} * {_cents_sql('l_quantity')})
               AS sxx,
             SUM({_cents_sql('l_quantity')} * {_cents_sql('l_extendedprice')})
               AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope6,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 100, 6) AS intercept6
    FROM sums
    """,
)
def q_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (extendedprice ~ quantity
    per return flag) — the engines' native regr_slope/regr_intercept
    use one-pass co-moment updates whose rounding differs, so the fit
    is assembled from the SAME exact-DECIMAL integer-cents sums as
    q_stats_corr_matrix: one partial-aggregated scan collects
    (n, Sx, Sy, Sxx, Sxy) per group exactly, then slope/intercept come
    out with IEEE-only float ops and a 6dp round. The cents scaling
    cancels in the slope (price/qty, both x100) and the intercept
    divides back by 100 to dollars. One exchange on the group key."""
    li = table(spark, sf_dir, "lineitem")

    def cents(c: str) -> F.Column:
        return (F.col(c).cast("decimal(18,2)") * 100).cast(_DEC)

    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(cents("l_quantity")).alias("sx"),
        F.sum(cents("l_extendedprice")).alias("sy"),
        F.sum(cents("l_quantity") * cents("l_quantity")).alias("sxx"),
        F.sum(cents("l_quantity") * cents("l_extendedprice")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / 100
    )
    return sums.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope6"),
        F.round(intercept, 6).alias("intercept6"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov drift report (the rational test for CONTINUOUS columns)
# ---------------------------------------------------------------------------


@declared(
    "q_drift_ks_report",
    oracle="""
    WITH per_val AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
               AS cnt_a,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 <> 0) AS BIGINT)
               AS cnt_b
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT cents,
             SUM(cnt_a) OVER (ORDER BY cents) AS c_a,
             SUM(cnt_b) OVER (ORDER BY cents) AS c_b,
             SUM(cnt_a) OVER () AS n_a,
             SUM(cnt_b) OVER () AS n_b
      FROM per_val
    ),
    d AS (
      SELECT cents AS at_value_cents,
             CAST(abs(CAST(c_a AS DECIMAL(38,0)) * n_b
                      - CAST(c_b AS DECIMAL(38,0)) * n_a) AS BIGINT)
               AS d_num,
             CAST(n_a AS BIGINT) AS n_a,
             CAST(n_b AS BIGINT) AS n_b
      FROM cum
    )
    SELECT at_value_cents, d_num,
           CAST(floor(CAST(d_num AS DECIMAL(38,0)) * 1000000
                      / (CAST(n_a AS DECIMAL(38,0)) * n_b)) AS BIGINT)
             AS d_e6,
           n_a, n_b
    FROM d
    ORDER BY d_num DESC, at_value_cents ASC
    LIMIT 1
    """,
)
def q_drift_ks_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift over a CONTINUOUS column —
    completing the drift battery (TVD and chi-square cover categorical
    bins; KS is what a pipeline runs on a money/latency column where
    binning would hide the shift). Snapshot halves A/B by o_orderkey
    parity, values = exact integer cents (2-dec double -> DECIMAL(18,2)
    -> *100, the q_stats_corr_matrix discipline). The statistic is
    BORN rational: D = max_x |cA(x)*nB - cB(x)*nA| / (nA*nB), so both
    engines produce the identical integer numerator and the identical
    floored micro-unit quotient — no transcendental to substitute.

    Scale shape (the reason this isn't one global window): the
    empirical CDFs come from queries/deciles.py::running_sum, the
    TWO-LEVEL cumulative sum of rule 22. Distinct values pre-aggregate
    (one exchange), cumulate WITHIN a fixed-width $25k price bucket
    (one exchange, parallel across buckets), and only the <=40-row
    bucket-total summary crosses a global window — then broadcasts
    back as per-bucket offsets and totals. The unbounded window never
    touches per-value rows, so the plan
    survives a 100x scale-up where a naive
    `Window.orderBy(value)` cumsum would serialize the whole column
    through one task (SCALE.md rule 5). argmax resolves via
    TakeOrderedAndProject (d_num desc, value asc tie-break), never a
    full sort."""
    o = table(spark, sf_dir, "orders")
    per_val = (
        o.select(
            money_units_long("o_totalprice").alias("cents"),
            (F.col("o_orderkey") % 2 == 0).alias("is_a"),
        )
        .groupBy("cents")
        .agg(
            F.count(F.when(F.col("is_a"), 1)).cast("long").alias("cnt_a"),
            F.count(F.when(~F.col("is_a"), 1)).cast("long").alias("cnt_b"),
        )
    )
    # $25k buckets of cents: the price domain is fixed, so the bucket
    # count is bounded (~40) at ANY scale factor
    cum = running_sum(per_val, "cents", ["cnt_a", "cnt_b"], 2_500_000)
    c_a = (F.col("cnt_a_before") + F.col("cnt_a")).cast(_DEC)
    c_b = (F.col("cnt_b_before") + F.col("cnt_b")).cast(_DEC)
    d_num = F.abs(c_a * F.col("n_b") - c_b * F.col("n_a"))
    return (
        cum.withColumnsRenamed({"cnt_a_total": "n_a", "cnt_b_total": "n_b"})
        .select(
            F.col("cents").alias("at_value_cents"),
            d_num.cast("long").alias("d_num"),
            F.floor(
                d_num
                * F.lit(1000000)
                / (F.col("n_a").cast(_DEC) * F.col("n_b"))
            )
            .cast("long")
            .alias("d_e6"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
        .orderBy(F.desc("d_num"), F.asc("at_value_cents"))
        .limit(1)
    )


# Synthetic per-(partition, day) "file" population: one ingest file per
# orders (priority, order day) cell, sized by the exact integer cent
# mass landing in it — deterministic in both engines and realistically
# skewed (day volumes vary). Target output size picked so partitions
# pack into a handful of groups at every SF.
_FILES_SQL = """
    SELECT o_orderpriority AS part,
           CAST(o_orderdate AS DATE) AS file_day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
             AS bytes
    FROM orders
    GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
"""


@declared(
    "q_layout_compaction_plan",
    oracle=f"""
    WITH files AS ({_FILES_SQL}),
    packed AS (
      SELECT part, file_day, bytes,
             SUM(bytes) OVER (PARTITION BY part ORDER BY file_day
                              ROWS UNBOUNDED PRECEDING) AS cum_bytes
      FROM files
    ),
    grouped AS (
      SELECT part, file_day, bytes,
             CAST((GREATEST(cum_bytes, 1) - 1) // 100000000 AS BIGINT)
               AS group_id
      FROM packed
    )
    SELECT part, group_id,
           COUNT(*) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS group_bytes,
           MIN(file_day) AS first_day,
           MAX(file_day) AS last_day
    FROM grouped
    GROUP BY part, group_id
    """,
)
def q_layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style compaction plan: pack per-(partition, day) ingest
    files into ~100 MB output groups by first-fit-in-day-order —
    group_id = (cum_bytes - 1) div target over a per-partition
    cumulative-sum window. Report one row per planned output file
    (n_files merged, byte total, day range). Integer-exact (cent-mass
    sizes through DECIMAL sums); TWO exchanges — the (part, day) file
    aggregate and the per-partition window (the report aggregate
    reuses the window's partitioning). At 100 TB the window is
    per-partition, never global — the same bounded discipline as the
    shard writer."""
    o = table(spark, sf_dir, "orders")
    files = o.groupBy(
        F.col("o_orderpriority").alias("part"),
        F.col("o_orderdate").cast("date").alias("file_day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bytes")
    )
    w = (
        Window.partitionBy("part")
        .orderBy("file_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = files.select(
        "part",
        "file_day",
        "bytes",
        F.sum("bytes").over(w).alias("cum_bytes"),
    ).select(
        "part",
        "file_day",
        "bytes",
        # greatest(..., 1) guards the cum_bytes == 0 corner (an empty
        # first file): DuckDB's `//` floors -1 // t to -1 while Spark's
        # `div` truncates to 0 — clamping keeps both engines at group 0
        F.expr("(greatest(cum_bytes, 1) - 1) div 100000000")
        .cast("long")
        .alias("group_id"),
    )
    return packed.groupBy("part", "group_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("long").alias("group_bytes"),
        F.min("file_day").alias("first_day"),
        F.max("file_day").alias("last_day"),
    )


@declared(
    "q_profile_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT l_suppkey AS key, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_suppkey
    ),
    per_count AS (
      SELECT cnt, COUNT(*) AS k FROM per_key GROUP BY cnt
    ),
    cdf AS (
      SELECT cnt, k,
             SUM(k) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(k) OVER () AS n_keys,
             SUM(cnt * k) OVER () AS n_rows,
             MAX(cnt) OVER () AS max_cnt
      FROM per_count
    )
    SELECT 'l_suppkey' AS key_col,
           CAST(MAX(n_keys) AS BIGINT) AS n_keys,
           CAST(MAX(n_rows) AS BIGINT) AS n_rows,
           CAST(MAX(max_cnt) AS BIGINT) AS max_cnt,
           CAST(MIN(CASE WHEN cum * 2 >= n_keys THEN cnt END) AS BIGINT)
             AS med_cnt,
           CAST(MIN(CASE WHEN cum * 100 >= n_keys * 99 THEN cnt END)
                AS BIGINT) AS p99_cnt,
           CAST(MAX(max_cnt) * 1000000 // MAX(n_rows) AS BIGINT)
             AS top_share_e6,
           CAST(MIN(CASE WHEN cum * 100 >= n_keys * 99 THEN cnt END)
                * 1000000
                // MIN(CASE WHEN cum * 2 >= n_keys THEN cnt END)
                AS BIGINT) AS p99_over_med_e6
    FROM cdf
    """,
)
def q_profile_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic for a join key: summarize the per-key
    count histogram of l_suppkey to (n_keys, n_rows, max / exact
    discrete median / exact discrete p99 per-key count, top
    heavy-hitter share and p99/median imbalance in floored
    micro-units) — the report that decides plain shuffle vs salting vs
    AQE skew handling BEFORE running the join (SCALE.md rule 5).

    Quantiles are EXACT and rational: the empirical CDF runs over
    distinct per-key COUNT VALUES (the bounded second level — same
    discipline as the KS report, SCALE.md rule 22), and the q-quantile
    is the smallest count value whose cumulative key coverage reaches
    ceil(q * n_keys), expressed as the integer comparison
    cum * denom >= n_keys * num so no float touches the decision.
    Shuffles: per-row data crosses ONE exchange (the per-key count);
    everything after runs over one row per distinct key-count value."""
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_count = per_key.groupBy("cnt").agg(F.count(F.lit(1)).alias("k"))
    w_cum = Window.orderBy("cnt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("cnt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = per_count.select(
        "cnt",
        "k",
        F.sum("k").over(w_cum).alias("cum"),
        F.sum("k").over(w_all).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("k")).over(w_all).alias("n_rows"),
        F.max("cnt").over(w_all).alias("max_cnt"),
    )
    med = F.min(
        F.when(F.col("cum") * 2 >= F.col("n_keys"), F.col("cnt"))
    )
    p99 = F.min(
        F.when(F.col("cum") * 100 >= F.col("n_keys") * 99, F.col("cnt"))
    )
    return cdf.agg(
        F.lit("l_suppkey").alias("key_col"),
        F.max("n_keys").cast("long").alias("n_keys"),
        F.max("n_rows").cast("long").alias("n_rows"),
        F.max("max_cnt").cast("long").alias("max_cnt"),
        med.cast("long").alias("med_cnt"),
        p99.cast("long").alias("p99_cnt"),
    ).select(
        "*",
        F.expr("max_cnt * 1000000 div n_rows")
        .cast("long")
        .alias("top_share_e6"),
        F.expr("p99_cnt * 1000000 div med_cnt")
        .cast("long")
        .alias("p99_over_med_e6"),
    )


@declared(
    "q_profile_join_cardinality",
    oracle="""
    WITH a AS (
      SELECT l_orderkey AS key, COUNT(*) AS ca
      FROM lineitem GROUP BY l_orderkey
    ),
    b AS (
      SELECT o_orderkey AS key, COUNT(*) AS cb
      FROM orders GROUP BY o_orderkey
    ),
    m AS (
      SELECT a.key, a.ca, b.cb
      FROM a FULL OUTER JOIN b ON a.key = b.key
    )
    SELECT CAST(SUM(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
                         THEN ca * cb ELSE 0 END) AS BIGINT) AS join_rows,
           CAST(SUM(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS matched_keys,
           CAST(SUM(CASE WHEN cb IS NULL AND ca IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS left_only_keys,
           CAST(SUM(CASE WHEN ca IS NULL AND cb IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS right_only_keys,
           CAST(MAX(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
                         THEN ca * cb END) AS BIGINT) AS max_key_rows
    FROM m
    """,
)
def q_profile_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality profile — the planning twin of
    q_profile_skew_report: EXACT output size of lineitem ⋈ orders on
    orderkey (Σ over matched keys of cA·cB), the matched / left-only /
    right-only key containment split, and the heaviest single key's
    output contribution — the numbers that predict whether a join
    explodes and whether a runtime filter (bloom semi join, rule 17)
    would pay, BEFORE running it. Cost: one count aggregate per side
    (rows ∝ distinct keys) + one key-aligned full outer join of the
    two count tables (the key exchange both aggregates already
    produced) + a single-row summary. Per-row data never crosses more
    than its own count exchange."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    a = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    b = o.groupBy(F.col("o_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    m = a.join(b, "key", "full_outer")
    both = F.col("ca").isNotNull() & F.col("cb").isNotNull()
    return m.agg(
        F.sum(F.when(both, F.col("ca") * F.col("cb")).otherwise(0))
        .cast("long")
        .alias("join_rows"),
        F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("matched_keys"),
        F.sum(F.when(F.col("cb").isNull() & F.col("ca").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("left_only_keys"),
        F.sum(F.when(F.col("ca").isNull() & F.col("cb").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("right_only_keys"),
        F.max(F.when(both, F.col("ca") * F.col("cb")))
        .cast("long")
        .alias("max_key_rows"),
    )


# Synthetic manifest granularity: one "file" per 512-key range of
# o_orderkey. Integer `div` in both engines (exact on BIGINT).
_FILE_DIV = 512


# Query window for the pruning simulation — inside the orders range
# (1995-01..2001-08) so the answer is non-trivial under both layouts.
_PRUNE_LO = "1998-01-01"

_PRUNE_HI = "1998-07-01"

_PRUNE_PRED = (
    f"(o_orderdate >= TIMESTAMP '{_PRUNE_LO} 00:00:00'"
    f" AND o_orderdate < TIMESTAMP '{_PRUNE_HI} 00:00:00')"
)


def _layout_oracle(layout: str, file_sql: str) -> str:
    return f"""
    SELECT '{layout}' AS layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(scan_needed) AS BIGINT) AS files_scanned,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN scan_needed = 1 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matching
    FROM (
      SELECT file_id, COUNT(*) AS n_rows,
             CAST(COUNT(*) FILTER (WHERE {_PRUNE_PRED}) AS BIGINT)
               AS n_match,
             CASE WHEN MAX(o_orderdate) >= TIMESTAMP '{_PRUNE_LO} 00:00:00'
                   AND MIN(o_orderdate) <  TIMESTAMP '{_PRUNE_HI} 00:00:00'
                  THEN 1 ELSE 0 END AS scan_needed
      FROM (SELECT {file_sql} AS file_id, o_orderdate FROM orders)
      GROUP BY file_id
    )
    """


@declared(
    "q_layout_file_prune_stats",
    oracle=(
        _layout_oracle("keyrange", f"o_orderkey // {_FILE_DIV}")
        + " UNION ALL "
        + _layout_oracle(
            "datepart", "date_trunc('month', CAST(o_orderdate AS DATE))"
        )
    ),
)
def q_layout_file_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping comparison: the SAME time-window
    predicate ([1998-01-01, 1998-07-01)) costed against two physical
    layouts of orders — 'keyrange' (files = o_orderkey div 512, the
    arrival order) and 'datepart' (files = month partitions of
    o_orderdate). Per layout: file count, files a min/max zone map
    forces open (envelope overlap: max >= lo AND min < hi), rows
    inside those files (the real I/O), and rows actually matching.
    On the keyrange layout every file spans the full date range, so
    rows_scanned == total_rows while rows_matching is a small slice —
    the write-amplification number that justifies the clustering
    writer (q_layout_zorder_cells); on datepart the two converge.
    TWO manifest aggregates (one per layout), each a single narrow
    exchange on its file key; the final 2-row union aggregates
    map-side. At 100 TB the inputs would be the engines' manifest
    tables — one row per file, never the data."""
    o = table(spark, sf_dir, "orders")

    lo = F.lit(f"{_PRUNE_LO} 00:00:00").cast("timestamp")
    hi = F.lit(f"{_PRUNE_HI} 00:00:00").cast("timestamp")

    def layout(name: str, file_col: F.Column) -> DataFrame:
        pred = (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
        manifest = (
            o.select(file_col.alias("file_id"), "o_orderdate")
            .groupBy("file_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(pred, 1)).alias("n_match"),
                F.when(
                    (F.max("o_orderdate") >= lo)
                    & (F.min("o_orderdate") < hi),
                    1,
                )
                .otherwise(0)
                .alias("scan_needed"),
            )
        )
        return manifest.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("scan_needed").alias("files_scanned"),
            F.sum("n_rows").alias("total_rows"),
            F.sum(
                F.when(F.col("scan_needed") == 1, F.col("n_rows")).otherwise(
                    0
                )
            ).alias("rows_scanned"),
            F.sum("n_match").alias("rows_matching"),
        ).select(F.lit(name).alias("layout"), "*")

    return layout(
        "keyrange", F.expr(f"o_orderkey div {_FILE_DIV}").cast("string")
    ).unionByName(
        layout(
            "datepart",
            F.date_trunc("month", F.col("o_orderdate").cast("date")).cast(
                "string"
            ),
        )
    )


# Deterministic snapshot lineage for each manifest file:
#   created_v = file_id % 8            (ingested across 8 commits)
#   deleted_v = created_v + 1 + file_id % 4   iff file_id % 3 == 0
#               (every third file was rewritten by a later commit)
# Retention: keep the last 3 snapshot versions.
_KEEP_LAST = 3


@declared(
    "q_layout_vacuum_plan",
    oracle=f"""
    WITH manifest AS (
      SELECT o_orderkey // {_FILE_DIV} AS file_id,
             COUNT(*) AS n_rows,
             CAST(SUM({_CENTS}) AS BIGINT) AS mass_cents
      FROM orders GROUP BY 1
    ),
    lineage AS (
      SELECT file_id, n_rows, mass_cents,
             file_id % 8 AS created_v,
             CASE WHEN file_id % 3 = 0
                  THEN file_id % 8 + 1 + file_id % 4
                  ELSE NULL END AS deleted_v
      FROM manifest
    ),
    horizon AS (
      SELECT MAX(GREATEST(created_v, COALESCE(deleted_v, created_v)))
               - {_KEEP_LAST} + 1 AS live_min
      FROM lineage
    )
    SELECT file_id,
           CAST(n_rows AS BIGINT) AS n_rows,
           mass_cents,
           CAST(created_v AS BIGINT) AS created_v,
           CAST(deleted_v AS BIGINT) AS deleted_v,
           CAST(live_min AS BIGINT) AS live_min,
           CASE WHEN deleted_v IS NOT NULL AND deleted_v <= live_min
                THEN 1 ELSE 0 END AS deletable
    FROM lineage, horizon
    """,
)
def q_layout_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiry vacuum plan: per manifest file — its
    created/deleted snapshot versions, the retention horizon
    (keep-last-3: live_min = vmax - 3 + 1), and whether the file is
    DELETABLE. Correctness rule (the Iceberg expire-snapshots
    contract): snapshot v references a file iff
    created_v <= v < deleted_v, so a file survives iff some retained
    v >= live_min still references it — equivalently, deletable iff
    deleted_v <= live_min. Exchanges: the manifest aggregate plus the
    1-row horizon broadcast-joined back (a broadcast nested-loop of
    one row — no manifest re-shuffle, no global sort). The reclaim
    total is SUM(mass_cents) over deletable=1 rows — left to the
    reader so the per-file plan stays the auditable artifact."""
    o = table(spark, sf_dir, "orders")
    cents = money_units_long("o_totalprice")
    manifest = (
        o.select(
            F.expr(f"o_orderkey div {_FILE_DIV}").alias("file_id"),
            cents.alias("cents"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("mass_cents"),
        )
    )
    lineage = manifest.select(
        "file_id",
        "n_rows",
        "mass_cents",
        (F.col("file_id") % 8).alias("created_v"),
        F.when(
            F.col("file_id") % 3 == 0,
            F.col("file_id") % 8 + 1 + F.col("file_id") % 4,
        ).alias("deleted_v"),
    )
    horizon = lineage.agg(
        (
            F.max(
                F.greatest(
                    F.col("created_v"),
                    F.coalesce(F.col("deleted_v"), F.col("created_v")),
                )
            )
            - F.lit(_KEEP_LAST)
            + 1
        ).alias("live_min")
    )
    out = lineage.crossJoin(F.broadcast(horizon))
    deletable = F.when(
        F.col("deleted_v").isNotNull()
        & (F.col("deleted_v") <= F.col("live_min")),
        1,
    ).otherwise(0)
    return out.select(
        "file_id",
        "n_rows",
        "mass_cents",
        "created_v",
        "deleted_v",
        "live_min",
        deletable.alias("deletable"),
    )


# fixed, engine-identical retention cutoff: orders strictly older than
# this are expired (the testdata spans 1995-01..2001-08, so all three
# classes are non-vacuous at every SF)
_CUTOFF = "1996-07-15"


@declared(
    "q_layout_retention_plan",
    oracle=f"""
    WITH parts AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS part_month,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_CUTOFF}'
                      THEN 1 ELSE 0 END) AS n_expired
      FROM orders
      GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE)
    )
    SELECT part_month,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_expired AS BIGINT) AS n_expired,
           CASE WHEN n_expired = n_rows THEN 'drop_partition'
                WHEN n_expired > 0 THEN 'rewrite'
                ELSE 'keep' END AS action,
           CAST((n_rows - n_expired) * 1000000 // n_rows AS BIGINT)
             AS survivor_share_e6
    FROM parts
    """,
)
def q_layout_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL retention enforcement plan over month partitions of orders:
    per partition — row count, expired count (strictly before the
    fixed cutoff), the action class (drop_partition / rewrite / keep),
    and the floored micro-share of rows a rewrite must carry.  Month
    partitions make the plan mostly metadata: cutoff-interior months
    classify drop or keep outright and only the ONE boundary month
    rewrites (law pinned: at most one 'rewrite' partition exists for a
    month-aligned cutoff... the cutoff here is mid-month by design so
    the rewrite class is non-vacuous).  One fact exchange (the month
    aggregate); everything downstream is bounded by the calendar."""
    o = table(spark, sf_dir, "orders")
    parts = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("part_month")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                F.to_date("o_orderdate") < F.lit(_CUTOFF).cast("date"), 1
            ).otherwise(0)
        ).alias("n_expired"),
    )
    return parts.select(
        "part_month",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_expired").cast("long").alias("n_expired"),
        F.when(F.col("n_expired") == F.col("n_rows"), "drop_partition")
        .when(F.col("n_expired") > 0, "rewrite")
        .otherwise("keep")
        .alias("action"),
        F.expr("(n_rows - n_expired) * 1000000 div n_rows")
        .cast("long")
        .alias("survivor_share_e6"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency / candidate-key discovery
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
# Sort-order / clustering-key advisor
# ---------------------------------------------------------------------------

_ADVISOR_ROWS_PER_FILE = 4096


# candidate clustering keys: (label, spark Column factory, duckdb expr)
_ADVISOR_CANDIDATES = (
    ("l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey"),
    ("l_orderkey", "l_orderkey"),
    ("l_shipdate", "date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))"),
)


def _advisor_arm_sql(label: str, expr: str) -> str:
    r = _ADVISOR_ROWS_PER_FILE
    return f"""
    SELECT '{label}' AS col,
           CAST(SUM(nv) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST((SUM(nv) + {r} - 1) // {r} AS BIGINT) AS n_files_total,
           CAST(SUM((nv + {r} - 1) // {r} + 1) * CAST(1000000 AS HUGEINT)
                // COUNT(*) AS BIGINT) AS avg_files_per_value_e6,
           CAST(GREATEST(
             CAST(0 AS HUGEINT),
             1000000 - SUM((nv + {r} - 1) // {r} + 1)
                       * CAST(1000000 AS HUGEINT)
                       // (COUNT(*) * ((SUM(nv) + {r} - 1) // {r}))
           ) AS BIGINT) AS prune_score_e6
    FROM (SELECT {expr} AS v, COUNT(*) AS nv FROM lineitem GROUP BY 1)"""


@declared(
    "q_layout_sort_advisor",
    oracle="\nUNION ALL\n".join(
        _advisor_arm_sql(lbl, ex) for lbl, ex in _ADVISOR_CANDIDATES
    ),
)
def q_layout_sort_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-key advisor — which sort/ZORDER column buys the most
    file pruning BEFORE paying for the rewrite: if the fact were
    range-sorted by the candidate into 4096-row files, an equality
    predicate on value v touches at most ceil(n_v/R)+1 files (the +1
    is the boundary straddle).  The report carries the exact average
    files-per-value (e6) and a prune score = 1e6 − avg_share_e6 of
    total files, clamped at 0 for hopeless keys.  Every decision value
    is an integer, so a re-run plans the identical layout (rule 23 —
    the same discipline as q_layout_compaction_plan); the chosen key
    then feeds write_zordered / write_partitioned_fact.  Plan: one
    value-grain exchange per candidate (the union arms are
    independent), nothing else touches the fact."""
    li = table(spark, sf_dir, "lineitem")
    r = _ADVISOR_ROWS_PER_FILE
    epoch = F.to_date(F.lit("1970-01-01"))
    exprs = {
        "l_partkey": F.col("l_partkey"),
        "l_suppkey": F.col("l_suppkey"),
        "l_orderkey": F.col("l_orderkey"),
        "l_shipdate": F.datediff(F.to_date("l_shipdate"), epoch),
    }
    out = None
    for label, _ in _ADVISOR_CANDIDATES:
        counts = li.groupBy(exprs[label].alias("v")).agg(
            F.count(F.lit(1)).alias("nv")
        )
        arm = (
            counts.agg(
                F.sum("nv").cast(_DEC).alias("n_rows_d"),
                F.count(F.lit(1)).cast(_DEC).alias("n_distinct_d"),
                F.sum(
                    F.expr(f"(nv + {r} - 1) div {r}").cast(_DEC) + 1
                ).alias("files_sum"),
            )
            .select(
                F.lit(label).alias("col"),
                F.col("n_rows_d").cast("long").alias("n_rows"),
                F.col("n_distinct_d").cast("long").alias("n_distinct"),
                F.expr(f"(n_rows_d + {r} - 1) div {r}")
                .cast(_DEC)
                .alias("nft_d"),
                "files_sum",
                "n_distinct_d",
            )
            .select(
                "col",
                "n_rows",
                "n_distinct",
                F.col("nft_d").cast("long").alias("n_files_total"),
                F.expr("(files_sum * 1000000) div n_distinct_d")
                .cast("long")
                .alias("avg_files_per_value_e6"),
                F.greatest(
                    F.lit(0).cast("long"),
                    (
                        F.lit(1000000)
                        - F.expr(
                            "(files_sum * 1000000) div (n_distinct_d * nft_d)"
                        )
                    ).cast("long"),
                ).alias("prune_score_e6"),
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# Inclusion-dependency discovery (the join-graph profiler)
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
# Candidate-key discovery (the uniqueness profiler)
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

