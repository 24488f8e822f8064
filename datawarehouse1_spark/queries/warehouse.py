"""Warehouse-semantics operators (SURVEY.md §2A O8-O11, §2B O12-O14, C16):
the reference's actual value-add — surrogate keys, unique-key and full-row
dedup, incremental change detection, metadata upsert, re-ingest union.

The reference gets these from Postgres constraints + a hand-rolled
metadata table (init-db/init.sql:11-17, 23, 50, 58-59; etl/app.py:36-89);
Spark enforces none of them, so each is an explicit, testable transform
(also exposed as reusable ops in operators/warehouse.py).

SCD2 history beside them: the per-user state history and its as-of
lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.checksum import (
    MOD_P,
    hex15_to_long_sql,
    table_checksum,
)
from datawarehouse1_spark.registry import declared


# --- O11: surrogate key generation (SERIAL analog) ---
@declared(
    "q_surrogate_key",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS id, c_custkey, c_name
    FROM customer
    """,
)
def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERIAL PRIMARY KEY (init-db/init.sql:12,22,36,49) re-expressed as
    row_number over a total order — deterministic, unlike
    monotonically_increasing_id. NOTE the empty-partitionBy window is a
    single-task global sort: fine for dimension-sized tables; for a 100 TB
    fact use zipWithIndex-style per-partition offsets (operators/
    warehouse.py:add_surrogate_key_distributed)."""
    c = table(spark, sf_dir, "customer")
    w = Window.orderBy("c_custkey")
    return c.select(
        F.row_number().over(w).alias("id"), "c_custkey", "c_name"
    )


# --- O12: unique-business-key dedup (keep-latest) ---
@declared(
    "q_dedup_business_key",
    oracle="""
    WITH staged AS (
      SELECT c_custkey, c_name, c_acctbal, 1 AS batch FROM customer
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, 2 AS batch
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT c_custkey, c_name, c_acctbal, batch FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                   ORDER BY batch DESC) AS rn
      FROM staged
    ) WHERE rn = 1
    """,
)
def q_dedup_business_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIQUE NOT NULL on the business key (init-db/init.sql:23,37,50): a
    re-delivered key must supersede, not duplicate. Keep-latest via
    row_number over (key, recency desc) — the standard Spark idiom; a
    plain dropDuplicates([key]) is the nondeterministic fast path."""
    c = table(spark, sf_dir, "customer")
    batch1 = c.select("c_custkey", "c_name", "c_acctbal", F.lit(1).alias("batch"))
    batch2 = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            "c_name",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit(2).alias("batch"),
        )
    )
    staged = batch1.unionByName(batch2)
    w = Window.partitionBy("c_custkey").orderBy(F.desc("batch"))
    return (
        staged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --- O13: full-row duplicate elimination (the CLI001/CLI003 case) ---
@declared(
    "q_dedup_rows",
    oracle="""
    SELECT DISTINCT doc_id, text, lang, source FROM (
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 2 = 0
    )
    """,
)
def q_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's readme claims duplicate avoidance (readme.md:27) but
    only dedups at file level, so content dupes (clients.xlsx CLI001/CLI003)
    land in the warehouse. Full-row distinct after a re-ingest union."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    reingested = d.unionByName(d.filter(F.col("doc_id") % 2 == 0))
    return reingested.distinct()


# --- O13b: duplicate report (groupBy > 1), the audit flavor ---
@declared(
    "q_dup_report",
    oracle="""
    SELECT text, COUNT(*) AS n_copies, MIN(doc_id) AS first_doc_id
    FROM (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000 AS doc_id, text FROM documents WHERE doc_id < 50)
    GROUP BY text HAVING COUNT(*) > 1
    """,
)
def q_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    return (
        d.unionByName(dup)
        .groupBy("text")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("first_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


# --- O8+O10: incremental-load change detection (file-level anti join) ---
@declared(
    "q_incremental_antijoin",
    oracle="""
    WITH listing AS (SELECT DISTINCT source, n_chars FROM documents),
         processed AS (SELECT DISTINCT source FROM documents WHERE doc_id % 2 = 0)
    SELECT l.source, l.n_chars
    FROM listing l
    WHERE NOT EXISTS (SELECT 1 FROM processed p WHERE p.source = l.source)
    """,
)
def q_incremental_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """file_needs_processing (etl/app.py:36-52): skip inputs already in
    file_metadata. Batch analog = left_anti of the listing against the
    control table; the streaming path gets this free from the file-source
    checkpoint (streaming/file_ingest.py)."""
    d = table(spark, sf_dir, "documents")
    listing = d.select("source", "n_chars").distinct()
    processed = d.filter(F.col("doc_id") % 2 == 0).select("source").distinct()
    return listing.join(processed, "source", "left_anti").select("source", "n_chars")


# --- O9: metadata upsert (insert-or-update keep-latest) ---
@declared(
    "q_upsert_latest",
    oracle="""
    WITH old AS (SELECT user_id, ts, value, 'success' AS status
                 FROM events WHERE event_id < 500),
         new AS (SELECT user_id, ts, value, 'reprocessed' AS status
                 FROM events WHERE event_id >= 250),
         merged AS (SELECT * FROM new UNION ALL SELECT * FROM old)
    SELECT user_id, ts, value, status FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, value DESC, status ASC) AS rn
      FROM merged
    ) WHERE rn = 1
    """,
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """update_file_metadata (etl/app.py:55-89) is an UPSERT; on immutable
    parquet that's a keep-latest rewrite of the (small) control table:
    union old+new, row_number per key by recency, keep 1. Documented O(table)
    — fine for control tables, not for facts (those append only)."""
    ev = table(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") < 500).select(
        "user_id", "ts", "value", F.lit("success").alias("status")
    )
    new = ev.filter(F.col("event_id") >= 250).select(
        "user_id", "ts", "value", F.lit("reprocessed").alias("status")
    )
    merged = new.unionByName(old)
    # status ASC tiebreak: when the same (ts, value) row exists in both
    # batches, 'reprocessed' < 'success' sorts the new row first — the new
    # batch wins ties, which is exactly upsert semantics, deterministically.
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("value"), F.asc("status")
    )
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --- C16: union of incremental loads + distinct (re-ingest semantics) ---
@declared(
    "q_union_incremental",
    oracle="""
    SELECT DISTINCT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    )
    """,
)
def q_union_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two overlapping load windows unioned then de-duplicated — the
    O7 append + O12 unique-key composition for re-delivered batches."""
    o = table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    early = o.filter(F.col("o_orderdate") < "1997-01-01").select(*cols)
    late = o.filter(F.col("o_orderdate") >= "1996-01-01").select(*cols)
    return early.unionByName(late).distinct()


# --- migration reconciliation: order-independent table checksums ---


_CK_TABLES = {
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "region": ["r_regionkey", "r_name"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    "documents": ["doc_id", "lang", "source", "n_chars"],
}


def _ck_oracle_one(tbl: str, cols: list[str]) -> str:
    canon = " || ".join(
        f"CASE WHEN {c} IS NULL THEN 'N' ELSE 'S' || "
        f"CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR) || ':' || "
        f"CAST({c} AS VARCHAR) END"
        for c in cols
    )
    h = hex15_to_long_sql(f"md5({canon})")
    return f"""
    SELECT '{tbl}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST({h} AS HUGEINT)) % {MOD_P} AS BIGINT) AS checksum
    FROM {tbl}"""


@declared(
    "q_reconcile_checksums",
    oracle=" UNION ALL ".join(
        _ck_oracle_one(t, c) for t, c in _CK_TABLES.items()
    ),
)
def q_reconcile_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system migration reconciliation — the check THIS project
    needs when a user switches from the reference warehouse: one
    order-independent checksum row per table (md5 row hash → int64 →
    exact modular sum, functions/checksum.py). Row order, partitioning,
    and engine are all invisible to the result; any single-row
    corruption moves it. One scan + one single-row exchange per table;
    the canonical form covers string/integer columns (float/timestamp
    rendering is engine-specific and excluded by contract)."""
    out = None
    for tbl, cols in _CK_TABLES.items():
        df = table_checksum(table(spark, sf_dir, tbl), cols, tbl)
        out = df if out is None else out.unionByName(df)
    return out


# --- ext: general MERGE / CDC-apply (the scale form of the O9 upsert) ---
# The change batch is staged deterministically from orders IN BOTH
# ENGINES (the testdata ships no CDC feed): keys are bucketed by
# o_orderkey % 7 into  net-delete (U then D), single update, double
# update (latest wins), and brand-new inserts (key + 100000000).
_CDC_CHANGES_SQL = """
      SELECT o_orderkey, o_orderstatus,
             o_totalprice * CAST(1.05 AS DOUBLE) AS o_totalprice,
             'U' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'D' AS op, 2 AS seq
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
             o_totalprice * CAST(1.10 AS DOUBLE) AS o_totalprice,
             'U' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 7 IN (1, 2)
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
             o_totalprice * CAST(1.20 AS DOUBLE) AS o_totalprice,
             'U' AS op, 2 AS seq
      FROM orders WHERE o_orderkey % 7 = 2
      UNION ALL
      SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus,
             o_totalprice, 'I' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 7 = 3
"""


@declared(
    "q_merge_cdc_apply",
    oracle=f"""
    WITH changes AS ({_CDC_CHANGES_SQL}),
    latest AS (
      SELECT * FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice, op,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                  ORDER BY seq DESC) AS rn
        FROM changes
      ) WHERE rn = 1
    )
    SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
    FROM orders b
      ANTI JOIN latest l ON b.o_orderkey = l.o_orderkey
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM latest WHERE op <> 'D'
    """,
)
def q_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE semantics (insert + update + delete, latest-per-key by
    sequence) applied to the orders snapshot — operators/warehouse.py::
    apply_cdc. Only the change batch shuffles (row_number per key); the
    snapshot contributes one key-only anti join, broadcastable when the
    batch is small. Net effect at sf: ~1/7 of keys deleted, ~2/7
    re-priced (one via latest-wins over two updates), ~1/7 new keys."""
    base, changes = _staged_cdc_changes(spark, sf_dir)
    from datawarehouse1_spark.operators.warehouse import apply_cdc

    return apply_cdc(base, changes, keys=("o_orderkey",))


def _staged_cdc_changes(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(snapshot, staged change feed) — the Spark twin of
    _CDC_CHANGES_SQL, shared by the MERGE-apply and SCD2 queries so the
    two consumers can never drift apart."""
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey") % 7
    price = F.col("o_totalprice")

    def chg(df: DataFrame, op: str, seq: int, **over) -> DataFrame:
        cols = [
            over.get(c, F.col(c)).alias(c)
            for c in ("o_orderkey", "o_orderstatus", "o_totalprice")
        ]
        return df.select(*cols, F.lit(op).alias("op"), F.lit(seq).alias("seq"))

    changes = (
        chg(base.filter(k == 0), "U", 1, o_totalprice=price * F.lit(1.05))
        .unionByName(chg(base.filter(k == 0), "D", 2))
        .unionByName(
            chg(base.filter(k.isin(1, 2)), "U", 1, o_totalprice=price * F.lit(1.10))
        )
        .unionByName(chg(base.filter(k == 2), "U", 2, o_totalprice=price * F.lit(1.20)))
        .unionByName(
            chg(
                base.filter(k == 3),
                "I",
                1,
                o_orderkey=F.col("o_orderkey") + F.lit(100000000),
                o_orderstatus=F.lit("N"),
            )
        )
    )
    return base, changes


@declared(
    "q_scd2_from_cdc",
    oracle=f"""
    WITH changes AS ({_CDC_CHANGES_SQL}),
    versioned AS (
      SELECT *,
             LEAD(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS next_seq
      FROM changes
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(seq AS BIGINT) AS valid_from_seq,
           CAST(next_seq AS BIGINT) AS valid_to_seq,
           next_seq IS NULL AS is_current
    FROM versioned WHERE op <> 'D'
    """,
)
def q_scd2_from_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 from the same staged CDC feed q_merge_cdc_apply folds:
    every I/U becomes a version row valid over [seq, next seq); a D
    closes the last version (no row of its own); the final surviving
    version per key is is_current. Complements q_merge_cdc_apply (type
    1, latest-only) and q_scd2_user_state (intervals from raw events) —
    this is the CHANGE-FEED→history materializer a warehouse runs to
    serve as-of queries (operators/warehouse.py::scd2_from_changes;
    one key-partitioned window over the feed, snapshot untouched)."""
    from datawarehouse1_spark.operators.warehouse import scd2_from_changes

    _, changes = _staged_cdc_changes(spark, sf_dir)
    return scd2_from_changes(changes, keys=("o_orderkey",))


_CDC_NEW_SNAPSHOT_SQL = """
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 IN (1, 2)
                  THEN o_totalprice * CAST(1.10 AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 7 = 3
"""


@declared(
    "q_cdc_extract_changes",
    oracle=f"""
    WITH new AS ({_CDC_NEW_SNAPSHOT_SQL})
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           coalesce(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
           coalesce(n.o_totalprice, o.o_totalprice) AS o_totalprice,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op
    FROM orders o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
)
def q_cdc_extract_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC GENERATION — the inverse of q_merge_cdc_apply: diff two
    snapshot versions of orders into the minimal I/U/D change feed
    (operators/warehouse.py::extract_changes). The snapshots-only
    integration pattern: nightly dumps (or the reference's re-ingested
    Excel files, etl/app.py:36-52 which detects changed FILES but then
    re-loads whole tables) become row-level deltas for downstream
    consumers. Staged new snapshot: ~1/7 of keys deleted, ~2/7
    re-priced, ~1/7 inserted, the rest unchanged and NOT emitted — the
    feed scales with churn, not table size. One null-safe full outer
    join on the key; round-trip law apply_cdc(old, extract(old,new)) ==
    new is pinned in tests/test_warehouse_ops.py."""
    from datawarehouse1_spark.operators.warehouse import extract_changes

    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey") % 7
    new = (
        base.filter(k != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                k.isin(1, 2), F.col("o_totalprice") * F.lit(1.10)
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            base.filter(k == 3).select(
                (F.col("o_orderkey") + F.lit(100000000)).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    return extract_changes(base, new, keys=("o_orderkey",))


@declared(
    "q_schema_evolution_union",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_priority_class, 1 AS schema_version
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           substr(o_orderpriority, 1, 1) AS o_priority_class,
           2 AS schema_version
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the union: v1 batches lack a column that v2
    batches added (the reference's real failure mode — its Excel
    sources drift columns across re-ingests, readme.md:91-101 and the
    produits.xlsx stray 7th column, and its to_sql append just breaks;
    etl/app.py:150-155 only checks for MISSING required columns).
    Spark-native answer: unionByName(allowMissingColumns=True) — old
    rows take NULL for the new column, order-insensitive by NAME (a
    positional UNION would silently mis-bind drifted columns). Narrow,
    zero-shuffle; at 100 TB this is the mergeSchema read path."""
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(1).alias("schema_version"),
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.substring("o_orderpriority", 1, 1).alias("o_priority_class"),
        F.lit(2).alias("schema_version"),
    )
    return v1.unionByName(v2, allowMissingColumns=True).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_priority_class", "schema_version",
    )


@declared(
    "q_scd2_asof_lookup",
    oracle=f"""
    WITH changes AS ({_CDC_CHANGES_SQL}),
    versioned AS (
      SELECT *,
             LEAD(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS next_seq
      FROM changes
    ),
    hist AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             CAST(seq AS BIGINT) AS valid_from_seq,
             CAST(next_seq AS BIGINT) AS valid_to_seq
      FROM versioned WHERE op <> 'D'
    )
    SELECT p.probe_seq, h.o_orderkey, h.o_orderstatus, h.o_totalprice
    FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) AS p(probe_seq)
    JOIN hist h
      ON h.valid_from_seq <= p.probe_seq
     AND (h.valid_to_seq IS NULL OR p.probe_seq < h.valid_to_seq)
    """,
)
def q_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF retrieval against the SCD2 history — the query type-2
    dimensions exist to serve: for each probe sequence point, the
    version valid over [valid_from, valid_to) at that point (deleted
    keys correctly absent after their close). Broadcast the (tiny)
    probe set against the history with the half-open interval
    predicate — at 100 TB the history is also range-partitionable by
    valid_from for pruning. Probes at seq 1 and 2 exercise boundary
    semantics: a version starting AT the probe is visible, one closed
    AT the probe is not."""
    from datawarehouse1_spark.operators.warehouse import scd2_from_changes

    _, changes = _staged_cdc_changes(spark, sf_dir)
    hist = scd2_from_changes(changes, keys=("o_orderkey",))
    probes = spark.createDataFrame([(1,), (2,)], "probe_seq long")
    cond = (F.col("valid_from_seq") <= F.col("probe_seq")) & (
        F.col("valid_to_seq").isNull()
        | (F.col("probe_seq") < F.col("valid_to_seq"))
    )
    return (
        hist.join(F.broadcast(probes), cond)
        .select("probe_seq", "o_orderkey", "o_orderstatus", "o_totalprice")
    )


@declared(
    "q_scd2_user_state",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_change
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM marked WHERE is_change = 1
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to
    FROM changes
    """,
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: collapse each user's event stream into
    [valid_from, valid_to) state intervals, opening a row only when the
    state actually changes (lag comparison) and closing it with the
    next change's timestamp (lead). The type-2 companion to
    q_upsert_latest's type-1 overwrite — both shuffles share the
    user_id partitioning, so AQE coalesces them onto one exchange."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
        ).cast("int").alias("is_change"),
    )
    changes = marked.filter(F.col("is_change") == 1).select(
        "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )

