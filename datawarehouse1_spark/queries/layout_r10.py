"""Round-10 lakehouse layout operations: file-skipping statistics and
snapshot-retention vacuum planning.

Two table-maintenance reports every lakehouse engine (Delta / Iceberg /
Hudi) computes over its file manifest, re-expressed here over a
deterministic manifest derived from the orders table (the same staging
discipline as q_layout_compaction_plan / q_layout_zorder_cells:
file_id = o_orderkey div N gives a stable synthetic "ingest file" per
key range, so both engines derive the identical manifest from the same
parquet bytes):

* **File-skipping stats (zone maps)** — per data file: row count,
  min/max of the predicate column, exact byte-mass, and whether a
  given query window can PRUNE the file without opening it. This is
  the manifest row Iceberg's `files` metadata table serves and the
  math behind `PushedFilters` row-group skipping; the report quantifies
  what fraction of the table a time-windowed query must touch — the
  decision input for re-clustering (see q_layout_zorder_cells).

* **Vacuum plan (snapshot expiry)** — the Iceberg
  `expire_snapshots` / Delta `VACUUM` decision: given each file's
  created/deleted snapshot version and a keep-last-K retention horizon,
  a file is deletable iff NO retained snapshot references it. Snapshot
  v references a file iff created_v <= v < deleted_v, so with retained
  versions [vmax-K+1, vmax] the rule collapses to
  `deleted_v IS NOT NULL AND deleted_v <= vmax-K+1` — pure integer
  logic both engines compute identically.

At 100 TB both reports aggregate the MANIFEST (one row per file — a
billion rows of narrow tuples at most), never the data files
themselves; the only wide input scan here exists because the manifest
is synthesized from orders. The retention horizon is a 1-row aggregate
broadcast to the manifest — no global sort, no driver loop.

Reference parity: the reference (init-db/init.sql) has no file-layout
surface; SURVEY.md §2B O17 extension (physical-layout tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_units_long, sql_cents
from datawarehouse1_spark.registry import declared

# Synthetic manifest granularity: one "file" per 512-key range of
# o_orderkey. Integer `div` in both engines (exact on BIGINT).
_FILE_DIV = 512

# Exact integer cents for byte-mass stand-ins (the money discipline).
_CENTS = sql_cents("o_totalprice")

# ---------------------------------------------------------------- 1.

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


# ---------------------------------------------------------------- 2.

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
