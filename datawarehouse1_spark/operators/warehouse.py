"""Reusable warehouse-semantics operators.

The declared queries in queries/warehouse.py exercise these shapes on the
testdata; this module is the library form the ingest pipeline composes:
constraint checks the reference delegates to Postgres
(init-db/init.sql:23,50,58-59), surrogate keys, keep-latest dedup, and
the control-table upsert (etl/app.py:55-89).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def add_surrogate_key(df: DataFrame, order_by: Sequence[str], out: str = "id") -> DataFrame:
    """SERIAL analog (init-db/init.sql:12): deterministic row_number over a
    total order. Single-task global window — use only for dimension-sized
    tables; facts use add_surrogate_key_distributed."""
    w = Window.orderBy(*[F.asc(c) for c in order_by])
    return df.select(F.row_number().over(w).alias(out), "*")


def add_surrogate_key_distributed(
    df: DataFrame, order_by: Sequence[str], out: str = "id"
) -> DataFrame:
    """Scale path: ids dense and deterministic w.r.t. the given total order
    without a global single-partition sort. Two passes:
      1. range-partition sort by the key (repartitionByRange keeps Spark's
         sampled-boundary parallel sort),
      2. per-partition row_number + broadcast per-partition offsets.
    zipWithIndex semantics in pure DataFrame ops."""
    sorted_df = df.repartitionByRange(*[F.col(c) for c in order_by]).sortWithinPartitions(
        *[F.asc(c) for c in order_by]
    )
    with_pid = sorted_df.withColumn("_pid", F.spark_partition_id())
    w_in = Window.partitionBy("_pid").orderBy(*[F.asc(c) for c in order_by])
    numbered = with_pid.withColumn("_rn", F.row_number().over(w_in))
    counts = numbered.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_offset", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).select("_pid", "_offset")
    return (
        numbered.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_offset") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_offset")
    )


def dedup_keep_latest(
    df: DataFrame, keys: Sequence[str], recency: Sequence[Column | str]
) -> DataFrame:
    """UNIQUE-key semantics (init-db/init.sql:23,37,50) as keep-latest:
    re-delivered business keys supersede. `recency` must totally order
    rows within a key for determinism."""
    order = [F.desc(c) if isinstance(c, str) else c for c in recency]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def null_predicate(not_null_cols: Sequence[str]) -> Column:
    """True on a row that violates NOT NULL on any of `not_null_cols`."""
    cond = F.lit(False)
    for c in not_null_cols:
        cond = cond | F.col(c).isNull()
    return cond


def null_violations(df: DataFrame, not_null_cols: Sequence[str]) -> DataFrame:
    """NOT NULL constraint report (init-db/init.sql:23-25,40-41,50-55)."""
    return df.filter(null_predicate(not_null_cols))


def fk_orphans(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str) -> DataFrame:
    """FK orphan set (init-db/init.sql:58-59): rows of `fact` whose key has
    no match in `dim`. Must be empty before an append (validate-then-write)."""
    return fact.join(
        dim.select(F.col(dim_key).alias(fact_key)).distinct(),
        on=fact_key,
        how="left_anti",
    )


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """UNIQUE violation report: business keys appearing more than once."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def upsert_small_table(
    old: DataFrame, new: DataFrame, keys: Sequence[str], recency: Sequence[Column | str]
) -> DataFrame:
    """MERGE emulation for control tables (etl/app.py:55-89 upsert): union
    + keep-latest rewrite. O(table) per call — documented as control-table
    only; fact tables append, never rewrite."""
    return dedup_keep_latest(new.unionByName(old), keys, recency)


def merge_rollup(
    old: DataFrame | None,
    delta: DataFrame,
    keys: Sequence[str],
    additive_cols: Sequence[str],
) -> DataFrame:
    """Incrementally maintain an additive rollup table: `delta` is the
    aggregate of ONLY the new batch; merging is union + re-sum on the
    grouping keys — never a rescan of history. Works for any additive
    measure (COUNT partials, DECIMAL SUMs). Keep sums in DECIMAL inside
    the maintained table (exact, order/merge-independent); cast to double
    only in the serving view.

    At 100 TB this is the difference between an O(|batch|) nightly
    refresh and an O(|history|) one. Non-additive measures (distinct
    counts) need sketch columns instead (HLL) — exact distinct cannot be
    merged and is recomputed or approximated.
    """
    merged = delta if old is None else old.unionByName(delta)
    return merged.groupBy(*keys).agg(
        *(F.sum(c).alias(c) for c in additive_cols)
    )


def rollup_with_hll(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    sketch_col: str = "custkey_sketch",
) -> DataFrame:
    """Per-key aggregate carrying a mergeable HLL sketch for the distinct
    count (Apache DataSketches via hll_sketch_agg). The sketch column is
    what makes COUNT(DISTINCT) incrementally maintainable: exact distinct
    partials cannot be merged; sketch union preserves the error bound
    (within-rsd agreement with a single-pass sketch, not bit equality —
    the union gadget re-targets the representation)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(distinct_col).alias(sketch_col)
    )


def merge_hll_rollup(
    old: DataFrame | None,
    delta: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "custkey_sketch",
) -> DataFrame:
    """Merge HLL-sketch rollups (union per key). Serve the estimate with
    hll_sketch_estimate(sketch_col)."""
    merged = delta if old is None else old.unionByName(delta)
    return merged.groupBy(*keys).agg(
        F.hll_union_agg(sketch_col).alias(sketch_col)
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """General MERGE / CDC-apply: fold an ordered change batch
    (op ∈ {'I','U','D'}, totally ordered per key by `seq_col`) into a
    snapshot. The reference only needs the control-table upsert
    (etl/app.py:55-89, no deletes); this is the scale generalization a
    warehouse ingesting a CDC feed (Debezium-style) runs per batch:

      1. keep only the LATEST change per key (row_number over seq desc —
         one shuffle of the change batch, never of the snapshot),
      2. untouched snapshot rows survive via left_anti on changed keys,
      3. the latest change materializes unless it is a delete.

    `changes` must carry the full snapshot column set plus op/seq;
    inserts and updates are uniform ("upsert" rows). The snapshot-side
    join is key-only (the change batch is usually broadcastable; AQE
    picks that up from its post-dedup size at runtime).

    Total-order contract, ENFORCED: `seq_col` must be unique per key
    wherever it decides the outcome. A feed that delivers two changes
    with the same (key, seq) at the top of a key's history (e.g.
    interleaved redelivery with reused sequence numbers) has no defined
    winner — instead of silently picking one, the fold raises at
    execution time. The check rides the SAME window as the ranking
    (lead over seq desc: a winner is tied iff the runner-up carries an
    equal seq), so it costs no extra shuffle; ties below the winner
    don't affect the result and pass. The guard is folded into the kept
    `op` column so column pruning cannot optimize it away."""
    order = [F.desc(seq_col)]
    w = Window.partitionBy(*keys).orderBy(*order)
    tied = F.col("_next_seq").isNotNull() & (
        F.col("_next_seq") == F.col(seq_col)
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .withColumn("_next_seq", F.lead(seq_col).over(w))
        .filter(F.col("_rn") == 1)
        .withColumn(
            op_col,
            F.when(
                tied,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "apply_cdc: duplicate (key, seq) — no defined "
                            f"winner for {seq_col}="
                        ),
                        F.col(seq_col).cast("string"),
                    )
                ),
            ).otherwise(F.col(op_col)),
        )
        .drop("_rn", "_next_seq")
    )
    survivors = base.join(latest.select(*keys), on=list(keys), how="left_anti")
    applied = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    return survivors.unionByName(applied)


def extract_changes(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Snapshot diff — the INVERSE of apply_cdc: given two versions of a
    table, emit the minimal change feed (op ∈ {'I','U','D'}) that folds
    the old snapshot into the new one. The pair forms a round-trip law
    (pinned in tests):

        apply_cdc(old, extract_changes(old, new) + any seq) == new

    This is CDC *generation* for systems that only expose snapshots
    (nightly dumps, full-refresh APIs, the reference's re-ingested Excel
    files): diff against yesterday's snapshot and ship deltas downstream
    instead of the full table.

    Shape: ONE null-safe full outer join on the keys decides everything —
    I where the key is new, D where it vanished, U where any non-key
    column differs (struct equality, null-safe via <=>); unchanged rows
    are dropped, so downstream cost scales with churn, not table size.
    Non-key values come from `new` (for D rows they are the old values,
    informational only — apply_cdc ignores them). At 100 TB both sides
    shuffle once on the key; co-partitioned/bucketed snapshots make it
    exchange-free."""
    keys = list(keys)
    vals = [c for c in new.columns if c not in keys]
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: old={sorted(old.columns)} "
            f"new={sorted(new.columns)}"
        )
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        F.struct(*[F.col(c).alias(c) for c in vals]).alias("_oval"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        F.struct(*[F.col(c).alias(c) for c in vals]).alias("_nval"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_ok_{k}").eqNullSafe(F.col(f"_nk_{k}"))
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    old_absent = F.col(f"_ok_{keys[0]}").isNull() & F.col("_oval").isNull()
    new_absent = F.col(f"_nk_{keys[0]}").isNull() & F.col("_nval").isNull()
    op = (
        F.when(old_absent, F.lit("I"))
        .when(new_absent, F.lit("D"))
        .when(~F.col("_oval").eqNullSafe(F.col("_nval")), F.lit("U"))
    )
    changed = joined.withColumn(op_col, op).filter(F.col(op_col).isNotNull())
    out_key = [
        F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k) for k in keys
    ]
    out_val = [
        F.coalesce(F.col("_nval"), F.col("_oval"))[c].alias(c) for c in vals
    ]
    return changed.select(*out_key, *out_val, F.col(op_col))


def scd2_from_changes(
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Materialize the full SCD TYPE-2 HISTORY from an ordered change
    feed: every I/U becomes a version row valid over
    [its seq, next change's seq); a D closes the previous version and
    adds no row; the last surviving version per key is `is_current`.
    Where apply_cdc keeps only the latest state (SCD type 1), this
    keeps every state a key ever had — the audit/as-of dimension table.

    One window per key over the change feed (the feed shuffles once on
    the keys; the snapshot is never touched — at 100 TB the feed is the
    small side by construction). The same total-order contract as
    apply_cdc, enforced the same way: a duplicate (key, seq) ANYWHERE
    corrupts the interval chain, so it raises at execution time (lead
    on the ranking window; guard folded into a kept column so pruning
    cannot drop it)."""
    w = Window.partitionBy(*keys).orderBy(F.asc(seq_col))
    tied = F.col("_next_seq").isNotNull() & (
        F.col("_next_seq") == F.col(seq_col)
    )
    versioned = changes.withColumn(
        "_next_seq", F.lead(seq_col).over(w)
    ).withColumn(
        op_col,
        F.when(
            tied,
            F.raise_error(
                F.concat(
                    F.lit(
                        "scd2_from_changes: duplicate (key, seq) — interval "
                        f"chain undefined at {seq_col}="
                    ),
                    F.col(seq_col).cast("string"),
                )
            ),
        ).otherwise(F.col(op_col)),
    )
    vals = [c for c in changes.columns if c not in (*keys, seq_col, op_col)]
    return versioned.filter(F.col(op_col) != "D").select(
        *keys,
        *vals,
        F.col(seq_col).cast("long").alias("valid_from_seq"),
        F.col("_next_seq").cast("long").alias("valid_to_seq"),
        F.col("_next_seq").isNull().alias("is_current"),
    )
