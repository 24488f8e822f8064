"""Streaming distribution-drift monitor: a foreachBatch maintainer
that scores every micro-batch's categorical distribution against a
blessed reference profile with the SAME rational chi-square statistic
as the batch report (queries/profiling.py::q_drift_chisq_report)
and appends one report row per batch to a persisted drift log.

This is the always-on face of the data-quality check: the batch query
answers "did the corpus drift between two snapshots"; this maintainer
answers "is the stream drifting NOW", per micro-batch, with the same
number (floored micro-units of Sum_b (cntB*nR - cntR*nB)^2 /
((cntB+cntR)*nB*nR) — integer arithmetic end-to-end, so reruns and
engines agree exactly; the ln()-based PSI is deliberately avoided,
SCALE.md rule 10).

Exactly-once: same versioned-snapshot discipline as
rollup_maintenance.py — the drift log is a snapshot table whose
published version IS the producing batch_id; the strict guard of
snapshot_store.snapshot_sink skips a checkpoint replay, so a batch can
never append two report rows. The log is keyed by batch_id; the merge is
old-log UNION one new row (report cardinality = number of batches,
small by construction).

At 100 TB/day the per-batch work is one partial-aggregated count per
bin (narrow scan -> tiny shuffle of <=|bins| rows) joined against a
broadcast reference profile of |bins| rows: the monitor's cost is
independent of batch width in every dimension except the bin count.

Reference parity: the reference has no streaming or data-quality tier
(etl/app.py is a polling batch loop); SURVEY.md §2D extension
inventory (observability tier).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.streaming.snapshot_store import snapshot_sink

_DEC = "decimal(38,0)"


def reference_profile(df: DataFrame, bin_col: F.Column) -> DataFrame:
    """Build the blessed (bin, cnt_ref) profile from a reference
    snapshot — run once, persist, point the monitor at it."""
    return df.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt_ref")
    )


def chisq_vs_reference(
    batch_counts: DataFrame, reference: DataFrame
) -> DataFrame:
    """Per-bin rational chi-square contributions of (batch vs
    reference), full-outer on bin with absent-as-zero; returns
    (bin, cnt_batch, cnt_ref, chisq_e6). Shared by the sink and by
    ad-hoc backfills so both produce the identical number.

    The join is NULL-SAFE on bin: groupBy upstream collapses NULL bin
    values into one bin in both the batch counts and the reference
    profile, so a plain-equality full outer join would split that bin
    into two disjoint rows (cnt_batch=0 / cnt_ref=0), maximally
    inflating the statistic and breaking parity with
    q_drift_chisq_report whenever bin_fn yields NULLs.

    No broadcast hint (ADVICE r9): Spark cannot execute a FULL OUTER
    join as broadcast-hash (neither side can be the streamed side for
    both null-extensions), so a hint here would be silently ignored
    and misdocument the plan. Both sides are bounded bin summaries
    (one row per distinct bin), so the fallback shuffle/sort-merge
    moves only bin-count tuples — negligible at any corpus scale."""
    b = batch_counts.alias("b")
    r = reference.alias("r")
    joined = b.join(
        r,
        F.col("b.bin").eqNullSafe(F.col("r.bin")),
        "full_outer",
    ).select(
        F.coalesce(F.col("b.bin"), F.col("r.bin")).alias("bin"),
        F.coalesce(F.col("b.cnt_batch"), F.lit(0)).alias("cnt_batch"),
        F.coalesce(F.col("r.cnt_ref"), F.lit(0)).alias("cnt_ref"),
    )
    w = Window.partitionBy()
    n_b = F.sum("cnt_batch").over(w)
    n_r = F.sum("cnt_ref").over(w)
    d = (
        F.col("cnt_batch").cast(_DEC) * n_r - F.col("cnt_ref").cast(_DEC) * n_b
    ).cast(_DEC)
    return joined.select(
        "bin",
        "cnt_batch",
        "cnt_ref",
        F.floor(
            d * d * F.lit(1000000)
            / (
                (F.col("cnt_batch") + F.col("cnt_ref"))
                * n_b.cast(_DEC)
                * n_r
            )
        )
        .cast("long")
        .alias("chisq_e6"),
    )


def make_drift_sink(
    spark: SparkSession,
    reference: DataFrame,
    report_path: str,
    bin_fn: Callable[[DataFrame], F.Column],
    alert_threshold_e6: int,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: bin the micro-batch, chi-square it against
    the reference profile, append ONE report row (batch_id, n_rows,
    chisq_total_e6, worst_bin, alerted) to the versioned drift log."""

    def fold(batch, old, version, replay):
        counts = batch.groupBy(bin_fn(batch).alias("bin")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt_batch")
        )
        per_bin = chisq_vs_reference(counts, reference)
        report = per_bin.agg(
            F.lit(version).cast("long").alias("batch_id"),
            F.sum("cnt_batch").cast("long").alias("n_rows"),
            F.sum("chisq_e6").cast("long").alias("chisq_total_e6"),
            F.min(
                F.struct(
                    (-F.col("chisq_e6")).alias("neg"), F.col("bin").alias("bin")
                )
            )["bin"].alias("worst_bin"),
        ).withColumn(
            "alerted", F.col("chisq_total_e6") > F.lit(alert_threshold_e6)
        )
        return report if old is None else old.unionByName(report)

    return snapshot_sink(spark, report_path, fold)
