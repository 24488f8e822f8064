"""Mergeable histogram sketch for quantiles at 100 TB scale.

Exact percentiles need a full sort (one giant shuffle of every row);
the scalable alternative is a bounded-size mergeable summary. This is
the HdrHistogram/DDSketch family idea in its simplest deterministic
form: bucket values by floor(log2(v)) over exact integer cents, keep
(count, min, max, sum) per bucket, and recover any quantile by a
cumulative walk with linear interpolation inside the winning bucket.
Properties that matter at scale:

  * bounded size — one row per occupied octave (~25 buckets for money
    columns), however many input rows;
  * associative merge — bucket vectors add, so map-side partial
    aggregation does almost all the work and re-aggregation across
    shards/days is exact (the same law HLL gives distinct counts);
  * deterministic — integer cents (exact DECIMAL->BIGINT) and
    floor(log2(int)) only, so the DuckDB oracle reproduces the sketch
    bit-for-bit (log2 of an integer is >= 9e-8 away from the next
    integer for cents < 2^30, far beyond double rounding error —
    no boundary flakiness);
  * bounded relative error — within an octave the interpolated
    quantile is off by at most the bucket width; tests pin the p50/
    p90/p99 estimates within one octave of the exact answer.

Everything is built-in JVM expressions (no Python in the hot path).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datawarehouse1_spark.functions.money import money_units_long


def log2_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Sketch build: one row per (group, occupied octave) with
    (n, min_cents, max_cents, sum_cents). The groupBy is the ONLY
    shuffle, and it carries one row per group x ~25 octaves regardless
    of input size (partial aggregation collapses rows map-side)."""
    cents = money_units_long(value_col)
    bin_col = F.when(cents <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(cents.cast("double")))
    )
    return (
        df.select(*group_cols, cents.alias("_cents"), bin_col.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(
            F.count("*").alias("n"),
            F.min("_cents").alias("min_cents"),
            F.max("_cents").alias("max_cents"),
            F.sum("_cents").alias("sum_cents"),
        )
    )


def merge_histograms(*sketches: DataFrame) -> DataFrame:
    """Associative sketch merge: union the bucket rows and re-aggregate.
    min/max/sum/count all merge losslessly, so merge(sketch(A),
    sketch(B)) == sketch(A UNION ALL B) exactly — the law the pytest
    pins. Group columns are everything except the measure columns."""
    first = sketches[0]
    measure = {"n", "min_cents", "max_cents", "sum_cents"}
    keys = [c for c in first.columns if c not in measure]
    unioned = first
    for s in sketches[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
        F.sum("sum_cents").alias("sum_cents"),
    )


# Carter-Wegman universal hash family for the count-min rows: exact
# BIGINT arithmetic ((a*k + b) mod p) mod w with p = 2^31 - 1, so the
# DuckDB oracle reproduces every bucket index bit-for-bit (md5 would
# need hex->int, which the two engines spell differently).
CM_PRIME = 2_147_483_647
CM_PARAMS = ((1_103_515_245, 12_345), (69_069, 362_437), (134_775_813, 1))


def _cm_cells(key_col: str, width: int) -> F.Column:
    """The d (row, col) cells a key hashes to — the ONE definition both
    the build and the probe use (a divergence here would silently break
    the one-sided-error guarantee)."""
    k = F.col(key_col).cast("bigint")
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (((F.lit(a) * k + F.lit(b)) % CM_PRIME) % width).alias("col"),
            )
            for j, (a, b) in enumerate(CM_PARAMS)
        ]
    )


def count_min_sketch(
    df: DataFrame, key_col: str, width: int = 256
) -> DataFrame:
    """Count-min sketch build (Cormode-Muthukrishnan 2005): d=3 hash
    rows x `width` counters. One explode + one groupBy — the shuffle
    carries at most d*width rows after map-side partial aggregation,
    however many input rows. Estimates are one-sided (never under-
    count); merge is exact vector addition."""
    return (
        df.select(F.explode(_cm_cells(key_col, width)).alias("cell"))
        .groupBy(F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
        .agg(F.count("*").alias("n"))
    )


def count_min_merge(*sketches: DataFrame) -> DataFrame:
    """Exact merge: counter vectors add (union + re-aggregate)."""
    unioned = sketches[0]
    for s in sketches[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy("row", "col").agg(F.sum("n").alias("n"))


def count_min_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, width: int = 256
) -> DataFrame:
    """Point-frequency estimates for a set of keys: min over the d row
    counters each key hashes to (broadcast the tiny sketch; the keys
    side streams — no all-pairs)."""
    probes = keys.select(
        key_col, F.explode(_cm_cells(key_col, width)).alias("cell")
    ).select(key_col, F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .fillna(0, subset=["n"])
        .groupBy(key_col)
        .agg(F.min("n").alias("est_count"))
    )


def histogram_quantiles(
    sketch: DataFrame,
    quantiles: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Quantile recovery from the sketch: cumulative bucket walk (a
    window over the ~25 bucket rows per group — negligible), then
    linear interpolation between the winning bucket's observed min and
    max. Returns one row per (group, quantile) with est_cents."""
    w = Window.partitionBy(*group_cols).orderBy("bin") if group_cols else (
        Window.orderBy("bin")
    )
    cum = sketch.withColumn("cum_n", F.sum("n").over(w)).withColumn(
        "total_n", F.sum("n").over(w.rowsBetween(Window.unboundedPreceding,
                                                 Window.unboundedFollowing))
    )
    out = None
    for q in quantiles:
        rank = F.ceil(F.lit(q) * F.col("total_n"))
        # first bucket whose cumulative count reaches the rank
        hit = (
            cum.filter(F.col("cum_n") >= rank)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(*group_cols).orderBy("bin")
                    if group_cols
                    else Window.orderBy("bin")
                ),
            )
            .filter(F.col("_rn") == 1)
            .select(
                *group_cols,
                F.lit(float(q)).alias("quantile"),
                (
                    F.col("min_cents")
                    + (
                        (F.col("max_cents") - F.col("min_cents"))
                        * (rank - (F.col("cum_n") - F.col("n")))
                        / F.greatest(F.col("n"), F.lit(1))
                    )
                ).cast("bigint").alias("est_cents"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out
