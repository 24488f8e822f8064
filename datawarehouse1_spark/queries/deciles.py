"""The rule-22 machinery (SCALE.md rule 22): `running_sum`, the one
two-level running sum behind every global rank or CDF in queries/, and
the shared decile construction (q_orders_value_deciles /
q_quality_cumulative_gains / q_partition_boundaries) built on it.

The nine decile boundaries are exact order statistics (percentile_disc
semantics: the smallest actual data value whose cumulative count
reaches k/10 of the rows, so Spark and DuckDB agree bit-for-bit); each
row buckets by a broadcast comparison chain with strict `>`, so ties
at a boundary deterministically fall LOW and no global sort ever
touches the fact table.  Both the Spark bounds aggregate and the SQL
text live here so the tie-break semantics cannot drift between the
call sites (review finding, r12).

r13: the Spark side no longer evaluates nine `percentile_disc`
aggregates — each of those buffers EVERY value in its own aggregation
buffer (nine copies of the column in executor memory, a sort per
buffer).  The boundaries come from `running_sum` over the
distinct-value marginal (one exchange to the marginal, then only the
bounded bucket summary crosses a global window), then ONE reduction
reads all nine order statistics off the cumulative table via the
integer identity

    percentile_disc(k/10) = min{ v : 10 * cum(v) >= k * n }

(cum and n are exact integers, so no ceil and no float q ever enters).
The DuckDB oracle keeps the literal percentile_disc text — the
identity above IS that function's definition, and the three-SF hash
matches pin the equivalence.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_sum(
    rows: DataFrame,
    order: str,
    weights: Sequence[str],
    width: float | Column,
    by: Sequence[str] = (),
    descending: bool = False,
) -> DataFrame:
    """Running sums of the `weights` columns along `order`, per `by`
    group, without a global window (rule 22).

    `rows` holds one row per (`by`..., `order`) value. For each weight
    `w` the result adds `<w>_before`, the sum of `w` over the rows of
    the same group that come strictly earlier in the order (ascending,
    or descending when `descending`), and `<w>_total`, the sum of `w`
    over the whole group. Every input column passes through unchanged.
    Callers derive the rest: the doubled average rank
    2r = 2·before + c + 1, the inclusive sum before + w.

    The rows split into buckets floor(order / width); `width` is a
    number, or a Column when each group carries its own. Sums run
    within each (group, bucket) window, parallel across buckets; only
    the bucket summary, bounded by the value domain over the width and
    not by the row count, crosses a window ordered by bucket, and its
    offsets and group totals are broadcast back. Any positive width
    gives the same result; it only shifts work between the two levels.
    """
    by = list(by)
    step = (lambda c: F.col(c).desc()) if descending else F.col
    w = width if isinstance(width, Column) else F.lit(width)
    b = rows.withColumn("_bucket", F.floor(F.col(order) / w).cast("long"))
    within = (
        Window.partitionBy(*by, "_bucket")
        .orderBy(step(order))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = b.select(
        "*",
        *[
            F.coalesce(F.sum(x).over(within), F.lit(0)).alias(f"_in_{x}")
            for x in weights
        ],
    )
    across = Window.partitionBy(*by).orderBy(step("_bucket"))
    prior = across.rowsBetween(Window.unboundedPreceding, -1)
    whole = across.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        b.groupBy(*by, "_bucket")
        .agg(*[F.sum(x).alias(f"_bt_{x}") for x in weights])
        .select(
            *by,
            "_bucket",
            *[
                F.coalesce(F.sum(f"_bt_{x}").over(prior), F.lit(0)).alias(
                    f"_off_{x}"
                )
                for x in weights
            ],
            *[F.sum(f"_bt_{x}").over(whole).alias(f"{x}_total") for x in weights],
        )
    )
    return cum.join(F.broadcast(offsets), [*by, "_bucket"]).select(
        *rows.columns,
        *[
            (F.col(f"_in_{x}") + F.col(f"_off_{x}")).alias(f"{x}_before")
            for x in weights
        ],
        *[f"{x}_total" for x in weights],
    )


def decile_bounds_sql(col: str) -> str:
    """The nine percentile_disc boundary aggregates, `AS b1..b9`."""
    return ", ".join(
        f"percentile_disc(0.{k}) WITHIN GROUP (ORDER BY {col}) AS b{k}"
        for k in range(1, 10)
    )


def decile_expr_sql(col: str) -> str:
    """Decile 1..10 of `col` against broadcast bounds b1..b9 — strict
    `>` so boundary ties fall LOW, identically in both engines."""
    return (
        "CAST(1 "
        + " ".join(f"+ CAST({col} > b{k} AS INT)" for k in range(1, 10))
        + " AS INT)"
    )


def order_stat_bounds(
    df: DataFrame,
    col: str,
    numerators: tuple[int, ...],
    denominator: int,
    bucket_width: float = 1024.0,
) -> DataFrame:
    """One-row DataFrame of exact PERCENTILE_DISC order statistics at
    quantiles k/denominator for k in `numerators`, aliased b<k>
    (broadcast this against the fact side).

    `bucket_width` splits the value domain into fixed-width buckets so
    the within-bucket cumulative windows run in parallel and only the
    bounded bucket-count summary crosses a global window (rule 22);
    any positive width is CORRECT — it only shifts work between the
    two levels — so callers tune it to their column's domain.
    """
    # percentile_disc IGNORES NULLs; without this filter NULL values
    # would form their own marginal row (sorting first in the windows)
    # and inflate n, shifting every boundary (r13 review fix — latent,
    # all current callers feed non-null columns).
    marg = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = running_sum(marg, "v", ["c"], bucket_width).select(
        "v",
        (F.col("c_before") + F.col("c")).alias("cum"),
        F.col("c_total").alias("n"),
    )
    bounds = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") * denominator >= F.lit(k) * F.col("n"),
                    F.col("v"),
                )
            ).alias(f"b{k}")
            for k in numerators
        ]
    )
    # rule 12: the ONE-row bounds table materializes here, so consumers
    # broadcast a literal row instead of dragging the whole two-level
    # rank subplan (its bounded exchanges included) into their own plan
    return bounds.localCheckpoint(eager=True)


def decile_bounds(
    df: DataFrame, col: str, bucket_width: float = 1024.0
) -> DataFrame:
    """The nine decile boundaries b1..b9 — see order_stat_bounds."""
    return order_stat_bounds(
        df, col, tuple(range(1, 10)), 10, bucket_width
    )
