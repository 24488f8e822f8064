"""Exact money aggregation and exact integer arithmetic.

The reference stores money as Postgres DECIMAL(10,2)
(init-db/init.sql:40,54) so its SUM/AVG are exact decimal arithmetic.
Spark doubles summed in parallel are order-dependent; to reproduce the
reference's exact-decimal semantics (and hash-match the DuckDB oracle)
every money aggregate here goes:

    double column -> cast DECIMAL(18,2) (exact for 2-dec data)
    -> SUM (exact, order-independent decimal addition)
    -> cast DOUBLE (correctly-rounded, deterministic in both engines)

AVG is expressed as exact-decimal SUM cast to double, divided by COUNT
(a single IEEE-754 division — deterministic), never a native AVG whose
intermediate precision differs across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def money_sum_expr(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(MONEY)).cast("double")


def money_sum(col: str | Column, alias: str) -> Column:
    return money_sum_expr(col).alias(alias)


def money_avg(col: str | Column, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(MONEY)).cast("double") / F.count(c)).alias(alias)


# The DuckDB-SQL twins of the expressions above (format with the column).
def sql_money_sum(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def sql_money_avg(col: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({col}) AS {alias}"
    )


def sql_cents(col: str = "o_totalprice") -> str:
    """Exact integer cents of a 2-decimal money double — the same
    expression text in Spark SQL and DuckDB (both cast through the
    exact DECIMAL(18,2) first, so no float rounding is involved)."""
    return f"CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT)"


# --- r16: bounded-group money sums in LONG integer units (guide §2.3,
# "narrower types"). Spark's decimal Sum leaves whole-stage-codegen's
# fast path once precision exceeds the compact range, so a fact-grain
# decimal aggregation costs ~2.5x its integer twin (measured: the
# flagship per-order pre-agg 1.12 s decimal vs 0.45 s long at sf0.1).
# When every GROUP is provably bounded (per-order line counts), the
# group sum of integer cents/e4-units fits int64 at ANY corpus scale,
# so the exact-decimal contract holds with long arithmetic:
#     2-dec money double -> exact DECIMAL(18,2) -> exact integer units
#     -> LONG sum within the bounded group
#     -> exact DECIMAL reconstruction -> one correctly-rounded DOUBLE.
# Cross-GROUP re-aggregation (unbounded) must still go through
# DECIMAL(38,0) — only the per-bounded-group level may use LONG.


def money_units_long(col: str | Column, scale: int = 2) -> Column:
    """Exact integer 10^-scale units of a 2-dec money double (through
    the exact DECIMAL(18,2) cast, so no float rounding is involved)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast(MONEY) * (10 ** scale)).cast("long")


def units_to_money_double(col: str | Column, scale: int) -> Column:
    """Exact 10^-scale integer units -> money DOUBLE with ONE rounding:
    the value is rebuilt as an exact decimal (cast pads scale, the
    power-of-ten multiply is exact in decimal arithmetic), then cast to
    double — bit-identical to casting the equivalent decimal SUM.

    Headroom bound (ADVICE r16): the decimal(38,4) cast holds unit
    sums to 1e34 (= 1e30 DOLLARS at e4 units — thirty orders of
    magnitude past any corpus; a 100 TB lineitem is ~1e13 dollars).
    A LONG input (the bounded-group path) can never overflow it
    (int64 < 9.3e18); a DECIMAL(38,0) re-aggregated input would need
    > 1e30 dollars before the cast nulls (non-ANSI) or throws (ANSI).
    The cast stays decimal(38,4) — NOT decimal(38,0) — because the
    reconstruction's decimal type is oracle-pinned bit-for-bit and
    (38,0)x(5,4) multiplies re-scale under allowPrecisionLoss."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        c.cast("decimal(38,4)")
        * F.lit(f"0.{'0' * (scale - 1)}1").cast(f"decimal({scale + 1},{scale})")
    ).cast("double")


# --- Exact integer arithmetic shared by the rank, score and lift
# queries of several families (stats, events, orders, text, ...).

# Cross-group sums of integer units: DECIMAL(38,0) holds them exactly
# at any corpus scale, where a LONG sum could overflow.
DEC38 = "decimal(38,0)"

# Exact integer cents of the order total, as SQL text for both engines.
TOTALPRICE_CENTS = sql_cents("o_totalprice")

# floor(log2(n)) for n >= 1 as EXACT integer arithmetic in both
# engines: the binary representation's length minus one. No float log.
FLOOR_LOG2_SQL = "(length(bin({n})) - 1)"


def exact_floor_div(num: str, den: str) -> Column:
    """Exact floor(num/den) KEPT IN DECIMAL(38,0) for non-negative
    decimal `num` (Spark `div` returns BIGINT and overflows loudly past
    9.2e18; the subtract-modulo form makes the scale-6 decimal divide
    exact, so no rounding can occur — the r12e lesson)."""
    return F.expr(f"CAST(({num} - {num} % {den}) / {den} AS DECIMAL(38,0))")
