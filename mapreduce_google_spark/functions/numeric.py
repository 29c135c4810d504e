"""Deterministic numeric aggregation helpers.

Double-precision sums depend on accumulation order, and accumulation
order depends on partitioning — a partition-count or AQE change can flip
the 6th decimal of a ``sum(double)`` and break hash-parity with the
DuckDB oracle. The fix (FIXTURES.md §5) is to accumulate EXACTLY:

1. cast each summand to a decimal wide enough to hold it losslessly
   (the synthetic money columns are exact 2-decimal values; rates like
   ``l_discount``/``l_tax`` are 2-decimal in [0, 1]);
2. sum in decimal (exact, order-independent, map-side combinable —
   Spark widens the accumulator by 10 integer digits, so overflow needs
   ~10^20 currency units);
3. cast the exact total to double and round once at the end.

Every revenue/spend/average in the registry uses these helpers, and each
query's DuckDB oracle mirrors the same casts, so both engines round the
SAME exact value. ``scale.py`` pioneered the recipe (t32/t40/t41/t43
driver-green in round 1); this module makes it uniform.

Measured cost of exactness (sf0.1, local[32], r5): a 600k-row decimal
group-sum runs ~3.5× a ``sum(long)``/``sum(double)`` of the same data
(1.2 s vs 0.35 s in t12's order-grain collapse) because the widened
accumulator exceeds 18 digits and leaves compact-long decimals for
BigDecimal. The integer-cents alternative is NOT taken deliberately:
e4-scaled longs overflow past ~10^9 rows per group
(10^9 per-row value × 10^9 rows ≈ long max), i.e. exactly at the
100 TB scale this engine targets, while the decimal accumulator is
unbounded. Exactness + scale-safety outrank local seconds here; the
2× baseline gate has ~9× headroom (BENCH vs BASELINE).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: exact 2-decimal money amounts (prices, balances): |x| < 10^10
MONEY = "decimal(12,2)"
#: exact 2-decimal rates in [0, 1] (discount, tax)
RATE = "decimal(3,2)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def money(col: Column | str) -> Column:
    """Lossless decimal view of a 2-decimal money column."""
    return _c(col).cast(MONEY)


def rate(col: Column | str) -> Column:
    """Lossless decimal view of a 2-decimal rate column."""
    return _c(col).cast(RATE)


def one_minus(col: Column | str) -> Column:
    """``1 - rate`` in exact decimal (net-of-discount factor)."""
    return F.lit(1).cast(RATE) - rate(col)


def one_plus(col: Column | str) -> Column:
    """``1 + rate`` in exact decimal (tax gross-up factor)."""
    return F.lit(1).cast(RATE) + rate(col)


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent sum: exact decimal accumulate → double → round.

    ``col`` must already be decimal (use :func:`money`/:func:`rate` or a
    product of them) so the per-row value is exact before accumulation.
    """
    return F.round(F.sum(_c(col)).cast("double"), scale)


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent mean: exact decimal sum ÷ non-null count.

    One double division of two deterministic operands (IEEE — identical
    in any engine), instead of ``avg(double)``'s running accumulation.
    """
    c = _c(col)
    return F.round(F.sum(c).cast("double") / F.count(c), scale)
