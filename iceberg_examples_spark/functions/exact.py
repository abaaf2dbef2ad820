"""Cross-engine-deterministic aggregate arithmetic.

Floating-point SUM is order-dependent; Spark and the DuckDB oracle will
accumulate partitions in different orders, so ``sum(double)`` can differ in
the last ulps and break value-hash comparison. The fix used throughout the
declared queries: scale fixed-decimal inputs to integers, accumulate as
BIGINT (exact, associative, shuffle-order-independent), and convert back
with one deterministic double op at the end. Both engines then compute
bit-identical float64 results from identical integer inputs.

The per-row step rounds ``v = x * scale`` to the nearest integer, ties away
from zero — what ``round(v)`` means in both engines. It is not spelled
``round(v)``: Spark evaluates ``round`` on a DOUBLE through
``BigDecimal.valueOf(v).setScale(0, HALF_UP)``, a ``Double.toString`` and a
BigDecimal per row, which made ``round`` the costliest step of TPC-H Q1's
five sums. ``_round_sql`` emits ``sign(v) * floor(abs(v) + h)`` instead,
with ``h`` the largest double below 0.5. For a = |v| < 2**52 with
n = floor(a), that is exact. A fraction of at least 0.5 puts the exact sum
a + h at or above n + 1 - 2**-54, which rounds to n + 1 (at n = 0 it is a
tie, which rounds to the even 1.0). A smaller fraction leaves a at least
one double spacing s below n + 0.5, so the exact sum is at least
s + 2**-54 below n + 1: more than half the spacing of the doubles just
below n + 1 (at most 2s, or 2**-53 at n = 0), so it rounds below n + 1.
NaN, +-inf and |v| >= 2**52 (where Spark's BIGINT ``floor`` would
saturate) fall through to ``round`` itself. For a whole-number result,
Spark's decimal-string HALF_UP and DuckDB's half-away-from-zero both equal
"nearest, ties away from zero" on the binary value, so the fragment is
equal to ``round(v)`` in both engines.

The fragment costs more to plan than ``round``: 3-5 ms per money column
per query run (``local[4]`` on a 4-vCPU VM), which the per-row saving
repays from about 20,000 rows per column. No builder picks its spelling
by aggregate width: cost and saving both grow with the number of money
columns, so the row count decides, and it is unknown when the SQL text is
built. The widest caller, ``similarity.embedding_stats`` (128 money
columns), went from 0.76 to 1.38 s on its 2,000-row sf0.1 table, broke
even at 20,000 rows and ran 4.9x faster at 200,000 (one task). ``h`` is
spelled with an exponent so both engines parse it as a DOUBLE, not as a
DECIMAL to be converted.

This is also the right 100 TB posture: integer sums are cheaper than
decimal-128 sums and immune to partial-aggregation reorder under AQE.

These builders are the single source of the idiom — Spark queries AND the
DuckDB oracles must both call them (never hand-spell the fragment), so the
two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


_BELOW_HALF = "4.9999999999999994e-1"  # the largest double below 0.5


def _round_sql(v: str) -> str:
    """``round(v)`` for a parenthesized SQL expression ``v``, without the
    per-row BigDecimal (see the module docstring for why it is exact)."""
    return (
        f"CASE WHEN abs({v}) < 4503599627370496.0"
        f" THEN sign({v}) * floor(abs({v}) + {_BELOW_HALF})"
        f" ELSE round({v}) END"
    )


def round_half_up_np(a):
    """numpy twin of ``_round_sql`` for non-negative finite float64 ``a``
    (its only caller rounds squares): ``round(a)`` as float64, ties up
    (``np.round`` rounds ties to even)."""
    import numpy as np

    return np.floor(a + float(_BELOW_HALF))


def money_sum_sql(expr: str, scale: int = 10000) -> str:
    """Exact sum of a fixed-decimal SQL expression, as double. The same
    text is valid Spark SQL and DuckDB SQL."""
    return f"cast(sum({money_cents_sql(expr, scale)}) as double) / {scale}.0"


def money_sum(expr: str, alias: str, scale: int = 10000) -> Column:
    return F.expr(money_sum_sql(expr, scale=scale)).alias(alias)


def money_avg_sql(expr: str, scale: int = 10000) -> str:
    # one integer sum + one integer count -> two deterministic double ops
    return (
        f"cast(sum({money_cents_sql(expr, scale)}) as double)"
        f" / {scale}.0 / cast(count({expr}) as double)"
    )


def money_avg(expr: str, alias: str, scale: int = 10000) -> Column:
    return F.expr(money_avg_sql(expr, scale=scale)).alias(alias)


def money_cents_sql(expr: str, scale: int = 100) -> str:
    """Row-level scaled-integer form of a fixed-decimal expression (the
    per-row half of the sum builders — for window frames and other
    contexts where the aggregate wraps the frame, not the expression).
    Valid in both Spark SQL and DuckDB."""
    return f"cast({_round_sql(f'(({expr}) * {scale})')} as bigint)"
