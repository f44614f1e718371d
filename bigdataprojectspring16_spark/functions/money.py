"""Exact-integer money arithmetic shared by every query that sums,
compares, or thresholds currency (VERDICT r5 items 1/6).

The hazard: ``round(sum(double), 2)`` after a float sum flips the
last cent whenever the exact total lands on a half-cent boundary —
the sum's low bits depend on partition order, so the same query can
return ...60 on one engine/run and ...59 on another (the r5
``tpch_q10_returned_items`` driver red). Any comparison against such
a value (q15's max-revenue equality, RFM quartile cutpoints, z-score
fences) inherits the instability.

The fixture guarantees (asserted by tests/test_money_grid.py):
prices and balances sit on the cent grid, rates on a 0.01 grid,
quantities are integral. So per-line money values are exact small
integers after ``round(x * 100)``; sums of those integers are exact
in ANY order; and every derived 2-dp value can be produced by
integer division both engines evaluate identically.

Accumulator type: Spark sums the per-line longs as decimal(38,0)
(Tungsten decimal128 — exact, no wraparound) and DuckDB's
``sum(BIGINT)`` returns HUGEINT (int128). A plain BIGINT accumulator
would wrap silently at ~9e14 dollars per group in non-ANSI Spark —
reachable for nation-level groups at the 100 TB target SF.

Naming: ``*_e4`` values are 1e-4-dollar units (cents x percent),
``*_c`` values are cents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Per-line cast target; Spark promotes sums of decimal(28,0) to
#: decimal(38,0), the exact-accumulator ceiling.
MONEY_DEC = "decimal(28,0)"


def _grid_int(col: Column, scale: int) -> Column:
    """Exact integer from a value on the 1/scale decimal grid.

    ``trunc(x*scale + sign(x)*0.5)`` instead of ``round(x*scale)``:
    identical integers for on-grid values (the representation error
    is ~1e-9, the half-shift tolerance is 0.5 — contract pinned by
    tests/test_money_grid.py), but pure float arithmetic + an
    integral cast, where Spark's round() allocates a BigDecimal per
    row — measured 2x on the Q1 fact-sized aggregate
    (tools/receipts/money_ab_r06.txt). The ORACLE side keeps the spelled-out
    ``CAST(round(x*100) AS BIGINT)``: different formula, same
    integer on the grid.
    """
    return (col * scale + F.signum(col) * 0.5).cast("long")


def cents(col: Column) -> Column:
    """Exact integer cents from a 2-dp money double (fixture grid)."""
    return _grid_int(col, 100)


def pct(col: Column) -> Column:
    """Exact integer percent from a 0.01-grid rate double."""
    return _grid_int(col, 100)


def rev_e4() -> Column:
    """l_extendedprice * (1 - l_discount) in exact 1e-4-dollar units."""
    return cents(F.col("l_extendedprice")) * (
        F.lit(100).cast("long") - pct(F.col("l_discount"))
    )


def sum_exact(int_col: Column) -> Column:
    """Order-independent exact integer sum: decimal(38,0) accumulator."""
    return F.sum(int_col.cast(MONEY_DEC))


def _floordiv(num: Column, den: Column) -> Column:
    """Exact ``floor(num / den)`` for non-negative integer decimals.

    ``num - num % den`` is an exact multiple of ``den``, so the
    decimal division yields an exact INTEGER quotient — integers are
    representable at any decimal scale, so Spark's scale-capped
    decimal division (which rounds true fractions past ~6 digits and
    would mis-floor quotients within 1e-6 of an integer) cannot
    perturb it.
    """
    return (num - num % den) / den


def div_half_up(total: Column, den) -> Column:
    """round-half-away-from-zero(total / den) on exact integers.

    ``den`` may be a positive int literal or an integer Column.
    Matches the oracle's ``sign * ((2*abs(t) + den) // (2*den))``
    HUGEINT arithmetic exactly: for odd denominators an exact half is
    impossible, for even ones both engines shift by den/2 on the
    integer grid.
    """
    d = (F.lit(den) if isinstance(den, int) else den).cast("decimal(38,0)")
    t = total.cast("decimal(38,0)")
    sign = F.when(t < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    return sign * _floordiv(2 * F.abs(t) + d, 2 * d)


def money2(total_e4: Column) -> Column:
    """e4 exact total -> 2-dp dollars as double (half-up cents)."""
    return div_half_up(total_e4, 100).cast("double") / F.lit(100.0)


# --- oracle-side (DuckDB SQL) mirrors --------------------------------

REV_E4_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


def cents_sql(col: str) -> str:
    return f"CAST(round(({col}) * 100) AS BIGINT)"


def div_half_up_sql(total: str, den) -> str:
    """SQL mirror of :func:`div_half_up`; ``den`` is a positive int
    literal or an integer SQL expression."""
    t = f"({total})"
    d = f"({den})"
    return (
        f"(CASE WHEN {t} < 0 THEN -1 ELSE 1 END)"
        f" * ((2 * abs({t}) + {d}) // (2 * {d}))"
    )


def money2_sql(total_e4: str) -> str:
    return f"CAST({div_half_up_sql(total_e4, 100)} AS DOUBLE) / 100.0"
