"""Engine-agnostic float rounding.

``F.round`` (Spark) rounds the value's *shortest decimal representation*
half-up (java BigDecimal.valueOf), while DuckDB's ``round`` rounds the
*binary* double — on values whose shortest repr terminates exactly at the
boundary digit (common for rational formulas like token/64 or pct =
100·n/total) the two disagree by one ulp of the target scale.

The fix: round as pure IEEE arithmetic — ``floor(x·10ⁿ + 0.5)/10ⁿ`` —
identical ops on identical doubles in any engine, so results are
bit-identical by construction. Both the Spark operators and the DuckDB
oracle SQL (oracle_sql.py) use this form for every rounded float.

Money follows one rule, :func:`cents`: an amount becomes exact integer
cents, ``floor(x·100 + 0.5)`` as a bigint, and a money sum is the sum of
those cents divided by 100.0. On 2-dp input this is the same double as an
exact decimal sum cast to double, and it is order-independent. An amount
with no bigint cents (|x·100 + 0.5| ≥ 2^63, NaN or ±inf) raises, as the
oracle's ``CAST(floor(x * 100 + 0.5) AS BIGINT)`` does; a bare ``floor``
would saturate to ±(2^63 − 1) or turn NaN into 0 without an error.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_det(col: Column | str, scale: int) -> Column:
    """Deterministic cross-engine rounding of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lit(float(10**scale))
    return F.floor(c * s + F.lit(0.5)) / s


def round_det_sql(expr: str, scale: int) -> str:
    """The DuckDB-side mirror of :func:`round_det`."""
    s = float(10**scale)
    return f"(floor(({expr}) * {s!r} + 0.5) / {s!r})"


def cents_sql(expr: str) -> str:
    """Spark SQL text of the money rule: ``expr`` in exact bigint cents.

    Spark orders NaN above every double, so NaN and ±inf fail the range
    test and raise too; a null amount stays null.
    """
    y = f"(({expr}) * 100 + 0.5)"
    return (
        f"(CASE WHEN abs{y} >= {2.0**63!r}D "
        "THEN raise_error('money amount has no bigint cents: out of range, NaN or infinite') "
        f"ELSE floor{y} END)"
    )


def cents(expr: str) -> Column:
    """The money rule as a column: see :func:`cents_sql`."""
    return F.expr(cents_sql(expr))
