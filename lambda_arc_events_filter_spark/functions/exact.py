"""Exact cross-engine decimal rounding: integer ratios, and doubles to
whole numbers.

The divergence class this kills (COVERAGE.md "second divergence class"):
``round(a / b, k)`` where ``a`` and ``b`` are exact integers can land on a
TRUE decimal half at position k+1 (e.g. ``3201/100/32 = 1.0003125``).
The nearest double generally sits a hair off the half, and the engines'
rounding mechanisms then split: Spark's ``Round`` re-reads the double's
shortest decimal string (BigDecimal HALF_UP → .xx5 rounds up) while
DuckDB rounds the binary value (below the half → rounds down).  This is
not float drift — it diverges with probability ~1 whenever the reduced
denominator is of the form 2^a·5^b, which group counts regularly hit.

Fix: never round the double.  Compute the rounded ratio in integer
arithmetic — ``round_half_up(a/b · 10^k) = (2·a·10^k + b) div (2·b)`` for
positive a, b — and divide by 10^k at the very end.  The result is an
exact k-decimal value, bit-identical in any engine.

Overflow headroom: the intermediate ``2·a·10^(k-s)`` runs in
DECIMAL(38,0) on the Spark side and HUGEINT in the DuckDB twin (round 4:
Hypothesis found the BIGINT ceiling at a ≈ 4.6e18/10^(k-s) — k=6 ratios
of corpus-scale integer sums cross it at real data volumes, so the wide
types are the DEFAULT, not an escape hatch).  ``div`` (IntegralDivide)
accepts decimal operands and returns BIGINT — exact integral division,
never a rounded decimal Divide (whose result scale Spark clamps to 6
under precision pressure, which would flip floor() at near-integer
quotients).  The final quotient is the rounded ratio scaled by 10^k —
back in comfortable long range.

``round_half_up(x)`` is the other half of the money path: it turns a
DOUBLE into the whole number ``F.round(x)`` gives (``x`` is typically a
price scaled to cents), without Spark's per-value
``BigDecimal.valueOf(x).setScale(0, HALF_UP)``.  Four such calls per
lineitem row were most of q01's scan-stage CPU.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def round_half_up(x: Column) -> Column:
    """``F.round(x)`` (scale 0, half away from zero) for a DOUBLE ``x``,
    in double arithmetic.

    Spark's ``Round`` reads the double's decimal string and rounds that
    HALF_UP.  The string reads ``k.5`` only when the double is exactly
    ``k.5``: a string that round-trips to ``x`` cannot sit on the other
    side of a representable half from ``x``.  So the string rounding
    equals ``rint`` (half to even) everywhere except at exact halves,
    where it rounds away from zero; ``x + signum(x) * 0.5`` is exact
    there (halves exist only below 2^52).  NaN, ±inf and null pass
    through as in ``F.round``.  One difference: a result of zero from a
    negative ``x`` is ``-0.0`` where ``F.round`` gives ``0.0``; the two
    compare equal, and a ``.cast("long")`` erases the sign.

    Only for DOUBLE input: ``F.round`` on a DECIMAL or integral column
    has no per-value string read to save, and this formula would cast
    it to double.
    """
    r = F.rint(x)
    return F.when(F.abs(x - r) == 0.5, x + F.signum(x) * 0.5).otherwise(r)


def round_int_ratio(a: Column, b: Column, k: int, a_scale: int = 0) -> Column:
    """Half-up ``round(a / b, k)`` for non-negative integer columns, exact
    in integer arithmetic.

    ``a`` holds the numerator value scaled by ``10^a_scale`` (e.g. money
    in cents → a_scale=2); ``b`` is the positive integer denominator
    (typically a group count).  Returns a double that is an exact
    k-decimal value, identical in Spark and DuckDB.  ``k < a_scale``
    (coarser rounding than the input scale) moves the 10-power onto the
    denominator.
    """
    a = a.cast("long").cast("decimal(38,0)")
    b = b.cast("long").cast("decimal(38,0)")
    if k >= a_scale:
        num = F.lit(2) * a * F.lit(10 ** (k - a_scale)) + b
        den = F.lit(2) * b
    else:  # coarser target scale: move the 10-power onto the denominator
        down = 10 ** (a_scale - k)
        num = F.lit(2) * a + b * F.lit(down)
        den = F.lit(2) * b * F.lit(down)
    # IntegralDivide ("div") on DECIMAL(38,0) — exact integral division
    # with ~10^38 headroom (see module docstring); a double-division
    # detour would lose bits past 2^53, which sf0.1 money sums already
    # exceed once scaled by 10^4.  CASE WHEN keeps ANSI mode from
    # raising on a zero denominator (NULL instead, matching the
    # nullif() the SQL twin uses).
    scaled = F.when(b != F.lit(0), F.call_function("div", num, den))
    return scaled / F.lit(float(10**k))


def round_int_ratio_sql(a: str, b: str, k: int, a_scale: int = 0) -> str:
    """DuckDB twin of :func:`round_int_ratio` (same integer formula)."""
    if k >= a_scale:
        up = 10 ** (k - a_scale)
        num = f"2 * CAST({a} AS HUGEINT) * {up} + CAST({b} AS HUGEINT)"
        den = f"2 * CAST({b} AS HUGEINT)"
    else:
        down = 10 ** (a_scale - k)
        num = f"2 * CAST({a} AS HUGEINT) + CAST({b} AS HUGEINT) * {down}"
        den = f"2 * CAST({b} AS HUGEINT) * {down}"
    return (
        f"(CAST(({num}) AS HUGEINT) // nullif({den}, 0)) / {10 ** k}.0"
    )


def half_up_div(a: Column, b: Column) -> Column:
    """``round_half_up(a / b)`` as a LONG, for non-negative integer
    columns — the building block when a rounded scaled integer must stay
    an integer for further exact arithmetic (interpolation weights,
    nested ratios)."""
    a = a.cast("long").cast("decimal(38,0)")
    b = b.cast("long").cast("decimal(38,0)")
    return F.when(
        b != F.lit(0), F.call_function("div", F.lit(2) * a + b, F.lit(2) * b)
    )


def half_up_div_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`half_up_div`."""
    return (
        f"CAST(((2 * CAST({a} AS HUGEINT) + CAST({b} AS HUGEINT))"
        f" // nullif(2 * CAST({b} AS HUGEINT), 0)) AS BIGINT)"
    )
