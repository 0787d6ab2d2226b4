"""Exact-integer money arithmetic — the scale-proof form for 2-dp sums.

``ROUND(SUM(double), 2)`` stops being cross-engine (and even
run-to-run) stable once a group aggregates ~1e5 two-decimal terms at
~1e8+ magnitudes: IEEE summation-order drift crosses the half-cent
boundary, and Spark's merge order varies with partitioning and task
timing — the r8 sf1-equivalent sweeps caught q1/q5/q9/q15/bloom
flipping a final cent between runs. Every money column in this schema
is exactly 2-dp (prices, balances, event values) and every rate is a
whole percent (discount, tax), so per-row terms are EXACT integers in
cents / tenth-mills (cents x percent) / micros (cents x percent x
percent) and their BIGINT sums are drift-free in any order.

Interior sums that could exceed int64 at 100 TB (table-scale groups:
~1e12 rows x ~1e11 micros/row) go through ``sum128`` — DECIMAL(38,0)
on the Spark side (Int128-backed in Tungsten since Spark 3.4, still
whole-stage codegen) and DuckDB's automatic SUM(BIGINT)->HUGEINT.
DECIMAL/HUGEINT stay INTERIOR: the output edge is always the integer
cents (BIGINT, < 2^63 even for world-GDP-scale totals) divided once by
100.0 — one double division both engines perform identically.

Rounding to cents is integer half-up on a non-negative sum
(``(x + 50) DIV 100``; every sum rounded through ``dollars()`` /
``sql_dollars()`` is a non-negative revenue, discount or value), so
Spark's floor and DuckDB's ``//`` (which truncates) cannot diverge:
they part only on negative operands. A sum already in cents needs no
rounding and may be negative. The one signed rounded sum is q9's
profit, which rounds half away from zero in its own ``CASE`` on
non-negative operands in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 128-bit exact interior sum type (Spark side); DuckDB widens SUM(BIGINT)
# to HUGEINT on its own.
_I128 = "decimal(38,0)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def cents(col: Column | str) -> Column:
    """Exact cents of a 2-dp money double (BIGINT).

    Implemented as trunc(x·100 + signum(x)·0.5) instead of
    F.round(...): Spark's Round on doubles goes through BigDecimal per
    row — measured 1.6x the whole aggregation time on a 6M-row q1-shape
    scan, while this form codegens to a multiply-add-cast and is as
    fast as the plain double product. Exact because a 2-dp double's
    x·100 sits within ~1e-6 of an integer, so the half-offset lands
    strictly inside the same truncation window (signum keeps the
    offset pointing away from zero for negative balances; the DuckDB
    twin stays ROUND — nearest — and agrees on every representable
    2-dp input, verified corpus-wide)."""
    c = _c(col)
    return (c * 100 + F.signum(c) * 0.5).cast("long")


# Semantic alias: a 2-dp rate's whole percent is the same extraction
# as a 2-dp price's cents — ONE implementation, two names.
pct = cents


def revenue_tm() -> Column:
    """price·(1-discount) in exact tenth-mills (1e-4 dollars)."""
    return cents("l_extendedprice") * (100 - pct("l_discount"))


def discount_tm() -> Column:
    """price·discount in exact tenth-mills."""
    return cents("l_extendedprice") * pct("l_discount")


def charge_micros() -> Column:
    """price·(1-discount)·(1+tax) in exact micros (1e-6 dollars)."""
    return revenue_tm() * (100 + pct("l_tax"))


def sum128(unit_col: Column) -> Column:
    """Exact 128-bit sum of an integer-unit column (DECIMAL(38,0)
    interior — never emit at the output edge).

    Implemented as a SPLIT sum: per row the unit value is divided into
    floor(u/1e6) and the non-negative remainder, both aggregated as
    plain BIGINTs (whole-stage-codegen long sums — measured ~2x faster
    than summing DECIMAL(38,0) directly on a 6M-row q1), then
    recombined in DECIMAL on the handful of RESULT rows only.
    Exactness: per-row units are ≤ ~1e11 (micros of a ~$100k price),
    far under 2^53, so the double division inside floor() is exact;
    Σhi ≤ 1e17 and Σlo < 1e6·n ≤ 1e18 at 1e12 rows — both inside
    BIGINT. Signed inputs keep the identity u = hi·1e6 + lo with
    lo ∈ [0, 1e6) because floor (not trunc) defines hi."""
    hi = F.floor(unit_col / 1_000_000).cast("long")
    lo = (unit_col - hi * 1_000_000).cast("long")
    return F.sum(hi).cast(_I128) * 1_000_000 + F.sum(lo).cast(_I128)


def dollars(sum_col: Column, unit_scale: int) -> Column:
    """2-dp dollars (double) from an exact integer-unit sum, which
    must be non-negative unless it is already in cents.

    ``unit_scale``: units per cent (1 for cents, 100 for tenth-mills,
    10000 for micros). Half-up to integer cents first, then ONE double
    division by 100 — bit-identical cross-engine because the dividend
    is the same exact integer on both sides.

    Exactness envelope: Spark caps decimal division results at 38
    digits; the quotient here needs |digits(s)| + 6 scale digits, so
    sums are exact through ~10^31 units — eight orders past the
    1e12-row x 1e11-micros worst case. (Verified: 18-digit sums round
    identically to DuckDB's HUGEINT path.)
    """
    s = sum_col.cast(_I128)
    if unit_scale == 1:
        # already cents — no rounding step needed
        return s.cast("long") / 100.0
    half = F.lit(unit_scale // 2).cast(_I128)
    den = F.lit(unit_scale).cast(_I128)
    return F.floor((s + half) / den).cast("long") / 100.0


# --- DuckDB oracle fragments (same units, same rounding) ----------------

SQL_CENTS = "CAST(ROUND({col} * 100) AS BIGINT)"
SQL_REVENUE_TM = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
)
SQL_DISCOUNT_TM = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * CAST(ROUND(l_discount * 100) AS BIGINT)"
)
SQL_CHARGE_MICROS = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
    " * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))"
)


def sql_cents(col: str) -> str:
    return SQL_CENTS.format(col=col)


def sql_dollars(sum_expr: str, unit_scale: int) -> str:
    """DuckDB twin of dollars(): integer half-up to cents, CAST to
    BIGINT (collapses the HUGEINT interior before the edge), one double
    division."""
    if unit_scale == 1:
        return f"CAST({sum_expr} AS BIGINT) / 100.0"
    c = f"(({sum_expr}) + {unit_scale // 2}) // {unit_scale}"
    return f"CAST({c} AS BIGINT) / 100.0"
