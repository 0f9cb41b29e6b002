"""Exact half-up fixed-point rounding — the house idiom, in ONE place.

The engine's float-exactness rule (docs/ROUND9_NOTES.md item 3): any value
the DuckDB oracle hashes must be bit-identical across engines AND across
physical layouts, so ratios are computed in integer (or decimal) space and
rounded half-up on an explicit grid instead of trusting engine-order double
summation.  The core trick for ``round(num/den)`` with integer ``num >= 0``,
``den > 0``::

    (2*num + den) div (2*den)

(equivalently ``floor((num + den/2) / den)`` without the fractional step),
and, half-away-from-zero for signed numerators::

    CASE WHEN num >= 0 THEN ( 2*num + den) div (2*den)
         ELSE              -((-2*num + den) div (2*den)) END

which matches DuckDB's ``round()`` tie behavior on .5 exactly — Spark's
``round`` on DOUBLE rounds half-even under the hood often enough to flip a
last digit, which is why the division never happens in doubles at all.

~10 analytics/text ops use this idiom, and one drifting hand-typed copy
would be a wrong-tie bug.  These builders generate the SQL snippet; the
per-site scaling (``mul``) and the signedness choice stay at the call
site, the arithmetic shape lives here once.

Overflow headroom (asserted once, tests/test_exact_halfup.py): the idiom
doubles the numerator, so with BIGINT inputs it needs
``2*mul*|num| + den < 2^63`` — at ``mul = 1e6`` (micro-units) that bounds
|num| to ~4.6e12, far above any fixture or 100 TB per-group sum the ops
feed it (counts and cent-sums per group).  Sites whose sums can outgrow
that promote to DECIMAL(38,0) FIRST (the `ts_capacity_forecast` pattern —
`decimal_sum` below) and the two builders apply unchanged ON THE SPARK
SIDE ONLY: Spark's ``div`` on decimals is exact integral division, but
DuckDB's ``//`` on DECIMAL operands rounds the quotient BEFORE flooring
(off-by-one at exact .5 remainders — pinned in
tests/test_exact_halfup.py::test_duckdb_decimal_floordiv_hazard_is_real),
so oracles must keep BIGINT operands and ride DuckDB's native HUGEINT
``sum(BIGINT)`` instead of mirroring the promotion.
"""

from __future__ import annotations

__all__ = ["half_up_div", "half_up_div_signed", "decimal_sum"]


def _paren(e: "str | int") -> str:
    s = str(e)
    # cheap hygiene: wrap anything that isn't a bare identifier/number so
    # caller expressions can never re-associate with the 2* doubling
    return s if s.replace("_", "").replace(".", "").isalnum() else f"({s})"


def half_up_div(
    num: "str | int", den: "str | int", mul: int = 1, idiv: str = "div"
) -> str:
    """SQL snippet: ``round(mul * num / den)`` half-up, exact, for
    NON-NEGATIVE integer/decimal ``num`` and positive ``den``.

    ``mul`` is the fixed-point grid (1 = nearest integer, 10**6 = micro
    units); ``idiv`` is the engine's integer-division token — Spark SQL
    spells it ``div``, DuckDB spells it ``//``.  Pass ``idiv="//"`` ONLY
    with integer operands: on INTEGER/BIGINT/HUGEINT the two tokens are
    identical floor division (positive divisors), but DuckDB's ``//`` on
    DECIMAL operands rounds the quotient before flooring (see the module
    docstring / the pinned hazard test) — a DECIMAL-promoted numerator
    (``decimal_sum``) is a Spark-side-only move.  Returns an
    integer-valued expression of the input type (BIGINT stays BIGINT,
    DECIMAL stays DECIMAL); cast at the call site if the output column
    needs a narrower type.
    """
    n, d = _paren(num), _paren(den)
    lhs = f"2 * {mul} * {n}" if mul != 1 else f"2 * {n}"
    return f"({lhs} + {d}) {idiv} (2 * {d})"


def half_up_div_signed(
    num: "str | int", den: "str | int", mul: int = 1, idiv: str = "div"
) -> str:
    """SQL snippet: ``round(mul * num / den)`` half-AWAY-FROM-ZERO for a
    signed numerator (positive ``den``) — DuckDB ``round()`` tie
    semantics, branch-mirrored so both signs round outward."""
    n, d = _paren(num), _paren(den)
    pos = f"2 * {mul} * {n}" if mul != 1 else f"2 * {n}"
    neg = f"-2 * {mul} * {n}" if mul != 1 else f"-2 * {n}"
    return (
        f"CASE WHEN {n} >= 0 THEN (({pos}) + {d}) {idiv} (2 * {d}) "
        f"ELSE -((({neg}) + {d}) {idiv} (2 * {d})) END"
    )


def decimal_sum(col: str, scale: int = 0) -> str:
    """SQL snippet: ``sum(col)`` promoted to DECIMAL(38,scale) BEFORE the
    aggregate — the SPARK-SIDE overflow-headroom promotion the half-up
    builders assume when per-group sums can exceed the BIGINT doubling
    bound (~4.6e18/2).  DECIMAL(38) holds 1e38, and Spark's ``div`` on
    decimals is exact integral division, so `half_up_div` composes on
    top unchanged.

    DuckDB oracles must NOT mirror this promotion: DuckDB already
    promotes ``sum(BIGINT)`` to HUGEINT (exact, 128-bit) on its own, and
    its ``//`` on DECIMAL rounds the decimal quotient BEFORE flooring —
    ``(2S+d) // (2d)`` lands one off at exact .5 remainders (pinned in
    tests/test_exact_halfup.py).  Oracle side: plain ``sum(col)`` +
    ``half_up_div(..., idiv='//')`` over the HUGEINT sums.

    Scope note: the OLS-family ops (ts_linear_trend, term_zipf_slope,
    ts_capacity_forecast, …) promote with per-site DataFrame casts at
    NARROWER precisions (decimal(20,0)/decimal(30,0)) instead of this
    helper — deliberately, not drift: their sums get MULTIPLIED
    downstream (``n*svt - sv*st``), and Spark decimal multiplication
    needs both factors well under DECIMAL(38) for the product to stay
    exact.  A fixed 38-precision sum would overflow the product; this
    helper serves the sum-then-divide shape only."""
    return f"sum(CAST({_paren(col)} AS DECIMAL(38, {scale})))"
