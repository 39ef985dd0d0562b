"""Exact cross-engine display arithmetic for 2-decimal source data.

The engines disagree on `round(x, 4)` exactly when x sits on a
.00005 boundary: Spark rounds the SHORTEST DECIMAL REPRESENTATION of
the double HALF_UP (BigDecimal.valueOf), DuckDB rounds the raw
double. Averages of 2-decimal values land on those boundaries
whenever the group count is 2^a·5^b (observed at sf0.1: counts 8,
24, 32 flipped q3/a9/hypertable rows by one ulp at the 4th decimal).

The escape is to never round a double at all: lift 2-decimal values
to exact integer cents, and compute HALF-UP(cents/(100·n), digits)
in pure bigint —

    halfup = (cents·2·10^d + n·100) div (n·200)

then display `halfup / 10^d`, a ≤d-decimal terminating value both
engines materialize as the identical double. Overflow headroom:
cents·2·10^4 needs |sum_cents| < 4.6e14 per group — ~9 billion
rows/group at the corpus value range; past that, widen to decimal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    """2-decimal double → exact integer cents (per-row)."""
    return F.round(col * 100, 0).cast("long")


def floordiv_sql(num: str, den: int) -> str:
    """Spark-SQL text for exact-integer FLOOR division of bigints.

    Spark's ``div`` truncates toward zero — and so does DuckDB
    1.0.0's integer ``//`` (measured: ``-1 // 3 = 0``, ``-5 // 3 =
    -1``), so the two engines AGREE on negatives, but both give the
    semantically wrong bucket: a timestamp one hour before the epoch
    must land in bucket -1, not share bucket 0 with the first
    post-epoch hour. Every ts-derived bucket therefore uses this
    floor form paired with :func:`floordiv_duck` in the oracle.
    ``pmod`` returns the non-negative remainder for a positive
    modulus, so ``(x - pmod(x, d)) div d`` is exact-integer floor
    division for any sign of x. Plain ``div`` remains fine for
    provably non-negative numerators (counts, ranks, hashes) and for
    numerators that are exact multiples of the divisor (already-
    truncated timestamps).
    """
    assert den > 0, "floor/pmod identity requires a positive divisor"
    return f"(({num}) - pmod(({num}), {den})) div {den}"


def floordiv_duck(num: str, den: int) -> str:
    """DuckDB twin of :func:`floordiv_sql`. DuckDB's integer ``%``
    follows the dividend's sign, so ``((x % d) + d) % d`` is the
    non-negative residue; subtracting it leaves an exact multiple of
    d, where truncating ``//`` equals floor."""
    assert den > 0, "floor/residue identity requires a positive divisor"
    return (
        f"(({num}) - (((({num}) % {den}) + {den}) % {den})) // {den}"
    )


def halfup_ratio_sql(
    num: str, den: str, digits: int = 4, engine: str = "spark"
) -> str:
    """SQL expression: half-up `num/den` at `digits` decimals where
    BOTH operands are exact integers — the general form behind
    `halfup_avg_sql` (which pre-scales cents). Positive operands
    only (div/// truncate toward zero).

    Display domain: decimal-exact while the scaled half-up integer
    (~ num*10^digits/den) fits 2^53; past that the bigint→double
    conversion itself rounds, so the value double-rounds vs a
    single Decimal quantize (one ulp). Both engines stay
    bit-identical with each other even there — IEEE on both sides
    (tests/test_exact_property.py::test_beyond_mantissa_engines_agree)
    — so oracle parity is unaffected; only the absolute decimal
    claim narrows."""
    scale = 10**digits
    div = "div" if engine == "spark" else "//"
    # CAST(... AS BIGINT) on both operands: bare integer literals are
    # INT32 in both engines, and num * 2*scale overflows INT32 before
    # promotion (caught by tests/test_exact_property.py) — a no-op
    # for the CAST(sum(..) AS BIGINT) expressions real oracles pass
    n, d = f"CAST(({num}) AS BIGINT)", f"CAST(({den}) AS BIGINT)"
    return (
        f"(({n} * {2 * scale} + {d}) {div} ({d} * 2))"
        f" / CAST({scale} AS DOUBLE)"
    )


def halfup_ratio_wide_sql(
    num: str, den: str, digits: int = 4, engine: str = "spark"
) -> str:
    """Overflow-proof `halfup_ratio_sql`: identical half-up math, but
    the intermediate `num * 2*10^digits` runs in 128-bit integers —
    Spark DECIMAL(38,0) (whose `div` returns BIGINT, verified by
    tests/test_exact_property.py) and DuckDB HUGEINT (whose `//`
    stays HUGEINT; the display divide by a DOUBLE collapses it).

    This is the documented "past that, widen to decimal" escape from
    the module header: use it whenever |num| * 2*10^digits can
    approach 2^63 ≈ 9.2e18 at the target corpus scale (e.g. unit
    sums that carry a 10^4 or 10^6 scale factor). The RESULT must
    still fit in BIGINT — true for any on-screen ratio. Costs one
    decimal multiply per output row (post-aggregate: rows = groups,
    so the overhead is invisible next to the scan)."""
    scale = 10**digits
    if engine == "spark":
        n = f"CAST(({num}) AS DECIMAL(38,0))"
        d = f"CAST(({den}) AS DECIMAL(38,0))"
        div = "div"
    else:
        n = f"CAST(({num}) AS HUGEINT)"
        d = f"CAST(({den}) AS HUGEINT)"
        div = "//"
    return (
        f"(({n} * {2 * scale} + {d}) {div} ({d} * 2))"
        f" / CAST({scale} AS DOUBLE)"
    )


def halfup_expr(num: str, den: str, digits: int) -> Column:
    """`halfup_ratio_sql` as a Spark column."""
    return F.expr(halfup_ratio_sql(num, den, digits, engine="spark"))


def halfup_wide_expr(num: str, den: str, digits: int) -> Column:
    """`halfup_ratio_wide_sql` as a Spark column."""
    return F.expr(halfup_ratio_wide_sql(num, den, digits, engine="spark"))


def halfup_duck(num: str, den: str, digits: int) -> str:
    """`halfup_ratio_sql` as DuckDB text, for oracles."""
    return halfup_ratio_sql(num, den, digits, engine="duck")


def halfup_div_wide_sql(num: str, den: str, engine: str = "spark") -> str:
    """INTEGER half-up of `num/den` (BIGINT result, no display
    divide) with 128-bit intermediates — for callers that go on to
    SUM the rounded quotients exactly (e.g. per-term BM25
    contributions) rather than display them. Same operand contract
    as `halfup_ratio_wide_sql`; the quotient itself must fit
    BIGINT."""
    if engine == "spark":
        n = f"CAST(({num}) AS DECIMAL(38,0))"
        d = f"CAST(({den}) AS DECIMAL(38,0))"
        # Spark's decimal `div` already returns BIGINT
        return f"(({n} * 2 + {d}) div ({d} * 2))"
    n = f"CAST(({num}) AS HUGEINT)"
    d = f"CAST(({den}) AS HUGEINT)"
    return f"CAST((({n} * 2 + {d}) // ({d} * 2)) AS BIGINT)"


def halfup_avg_sql(
    c: str, n: str, digits: int = 4, engine: str = "spark"
) -> str:
    """SQL expression: half-up average at `digits` decimals of a
    cents total `c` over count `n`, all-integer until the final
    exact division. `engine` picks the integer-division spelling
    (`div` in Spark, `//` in DuckDB; both truncate toward zero on
    the positive operands this is used with)."""
    scale = 10**digits
    div = "div" if engine == "spark" else "//"
    # CAST(... AS DOUBLE): a bare `10000.0` literal parses as DECIMAL
    # in Spark SQL and would silently decimal-type the whole column.
    # BIGINT casts on the operands: see halfup_ratio_sql.
    cc, nn = f"CAST(({c}) AS BIGINT)", f"CAST(({n}) AS BIGINT)"
    return (
        f"(({cc} * {2 * scale} + {nn} * 100) {div} ({nn} * 200))"
        f" / CAST({scale} AS DOUBLE)"
    )


def halfup_signed_ratio_sql(
    num: str, den: str, digits: int = 4, engine: str = "spark"
) -> str:
    """`halfup_ratio_sql` for a possibly-NEGATIVE numerator
    (denominator must stay positive): half-up rounds the MAGNITUDE
    and re-applies the sign, the BigDecimal HALF_UP convention.
    The positive-only form is wrong here twice over — truncating
    division rounds negatives toward zero, and Spark's `div`
    (truncate) disagrees with DuckDB's `//` (floor) on them — so
    the sign is factored out before any integer division.
    Same 2^53 display domain as `halfup_ratio_sql` (see there)."""
    scale = 10**digits
    div = "div" if engine == "spark" else "//"
    n = f"CAST(({num}) AS BIGINT)"
    d = f"CAST(({den}) AS BIGINT)"
    return (
        f"((CASE WHEN {n} < 0 THEN -1 ELSE 1 END)"
        f" * ((abs({n}) * {2 * scale} + {d}) {div} ({d} * 2)))"
        f" / CAST({scale} AS DOUBLE)"
    )
