"""Cross-engine exactness helpers.

Double-precision aggregation is order-dependent; Spark's partial
(map-side) aggregation and DuckDB's sequential sum would differ in the
low bits and break the driver's value-hash compare. Computing in
DECIMAL makes the aggregate exact and therefore order-independent; the
final cast back to DOUBLE is deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DEC = "decimal(18,4)"


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def _scaled4(col: str | Column) -> Column:
    """round(x * 10^4) as LONG — the unscaled value of
    ``CAST(x AS DECIMAL(18,4))``. Exact for any x with ≤4 true decimal
    digits (all money/metric columns here are 2dp TPC-H money or
    integer-valued quantities; the oracle gates prove the identity on
    every scale factor because DuckDB keeps computing the decimal
    form). Both use HALF_UP on the double's shortest decimal
    rendering, so the per-row values agree digit for digit."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 10_000).cast("long")


#: hi/lo split point for the long-sum path below. A power of two so the
#: split is shift/mask: shiftright floors and & yields a non-negative
#: low part, and two's complement makes (v >> B)*2^B + (v & (2^B-1)) == v
#: exactly for either sign.
_SPLIT_BITS = 20
_SPLIT = 1 << _SPLIT_BITS


def _hilo_sum_as_decimal(v: Column) -> Column:
    """Exact SUM of a LONG expression, returned as an integer-valued
    decimal — without a per-row decimal accumulator.

    A wide-decimal SUM leaves Spark's compact-long representation and
    costs ~2x a plain long sum per row (r16 measurement: 0.64 s vs
    0.33 s for the same aggregate over the sf0.1 lineitem scan).
    Summing the raw long instead would overflow at scale (|v| reaches
    1e11 for the revenue product; fine at sf0.1, not at 100 TB), so v
    is split hi/lo at 2^20: two plain long sums recombined in decimal
    once per output group. Integer arithmetic is exact in every
    association order, so the result is bit-identical to the single
    decimal SUM the oracle keeps running.

    PRECONDITION (overflow headroom is a function of the INPUT
    magnitude, not a constant — ADVICE r16): with split B=20 the two
    partials are safe against long wrap for
    ``N <= 9.2e18 / max(|v|max / 2^20, 2^20 - 1)`` rows per group —
    |sum(hi)| <= (|v|max/2^20)·N and sum(lo) < 2^20·N vs the ±9.2e18
    long range. Callers must hold |v|max <= ~1e12, which keeps N_safe
    >= ~9.6e12 rows (scale-6 revenue, |v| <= 1e11 → N_safe ≈ 9.7e13;
    the 100 TB design point is ~6e11 lineitem rows TOTAL). For larger
    per-row magnitudes — e.g. scale-4 products of two scale-2 money
    operands, |v| <= ~1.5e14, where N_safe here collapses to ~6.4e10 —
    use `_hilo3_sum_as_decimal` instead."""
    hi = F.sum(F.shiftright(v, _SPLIT_BITS)).cast("decimal(38,0)")
    lo = F.sum(v.bitwiseAND(F.lit(_SPLIT - 1))).cast("decimal(38,0)")
    return hi * _SPLIT + lo


def _hilo3_sum_as_decimal(v: Column) -> Column:
    """Exact SUM of a LONG expression via THREE limb sums (split points
    2^40 / 2^20) — the product-magnitude variant of
    `_hilo_sum_as_decimal` (VERDICT r16 item 3 / ADVICE r16: a 2-limb
    split at 2^20 wraps at ~8e10 rows per group for |v| ~ 1.5e14, and
    even the optimal 2-limb split only reaches ~8e11 — inside the
    100 TB worst case of ~2e11 rows per group).

    Identity (any sign, two's complement): v == (v>>40)·2^40
    + ((v>>20) & (2^20−1))·2^20 + (v & (2^20−1)) — the 2-limb identity
    applied twice. Limb-sum bounds for |v|max <= 1.5e14:
    |sum(hi40)| <= (|v|max/2^40)·N ≈ 137·N  (N_safe ≈ 6.7e16 rows),
    each masked limb sum < 2^20·N            (N_safe ≈ 8.8e12 rows),
    so the worst group at the 100 TB design point (~2e11 rows) keeps
    ~44× headroom. NULLs propagate through shift/mask and are skipped
    by every limb sum identically, so NULL semantics match a decimal
    SUM. Costs one extra long sum per expression vs the 2-limb form —
    still well under the wide-decimal accumulator (r16: ~2×)."""
    mask = F.lit(_SPLIT - 1)
    hi = F.sum(F.shiftright(v, 2 * _SPLIT_BITS)).cast("decimal(38,0)")
    mid = F.sum(F.shiftright(v, _SPLIT_BITS).bitwiseAND(mask)).cast(
        "decimal(38,0)"
    )
    lo = F.sum(v.bitwiseAND(mask)).cast("decimal(38,0)")
    return (hi * F.lit(_SPLIT) + mid) * F.lit(_SPLIT) + lo


def limb_sum_scaled(
    v: Column, pow10: int, sum_digits: int, limbs: int = 2
) -> Column:
    """Exact SUM of a scale-`pow10` scaled-long expression, returned as
    the decimal value ``sum(v) / 10^pow10`` — equal BY VALUE (same
    rational, so the same correctly-rounded double on cast) to the
    wide-decimal ``SUM(CAST(x AS DECIMAL(p, pow10)))`` it replaces,
    when ``v`` is provably that decimal's unscaled value per row.

    `limbs` picks the split per the magnitude rules above: 1 = plain
    long sum (|v|max <= ~1e6; N_safe = 9.2e18/|v|max), 2 = hi/lo at
    2^20 (|v|max <= ~1e12), 3 = 2^40/2^20 (|v|max <= ~1.5e14, the
    2dp-money product class).

    `sum_digits` declares the caller's bound on |sum(v)| (< 10^sum_digits):
    the recombined total is cast to DECIMAL(sum_digits, 0) so Spark's
    division typing keeps every true digit — the unconstrained
    decimal(38,0)/10^k quotient is capped to scale 6, which would
    silently round any scale > 6 (typing verified empirically on
    4.1.2). Requires sum_digits + max(6, pow10 + 2) <= 38.

    Overflow fails loudly only under ANSI mode (`spark.sql.ansi.enabled`
    = true, Spark 4's default, which `session.get_spark` pins): a
    limb sum past the long range raises ``[ARITHMETIC_OVERFLOW]``, and
    an actual |sum| overflowing sum_digits raises
    ``[NUMERIC_VALUE_OUT_OF_RANGE]`` — never a wrong number. With ANSI
    off the same inputs give a silently wrapped limb sum (a wrong
    number) and a NULL respectively."""
    if sum_digits + max(6, pow10 + 2) > 38:
        raise ValueError(
            f"sum_digits={sum_digits} too wide for scale {pow10}: "
            f"division would lose digits"
        )
    if limbs == 1:
        total = F.sum(v).cast(f"decimal({sum_digits},0)")
    elif limbs == 2:
        total = _hilo_sum_as_decimal(v).cast(f"decimal({sum_digits},0)")
    else:
        total = _hilo3_sum_as_decimal(v).cast(f"decimal({sum_digits},0)")
    return total / F.lit(10**pow10).cast(f"decimal({pow10 + 1},0)")


def exact_sum(col: str | Column, alias: str) -> Column:
    """SUM computed exactly (scaled-long hi/lo sums, decimal recombine
    once per group), emitted as DOUBLE.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)``.
    Same number by construction: _scaled4 IS that decimal's unscaled
    value per row, the hi/lo long sum is exact, and the /10^4 happens
    in decimal (division scale >= 6 covers the true scale 4, so no
    rounding) before one deterministic decimal->double conversion.
    """
    total = _hilo_sum_as_decimal(_scaled4(col))
    return (total / F.lit(10_000)).cast("double").alias(alias)


def exact_avg(col: str | Column, alias: str) -> Column:
    """AVG as exact sum / count, both sides in DOUBLE.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    total = _hilo_sum_as_decimal(_scaled4(c))
    return ((total / F.lit(10_000)).cast("double") / F.count(c)).alias(alias)


ORACLE_SUM = "CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE)"
ORACLE_AVG = "CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({col})"
#: The product sum carries scale 8; REDUCE to scale 4 before the double
#: cast. Money data is 2dp × 2dp → products have exactly ≤4 decimals, so
#: the scale cut is exact — and a scale-4 integer magnitude stays below
#: 2^53 far longer, where DuckDB's two-step decimal→double conversion
#: (int128→double, then /10^scale) stops being correctly rounded vs
#: Spark's BigDecimal.doubleValue (observed: 1-ulp divergence at sf0.1
#: on a ~5e9 revenue sum at scale 8; exact at scale 4).
ORACLE_REVENUE = (
    "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))"
    " AS DECIMAL(38,4)) AS DOUBLE)"
)


def scaled_revenue() -> Column:
    """l_extendedprice * (1 − l_discount) as a LONG in 10^-6 currency
    units: price in cents (exact — money is 2dp) times
    (10^4 − discount·10^4). |v| ≤ 1e11 per row. For 2dp prices this
    scale-6 integer times 10^-6 equals the oracle's scale-8 decimal
    product digit for digit."""
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_4 = F.round(F.col("l_discount") * 10_000).cast("long")
    return price_c * (F.lit(10_000) - disc_4)


def sum_scale6_money(v6: Column, alias: str) -> Column:
    """Exact SUM of a scale-6 scaled-long money expression (e.g.
    scaled_revenue), reduced to scale 4 before the double cast — the
    same HALF_UP reduction as the oracle's
    ``CAST(SUM(...) AS DECIMAL(38,4))`` (the intermediate decimal
    division's scale ≥ 6 keeps every true digit, so the only rounding
    is the final scale-4 cast, identical on both engines)."""
    total = _hilo_sum_as_decimal(v6)
    return (
        (total / F.lit(1_000_000))
        .cast("decimal(38,4)")
        .cast("double")
        .alias(alias)
    )


def revenue_sum(alias: str) -> Column:
    """SUM of the exact revenue l_extendedprice * (1 - l_discount),
    scale-reduced to 4 (exact for 2dp money) before the double cast —
    keeps the decimal→double conversion correctly rounded on BOTH
    engines at any magnitude. Scaled-long hi/lo path (see
    _hilo_sum_as_decimal); bit-identity proven by the oracle hash
    gates at every scale factor."""
    return sum_scale6_money(scaled_revenue(), alias)
