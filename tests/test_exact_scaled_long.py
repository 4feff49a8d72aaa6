"""Focused check of the r16 scaled-long exact-sum rewrite (exact.py).

exact_sum / exact_avg / revenue_sum / sum_scale6_money no longer
accumulate in wide decimal: each value becomes a scaled long (the
decimal's unscaled value), the sum runs as two plain long sums split
hi/lo at 2^20, and the halves recombine in decimal once per group.
These tests pin the bit-identity of that path against the wide-decimal
formulation it replaced, on synthetic data chosen to hit the edges the
production queries rely on: negative values (c_acctbal), NULLs (sum
skips), conditional sums (CASE WHEN ... ELSE NULL), empty groups, and
values straddling the 2^20 split with both signs.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import Row, functions as F

from job_market_research_spark.exact import (
    DEC,
    dec,
    exact_avg,
    exact_sum,
    limb_sum_scaled,
    revenue_sum,
    scaled_revenue,
    sum_scale6_money,
)


def _bits(x):
    return None if x is None else struct.pack("<d", x)


def _rows_match(a, b):
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        da, db = ra.asDict(), rb.asDict()
        assert set(da) == set(db)
        for k in da:
            va, vb = da[k], db[k]
            if isinstance(va, float) or isinstance(vb, float):
                assert _bits(va) == _bits(vb), (k, va, vb)
            else:
                assert va == vb, (k, va, vb)


@pytest.fixture(scope="module")
def money_df(spark):
    # 2dp money incl. negatives, NULLs, values around the 2^20 split
    # (10.48576 * 1e5 scaled units), and group 'z' that is all-NULL.
    rows = [
        Row(g="a", x=0.01), Row(g="a", x=-0.01), Row(g="a", x=10.48),
        Row(g="a", x=10.49), Row(g="a", x=None), Row(g="a", x=104.86),
        Row(g="b", x=-99999.99), Row(g="b", x=99999.98),
        Row(g="b", x=12345.67), Row(g="b", x=-0.05),
        Row(g="z", x=None),
    ]
    return spark.createDataFrame(rows)


def test_exact_sum_bit_identical_to_decimal_sum(money_df):
    new = money_df.groupBy("g").agg(exact_sum("x", "s")).orderBy("g").collect()
    old = (
        money_df.groupBy("g")
        .agg(F.sum(dec("x")).cast("double").alias("s"))
        .orderBy("g")
        .collect()
    )
    _rows_match(new, old)
    # the all-NULL group must stay NULL, not become 0
    assert new[-1].s is None


def test_exact_avg_bit_identical_to_decimal_avg(money_df):
    new = money_df.groupBy("g").agg(exact_avg("x", "a")).orderBy("g").collect()
    old = (
        money_df.groupBy("g")
        .agg((F.sum(dec("x")).cast("double") / F.count("x")).alias("a"))
        .orderBy("g")
        .collect()
    )
    _rows_match(new, old)


@pytest.fixture(scope="module")
def lineitem_like_df(spark):
    rows = [
        Row(g="a", l_extendedprice=901.00, l_discount=0.04),
        Row(g="a", l_extendedprice=45983.16, l_discount=0.09),
        Row(g="a", l_extendedprice=0.01, l_discount=0.00),
        Row(g="b", l_extendedprice=104857.60, l_discount=0.10),  # hi/lo edge
        Row(g="b", l_extendedprice=13309.60, l_discount=0.10),
        Row(g="b", l_extendedprice=28955.64, l_discount=0.09),
    ]
    return spark.createDataFrame(rows)


def _old_revenue_sum(alias):
    rev = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    return F.sum(rev).cast("decimal(38,4)").cast("double").alias(alias)


def test_revenue_sum_bit_identical_to_decimal_product_sum(lineitem_like_df):
    new = (
        lineitem_like_df.groupBy("g").agg(revenue_sum("r")).orderBy("g").collect()
    )
    old = (
        lineitem_like_df.groupBy("g")
        .agg(_old_revenue_sum("r"))
        .orderBy("g")
        .collect()
    )
    _rows_match(new, old)


def test_conditional_revenue_matches_decimal_when_chain(lineitem_like_df):
    cond = F.col("l_discount") >= 0.09
    new = (
        lineitem_like_df.groupBy("g")
        .agg(sum_scale6_money(F.when(cond, scaled_revenue()), "r"))
        .orderBy("g")
        .collect()
    )
    rev = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    old = (
        lineitem_like_df.groupBy("g")
        .agg(F.sum(F.when(cond, rev)).cast("decimal(38,4)").cast("double").alias("r"))
        .orderBy("g")
        .collect()
    )
    _rows_match(new, old)


def test_hilo3_sum_bit_identical_to_decimal_product_sum(spark):
    """The 3-limb split (r17, VERDICT r16 item 3) on scale-4 products
    of 2dp money: same rational as the wide-decimal product SUM,
    including negatives, NULL skipping, and values straddling both
    split points (2^20 and 2^40)."""
    from job_market_research_spark.exact import _hilo3_sum_as_decimal

    rows = [
        Row(g="a", p=104857.60, q=100.00),   # p2*q2 straddles 2^40 region
        Row(g="a", p=0.01, q=0.01),
        Row(g="a", p=-104857.61, q=104857.61),
        Row(g="a", p=None, q=3.00),          # NULL operand -> row skipped
        Row(g="b", p=10.48, q=10.49),        # around 2^20 in scaled units
        Row(g="b", p=-0.01, q=1.00),
        Row(g="z", p=None, q=None),          # all-NULL group stays NULL
    ]
    df = spark.createDataFrame(rows)
    p2 = F.round(F.col("p") * 100).cast("long")
    q2 = F.round(F.col("q") * 100).cast("long")
    new = (
        df.groupBy("g")
        .agg(
            (_hilo3_sum_as_decimal(p2 * q2) / F.lit(10_000))
            .cast("double")
            .alias("s")
        )
        .orderBy("g")
        .collect()
    )
    old = (
        df.groupBy("g")
        .agg(
            F.sum(
                F.col("p").cast("decimal(19,6)") * F.col("q").cast("decimal(18,6)")
            )
            .cast("double")
            .alias("s")
        )
        .orderBy("g")
        .collect()
    )
    _rows_match(new, old)
    assert new[-1].s is None


def test_hilo3_split_recomposes_for_either_sign(spark):
    """(v>>40)*2^40 + ((v>>20)&mask)*2^20 + (v&mask) == v for both
    signs, at the limb boundaries, and at product-magnitude extremes
    (|v| ~ 1.5e14, the price2*price2 worst case)."""
    from job_market_research_spark.exact import _hilo3_sum_as_decimal

    vals = [
        -150_994_944_000_001, -1_099_511_627_777, -1_048_577, -1, 0, 1,
        1_048_575, 1_048_576, 1_099_511_627_776, 150_994_944_000_001,
    ]
    df = spark.createDataFrame([Row(g=i, v=v) for i, v in enumerate(vals)])
    out = (
        df.groupBy("g")
        .agg(_hilo3_sum_as_decimal(F.col("v")).cast("long").alias("re"))
        .join(df, "g")
        .collect()
    )
    for r in out:
        assert r.re == r.v, (r.v, r.re)


def test_hilo_split_recomposes_for_either_sign(spark):
    # direct property check of the split the helpers rely on:
    # (v >> 20)*2^20 + (v & (2^20-1)) == v for negative and positive v.
    df = spark.createDataFrame(
        [Row(v=-104_857_600_001), Row(v=-1), Row(v=0), Row(v=1),
         Row(v=104_857_600_001)]
    )
    out = df.select(
        (
            F.shiftright("v", 20).cast("decimal(38,0)") * (1 << 20)
            + F.col("v").bitwiseAND(F.lit((1 << 20) - 1)).cast("decimal(38,0)")
        ).cast("long").alias("re"),
        "v",
    ).collect()
    for r in out:
        assert r.re == r.v


@pytest.mark.parametrize(
    "v, kw, error",
    [
        # a 1-limb sum past the long range; with ANSI off it would wrap
        # to -2^63, the wrong number the contract rules out
        (1 << 62, dict(pow10=0, sum_digits=20, limbs=1), "ARITHMETIC_OVERFLOW"),
        # a |sum| (12.00) past the declared sum_digits=3; with ANSI off
        # it would be NULL
        (600, dict(pow10=2, sum_digits=3, limbs=1), "NUMERIC_VALUE_OUT_OF_RANGE"),
    ],
)
def test_limb_sum_scaled_overflow_raises(spark, v, kw, error):
    """limb_sum_scaled overflow fails loudly under the session factory's
    ANSI mode: it raises, and never returns a number."""
    df = spark.createDataFrame([Row(v=v), Row(v=v)])
    with pytest.raises(ArithmeticException, match=error):
        df.agg(limb_sum_scaled(F.col("v"), **kw).alias("s")).collect()
