"""``operators.aggregates.dsum`` against the decimal sum it replaces.

``dsum`` sums scaled 64-bit integers, but must return the exact double
``F.sum(x.cast("decimal(18,s)")).cast("double")`` returns, on every input
and under both ANSI settings: HALF_UP ties, values on either side of the
fast path's bounds, NaN/Inf/null, overflow, and totals past 2^63.
"""

from __future__ import annotations

import contextlib
import decimal
import math
import os
import struct

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_analytics_mini_projects_spark.operators.aggregates import dsum
from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES

from .compare import assert_df_equal
from .conftest import SF_DIR

SCALES = (0, 2, 4, 6, 7, 8)

#: HALF_UP ties of the decimal string, binary-exact ties, and their negatives
TIES = (0.145, -0.145, 1.005, 2.675, 0.01171875, -0.01171875, 0.125, -0.125, 0.5, -0.5, 2.5, -2.5)


def reference(c, scale: int):
    """The decimal sum ``dsum`` replaced, kept here as the ground truth."""
    return F.sum(F.col(c).cast(f"decimal(18,{scale})")).cast("double")


@contextlib.contextmanager
def ansi(spark, enabled: bool):
    """Set ``spark.sql.ansi.enabled`` for the block, then restore it."""
    key = "spark.sql.ansi.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set(key, was)


def _bits(v):
    return None if v is None else struct.pack(">d", v)


def _values(scale: int) -> list[float]:
    """Adversarial in-range addends for ``scale``: ties, both sides of
    |p| = 2^39 (where the tie band closes), 2^50 and 2^53, random doubles
    over every magnitude the decimal holds, near-ties one digit past the
    scale, and NaN/Inf."""
    rng = np.random.default_rng(1000 + scale)
    unit = 10.0**scale
    vals = list(TIES)
    for edge in (2.0**39, 2.0**50, 2.0**53, 2.0**59):
        x = edge / unit
        for v in (x, -x):
            vals += [v, np.nextafter(v, 0.0), np.nextafter(v, 2 * v)]
            vals += [v + d / unit for d in (-0.5, 0.5, -1.5, 1.5)]
    for e in range(-12, 18 - scale):
        mags = 10.0**e * rng.uniform(1.0, 9.99, 24)
        vals += list(mags * rng.choice((-1.0, 1.0), 24))
    near = rng.integers(-(10**9), 10**9, 300) / 10.0 ** (scale + 1)
    vals += list(near) + list(near + 1e-12)
    vals += [float("nan"), float("inf"), float("-inf")]
    # in range of decimal(18, scale): the cast of anything at 10^18 overflows
    return [float(v) for v in vals if not abs(v) * unit >= 0.99e18]


@pytest.mark.parametrize("ansi_on", [True, False], ids=["ansi", "no_ansi"])
@pytest.mark.parametrize("scale", SCALES)
def test_dsum_matches_decimal_sum(spark, scale, ansi_on):
    """Per row (one group per value) and grouped, ``dsum`` is bit-identical
    to the decimal sum, nulls included."""
    vals = _values(scale)
    rows = [(i, i % 7, v) for i, v in enumerate(vals)] + [(len(vals), 3, None)]
    df = spark.createDataFrame(rows, "id long, g long, x double")
    with ansi(spark, ansi_on):
        for key in ("id", "g"):
            got = df.groupBy(key).agg(
                dsum("x", scale).alias("new"), reference("x", scale).alias("ref")
            ).collect()
            bad = [(r[key], r["new"], r["ref"]) for r in got if _bits(r["new"]) != _bits(r["ref"])]
            assert not bad, f"scale {scale}, by {key}: {len(bad)} differ, e.g. {bad[:5]}"
            if key == "id":
                nulls = {r["id"] for r in got if r["new"] is None}
                assert nulls == {i for i, _, v in rows if v is None or not math.isfinite(v)}


@pytest.mark.parametrize("ansi_on", [True, False], ids=["ansi", "no_ansi"])
def test_dsum_null_and_empty_groups(spark, ansi_on):
    df = spark.createDataFrame([(1, 1.5), (1, None), (2, None), (2, None)], "g int, x double")
    with ansi(spark, ansi_on):
        got = {r["g"]: r["s"] for r in df.groupBy("g").agg(dsum("x").alias("s")).collect()}
        assert got == {1: 1.5, 2: None}
        empty = df.filter(F.lit(False)).agg(dsum("x").alias("s"), reference("x", 2).alias("r"))
        assert empty.collect()[0].asDict() == {"s": None, "r": None}


@pytest.mark.parametrize("scale", SCALES)
def test_dsum_out_of_range_raises_under_ansi_only(spark, scale):
    """An addend the decimal(18,s) cast cannot hold raises under ANSI and is
    null with ANSI off, exactly as the decimal sum does."""
    for big in (2e18, -2e18, 1e20, 1e300):
        df = spark.createDataFrame([(1.0,), (big / 10.0**scale,)], "x double")
        with ansi(spark, True):
            for agg in (dsum("x", scale), reference("x", scale)):
                with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
                    df.agg(agg).collect()
        with ansi(spark, False):
            row = df.agg(dsum("x", scale).alias("s"), reference("x", scale).alias("r")).collect()[0]
            assert row["s"] == row["r"] == 1.0


@pytest.mark.parametrize("ansi_on", [True, False], ids=["ansi", "no_ansi"])
def test_dsum_total_past_2pow63_neither_raises_nor_wraps(spark, ansi_on):
    """About 200 addends of 9e10 at scale 6 are 9e16 unscaled each, so the
    unscaled total passes 2^63: a single bigint sum would raise (ANSI) or
    wrap (ANSI off). The limb sums must give the exact decimal total."""
    vals = [9e10 + j / 64 for j in range(205)]
    exact = sum(decimal.Decimal(v) for v in vals)
    assert exact * 10**6 > 2**63
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    with ansi(spark, ansi_on):
        got = df.agg(dsum("x", 6).alias("s")).collect()[0]["s"]
    assert got == float(str(exact))


def test_tpch_q1_partial_aggregate_holds_no_decimal(spark):
    """The claimed win, pinned: Q1's map-side HashAggregate buffers only
    longs (no per-row BigDecimal accumulator), and its rows still equal
    the DuckDB oracle."""
    sf = f"{os.path.dirname(SF_DIR)}/sf0.01"
    if not os.path.exists(f"{sf}/lineitem.parquet"):
        pytest.skip("sf0.01 testdata not present")
    df = QUERIES["tpch_q1_pricing_summary"].build(spark, sf)

    def partial_buffers(node):
        if node.nodeName() == "HashAggregate":
            modes = {
                node.aggregateExpressions().apply(i).mode().toString()
                for i in range(node.aggregateExpressions().size())
            }
            if modes == {"Partial"}:
                attrs = node.aggregateBufferAttributes()
                yield [attrs.apply(i).dataType().simpleString() for i in range(attrs.size())]
        kids = node.children()
        for i in range(kids.size()):
            yield from partial_buffers(kids.apply(i))

    found = list(partial_buffers(df._jdf.queryExecution().sparkPlan()))  # noqa: SLF001
    assert len(found) == 1, found
    assert found[0] and not [t for t in found[0] if t.startswith("decimal")], found
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet')")
        assert_df_equal(df, con, QUERIES["tpch_q1_pricing_summary"].oracle)
    finally:
        con.close()
