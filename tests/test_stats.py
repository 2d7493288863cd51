"""Statistics unit tests: t-distribution sf golden values + OLS parity with a
straight numpy re-derivation (independent of the applyInPandas plumbing)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from big_data_analytics_mini_projects_spark.functions.stats_math import t_sf
from big_data_analytics_mini_projects_spark.operators.stats import (
    ols_multi_closed,
    ols_multi_grouped,
    ols_simple_closed,
    ols_simple_grouped,
)


@pytest.mark.parametrize(
    "t,df,expected",
    [
        # Standard t-table critical values: sf(t_{alpha,df}, df) = alpha.
        (2.2281, 10, 0.025),
        (2.7500, 30, 0.005),
        (1.8125, 10, 0.05),
        (6.3138, 1, 0.05),
        (1.6449, 100000, 0.05),  # converges to the normal quantile
    ],
)
def test_t_sf_golden(t, df, expected):
    assert abs(t_sf(t, df) - expected) < 5e-4


def test_t_sf_symmetry():
    for t in (0.5, 1.7, 3.2):
        for df in (3, 17, 120):
            assert abs(t_sf(t, df) + t_sf(-t, df) - 1.0) < 1e-12
    assert abs(t_sf(0.0, 7) - 0.5) < 1e-12


def test_ols_simple_matches_numpy(spark):
    """The grouped fit equals plain-numpy Pearson r + textbook t on the
    collected data (reference math, a3_p1.py:71-96)."""
    rng = np.random.RandomState(7)
    rows = []
    for g, slope in (("g1", 2.0), ("g2", -1.3)):
        x = rng.rand(40)
        y = slope * x + rng.rand(40)
        rows += [(g, float(xv), float(yv)) for xv, yv in zip(x, y)]
    obs = spark.createDataFrame(rows, "word string, x double, y double")
    out = {r["word"]: r for r in ols_simple_grouped(obs, bonferroni_k=2).collect()}
    for g in ("g1", "g2"):
        sub = [(x, y) for (w, x, y) in rows if w == g]
        xa = np.array([x for x, _ in sub])
        ya = np.array([y for _, y in sub])
        r = float(np.corrcoef(xa, ya)[0, 1])
        n = len(sub)
        t = r * math.sqrt((n - 2) / (1 - r * r))
        assert abs(out[g]["beta"] - r) < 1e-9
        assert abs(out[g]["t_stat"] - t) < 1e-9
        assert 0.0 <= out[g]["p_value"] <= 1.0
        assert out[g]["p_bonf"] == min(1.0, out[g]["p_value"] * 2)


def _obs_frame(spark, with_ctrl=False):
    rng = np.random.RandomState(11)
    rows = []
    for g, slope in (("g1", 1.4), ("g2", -0.6), ("g3", 0.0)):
        x = rng.rand(60)
        c = (rng.rand(60) > 0.5).astype(float)
        y = slope * x + 0.8 * c + rng.rand(60)
        rows += [
            (g, float(xv), float(cv), float(yv)) for xv, cv, yv in zip(x, c, y)
        ]
    schema = "word string, x double, ctrl double, y double"
    return spark.createDataFrame(rows, schema)


def test_ols_closed_matches_grouped_simple(spark):
    """The sufficient-statistic closed form (the 100 TB path) reproduces the
    reference-shaped applyInPandas numpy fit on every output column."""
    obs = _obs_frame(spark)
    a = {r["word"]: r for r in ols_simple_closed(obs, bonferroni_k=3).collect()}
    b = {r["word"]: r for r in ols_simple_grouped(obs, bonferroni_k=3).collect()}
    assert set(a) == set(b)
    for g in a:
        for col in ("n", "beta", "t_stat", "p_value", "p_bonf"):
            assert abs(a[g][col] - b[g][col]) < 1e-8, (g, col, a[g][col], b[g][col])


def test_ols_closed_matches_grouped_multi(spark):
    obs = _obs_frame(spark, with_ctrl=True)
    a = {r["word"]: r for r in ols_multi_closed(obs, bonferroni_k=3).collect()}
    b = {r["word"]: r for r in ols_multi_grouped(obs, bonferroni_k=3).collect()}
    assert set(a) == set(b)
    for g in a:
        for col in ("n", "beta", "beta_ctrl", "t_stat", "p_value", "p_bonf"):
            assert abs(a[g][col] - b[g][col]) < 1e-8, (g, col, a[g][col], b[g][col])


def test_t_pvalue_cf_matches_t_sf(spark):
    """The fixed-iteration incomplete-beta continued fraction
    (functions/tdist.py, the p-value path of every closed-form OLS fit)
    agrees with the scalar t_sf across parities, tiny and large df, and both
    t signs."""
    from pyspark.sql import functions as F

    from big_data_analytics_mini_projects_spark.functions.tdist import (
        with_two_sided_t_pvalue_cf,
    )

    rows = [
        (float(t), int(df))
        for t in (0.0, 0.17, 0.5, 1.0, 2.33, 4.5, 7.9, -3.2)
        for df in (1, 2, 3, 4, 5, 10, 49, 100, 498, 997)
    ]
    frame = spark.createDataFrame(rows, "t double, df long")
    out = with_two_sided_t_pvalue_cf(frame, "t", F.col("df")).collect()
    assert len(out) == len(rows)
    for r in out:
        expected = 2.0 * t_sf(abs(r["t"]), float(r["df"]))
        assert abs(r["p_value"] - expected) < 1e-11, (r["t"], r["df"], r["p_value"], expected)


def _same_p(got, expected) -> bool:
    if expected is None or got is None:
        return got is None and expected is None
    if math.isnan(expected):
        return math.isnan(got)
    return abs(got - expected) < 1e-11


def test_t_pvalue_cf_degenerate_t(spark, duck):
    """NaN, infinite and NULL t give what 2·t_sf gives (NaN, 0.0, NULL) in
    both engines: a zero-variance group's NaN t must not read as p = 1, and
    a perfect fit's infinite t must not read as NaN."""
    from pyspark.sql import functions as F

    from big_data_analytics_mini_projects_spark.functions.tdist import (
        sql_t_pvalue_cf_ctes,
        with_two_sided_t_pvalue_cf,
    )

    ts = [math.nan, math.inf, -math.inf, None, 0.0, 2.0, -2.0]
    expected = {
        k: None if t is None else 2.0 * t_sf(abs(t), 5.0) for k, t in enumerate(ts)
    }
    assert math.isnan(expected[0]) and expected[1] == expected[2] == 0.0

    frame = spark.createDataFrame(
        [(k, t, 5) for k, t in enumerate(ts)], "k long, t double, df long"
    )
    out = with_two_sided_t_pvalue_cf(frame, "t", F.col("df")).collect()
    spark_p = {r["k"]: r["p_value"] for r in out}

    vals = ", ".join(
        f"({k}, {'NULL' if t is None else repr(str(t))}::DOUBLE, 5)" for k, t in enumerate(ts)
    )
    duck_p = dict(
        duck.execute(
            f"WITH RECURSIVE tsrc AS (SELECT * FROM (VALUES {vals}) v(k, t, df)), "
            + sql_t_pvalue_cf_ctes("tsrc", "t", "df", "k")
            + " SELECT k, p_value FROM tsrc_p"
        ).fetchall()
    )
    for k, t in enumerate(ts):
        assert _same_p(spark_p[k], expected[k]), ("spark", t, spark_p[k], expected[k])
        assert _same_p(duck_p[k], expected[k]), ("duckdb", t, duck_p[k], expected[k])
