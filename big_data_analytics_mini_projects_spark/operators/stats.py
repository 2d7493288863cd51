"""Per-group standardized OLS with t-tests + Bonferroni (SURVEY.md §2.8).

Reference: 1,000 parallel regressions, one per top word, each fit with numpy
inside ``mapValues`` (a3_p1.py:71-96 simple, :104-131 multivariate).

Two implementations:

1. **Closed form over sufficient statistics** (``ols_simple_closed`` /
   ``ols_multi_closed``) — the DEFAULT and the 100 TB path. Standardized
   simple β equals Pearson r, and the 2-covariate standardized fit is pure
   partial-correlation algebra over the three pairwise correlations, so each
   group reduces to (n, Σx, Σy, Σc, Σxy, Σxc, Σcy, Σx², Σc², Σy²): ONE
   partial-agg shuffle, exact decimal accumulation, per-group memory O(1)
   regardless of corpus size, parallelism bounded by data not by K groups.
   The reference's grouped-map formulation materializes every group (~the
   whole corpus per word) on one task — the classic scale killer.
   p-values apply the incomplete-beta continued fraction as JVM expressions
   (functions/tdist.with_two_sided_t_pvalue_cf) over the K aggregated rows
   (one row per group — trivially small by then).
2. **Grouped numpy fit** (``ols_simple_grouped`` / ``ols_multi_grouped``) —
   the reference-shaped ``applyInPandas`` mirror, kept for parity testing
   (tests/test_stats.py proves closed == grouped == plain numpy).

Math notes (mirroring the reference exactly):
- predictors and outcome are z-scored with *population* std (np.std,
  a3_p1.py:80-84), intercept appended, solve via pinv -> for the simple case
  the standardized β equals Pearson r (the closed form the DuckDB oracle
  uses).
- t = β / sqrt(s²/Σx²) with s² = RSS/df, Σx² over the z-scored predictor
  (a3_p1.py:89-93); df = n-2 simple, n-3 multivariate; the multivariate SE
  deliberately reproduces the reference's formula (no (X'X)⁻¹ off-diagonal),
  so our numbers match *its* semantics, not the textbook's. For the
  standardized 2-covariate case that SE collapses to
  t = β₁·sqrt((n-3)/(1-(β₁·r_xy+β₂·r_cy))) — RSS/n = 1-(β₁·r_xy+β₂·r_cy)
  by the normal equations — which is exactly what the closed form computes.
- two-sided p from Student-t sf, Bonferroni-scaled by the number of groups
  tested (the reference hardcodes ×1000 = its word count; we scale by the
  actual K).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.stats_math import t_sf
from ..functions.tdist import with_two_sided_t_pvalue_cf

SIMPLE_SCHEMA = (
    "word string, n long, beta double, t_stat double, p_value double, p_bonf double"
)
MULTI_SCHEMA = (
    "word string, n long, beta double, beta_ctrl double, t_stat double, "
    "p_value double, p_bonf double"
)


def _dsum(col: Column) -> Column:
    """Exact decimal(38,12) sum -> double: deterministic under any partition
    merge order (the corr_price_quantity pattern, plans/statsq.py:169-176);
    scale 12 keeps 1e26 integer headroom for Σy² at petabyte row counts."""
    return F.sum(col.cast("decimal(38,12)")).cast("double")


def _pearson(n: Column, sa: Column, sb: Column, sab: Column, saa: Column, sbb: Column) -> Column:
    return (n * sab - sa * sb) / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))


def ols_simple_closed(
    obs: DataFrame, group_col: str = "word", x_col: str = "x", y_col: str = "y",
    bonferroni_k: int | None = None,
) -> DataFrame:
    """Per-group standardized simple OLS + t-test from sufficient statistics:
    β = Pearson r, t = r·sqrt((n-2)/(1-r²)) (a3_p1.py:71-96 semantics, one
    partial-agg shuffle, no grouped collect). ``p_value`` is oracle-checkable
    through its DuckDB twin, functions/tdist.sql_t_pvalue_cf_ctes.
    """
    x, y = F.col(x_col), F.col(y_col)
    s = obs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(x).alias("sx"),
        _dsum(y).alias("sy"),
        _dsum(x * y).alias("sxy"),
        _dsum(x * x).alias("sxx"),
        _dsum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    r = _pearson(n, F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx"), F.col("syy"))
    t = r * F.sqrt((n - 2) / (1 - r * r))
    k = float(bonferroni_k or 1)
    base = s.select(group_col, "n", r.alias("beta"), t.alias("t_stat"))
    out = with_two_sided_t_pvalue_cf(base, "t_stat", F.col("n") - 2)
    return out.withColumn("p_bonf", F.least(F.lit(1.0), F.col("p_value") * k))


def ols_multi_closed(
    obs: DataFrame, group_col: str = "word", x_col: str = "x", ctrl_col: str = "ctrl",
    y_col: str = "y", bonferroni_k: int | None = None,
) -> DataFrame:
    """Per-group standardized 2-covariate OLS via partial-correlation algebra
    over sufficient statistics (a3_p1.py:104-131 semantics, including the
    reference's own SE formula — see module docstring)."""
    x, c, y = F.col(x_col), F.col(ctrl_col), F.col(y_col)
    s = obs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(x).alias("sx"),
        _dsum(c).alias("sc"),
        _dsum(y).alias("sy"),
        _dsum(x * y).alias("sxy"),
        _dsum(x * c).alias("sxc"),
        _dsum(c * y).alias("scy"),
        _dsum(x * x).alias("sxx"),
        _dsum(c * c).alias("scc"),
        _dsum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sc, sy = F.col("sx"), F.col("sc"), F.col("sy")
    sxy, sxc, scy = F.col("sxy"), F.col("sxc"), F.col("scy")
    sxx, scc, syy = F.col("sxx"), F.col("scc"), F.col("syy")
    rxy = _pearson(n, sx, sy, sxy, sxx, syy)
    rxc = _pearson(n, sx, sc, sxc, sxx, scc)
    rcy = _pearson(n, sc, sy, scy, scc, syy)
    b1 = (rxy - rcy * rxc) / (1 - rxc * rxc)
    b2 = (rcy - rxy * rxc) / (1 - rxc * rxc)
    t = b1 * F.sqrt((n - 3) / (1 - (b1 * rxy + b2 * rcy)))
    k = float(bonferroni_k or 1)
    base = s.select(
        group_col, "n", b1.alias("beta"), b2.alias("beta_ctrl"), t.alias("t_stat")
    )
    out = with_two_sided_t_pvalue_cf(base, "t_stat", F.col("n") - 3)
    return out.withColumn("p_bonf", F.least(F.lit(1.0), F.col("p_value") * k))


def _fit(
    x_mat: np.ndarray, y: np.ndarray, df_resid: int, use_pinv: bool = True
) -> tuple[np.ndarray, float]:
    """Z-score columns (population std), append intercept, solve the normal
    equations, return (weights, t-stat of the first predictor) —
    a3_p1.py:77-93 in matrix form. The simple fit uses pinv (a3_p1.py:86),
    the multivariate one plain inv (a3_p1.py:122, LinAlgError -> NaN row)."""
    nan_out = np.full(x_mat.shape[1] + 1, np.nan), math.nan
    xs = x_mat.std(axis=0)
    ys = y.std()
    if ys == 0.0 or np.any(xs == 0.0):
        return nan_out
    xz = (x_mat - x_mat.mean(axis=0)) / xs
    yz = (y - y.mean()) / ys
    n = len(y)
    design = np.hstack([xz, np.ones((n, 1))])
    gram = design.T @ design
    try:
        g_inv = np.linalg.pinv(gram) if use_pinv else np.linalg.inv(gram)
    except np.linalg.LinAlgError:
        return nan_out
    w = g_inv @ design.T @ yz.reshape(-1, 1)
    rss = float(np.sum((yz.reshape(-1, 1) - design @ w) ** 2))
    s2 = rss / df_resid
    se = float(np.sum(xz[:, 0] ** 2))
    t = float(w[0, 0] / math.sqrt(s2 / se)) if s2 > 0 else math.nan
    return w[:, 0], t


def ols_simple_grouped(
    obs: DataFrame, group_col: str = "word", x_col: str = "x", y_col: str = "y",
    bonferroni_k: int | None = None,
) -> DataFrame:
    """Per-group standardized simple OLS + t-test (a3_p1.py:71-96)."""

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        k = bonferroni_k or 1
        x = pdf[x_col].to_numpy(dtype=float).reshape(-1, 1)
        y = pdf[y_col].to_numpy(dtype=float)
        w, t = _fit(x, y, n - 2)
        p = 2.0 * t_sf(abs(t), n - 2)
        return pd.DataFrame(
            {
                "word": [pdf[group_col].iloc[0]],
                "n": [n],
                "beta": [w[0]],
                "t_stat": [t],
                "p_value": [p],
                "p_bonf": [min(1.0, p * k)],
            }
        )

    return obs.groupBy(group_col).applyInPandas(fit, SIMPLE_SCHEMA)


def ols_multi_grouped(
    obs: DataFrame, group_col: str = "word", x_col: str = "x", ctrl_col: str = "ctrl",
    y_col: str = "y", bonferroni_k: int | None = None,
) -> DataFrame:
    """Per-group standardized 2-covariate OLS, controlling for a second
    covariate (a3_p1.py:104-131; control = `verified` in the reference)."""

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        k = bonferroni_k or 1
        x = pdf[[x_col, ctrl_col]].to_numpy(dtype=float)
        y = pdf[y_col].to_numpy(dtype=float)
        w, t = _fit(x, y, n - 3, use_pinv=False)
        p = 2.0 * t_sf(abs(t), n - 3)
        return pd.DataFrame(
            {
                "word": [pdf[group_col].iloc[0]],
                "n": [n],
                "beta": [w[0]],
                "beta_ctrl": [w[1]],
                "t_stat": [t],
                "p_value": [p],
                "p_bonf": [min(1.0, p * k)],
            }
        )

    return obs.groupBy(group_col).applyInPandas(fit, MULTI_SCHEMA)
