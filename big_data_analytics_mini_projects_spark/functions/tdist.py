"""Two-sided Student-t p-value as native SQL expressions in both engines,
with no Python in the plan.

The reference computes each regression's p-value with scipy.stats.t.sf
(a3_p1.py:94,129). Here 2·P(T > |t|) at df ν is the regularized incomplete
beta I_x(ν/2, 1/2), x = ν/(ν + t²), evaluated with the modified-Lentz
continued fraction (Numerical Recipes betacf) at a FIXED 200 half-steps.
betacf converges in fewer than 100 half-steps everywhere on this domain; a
fixed count keeps the two engines' operation sequences literally identical,
with no early-exit predicate that a 1-ulp difference could flip. ln Γ comes
from the Lanczos g=7 series with the same 9 literal constants in both
engines. Cost per row is O(1) in ν, so the oracle stays cheap at any SF.

Agreement with functions/stats_math.t_sf is better than 1e-11 absolute
(tests/test_stats.py), and the two engines agree to ~1e-15 (libm ln/exp ulp
only), far inside the declared query's 6-decimal stable rounding.

The Spark side is one ``aggregate(sequence(...), ...)`` fold, a lambda that
runs interpreted (``CodegenFallback``), applied after aggregation to the K
fitted groups only. Every shared subexpression is materialized as a real
column BEFORE the fold: an expression inlined into a higher-order-function
lambda is re-evaluated once per fold step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Lanczos g=7 coefficients — spelled with full precision, identically, in the
#: Spark expressions and the DuckDB SQL below. Each is wrapped as
#: CAST('<digits>' AS DOUBLE) (valid in both dialects): a BARE 17-digit
#: numeric literal parses into DECIMAL in DuckDB, and its decimal->double
#: conversion lands 1 ulp off the true nearest double for two of these
#: constants (0.9189385332046727, 12.507343278686905) while Spark parses
#: them exactly — a measured cross-engine divergence inside the p-value
#: pipeline that the 6-decimal rounding merely happened to absorb. The
#: string-parse path is correctly rounded in both engines.


def _dlit(digits: str) -> str:
    return f"CAST('{digits}' AS DOUBLE)"


_LANCZOS = tuple(
    _dlit(c)
    for c in (
        "0.99999999999980993", "676.5203681218851", "-1259.1392167224028",
        "771.32342877765313", "-176.61502916214059", "12.507343278686905",
        "-0.13857109526572012", "0.0000099843695780195716",
        "0.00000015056327351493116",
    )
)
_LG_HALF = _dlit("0.5723649429247001")  # lgamma(0.5) as an IEEE double
_LN_SQRT_2PI = _dlit("0.9189385332046727")
_CF_STEPS = 200  # 2*M half-steps, M=100 full Lentz iterations


def _lanczos_lgamma(z: str) -> str:
    """ln Γ(z) for z > 0 as a plain SQL expression (valid in BOTH dialects:
    arithmetic, ln, and a flat 8-term sum only)."""
    series = " + ".join(
        f"{c} / (({z}) - 1 + {i})" for i, c in enumerate(_LANCZOS[1:], start=1)
    )
    return (
        f"({_LN_SQRT_2PI} + (({z}) - 0.5) * ln(({z}) + 6.5) - (({z}) + 6.5) "
        f"+ ln({_LANCZOS[0]} + {series}))"
    )


def _cf_guard(v: str) -> str:
    """Lentz tiny-denominator guard, same literal in both engines."""
    return f"(CASE WHEN abs({v}) < 1e-30 THEN 1e-30 ELSE {v} END)"


def _cf_aa(ca: str, cb: str, cx: str, j: str, md: str) -> str:
    """Half-step numerator a_m of the betacf recurrence at fold index j
    (odd j -> the m(b-m) term, even j -> the -(a+m)(a+b+m) term)."""
    return (
        f"(CASE WHEN ({j}) % 2 = 1 "
        f"THEN ({md}) * (({cb}) - ({md})) * ({cx}) "
        f"/ ((({ca}) - 1 + 2 * ({md})) * (({ca}) + 2 * ({md}))) "
        f"ELSE -((({ca}) + ({md})) * (({ca}) + ({cb}) + ({md})) * ({cx})) "
        f"/ ((({ca}) + 2 * ({md})) * (({ca}) + 1 + 2 * ({md}))) END)"
    )


_TC_COLS = ("_tc_t", "_tc_dfd", "_tc_x", "_tc_u", "_tc_a", "_tc_sw",
            "_tc_ca", "_tc_cb", "_tc_cx", "_tc_lnbt", "_tc_h")


def with_two_sided_t_pvalue_cf(frame: DataFrame, t_col: str, df_col: Column) -> DataFrame:
    """Append ``p_value`` = 2·P(T > |t_col|) at df ``df_col`` via the
    fixed-iteration incomplete-beta continued fraction — O(1) in df per row.
    Mirrored operation for operation by :func:`sql_t_pvalue_cf_ctes`."""
    aa = _cf_aa("_tc_ca", "_tc_cb", "_tc_cx", "j", "cast((j + 1) div 2 as double)")
    d_new = f"(1.0D / {_cf_guard(f'1.0D + {aa} * st.d')})"
    c_new = _cf_guard(f"1.0D + {aa} / st.c")
    d0 = f"(1.0D / {_cf_guard('1.0D - (_tc_ca + _tc_cb) * _tc_cx / (_tc_ca + 1.0D)')})"
    fold = f"""aggregate(
      sequence(1, {_CF_STEPS}),
      named_struct('c', 1.0D, 'd', {d0}, 'h', {d0}),
      (st, j) -> named_struct(
        'c', {c_new},
        'd', {d_new},
        'h', st.h * {d_new} * {c_new}),
      st -> st.h)"""
    f = (
        frame.withColumn("_tc_t", F.abs(F.col(t_col)))
        .withColumn("_tc_dfd", df_col.cast("long").cast("double"))
        .withColumn(
            "_tc_x", F.col("_tc_dfd") / (F.col("_tc_dfd") + F.col("_tc_t") * F.col("_tc_t"))
        )
        .withColumn(
            "_tc_u",
            (F.col("_tc_t") * F.col("_tc_t"))
            / (F.col("_tc_dfd") + F.col("_tc_t") * F.col("_tc_t")),
        )
        .withColumn("_tc_a", F.col("_tc_dfd") / F.lit(2.0))
        .withColumn(
            "_tc_sw", F.col("_tc_x") < (F.col("_tc_a") + 1.0) / (F.col("_tc_a") + 2.5)
        )
        .withColumn("_tc_ca", F.when(F.col("_tc_sw"), F.col("_tc_a")).otherwise(F.lit(0.5)))
        .withColumn("_tc_cb", F.when(F.col("_tc_sw"), F.lit(0.5)).otherwise(F.col("_tc_a")))
        .withColumn(
            "_tc_cx", F.when(F.col("_tc_sw"), F.col("_tc_x")).otherwise(F.col("_tc_u"))
        )
        .withColumn(
            "_tc_lnbt",
            # ln args guarded against the t=0 / x=1 edge (the final CASE
            # returns 1.0 there, but DuckDB evaluates its CTE column eagerly
            # and ln(0) RAISES there rather than returning -inf — guard both
            # engines identically so the unused value is finite).
            F.expr(
                f"{_lanczos_lgamma('_tc_a + 0.5')} - {_lanczos_lgamma('_tc_a')} "
                f"- {_LG_HALF} + _tc_a * ln(CASE WHEN _tc_x <= 0 THEN 1 ELSE _tc_x END) "
                f"+ 0.5 * ln(CASE WHEN _tc_u <= 0 THEN 1 ELSE _tc_u END)"
            ),
        )
        .withColumn("_tc_h", F.expr(fold))
    )
    bt_over_ca = F.exp(F.col("_tc_lnbt")) * F.col("_tc_h") / F.col("_tc_ca")
    # NaN and infinite t come first: NaN orders above 1, so the x >= 1 guard
    # would return 1.0 for it, and |t| = inf leaves u = NaN. 2·t_sf gives
    # NaN and 0.0 there; a NULL t falls through to NULL.
    p = (
        F.when(F.isnan("_tc_t"), F.lit(float("nan")))
        .when(F.col("_tc_t") == float("inf"), F.lit(0.0))
        .when((F.col("_tc_u") <= 0) | (F.col("_tc_x") >= 1), F.lit(1.0))
        .when(F.col("_tc_sw"), bt_over_ca)
        .otherwise(F.lit(1.0) - bt_over_ca)
    )
    return f.withColumn("p_value", p).drop(*_TC_COLS)


def sql_t_pvalue_cf_ctes(src: str, t_col: str, df_sql: str, key: str) -> str:
    """DuckDB twin of :func:`with_two_sided_t_pvalue_cf`: the same Lanczos
    constants, the same Lentz half-step sequence (a bounded {0..N} recursive
    CTE — O(1) in df), the same guards. Defines
    ``<src>_p`` = all columns of ``<src>`` plus ``p_value``. Splice into a
    ``WITH RECURSIVE`` clause."""
    aa = _cf_aa("b.tc_ca", "b.tc_cb", "b.tc_cx", "s.j + 1", "CAST((s.j + 2) // 2 AS DOUBLE)")
    d_new = f"(1.0 / {_cf_guard(f'1.0 + {aa} * s.d')})"
    c_new = _cf_guard(f"1.0 + {aa} / s.c")
    d0 = f"(1.0 / {_cf_guard('1.0 - (tc_ca + tc_cb) * tc_cx / (tc_ca + 1.0)')})"
    return f"""
cfb AS (
  SELECT *, abs({t_col}) AS tc_t,
         CAST(CAST({df_sql} AS BIGINT) AS DOUBLE) AS tc_dfd
  FROM {src}),
cfb2 AS (
  SELECT *, tc_dfd / (tc_dfd + tc_t * tc_t) AS tc_x,
         (tc_t * tc_t) / (tc_dfd + tc_t * tc_t) AS tc_u,
         tc_dfd / 2.0 AS tc_a
  FROM cfb),
cfb3 AS (
  SELECT *, tc_x < (tc_a + 1.0) / (tc_a + 2.5) AS tc_sw FROM cfb2),
cfb4 AS (
  SELECT *,
         CASE WHEN tc_sw THEN tc_a ELSE 0.5 END AS tc_ca,
         CASE WHEN tc_sw THEN 0.5 ELSE tc_a END AS tc_cb,
         CASE WHEN tc_sw THEN tc_x ELSE tc_u END AS tc_cx,
         {_lanczos_lgamma('tc_a + 0.5')} - {_lanczos_lgamma('tc_a')}
           - {_LG_HALF} + tc_a * ln(CASE WHEN tc_x <= 0 THEN 1 ELSE tc_x END)
           + 0.5 * ln(CASE WHEN tc_u <= 0 THEN 1 ELSE tc_u END) AS tc_lnbt
  FROM cfb3),
cfser(tc_k, j, c, d, h) AS (
  -- c's base case MUST be cast: a bare 1.0 is DECIMAL(2,1) in DuckDB and
  -- the recursive CTE pins the column type from the base row — every later
  -- c would silently round to one decimal place.
  SELECT {key}, 0, CAST(1.0 AS DOUBLE), {d0}, {d0} FROM cfb4
  UNION ALL
  SELECT s.tc_k, s.j + 1, {c_new}, {d_new}, s.h * {d_new} * {c_new}
  FROM cfser s JOIN cfb4 b ON s.tc_k = b.{key} WHERE s.j < {_CF_STEPS}),
cfh AS (SELECT tc_k, h FROM cfser WHERE j = {_CF_STEPS}),
{src}_p AS (
  SELECT b.* EXCLUDE (tc_t, tc_dfd, tc_x, tc_u, tc_a, tc_sw, tc_ca, tc_cb,
                      tc_cx, tc_lnbt),
         CASE WHEN isnan(b.tc_t) THEN CAST('NaN' AS DOUBLE)
              WHEN isinf(b.tc_t) THEN 0.0
              WHEN b.tc_u <= 0 OR b.tc_x >= 1 THEN 1.0
              WHEN b.tc_sw THEN exp(b.tc_lnbt) * f.h / b.tc_ca
              ELSE 1.0 - exp(b.tc_lnbt) * f.h / b.tc_ca END AS p_value
  FROM cfb4 b JOIN cfh f ON b.{key} = f.tc_k)
"""
