"""Aggregation operators (SURVEY.md §2.4).

All are built-in Spark aggregates: partial (map-side) + final HashAggregate is
automatic, which is exactly the "combiner" the reference implements by hand
(MRSystemSimulator2020.py:66-96). Population σ everywhere — the reference code
divides by n (MRSystemSimulator2020.py:244, sampler_v02.py:56,87), not n-1.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import round_stable

# dsum's tie band and limb width (see its docstring).
_TIE_BAND = 2.0**-40
_LIMB_BITS = 25
_LIMB_MASK = (1 << _LIMB_BITS) - 1


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact sum of a double column at ``scale`` decimal places, as double.

    Float sums depend on partition merge order, so they differ across
    engines and across runs. This sums each addend rounded HALF_UP to
    ``scale`` places exactly, which makes the result bit-stable everywhere.
    It returns the same double as ``F.sum(x.cast("decimal(18,s)"))
    .cast("double")`` on every input, but the per-row accumulators are
    longs, not a ``decimal(28,s)`` BigDecimal per addend. Spark's own
    ``DecimalAggregates`` rule sums narrow decimals as unscaled longs the
    same way, but only up to precision 8, where one long sum cannot
    overflow.

    Per row, ``u`` is the unscaled addend (the decimal's digits, a long):

    - Fast path. ``p = x * 10^s`` in double and ``r = floor(p + 0.5)``.
      Spark's cast rounds x's decimal string HALF_UP, and that string times
      10^s lies within about ``|p| * 2^-52`` of ``p``: the string and the
      product are each within half an ulp. When ``p`` is farther than
      ``|p| * 2^-40`` from the nearest tie, i.e. ``|p - r| + |p| * 2^-40 <
      0.5``, every round-to-nearest rule picks the same integer and
      ``u = r``. The test fails for ``|p| >= 2^39`` (so ``p + 0.5`` is
      exact wherever it passes), for NaN and +-Inf, and where ``floor``'s
      long saturates. Plain ``floor(p + 0.5)`` everywhere would be wrong:
      0.145 and -0.125 at scale 2 sit on the tie.
    - Fallback, every other row: ``u = CAST(CAST(x AS DECIMAL(18,s)) * 10^s
      AS BIGINT)``, the decimal cast itself, so ties, null, NaN -> null and
      the out-of-range error under ANSI come out exactly as from the
      decimal sum.

    ``u`` (``|u| < 10^18``) is summed as three bigint limbs: ``u >> 50``
    (at most 2^10 in size), ``(u >> 25) & (2^25-1)`` and ``u & (2^25-1)``.
    No limb sum can overflow in a group of fewer than 2^38 rows, whatever
    the values; a single bigint ``sum(u)`` would pass 2^63 after about ten
    addends near 10^18, and with ANSI off it wraps silently. So below
    2^38 rows the only totals that differ from the decimal sum are those of
    10^28 unscaled or more (at least 10^10 rows at the cast's limit), where
    the decimal sum gives null or an overflow error and this gives the
    exact value.

    The exact total is rebuilt as ``decimal(38,0)`` (scale 0, so Spark's
    precision rules cut nothing) and parsed from the string
    ``'<total>E-s'``. String to double is correctly rounded, the same
    value as the decimal sum's ``BigDecimal.doubleValue`` and as
    :func:`sql_dsum`'s VARCHAR bridge. Multiplying by a ``1E-s`` decimal
    literal instead would cut the result's scale to 6.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = c * float(10**scale)
    r = F.floor(p + 0.5)
    u = F.when(F.abs(p - r) + F.abs(p) * _TIE_BAND < 0.5, r).otherwise(
        (c.cast(f"decimal(18,{scale})") * 10**scale).cast("bigint")
    )
    hi = F.sum(F.shiftright(u, 2 * _LIMB_BITS)).cast("decimal(38,0)")
    mid = F.sum(F.shiftright(u, _LIMB_BITS).bitwiseAND(_LIMB_MASK))
    lo = F.sum(u.bitwiseAND(_LIMB_MASK))
    total = (hi * (1 << _LIMB_BITS) + mid) * (1 << _LIMB_BITS) + lo
    return F.concat(total.cast("string"), F.lit(f"E-{scale}")).cast("double")


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`dsum`.

    The VARCHAR bridge (decimal -> text -> double) is load-bearing: DuckDB's
    direct ``CAST(SUM(decimal) AS DOUBLE)`` is 1 ulp off the correctly-rounded
    value once the scaled integer exceeds 2^53 (measured at the 10x rehearsal
    SF: tpch_q1 sum_charge 27864155010.94159 vs ...93), and DuckDB may also
    rewrite the direct cast into an order-dependent sum-in-double (see
    plans/linalgq.py matmul oracle note). Printing the exact decimal and
    re-parsing uses strtod, which is correctly rounded — matching Spark's
    BigDecimal.doubleValue path bit-for-bit at every magnitude.
    """
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS VARCHAR) AS DOUBLE)"


def count_by_key(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Word-count shape: ``cnt`` = sum of 1s per key
    (MRSystemSimulator2020.py:183-194)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def mean_std_chars(df_chars: DataFrame, doc_count: int) -> DataFrame:
    """Per-character mean + population σ across documents, densified over the
    alphabet (MRSystemSimulator2020.py:216-245; worked example in Assignment 1
    Description.htm:38).

    The reference materializes per-doc char histograms with explicit zeros for
    all 26 letters, then merges (Σx, Σx², n) triples associatively. Densify-
    then-aggregate is O(docs×26) rows; instead we aggregate sufficient
    statistics over only the *present* (doc, char) pairs and fold the zero
    docs in arithmetically: mean = Σx/N, σ = sqrt(Σx²/N - mean²) with N = total
    docs. Integer Σx/Σx² make both engines bit-exact before the final float ops.
    """
    per_doc = df_chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.lit(doc_count).cast("double")
    return (
        per_doc.groupBy("ch")
        .agg(F.sum("c").alias("s1"), F.sum(F.col("c") * F.col("c")).alias("s2"))
        .select(
            F.col("ch"),
            # round_stable, not F.round: s1/s2 are exact integers so the
            # quotients are bit-identical across engines — the stable form
            # keeps the .xxxx5 half-case rounding identical too.
            round_stable(F.col("s1") / n).alias("mean"),
            round_stable(
                F.sqrt(F.col("s2") / n - (F.col("s1") / n) * (F.col("s1") / n))
            ).alias("std"),
        )
    )
