"""Distributed sparse linear algebra (SURVEY.md §2.8 `matmul`).

The reference's single-MR-pass matrix multiply (Part_2.pdf p1) replicates
every M cell to all (i,k) reducer keys — shuffle volume O(nnz · dim). The
relational formulation joins on the shared inner dimension and aggregates,
shuffling each cell once: strictly less data movement, and Catalyst/AQE pick
broadcast vs sort-merge and handle skew. This is the canonical example of
"declare the semantics, let the optimizer schedule" (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _sum_cells_checked(v: Column) -> Column:
    """Exact decimal(18,4) sum of canonicalized COO cells with a LOUD
    overflow guard.

    Spark widens SUM(DECIMAL(18,4)) to (28,4); the downcast back to (18,4)
    (required to keep the later product within precision 38 — see matmul_coo)
    would silently return NULL past ~1e14 under non-ANSI semantics, while the
    DuckDB oracle's cast RAISES. raise_error makes Spark equally loud, so a
    scale-up that overflows fails the job instead of feeding NULL cells into
    the product. decimal(18,4) tops out at 99999999999999.9999, so the
    integer bound 1e14 is the exact representability test."""
    s = F.sum(v.cast("decimal(18,4)"))
    return F.when(F.abs(s) < F.lit(10**14), s.cast("decimal(18,4)")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("matmul_coo: summed cell magnitude overflows decimal(18,4): "),
                s.cast("string"),
            )
        )
    )


def matmul_coo(cells: DataFrame) -> DataFrame:
    """Multiply the sparse matrices M and N stored as (name, i, j, v) COO cells.

    Returns (i, j, val) of the product M·N with exact decimal accumulation
    (cell values cast to decimal so the sum is merge-order independent).

    Duplicate (i, j) cells are canonicalized by summation *before* the join
    (the standard COO reduction). Because multiplication distributes over
    addition, Σ_pairs m·n = (Σdup m)·(Σdup n) per inner key — identical
    output, but the join input shrinks from raw-cell cardinality to matrix
    nnz. At scale this is the difference between joining two pre-aggregated
    nnz-sized relations and a quadratic blowup per inner-dimension key when
    sources carry repeated cells (e.g. 600k raw rows folded into an 8x8
    index space -> ~10^10 join rows without canonicalization).
    """
    # The summed cells are cast back DOWN to DECIMAL(18,4): Spark widens
    # SUM(DECIMAL(18,4)) to (28,4), and a (28,4)x(28,4) product exceeds
    # precision 38, so Spark's allowPrecisionLoss kicks in and ROUNDS each
    # product at scale 6 — which diverged from the exact product by 2e-5 at
    # sf0.1 magnitudes. (18,4)x(18,4) -> (37,8) stays exact end to end (the
    # DuckDB oracle mirrors the same downcast for the same reason).
    m = (
        cells.filter(F.col("name") == "M")
        .groupBy("i", "j")
        .agg(_sum_cells_checked(F.col("v")).alias("mv"))
        .select(F.col("i").alias("mi"), F.col("j").alias("mj"), "mv")
    )
    n = (
        cells.filter(F.col("name") == "N")
        .groupBy("i", "j")
        .agg(_sum_cells_checked(F.col("v")).alias("nv"))
        .select(F.col("i").alias("ni"), F.col("j").alias("nj"), "nv")
    )
    return (
        m.join(n, m.mj == n.ni)
        .groupBy(F.col("mi").alias("i"), F.col("nj").alias("j"))
        .agg(F.sum(F.col("mv") * F.col("nv")).cast("double").alias("val"))
    )
