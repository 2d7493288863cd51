"""Momentum gradient descent for linear regression (SURVEY.md §2.8
`momentum_gd`, Part_2.pdf p2) — the MLlib/`LinearRegression` equivalence demo
that closes the last §2 inventory row.

The reference (Part_2.pdf p2) runs TensorFlow momentum GD:
``m <- gamma*m + eta*grad; beta <- beta - m`` with gamma = 0.9. Re-expressed
Spark-first for 100 TB: the MSE gradient of a (standardized) simple linear
regression is a pure function of the sufficient statistics
(n, Σx, Σy, Σxy, Σx², Σy²), so the *data* pass is ONE distributed partial-agg
shuffle (exact decimal sums, the corr_price_quantity pattern,
plans/statsq.py:169-222) and the iteration loop is O(iters) driver-side
scalar math — zero per-iteration cluster work, identical at any scale. On
standardized covariates the GD fixed point is the Pearson correlation
(beta* = r, intercept* = 0), which is what the DuckDB oracle computes in
closed form — so the differential test checks that the iterative optimizer
actually converged to the analytic optimum (same equivalence MLlib's
LinearRegression l-bfgs/normal solver would reach).

The driver-side collect here is 3 scalar rows (l_returnflag has bounded
cardinality), the same acceptable-scalar-collect class as the
connected-components convergence check (operators/similarity.py:212).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .registry import register
from .shared import SQL_LINEITEM_MOMENTS, lineitem_moments

#: Reference hyperparameters: gamma from Part_2.pdf p2; eta/iters chosen so the
#: momentum recurrence error (~sqrt(gamma)^t) is < 1e-10 at 600 iterations —
#: far below the round-4 output precision.
GAMMA = 0.9
ETA = 0.1
N_ITERS = 600


def momentum_gd_standardized(n: float, sx: float, sy: float, sxy: float,
                             sxx: float, syy: float) -> tuple[float, float]:
    """Momentum GD (m <- gamma*m + eta*grad; beta <- beta - m, Part_2.pdf p2)
    on standardized x/y, driven entirely by sufficient statistics.

    For z-scored covariates the MSE loss is L(b, a) = 1 - 2*b*r + b^2 + a^2
    with r = Pearson correlation, so grad_b = 2*(b - r) and grad_a = 2*a:
    every GD step needs only r — no data pass.
    """
    denom = ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
    r = (n * sxy - sx * sy) / denom
    b, a, mb, ma = 0.0, 0.0, 0.0, 0.0
    for _ in range(N_ITERS):
        mb = GAMMA * mb + ETA * 2.0 * (b - r)
        ma = GAMMA * ma + ETA * 2.0 * a
        b -= mb
        a -= ma
    return b, a


@register(
    "momentum_gd_linreg",
    oracle=(
        SQL_LINEITEM_MOMENTS
        # closed-form optimum the GD must converge to: beta* = r, intercept* = 0
        + "SELECT l_returnflag, CAST(n AS BIGINT) AS n, "
        "floor((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) "
        "* (n * syy - sy * sy)) * 10000 + 0.5) / 10000 AS beta_std, "
        "0.0 AS intercept_std FROM s"
    ),
    doc="Momentum gradient descent (gamma=0.9, Part_2.pdf p2) fitting a "
    "standardized simple linear regression of l_extendedprice on l_quantity "
    "per l_returnflag: one distributed exact-decimal sufficient-statistic "
    "pass, then a driver-scalar momentum loop; the oracle pins the analytic "
    "optimum (beta = Pearson r, intercept = 0), proving convergence.",
    tags=("momentum_gd", "agg_combiner", "corr"),
)
def momentum_gd_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded: |l_returnflag| = 3 scalar rows
    stats = lineitem_moments(spark, sf_dir).collect()
    rows = []
    for s in stats:
        b, a = momentum_gd_standardized(
            float(s["n"]), s["sx"], s["sy"], s["sxy"], s["sxx"], s["syy"]
        )
        # stable half-up on the binary double (matches the oracle's floor
        # formula); Python's round() is half-EVEN and would diverge at
        # exact .xxxx5 binaries
        rows.append(
            (
                s["l_returnflag"],
                s["n"],
                math.floor(b * 10000 + 0.5) / 10000,
                math.floor(a * 10000 + 0.5) / 10000,
            )
        )
    schema = StructType(
        [
            StructField("l_returnflag", StringType()),
            StructField("n", LongType()),
            StructField("beta_std", DoubleType()),
            StructField("intercept_std", DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)
