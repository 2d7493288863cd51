"""Embedding similarity-search queries over the `embeddings` table
(vec_id, embedding float[64], label)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.vector import (
    N_PLANES,
    cosine_topk_blocked,
    cosine_topk_multiprobe,
    diversity_by_group,
    hyperplane_signs,
)
from ..functions.text import round_stable, sql_round_stable
from .registry import register
from .shared import SQL_VECS as _SQL_VECS, embedding_vectors as _vectors

TOPK_QUERIES = 5     # vec_id < 5 are the query vectors
TOPK_K = 10
BLOCKED_K = 5
NEAR_SUBSET_MOD = 4  # vec_id % 4 == 0 subset for the all-pairs near-dup query
from .shared import NEAR_MIN_COS  # noqa: E402  (value in shared.py since round 8)

_SQL_COS = (
    "list_dot_product(q.v, e.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))"
)


@register(
    "ann_cosine_topk_blocked",
    oracle=(
        f"WITH {_SQL_VECS}, q AS (SELECT * FROM e WHERE vec_id < {TOPK_QUERIES}), "
        f"pairs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS cos "
        "FROM q JOIN e ON q.label = e.label WHERE q.vec_id <> e.vec_id) "
        f"SELECT query_id, neighbor_id, rank, {sql_round_stable('cos', 6)} AS cos FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rank FROM pairs) "
        f"WHERE rank <= {BLOCKED_K}"
    ),
    doc="IVF-style blocked search: candidates restricted to the query's "
    "coarse cell (label = cell id) — the probe-1 scale path; the cross join "
    "becomes an equi-join on the cell.",
    tags=("ann", "similarity_search"),
)
def ann_cosine_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir)
    out = cosine_topk_blocked(
        vecs, vecs.filter(F.col("vec_id") < TOPK_QUERIES), BLOCKED_K
    )
    return out.select("query_id", "neighbor_id", "rank", round_stable("cos", 6).alias("cos"))


def _sql_bucket_expr() -> str:
    terms = []
    for i, plane in enumerate(hyperplane_signs()):
        lits = ", ".join(f"{x:.1f}" for x in plane)
        terms.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]::DOUBLE[]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


# NOTE: dedup_embedding_bucketed moved to plans/round6q.py in round 6 —
# retuned from frozen 4x4-bit bands to the occupancy-rule adaptive width
# (operators/vector.bucketed_near_pairs_auto; the round-5 verdict's one
# 100x non-runner).


def _sql_probe_list() -> str:
    """q.bucket plus its 16 one-bit flips, as a DuckDB list literal."""
    flips = ", ".join(f"xor(bucket, {1 << i})" for i in range(N_PLANES))
    return f"[bucket, {flips}]"


@register(
    "ann_multiprobe_topk",
    oracle=(
        f"WITH {_SQL_VECS}, "
        f"eb AS (SELECT vec_id, v, {_sql_bucket_expr()} AS bucket FROM e), "
        f"qp AS (SELECT vec_id, v, unnest({_sql_probe_list()}) AS pb "
        f"FROM eb WHERE vec_id < {TOPK_QUERIES}), "
        "pairs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, "
        "list_dot_product(q.v, e.v) / (sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(e.v, e.v))) AS cos "
        "FROM qp q JOIN eb e ON q.pb = e.bucket WHERE q.vec_id <> e.vec_id) "
        f"SELECT query_id, neighbor_id, rank, {sql_round_stable('cos', 6)} AS cos FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rank FROM pairs) "
        f"WHERE rank <= {BLOCKED_K}"
    ),
    doc="Multi-probe SRP LSH top-k (Lv et al. 2007): each query probes its "
    "own 16-bit hyperplane bucket plus the 16 one-bit-flip neighbors — "
    "recall recovers from single-hyperplane misses at constant (17x) probe "
    "fan-out, with candidates still bounded by bucket occupancy. Probe "
    "buckets are pairwise distinct, so no candidate dedup shuffle exists.",
    tags=("ann", "similarity_search", "lsh_band"),
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir)
    out = cosine_topk_multiprobe(
        vecs, vecs.filter(F.col("vec_id") < TOPK_QUERIES), BLOCKED_K
    )
    return out.select("query_id", "neighbor_id", "rank", round_stable("cos", 6).alias("cos"))


@register(
    "embedding_diversity_by_label",
    oracle=(
        f"WITH {_SQL_VECS}, "
        "sq AS (SELECT label, list_dot_product(v, v) AS sq FROM e), "
        "s1 AS (SELECT label, COUNT(*) AS n, "
        "CAST(CAST(SUM(CAST(sq AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS s1 FROM sq GROUP BY label), "
        "comp AS (SELECT label, unnest(v) AS x, "
        "unnest(range(1, len(v) + 1)) AS pos FROM e), "
        "svp AS (SELECT label, pos, CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS s "
        "FROM comp GROUP BY label, pos), "
        "sv AS (SELECT label, CAST(CAST(SUM(CAST(s * s AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sv2 "
        "FROM svp GROUP BY label) "
        f"SELECT label, n, {sql_round_stable('s1 / n')} AS avg_sq_norm, "
        f"{sql_round_stable('(2 * n * s1 - 2 * sv2) / (n * (n - 1))')} AS mean_pair_sqdist "
        "FROM s1 JOIN sv USING (label) WHERE n >= 2"
    ),
    doc="Per-cell embedding diversity WITHOUT pairs: mean squared pairwise "
    "L2 distance from the closed form (2n*sum||x||^2 - 2*||sum x||^2) / "
    "(n(n-1)) — two linear decimal-exact aggregates (scalar norms; "
    "per-dimension component sums, keys bounded by labels x 64 dims) "
    "replace the O(n^2) self-join. The collapse/diversity gauge a corpus "
    "pipeline tracks per source or cluster.",
    tags=("embedding", "ann", "agg_mean_std"),
)
def embedding_diversity_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    div = diversity_by_group(_vectors(spark, sf_dir), key="label")
    return div.select(
        "label",
        "n",
        round_stable("avg_sq_norm").alias("avg_sq_norm"),
        round_stable("mean_pair_sqdist").alias("mean_pair_sqdist"),
    )
