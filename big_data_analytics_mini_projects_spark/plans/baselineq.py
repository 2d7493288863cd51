"""Round-1 vector baselines. Helpers/constants come from plans/vectorq,
which catalog order registers long before this module, so the import has no
ordering side effect."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import round_stable, sql_round_stable
from ..operators.vector import cosine_topk, embedding_near_pairs, hyperplane_buckets
from .registry import register
from .vectorq import (
    NEAR_MIN_COS,
    NEAR_SUBSET_MOD,
    TOPK_K,
    TOPK_QUERIES,
    _SQL_COS,
    _SQL_VECS,
    _sql_bucket_expr,
    _vectors,
)


@register(
    "ann_cosine_topk",
    oracle=(
        f"WITH {_SQL_VECS}, q AS (SELECT * FROM e WHERE vec_id < {TOPK_QUERIES}), "
        f"pairs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS cos "
        "FROM q, e WHERE q.vec_id <> e.vec_id) "
        f"SELECT query_id, neighbor_id, rank, {sql_round_stable('cos', 6)} AS cos FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rank FROM pairs) "
        f"WHERE rank <= {TOPK_K}"
    ),
    doc="Brute-force cosine top-k over the embedding column — the exact "
    "baseline every ANN variant is measured against; JVM-side array folds, "
    "no Python in the loop.",
    tags=("ann", "similarity_search"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir)
    out = cosine_topk(vecs, vecs.filter(F.col("vec_id") < TOPK_QUERIES), TOPK_K)
    return out.select("query_id", "neighbor_id", "rank", round_stable("cos", 6).alias("cos"))


@register(
    "dedup_embedding_cosine",
    oracle=(
        f"WITH {_SQL_VECS}, s AS (SELECT * FROM e WHERE vec_id % {NEAR_SUBSET_MOD} = 0) "
        "SELECT q.vec_id AS ka, e.vec_id AS kb, "
        + sql_round_stable(
            "list_dot_product(q.v, e.v) / (sqrt(list_dot_product(q.v, q.v)) * "
            "sqrt(list_dot_product(e.v, e.v)))", 6)
        + " AS cos "
        "FROM s q JOIN s e ON q.vec_id < e.vec_id "
        "WHERE list_dot_product(q.v, e.v) / (sqrt(list_dot_product(q.v, q.v)) * "
        f"sqrt(list_dot_product(e.v, e.v))) >= {NEAR_MIN_COS}"
    ),
    doc="Embedding-cosine near-duplicate pairs over a deterministic subset "
    "(all-pairs verify step of a cosine dedup; blocking comes from the "
    "hyperplane sketch at scale).",
    tags=("dedup", "ann"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir).filter(F.col("vec_id") % NEAR_SUBSET_MOD == 0)
    out = embedding_near_pairs(vecs, NEAR_MIN_COS)
    return out.select("ka", "kb", round_stable("cos", 6).alias("cos"))


@register(
    "ann_hyperplane_buckets",
    oracle=(
        f"WITH {_SQL_VECS} "
        f"SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec FROM "
        f"(SELECT vec_id, {_sql_bucket_expr()} AS bucket FROM e) "
        "GROUP BY bucket"
    ),
    doc="16-bit signed-random-projection (hyperplane LSH) bucket histogram: "
    "the cosine-similarity blocking key; ±1 hyperplanes derived from the "
    "cross-engine hash at plan build, folded as constant arrays.",
    tags=("ann", "lsh_band"),
)
def ann_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = hyperplane_buckets(_vectors(spark, sf_dir))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec")
    )


@register(
    "embedding_label_stats",
    oracle=(
        "SELECT label, COUNT(*) AS n, "
        + sql_round_stable(
            "AVG(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))")
        + " AS avg_norm FROM embeddings GROUP BY label"
    ),
    doc="Per-cell vector statistics (count, mean L2 norm) — the bookkeeping "
    "aggregate an IVF index maintains per cell.",
    tags=("ann", "agg_mean_std"),
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir)
    return vecs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), round_stable(F.avg("norm")).alias("avg_norm")
    )
