"""Privacy / model-inference curation queries (beyond-reference §2.13):
PII redaction and broadcast-weight quality-classifier scoring — the two
curation stages a training-data pipeline runs between dedup and packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import round_stable, sql_round_stable
from ..operators.privacy import (
    pii_counts_and_redact,
    splice_pii,
    sql_pii_counts_and_redact,
    sql_splice_pii,
)
from ..sources.tables import load_table, spread
from .registry import register


@register(
    "pii_redaction",
    oracle=sql_pii_counts_and_redact(sql_splice_pii()),
    doc="PII detection + redaction over the documents corpus: emails, "
    "3-3-4 phone numbers, IPv4s, 3-2-4 national-id tokens — counted per "
    "class then redacted, with the redacted text pinned by an md5 prefix. "
    "The corpus is synthetic, so PII-shaped tokens are first spliced in "
    "deterministically from doc_id (fixture stage, mirrored in the oracle; "
    "operators/privacy.py). Entirely codegen'd regexp_count/regexp_replace "
    "— a map-only stage with no shuffle and no Python, the shape that "
    "scales to 100 TB as a pure pass over the corpus. Every regex is "
    "dialect-checked to mean the same thing in Java regex and RE2.",
    tags=("filter_pred", "udf_surface"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return pii_counts_and_redact(splice_pii(docs))


#: Classifier weights — stand-ins for a trained quality model's parameters;
#: broadcast to executors exactly like real model weights would be.
#: Values live in plans/shared.py: round11q's quality_threshold_sweep
#: shares them without importing this module.
from .shared import _W_AVGLEN, _W_BIAS, _W_NTOK, _W_STOP  # noqa: E402


@register(
    "quality_classifier_score",
    oracle=(
        "WITH feats AS (SELECT doc_id, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, "
        "CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_wlen, "
        "CAST(len(regexp_extract_all(text, '\\bthe\\b')) AS BIGINT) AS n_stop "
        "FROM documents), "
        f"w AS (SELECT {_W_BIAS}::DOUBLE AS w_bias, {_W_NTOK}::DOUBLE AS w_ntok, "
        f"{_W_AVGLEN}::DOUBLE AS w_avglen, {_W_STOP}::DOUBLE AS w_stop) "
        "SELECT doc_id, n_tok, "
        + sql_round_stable(
            "((w_bias + w_ntok * n_tok) + w_avglen * avg_wlen) + w_stop * n_stop"
        )
        + " AS score, "
        "((w_bias + w_ntok * n_tok) + w_avglen * avg_wlen) + w_stop * n_stop > 0 "
        "AS keep FROM feats CROSS JOIN w"
    ),
    doc="Quality-classifier inference over the corpus: per-doc features "
    "(token count, average token length, stopword hits) dotted with a "
    "broadcast 1-row weights frame (BNLJ allowlisted) — the linear-model "
    "scoring stage of a curation pipeline, with the keep/drop decision as "
    "a deterministic sign test. The logit is kept linear (no exp): libm "
    "transcendentals differ across engines at 1-ulp, the sign and the "
    "binary-stably rounded score do not. Parenthesization of the dot "
    "product is pinned identically in both engines so the IEEE operation "
    "order matches bit for bit.",
    tags=("join_broadcast", "udf_surface"),
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feats = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        (
            F.length("text").cast("double")
            / F.size(F.split(F.col("text"), " "))
        ).alias("avg_wlen"),
        F.regexp_count(F.col("text"), F.lit(r"\bthe\b")).cast("long").alias("n_stop"),
    )
    w = docs.sparkSession.range(1).select(
        F.lit(_W_BIAS).alias("w_bias"),
        F.lit(_W_NTOK).alias("w_ntok"),
        F.lit(_W_AVGLEN).alias("w_avglen"),
        F.lit(_W_STOP).alias("w_stop"),
    )
    z = (
        (F.col("w_bias") + F.col("w_ntok") * F.col("n_tok"))
        + F.col("w_avglen") * F.col("avg_wlen")
    ) + F.col("w_stop") * F.col("n_stop")
    return (
        feats.crossJoin(F.broadcast(w))
        .select(
            "doc_id",
            "n_tok",
            round_stable(z).alias("score"),
            (z > 0).alias("keep"),
        )
    )
