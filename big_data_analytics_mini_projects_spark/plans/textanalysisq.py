"""Text-analysis queries (language ID, quality, token counts, fingerprints)
over `documents` — the training-data-pipeline surface beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.textops import (
    SQL_WINNOW_MINS,
    doc_fingerprints,
    doc_trigram_counts,
    lang_id,
    lang_trigram_profiles,
    token_counts,
)
from ..functions.text import round_stable, sql_round_stable, sql_tokens, sql_tokens_ws
from ..sources.tables import load_table, spread
from .registry import register
from ..caching import persist_tracked

_SQL_TRIGRAMS = """
tg AS (SELECT doc_id, unnest(CASE WHEN length(lower(text)) >= 3 THEN
  list_transform(range(1, length(lower(text)) - 1), i -> substr(lower(text), i, 3))
  ELSE []::VARCHAR[] END) AS tg FROM documents)
"""


@register(
    "lang_id_ngram",
    oracle=(
        f"WITH {_SQL_TRIGRAMS}, "
        "tgl AS (SELECT tg.doc_id, tg.tg, d.lang FROM tg JOIN documents d USING (doc_id)), "
        "prof AS (SELECT lang, tg FROM (SELECT lang, tg, COUNT(*) AS c, "
        "row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tg ASC) AS rn "
        "FROM tgl GROUP BY lang, tg) WHERE rn <= 20), "
        "doc_tg AS (SELECT doc_id, tg, COUNT(*) AS c FROM tg GROUP BY doc_id, tg), "
        # CAST: DuckDB SUM(BIGINT) -> HUGEINT -> float64 in pandas; Spark emits
        # int64, so the driver's dtype-sensitive value-hash needs matching ints.
        "scores AS (SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS score FROM doc_tg "
        "JOIN prof USING (tg) GROUP BY doc_id, lang) "
        "SELECT doc_id, pred_lang, score FROM (SELECT doc_id, lang AS pred_lang, score, "
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn "
        "FROM scores) WHERE rn = 1"
    ),
    doc="Character-trigram language ID (Cavnar-Trenkle style): top-20 trigram "
    "profile per language trained on the corpus, docs classified by profile "
    "hit count with deterministic argmax.",
    tags=("lang_id", "text_analysis"),
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    # one trigram explode + aggregate, persisted; profile training and
    # classification both consume the compact per-doc counts
    doc_tg = persist_tracked(doc_trigram_counts(docs))
    profiles = lang_trigram_profiles(
        doc_tg.join(docs.select("doc_id", "lang"), "doc_id")
    )
    return lang_id(doc_tg, profiles)


@register(
    "token_counts_by_source",
    oracle=(
        "WITH t AS (SELECT source, "
        f"len({sql_tokens('text')}) AS ws, "
        "len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])', 1)) AS bpe "
        "FROM documents) "
        "SELECT source, COUNT(*) AS n_docs, "
        "CAST(SUM(ws) AS BIGINT) AS ws_tokens, CAST(SUM(bpe) AS BIGINT) AS bpe_tokens, "
        + sql_round_stable("CAST(SUM(bpe) AS DOUBLE) / COUNT(*)")
        + " AS bpe_per_doc "
        "FROM t GROUP BY source"
    ),
    doc="Corpus token accounting per source: whitespace + BPE-ish regex "
    "pre-tokenizer counts as pure array sizes (no explode, no extra shuffle).",
    tags=("token_count", "text_analysis"),
)
def token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tc = token_counts(docs).join(docs.select("doc_id", "source"), "doc_id")
    return tc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("ws_tokens"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
        round_stable(F.sum("bpe_tokens").cast("double") / F.count(F.lit(1))).alias(
            "bpe_per_doc"
        ),
    )


@register(
    "doc_fingerprints",
    oracle=(
        f"WITH {SQL_WINNOW_MINS} SELECT DISTINCT doc_id, fp FROM wmin"
    ),
    doc="Winnowing fingerprints (8-gram hashes, window 4): shared substrings "
    "of length >= 11 guarantee shared fingerprints — rolling-hash document "
    "signatures for copy detection at corpus scale.",
    tags=("fingerprint", "text_analysis"),
)
def doc_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(spread(load_table(spark, sf_dir, "documents")))


@register(
    "tfidf_top_terms",
    oracle=(
        f"WITH toks AS ({sql_tokens_ws()}), "
        "tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY doc_id, word), "
        "dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS dfreq FROM toks GROUP BY word), "
        "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
        "s AS (SELECT doc_id, word, tf, dfreq, "
        "tf * ln((n_docs + 1.0) / (dfreq + 1.0)) AS score "
        "FROM tf JOIN dfreq USING (word) CROSS JOIN n) "
        "SELECT doc_id, word, tf, dfreq, "
        + sql_round_stable("score")
        + " AS tfidf "
        "FROM (SELECT *, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY score DESC, word) AS rn FROM s) WHERE rn <= 5"
    ),
    doc="TF-IDF scoring with smoothed IDF ln((N+1)/(df+1)) and top-5 terms "
    "per doc: term frequencies and document frequencies are two shuffles of "
    "token rows, the document-frequency table joins back unhinted "
    "(vocabulary-scale — AQE broadcasts it while small), and the corpus "
    "size joins as a broadcast scalar — no driver round trip, no UDF "
    "(beyond-reference training-data op).",
    tags=("tfidf", "text_analysis", "tokenize_ws", "topk", "join_broadcast"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import tokenize_ws

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_ws(spread(docs.select("doc_id", "text"))).select("doc_id", "word")
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("word").agg(F.countDistinct("doc_id").alias("dfreq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        # dfreq is vocabulary-scale — unhinted, AQE decides (bm25 pattern)
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("dfreq") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "word", "tf", "dfreq", round_stable("score").alias("tfidf"))
    )
