"""Text / word-count / set-op queries (SURVEY.md §2.2, §2.4, §2.10).

Bound to the driver `documents` table plus the reference's own inline demo
fixtures (MRSystemSimulator2020.py:310-330) as in-memory sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import (
    A3_TOKEN_PATTERN_SQL,
    sql_round_stable,
    sql_tokens_char,
    sql_tokens_ws,
    tokenize_char,
    tokenize_regex,
    tokenize_ws,
)
from ..operators.aggregates import count_by_key, mean_std_chars
from ..operators.relational import join_anti, topk
from ..sources.readers import scan_mem
from ..sources.tables import load_table, spread
from .registry import register

#: The MR simulator's demo corpus (MRSystemSimulator2020.py:310-316) — used as
#: a golden in-memory fixture, same role it plays in the reference.
WORDCOUNT_CORPUS = [
    (1, "The horse raced past the barn fell"),
    (2, "The complex houses married and single soldiers and their families"),
    (3, "There is nothing either good or bad, but thinking makes it so"),
    (4, "I burn, I pine, I perish"),
    (5, "Come what come may, time and the hour runs through the roughest day"),
    (6, "Be a yardstick of quality."),
    (7, "A horse is the projection of peoples' dreams about themselves - strong, powerful, beautiful"),
]

#: A1 spec worked example (Assignment 1 Description.htm:38): golden mean/σ_pop
#: values pinned in tests: a -> (1.3333, 1.2472), b -> (0.6667, 0.4714).
MEANCHARS_FIXTURE = [(1, "a bacd a"), (2, "cda"), (3, "bcd")]


def _corpus_values_sql(rows) -> str:
    vals = ", ".join("(" + str(i) + ", '" + t.replace("'", "''") + "')" for i, t in rows)
    return f"(VALUES {vals}) AS corpus(doc_id, text)"


@register(
    "wordcount_topk",
    oracle=(
        "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
        f"'{A3_TOKEN_PATTERN_SQL}', 1)) AS word FROM documents) "
        "SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word "
        "ORDER BY cnt DESC, word ASC LIMIT 20"
    ),
    doc="Flagship: A3-regex tokenize -> count -> top-20 (a3_p1.py:31 upgraded "
    "word count; scan -> explode -> shuffle agg -> TakeOrderedAndProject).",
    tags=("tokenize_regex", "agg_count_by_key", "topk"),
)
def wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = tokenize_regex(docs.select("doc_id", "text"))
    counts = count_by_key(words, ["word"])
    return topk(counts, [F.desc("cnt"), F.asc("word")], 20)


@register(
    "wordcount_full",
    oracle=(
        f"WITH toks AS ({sql_tokens_ws()}) "
        "SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word"
    ),
    doc="Whitespace word count over the full corpus "
    "(WordCountBasicMR, MRSystemSimulator2020.py:183-194).",
    tags=("tokenize_ws", "agg_count_by_key"),
)
def wordcount_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return count_by_key(tokenize_ws(docs.select("doc_id", "text")), ["word"])


@register(
    "wordcount_mem_fixture",
    oracle=(
        "WITH toks AS (SELECT word FROM (SELECT unnest(string_split(lower(text), ' ')) AS word "
        f"FROM {_corpus_values_sql(WORDCOUNT_CORPUS)}) WHERE word <> '') "
        "SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word"
    ),
    doc="In-memory source (scan_mem <- sc.parallelize) running the simulator's "
    "own 7-doc word count demo (MRSystemSimulator2020.py:310-322).",
    tags=("scan_mem", "agg_count_by_key"),
)
def wordcount_mem_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_mem(spark, WORDCOUNT_CORPUS, "doc_id long, text string")
    return count_by_key(tokenize_ws(docs), ["word"])


@register(
    "set_difference",
    oracle=(
        f"WITH toks AS ({sql_tokens_ws()} ), "
        "r AS (SELECT DISTINCT word FROM toks JOIN documents USING (doc_id) WHERE lang = 'en'), "
        "s AS (SELECT DISTINCT word FROM toks JOIN documents USING (doc_id) WHERE lang = 'de') "
        "SELECT word FROM r EXCEPT SELECT word FROM s"
    ),
    doc="Set difference R-S as anti join (SetDifferenceMR, "
    "MRSystemSimulator2020.py:199-212): vocabulary of 'en' docs minus 'de' docs.",
    tags=("join_anti", "agg_distinct"),
)
def set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = tokenize_ws(docs.select("doc_id", "lang", "text"))
    r = words.filter(F.col("lang") == "en").select("word").distinct()
    s = words.filter(F.col("lang") == "de").select("word").distinct()
    return join_anti(r, s, "word")


@register(
    "mean_std_chars",
    oracle=(
        f"WITH chars AS ({sql_tokens_char()}), "
        "per_doc AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch), "
        "n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents) "
        f"SELECT ch, {sql_round_stable('s1 / n_docs')} AS mean, "
        f"{sql_round_stable('sqrt(s2 / n_docs - (s1 / n_docs) * (s1 / n_docs))')} AS std "
        "FROM (SELECT ch, SUM(c)::DOUBLE AS s1, SUM(c * c)::DOUBLE AS s2 "
        "FROM per_doc GROUP BY ch), n"
    ),
    doc="Per-character mean + population σ across all documents "
    "(MeanCharsMR, MRSystemSimulator2020.py:216-245) via sufficient statistics "
    "instead of the reference's dense per-doc histograms.",
    tags=("tokenize_char", "agg_mean_std", "agg_combiner"),
)
def mean_std_chars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    return mean_std_chars(tokenize_char(docs), n_docs)
