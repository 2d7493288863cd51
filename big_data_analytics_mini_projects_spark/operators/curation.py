"""Corpus-curation metrics for training-data pipelines (beyond-reference,
SURVEY.md §2.13): cross-document duplicate n-gram coverage, within-document
repetition ratios (the Gopher/MassiveText repetition filters, Rae et al.
2021 §A1), and train/test n-gram contamination screening (the eval-leakage
check every pretraining corpus runs).

Scale design: every metric is explode -> groupBy over built-in expressions —
linear in token count, no UDFs, no windows over corpus-scale partitions
(the only window-free shapes here are per-key aggregations whose partition
is one document's tokens, bounded by document length, never by corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import ngram_text, ngrams


def ngram_stream(docs: DataFrame, n: int) -> DataFrame:
    """Word n-grams of ``toks`` per doc_id WITH multiplicity (one row per position) —
    the positional twin of similarity.ngram_shingles (which dedupes).
    Per-row slice zip (``functions/text.ngrams``): zero shuffle, no lambda,
    one codegen stage."""
    return docs.select("doc_id", F.explode(ngrams("toks", n)).alias("g")).select(
        "doc_id", ngram_text("g", n).alias("gram")
    )


def dup_ngram_coverage(grams: DataFrame) -> DataFrame:
    """Fraction of each document's n-gram positions whose n-gram also occurs
    in ANOTHER document (the RefinedWeb "duplicated n-gram" signal for
    boilerplate / template text).

    Two linear shuffles: gram -> distinct-doc df, then doc -> coverage.
    Returns (doc_id, n_grams, n_dup, dup_frac)."""
    df = grams.groupBy("gram").agg(F.count_distinct(F.col("doc_id")).alias("ndocs"))
    return (
        grams.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .withColumn("dup_frac", F.col("n_dup") / F.col("n_grams"))
    )


def repetition_ratios(docs: DataFrame) -> DataFrame:
    """Within-document repetition: fraction of tokens taken by the most
    frequent token, and by the most frequent word bigram (x2 tokens) — the
    Gopher repetition-filter family, token-denominated.

    groupBy((doc, gram)) partial-aggregates map-side; the per-doc max is a
    second linear aggregation. Partition keys scale with corpus size, never
    a per-doc quadratic. Returns (doc_id, n_tokens, top_token_frac,
    top_bigram_frac) for docs with >= 2 tokens."""
    toks = docs.select("doc_id", F.explode("toks").alias("tok"))
    top_tok = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok"))
    )
    bigrams = ngram_stream(docs, 2)
    top_bg = (
        bigrams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"))
    )
    sizes = docs.select("doc_id", F.size("toks").alias("n_tokens")).filter(
        F.col("n_tokens") >= 2
    )
    return (
        sizes.join(top_tok, "doc_id")
        .join(top_bg, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("max_tok") / F.col("n_tokens")).alias("top_token_frac"),
            (F.lit(2) * F.col("max_bg") / F.col("n_tokens")).alias(
                "top_bigram_frac"
            ),
        )
    )


def ngram_contamination(shingles: DataFrame, test_mod: int = 20) -> DataFrame:
    """Train/test n-gram collision screen: for every training document, how
    many distinct held-out documents share an n-gram with it and how many
    distinct n-grams leak. ``shingles`` is distinct (doc_id, shingle); the
    held-out split is the deterministic doc_id % test_mod == 0 slice.

    The join is an inverted-index equi-join on shingle whose fan-out is
    bounded by the HELD-OUT side's df (the test set is the small fixed
    relation at 100 TB — an eval suite, not the corpus), so the probe
    scales linearly with training-corpus shingles. Returns
    (doc_id, n_test_docs, n_shared_shingles) for contaminated train docs."""
    is_test = (F.col("doc_id") % test_mod) == 0
    test = shingles.filter(is_test).select(
        F.col("doc_id").alias("test_id"), "shingle"
    )
    train = shingles.filter(~is_test)
    return (
        train.join(test, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("test_id").alias("n_test_docs"),
            F.count_distinct("shingle").alias("n_shared_shingles"),
        )
    )


def pack_sequences(docs: DataFrame, ctx: int, shard_size: int) -> DataFrame:
    """Concat-then-chunk sequence packing (the pretraining batch-prep step):
    documents are laid head-to-tail in ``doc_id`` order and cut into ``ctx``-token
    context windows; each document is assigned the window its FIRST token
    falls in.

    Packing needs a running token offset — a global running sum is the
    classic single-partition window anti-pattern, so the stream is packed
    within bounded shards of ``shard_size`` docs (doc_id div shard_size): the
    window partition is capped by construction, shards pack independently
    and in parallel, and at 100 TB each worker packs its own shards with no
    cross-shard coordination (exactly how packing shards out in practice).

    Returns (shard, seq_bin, n_docs, n_tokens) per context window.
    """
    d = docs.select(
        "doc_id",
        F.expr(f"doc_id div {shard_size}").alias("shard"),
        F.size("toks").cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    return (
        d.withColumn("start", F.sum("n_tok").over(w) - F.col("n_tok"))
        .withColumn("seq_bin", F.expr(f"start div {ctx}"))
        .groupBy("shard", "seq_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


#: URL canonicalization steps, applied in order (each a single RE2/Java-
#: compatible regex so Spark and DuckDB agree byte-for-byte):
#: scheme -> leading www. -> fragment -> query string -> trailing slashes.
_URL_NORM_STEPS = (
    ("^https?://", ""),
    (r"^www\.", ""),
    ("#.*$", ""),
    (r"\?.*$", ""),
    ("/+$", ""),
)


def normalize_url(col) -> "F.Column":
    """Canonical URL form for URL-level dedup (the C4/RefinedWeb ingest
    step): lowercase, strip scheme / leading www. / query string / fragment
    / trailing slashes. Pure codegen'd regexp_replace chain — a map-only
    stage, no shuffle, no Python; every regex means the same thing in Java
    regex and RE2 (anchors + literal-class only)."""
    out = F.lower(col if not isinstance(col, str) else F.col(col))
    for pat, rep in _URL_NORM_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def sql_normalize_url(expr: str) -> str:
    """DuckDB mirror of :func:`normalize_url` (same regexes, same order)."""
    out = f"lower({expr})"
    for pat, rep in _URL_NORM_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}')"
    return out
