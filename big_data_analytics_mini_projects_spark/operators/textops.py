"""Text-analysis operators for training-data pipelines (beyond-reference
suite: language ID, quality scoring, token counting, fingerprinting).

All stages are built-in expression compositions (codegen'd, shuffle only at
the declared aggregations); the only quadratic-ish structure — trigram
profiles — is bounded by (n_langs × 20) rows and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import round4_stable, tokens

#: Stopword list for quality scoring — literal, mirrored in the SQL oracle.
STOPWORDS = ("the", "a", "and", "of", "to", "is", "in", "it")

#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
BPE_PATTERN = r"([a-z]+|[0-9]+|[^a-z0-9\s])"

#: Trigrams per language profile (lang_trigram_profiles).
PROFILE_TOP_N = 20

#: Winnowing gram length and window (doc_fingerprints).
FP_K = 8
FP_WINDOW = 4


def char_trigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, tg) — one row per character trigram of the lowercased text.

    The lowered text is split to a char ARRAY once per row via the
    transform(array(x), cs -> ...)[0] let-binding idiom, and trigram i is
    concat of three O(1) array subscripts. Two earlier formulations were
    per-doc-quadratic and are deliberately avoided: inlining `lower(text)`
    into the per-index lambda re-lowers the whole string per position (the
    doc_fingerprints lesson), and `substring(t, i, 3)` on a bound string is
    still an O(i) UTF8 char scan per call — measured 2.5x slower end-to-end
    at 50k docs (sf1 rehearsal), worse with longer documents."""
    expr = (
        "transform(array(split(lower(text), '')), cs -> "
        "CASE WHEN size(cs) >= 3 THEN "
        "transform(sequence(0, size(cs) - 3), i -> concat(cs[i], cs[i+1], cs[i+2])) "
        "ELSE cast(array() as array<string>) END)[0]"
    )
    return docs.select("doc_id", F.explode(F.expr(expr)).alias("tg"))


def lang_trigram_profiles(doc_tg_with_lang: DataFrame) -> DataFrame:
    """(lang, tg) — the top-N trigrams per language by corpus frequency
    (count desc, trigram asc tiebreak): the n-gram language profile of
    Cavnar-Trenkle-style language ID, trained on the corpus itself.
    Input is per-doc trigram *counts* with a lang column (doc_trigram_counts
    ⋈ docs), so profile training aggregates the compact counts, not the raw
    trigram stream."""
    counts = doc_tg_with_lang.groupBy("lang", "tg").agg(F.sum("c").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("tg"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PROFILE_TOP_N)
        .select("lang", "tg")
    )


def doc_trigram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, tg, c): per-doc trigram counts — the shared base of profile
    training and classification. One explode + one aggregate; callers persist
    it when both consumers run in one job (the corpus-sized explode is the
    expensive part, the aggregated counts are ~10x smaller)."""
    return char_trigrams(docs).groupBy("doc_id", "tg").agg(
        F.count(F.lit(1)).alias("c")
    )


def lang_id(doc_tg: DataFrame, profiles: DataFrame) -> DataFrame:
    """Predict each doc's language: argmax over languages of the number of
    doc trigram occurrences hitting the language's profile (score desc,
    lang asc tiebreak). ``doc_tg`` is :func:`doc_trigram_counts` output.
    Returns (doc_id, pred_lang, score). Docs matching no profile trigram are
    dropped (identically on both engines)."""
    scores = (
        doc_tg.join(F.broadcast(profiles), "tg")
        .groupBy("doc_id", "lang")
        .agg(F.sum("c").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )


def text_quality(docs: DataFrame) -> DataFrame:
    """Per-doc quality metrics from integer counts (engine-stable divisions):
    token count, distinct-token (type) count, mean token length, stopword
    ratio, type-token ratio, and a weighted quality score in [0, 1]."""
    toks = tokens("text")
    stop_arr = F.array(*(F.lit(s) for s in STOPWORDS))
    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.length(F.array_join(toks, "")).alias("char_sum"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).alias("n_stop"),
    ).filter(F.col("n_tokens") > 0)
    avg_len = F.col("char_sum").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    ttr = F.col("n_types").cast("double") / F.col("n_tokens")
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), F.col("n_tokens").cast("double") / 100)
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * ttr
    )
    # round4_stable, not F.round: the score sits on .xxxx5 boundaries at
    # corpus scale and Spark's shortest-repr rounding diverges from any
    # binary-value rounding there (first seen at sf0.1).
    return d.select(
        "doc_id",
        "n_tokens",
        "n_types",
        round4_stable(avg_len).alias("avg_token_len"),
        round4_stable(stop_ratio).alias("stopword_ratio"),
        round4_stable(ttr).alias("type_token_ratio"),
        round4_stable(score).alias("quality_score"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counts per doc — array sizes, no explode,
    no shuffle: the cheapest possible token accounting at 100 TB."""
    ws = F.size(tokens("text"))
    bpe = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 1))
    return docs.select("doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens"))


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003): hash all
    k-char grams (k = FP_K), keep the minimum hash of every sliding window
    of FP_WINDOW consecutive grams, dedupe. Guarantees any shared substring
    of length >= FP_K + FP_WINDOW - 1 yields a shared fingerprint — the matching
    property plagiarism/near-dup detectors rely on.

    Returns distinct (doc_id, fp) rows. The whole computation is per-row array
    transforms — gram expansion, hashing, sliding-window min, and dedupe all
    happen inside one codegen stage with ZERO shuffle (the within-doc
    ``array_distinct`` subsumes a row-level distinct because ``doc_id`` is
    constant per row). The alternative — posexplode grams + a partitioned
    window min — shuffles one row per character of the corpus, which at
    100 TB is a corpus-sized exchange for no semantic gain.

    Expression-engineering note: the lowered CHAR ARRAY and the hash array
    are each bound ONCE per row via the `transform(array(x), v -> body)[0]`
    let-binding idiom. Without it, CollapseProject inlines the hash-array
    expression into the winnowing transform's lambda body, re-evaluating the
    md5-of-every-gram array for EVERY window index — O(n²) hashing per
    document (measured 50× slower). Grams are concat of k O(1) array
    subscripts, not `substring(t, i, k)` — the latter is an O(i) UTF8 char
    scan per position, per-doc-quadratic (the char_trigrams lesson). slice()
    clamps at the tail, matching a CURRENT ROW .. N FOLLOWING frame."""
    cat_k = " , ".join(f"cs[i+{j}]" for j in range(FP_K))
    grams_cs = (
        f"CASE WHEN size(cs) >= {FP_K} THEN "
        f"transform(sequence(0, size(cs) - {FP_K}), i -> concat({cat_k})) "
        f"ELSE cast(array() as array<string>) END"
    )
    hs_cs = (
        f"transform({grams_cs}, g -> "
        "cast(conv(substring(md5(concat('fp:', g)), 1, 15), 16, 10) as bigint))"
    )
    winnow_hs = (
        "CASE WHEN size(hs) = 0 THEN cast(array() as array<bigint>) "
        f"ELSE array_distinct(transform(sequence(1, size(hs)), "
        f"i -> array_min(slice(hs, i, {FP_WINDOW})))) END"
    )
    fp_expr = (
        "transform(array(split(lower(text), '')), cs -> "
        f"transform(array({hs_cs}), hs -> {winnow_hs})[0])[0]"
    )
    return docs.select("doc_id", F.explode(F.expr(fp_expr)).alias("fp"))


#: DuckDB twin of :func:`doc_fingerprints` before its dedupe: CTE ``wmin``
#: (doc_id, fp), the minimum gram hash of every FP_WINDOW-gram window of
#: each document's lowered text, duplicates kept.
SQL_WINNOW_MINS = (
    "lowered AS (SELECT doc_id, lower(text) AS t FROM documents), "
    f"pos AS (SELECT doc_id, t, unnest(range(1, length(t) - {FP_K - 2})) AS i "
    f"FROM lowered WHERE length(t) >= {FP_K}), "
    "grams AS (SELECT doc_id, i, "
    f"('0x' || substr(md5('fp:' || substr(t, i, {FP_K})), 1, 15))::BIGINT AS h "
    "FROM pos), "
    "wmin AS (SELECT doc_id, MIN(h) OVER (PARTITION BY doc_id ORDER BY i "
    f"ROWS BETWEEN CURRENT ROW AND {FP_WINDOW - 1} FOLLOWING) AS fp FROM grams)"
)
