"""Three queries extending the tokenizer-training / mixing / quality
families:

- ``streaming_mix_shares``  — stateful streaming twin of round12q's
  temperature_mix_rates: per-source cumulative token totals through
  applyInPandasWithState (one long per domain), the alpha-sweep share
  computation re-derived on the emitted dimension frame. Completes the
  batch<->stream twin pattern for the mixing family; shares the oracle
  text verbatim (plans/shared.sql_temperature_oracle).
- ``bpe_merge_curve``       — MULTI-merge BPE tokenizer-training
  convergence curve (the lloyd_convergence_curve shape on bpe_merge_step,
  round6q): four full merge iterations — pair counting, greedy-leftmost
  merge application, vocabulary compression tracking. One Spark job
  aggregates the corpus into (word, freq) word types, memoized per family
  visit; the merges run on the driver over that dimension-scale
  vocabulary, and the curve comes back as a LocalRelation. No regex
  anywhere: the driver applies a merge by a left-to-right scan, and the
  DuckDB oracle by a gaps-and-islands window computation
  (dedup_exact_substring's trick), so RE2's missing lookarounds never
  enter the picture.
- ``repetition_quality_rules`` — per-document repetition quality gates
  (the MassiveText/Gopher rule family): top-word character share,
  duplicate-word fraction, duplicate-2gram character share, composite
  keep flag. Exact integer numerators/denominators, one stable-rounded
  division per ratio.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..caching import checkpoint_shared, persist_tracked
from ..functions.hashing import h64, h64_sql
from ..functions.text import (
    ngram_text,
    ngrams,
    round_stable,
    sql_round_stable,
    sql_tokens,
    tokens,
)
from ..sources.readers import local_relation
from ..sources.tables import load_table, spread
from .registry import register
from .shared import (
    _W_AVGLEN,
    _W_BIAS,
    _W_NTOK,
    _W_STOP,
    ES_K,
    mix_shares_frame,
    sql_temperature_oracle,
)

# --------------------------------------------------------------------------
# streaming_mix_shares
# --------------------------------------------------------------------------


@register(
    "streaming_mix_shares",
    oracle=sql_temperature_oracle(),
    doc="Stateful STREAMING twin of temperature_mix_rates: the corpus "
    "streams through applyInPandasWithState keeping ONE cumulative token "
    "counter per source (stream_stats.stream_source_token_totals), and the "
    "alpha = 1/0.5/0.25 share sweep re-derives on the emitted per-source "
    "totals — a dimension-scale computation, so each micro-batch of a live "
    "stream yields a refreshed share snapshot (the per-batch mix-drift "
    "monitor a temperature-sampled training pipeline watches as sources "
    "grow at different rates). Over an availableNow run the whole table is "
    "one batch, so output == the batch twin bit-for-bit (shared oracle "
    "text). Tokenization runs JVM-side before the Arrow hop; state is "
    "|sources| longs at any corpus size.",
    tags=("streaming", "curation", "sampling", "pipeline"),
    bench=False,
)
def streaming_mix_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import (
        documents_stream,
        run_available_now,
        stream_source_token_totals,
    )

    totals = run_available_now(
        stream_source_token_totals(documents_stream(spark, sf_dir)),
        output_mode="append",
    )
    # The stateful head append-emits one refreshed cumulative total per
    # source PER MICRO-BATCH it appears in; mix_shares_frame needs exactly
    # one row per source. Under availableNow over the single-file documents
    # source that is already true, but a multi-batch replay (e.g. a
    # maxFilesPerTrigger source) would emit several — reduce to the LAST
    # emission (the counter is cumulative, so max(m) == final total) instead
    # of relying on the single-batch contract (round-8 ADVICE).
    final_totals = totals.groupBy("source").agg(F.max("m").alias("m"))
    return mix_shares_frame(final_totals)


# --------------------------------------------------------------------------
# bpe_merge_curve
# --------------------------------------------------------------------------

#: Merge iterations of the convergence curve. Four is enough to cross at
#: least one vocabulary-composition change (merged symbols competing with
#: raw pairs) at every driver SF.
N_MERGES = 4

#: Word filter: alphanumeric-only word types keep every merged symbol free
#: of regex/SQL metacharacters and whitespace, so the pair key 'a b' (space-
#: joined) is unambiguous in both engines.
_WORD_RE = "^[a-z0-9]+$"


def _sql_bpe_chain() -> str:
    """Unrolled DuckDB CTE chain 'WITH w, s0, (n,pc,b,m,i,c,d,s,r){1..N}'
    WITHOUT a final SELECT: per iteration, the pair-count aggregate, the
    (cnt DESC, a ASC, b ASC) argmax as scalar subqueries, the gaps-and-
    islands greedy-leftmost merge, and the freq-weighted stats row. Shared
    by bpe_merge_curve's oracle (stats-row tail) and round15q's fertility
    oracle (final-spelling tail over s{N}) — the SQL twin of
    bpe_merge_chain.

    The multiply-referenced CTEs (each s{t} feeds the next iteration AND
    the stats row; each b{t} is read by five scalar subqueries) carry AS
    MATERIALIZED: without it DuckDB inlines the whole s{t} window chain
    into every reference and the unrolled query re-evaluates the corpus
    scan exponentially in the iteration count (measured 15 s -> sub-second
    at sf0.001; the ols_words_pvalues lesson)."""
    head = (
        "WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM ("
        "SELECT unnest(list_filter(string_split(lower(text), ' '), "
        f"x -> regexp_matches(x, '{_WORD_RE}'))) AS word FROM documents) "
        "GROUP BY word), "
        "s0 AS MATERIALIZED (SELECT word, freq, pos, "
        "substr(word, CAST(pos AS INT) + 1, 1) AS sym "
        "FROM (SELECT word, freq, unnest(range(length(word))) AS pos FROM w))"
    )
    steps = []
    for t in range(1, N_MERGES + 1):
        p = t - 1
        steps.append(
            f", n{t} AS (SELECT word, freq, pos, sym, "
            f"lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s{p})"
            f", pc{t} AS (SELECT sym AS a, nxt AS b, "
            f"CAST(SUM(freq) AS BIGINT) AS cnt FROM n{t} "
            "WHERE nxt IS NOT NULL GROUP BY a, b)"
            f", b{t} AS MATERIALIZED (SELECT a, b, cnt FROM pc{t} "
            "ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)"
            f", m{t} AS (SELECT word, freq, pos, sym, nxt, "
            f"(nxt IS NOT NULL AND sym = (SELECT a FROM b{t}) "
            f"AND nxt = (SELECT b FROM b{t})) AS mk FROM n{t})"
            f", i{t} AS (SELECT *, pos - row_number() OVER "
            f"(PARTITION BY word, mk ORDER BY pos) AS isl FROM m{t})"
            f", c{t} AS (SELECT *, mk AND ((pos - MIN(pos) OVER "
            "(PARTITION BY word, mk, isl)) % 2 = 0) AS ch "
            f"FROM i{t})"
            f", d{t} AS MATERIALIZED (SELECT *, lag(ch) OVER "
            f"(PARTITION BY word ORDER BY pos) AS pch FROM c{t})"
            f", s{t} AS MATERIALIZED (SELECT word, freq, row_number() OVER "
            "(PARTITION BY word ORDER BY pos) - 1 AS pos, "
            "CASE WHEN ch THEN sym || nxt ELSE sym END AS sym "
            f"FROM d{t} WHERE NOT COALESCE(pch, FALSE))"
            f", r{t} AS (SELECT CAST({t} AS BIGINT) AS iteration, "
            f"(SELECT a FROM b{t}) || ' ' || (SELECT b FROM b{t}) AS pair, "
            f"(SELECT cnt FROM b{t}) AS pair_count, "
            f"(SELECT CAST(COALESCE(SUM(freq), 0) AS BIGINT) FROM d{t} WHERE ch) "
            "AS merged_occ, "
            f"(SELECT CAST(SUM(freq) AS BIGINT) FROM s{t}) AS total_syms)"
        )
    return head + "".join(steps)


def _sql_bpe_oracle() -> str:
    tail = " " + " UNION ALL ".join(
        f"SELECT * FROM r{t}" for t in range(1, N_MERGES + 1)
    )
    return _sql_bpe_chain() + tail


@register(
    "bpe_merge_curve",
    oracle=_sql_bpe_oracle(),
    doc="BPE tokenizer-training convergence curve: four FULL merge "
    "iterations (pair counting -> argmax merge selection -> greedy "
    "leftmost-non-overlapping application -> vocabulary re-spelling), "
    "tracking per iteration the chosen pair, its raw adjacency count, the "
    "freq-weighted number of merges actually applied, and the remaining "
    "freq-weighted symbol total (the compression curve a tokenizer "
    "trainer watches for diminishing returns). Scale design: ONE corpus-"
    "linear shuffle builds the word-type/frequency vocabulary, collected "
    "once per family visit and memoized, so a repeat starts no Spark job; "
    "the merges then run on the driver over the word types "
    "(dimension scale: 31 types at sf0.1, 310 at sf1), the rule Hugging "
    "Face-style BPE trainers and MLlib's Word2Vec vocabulary follow. The "
    "curve comes back as a LocalRelation. The DuckDB oracle stays fully "
    "relational: greedy application is the regex-free gaps-and-islands "
    "window trick (runs of a self-pair like 'a a a a' merge at even "
    "island offsets), so cross-engine parity needs no regexp_replace "
    "semantics at all (RE2 has no lookarounds). All outputs are exact "
    "integers.",
    tags=("curation", "tokenize_char", "iterative", "pipeline"),
)
def bpe_merge_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, stats = bpe_merge_chain(spark, sf_dir)
    return local_relation(
        spark,
        pd.DataFrame(stats, dtype=object),
        "iteration long, pair string, pair_count long, merged_occ long, total_syms long",
    )


def bpe_merge_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, list[str]], list[tuple]]:
    """The shared BPE merge-training loop: returns (each word type's
    spelling after the final merge, one ``(iteration, pair, pair_count,
    merged_occ, total_syms)`` tuple per iteration). Single source for
    bpe_merge_curve (stats) and round15q's fertility view (spellings);
    _sql_bpe_chain is the SQL twin both oracles share.

    Job census: one per family visit, the corpus-linear vocabulary
    aggregate, collected as (word, freq) and memoized as a LocalRelation
    (checkpoint_shared), so a repeat reads the word types back without a
    job. The merges run in Python over the word types on every call: each
    iteration counts freq-weighted adjacent pairs, takes the argmax under
    the oracle's tie order (cnt desc, sym, nxt) and applies it greedily
    leftmost-non-overlapping (a run 'a a a' of the self-pair 'a a' becomes
    'aa a'), which is what the oracle's gaps-and-islands windows compute."""

    def _vocab() -> DataFrame:
        docs = spread(load_table(spark, sf_dir, "documents").select("text"))
        words = docs.select(F.explode(tokens("text")).alias("word")).filter(
            F.col("word").rlike(_WORD_RE)
        )
        rows = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq")).collect()
        return local_relation(
            spark, pd.DataFrame(rows, columns=["word", "freq"]), "word string, freq long"
        )

    vocab = checkpoint_shared("r13.bpe_vocab", sf_dir, _vocab).collect()
    freq = {r["word"]: r["freq"] for r in vocab}
    spell = {w: list(w) for w in freq}

    def total_syms() -> int | None:
        # NULL over an empty vocabulary, as the oracle's SUM is
        return sum(freq[w] * len(syms) for w, syms in spell.items()) if spell else None

    stats: list[tuple] = []
    for t in range(1, N_MERGES + 1):
        counts: Counter = Counter()
        for w, syms in spell.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] += freq[w]
        if not counts:
            # Degenerate corpus: every word is already one symbol, so no
            # pair is left. The oracle's scalar subqueries over its empty
            # argmax CTE give a NULL pair and count, zero merges and the
            # unchanged symbol total (pinned by a fixture test).
            stats.append((t, None, None, 0, total_syms()))
            continue
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = 0
        for w, syms in spell.items():
            out, i = [], 0
            while i < len(syms):
                if syms[i : i + 2] == [a, b]:
                    out.append(a + b)
                    merged += freq[w]
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            spell[w] = out
        stats.append((t, f"{a} {b}", cnt, merged, total_syms()))
    return spell, stats


# --------------------------------------------------------------------------
# repetition_quality_rules
# --------------------------------------------------------------------------

#: Gopher/MassiveText-style repetition gates (thresholds are the published
#: rule family's shape; exact values tuned to the synthetic corpus).
TOP_WORD_MAX = 0.20
DUP_WORD_MAX = 0.30
DUP_2GRAM_MAX = 0.20


@register(
    "repetition_quality_rules",
    oracle=(
        f"WITH t AS (SELECT doc_id, unnest({sql_tokens('text')}) AS word FROM documents), "
        "wc AS (SELECT doc_id, word, COUNT(*) AS c FROM t GROUP BY doc_id, word), "
        "agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, "
        "CAST(COUNT(*) AS BIGINT) AS n_distinct, "
        "CAST(SUM(c * length(word)) AS BIGINT) AS n_chars FROM wc GROUP BY doc_id), "
        "top AS (SELECT doc_id, c * length(word) AS top_chars FROM ("
        "SELECT doc_id, word, c, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY c DESC, word ASC) AS rk FROM wc) WHERE rk = 1), "
        f"tarr AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents), "
        "g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), "
        "i -> array_to_string(toks[i:i+1], ' '))) AS gram FROM tarr "
        "WHERE len(toks) >= 2), "
        "gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram), "
        "g AS (SELECT doc_id, "
        "CAST(SUM(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS BIGINT) "
        "AS dup2_chars, "
        "CAST(SUM(c * length(gram)) AS BIGINT) AS tot2_chars "
        "FROM gc GROUP BY doc_id) "
        "SELECT agg.doc_id, agg.n_words, agg.n_words - agg.n_distinct AS n_dup_words, "
        + sql_round_stable(
            "CAST(top.top_chars AS DOUBLE) / agg.n_chars", 6
        )
        + " AS top_word_frac, "
        + sql_round_stable(
            "CAST(agg.n_words - agg.n_distinct AS DOUBLE) / agg.n_words", 6
        )
        + " AS dup_word_frac, "
        + sql_round_stable("CAST(g.dup2_chars AS DOUBLE) / g.tot2_chars", 6)
        + " AS dup_2gram_frac, "
        f"({sql_round_stable('CAST(top.top_chars AS DOUBLE) / agg.n_chars', 6)}"
        f" <= {TOP_WORD_MAX} AND "
        f"{sql_round_stable('CAST(agg.n_words - agg.n_distinct AS DOUBLE) / agg.n_words', 6)}"
        f" <= {DUP_WORD_MAX} AND "
        f"{sql_round_stable('CAST(g.dup2_chars AS DOUBLE) / g.tot2_chars', 6)}"
        f" <= {DUP_2GRAM_MAX}) AS keep "
        "FROM agg JOIN top ON agg.doc_id = top.doc_id "
        "JOIN g ON agg.doc_id = g.doc_id"
    ),
    doc="Per-document repetition quality gates (the MassiveText/Gopher "
    "filter-rule family): top-word character share (is one token "
    "dominating the doc), duplicate-word fraction (1 - type/token ratio, "
    "kept as an exact integer numerator), duplicate-2gram character share "
    "(boilerplate/templating signal), and the composite keep flag. Docs "
    "need >= 2 tokens (a 2gram must exist) — enforced structurally by the "
    "inner join against the 2gram frame, same semantics in the oracle. "
    "All three ratios are exact-integer numerator/denominator pushed "
    "through ONE stable-rounded division each, so the keep flag compares "
    "identically cross-engine. Scale: two corpus-linear explodes keyed by "
    "(doc_id, token) with map-side combine, per-doc windows bounded by "
    "per-doc vocabulary — no global state, trivially 100 TB-safe.",
    tags=("curation", "quality", "agg_count_by_key"),
)
def repetition_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    words = toks.select("doc_id", F.explode("toks").alias("word"))
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") * F.length("word")).cast("long").alias("n_chars"),
    )
    top = (
        wc.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("word"))
            ),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", (F.col("c") * F.length("word")).alias("top_chars"))
    )
    g2 = toks.select("doc_id", F.explode(ngrams("toks", 2)).alias("g")).select(
        "doc_id", ngram_text("g", 2).alias("gram")
    )
    gc = g2.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    g = gc.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.length("gram")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dup2_chars"),
        F.sum(F.col("c") * F.length("gram")).cast("long").alias("tot2_chars"),
    )
    top_frac = round_stable(
        F.col("top_chars").cast("double") / F.col("n_chars"), 6
    )
    dup_frac = round_stable(
        (F.col("n_words") - F.col("n_distinct")).cast("double") / F.col("n_words"), 6
    )
    dup2_frac = round_stable(
        F.col("dup2_chars").cast("double") / F.col("tot2_chars"), 6
    )
    return (
        agg.join(top, "doc_id")
        .join(g, "doc_id")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_words") - F.col("n_distinct")).alias("n_dup_words"),
            top_frac.alias("top_word_frac"),
            dup_frac.alias("dup_word_frac"),
            dup2_frac.alias("dup_2gram_frac"),
            (
                (top_frac <= TOP_WORD_MAX)
                & (dup_frac <= DUP_WORD_MAX)
                & (dup2_frac <= DUP_2GRAM_MAX)
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# span_novelty_scan
# --------------------------------------------------------------------------


@register(
    "span_novelty_scan",
    oracle=(
        "WITH tarr AS (SELECT doc_id, "
        f"{sql_tokens('text')} AS toks "
        "FROM documents), "
        f"sp AS (SELECT doc_id, unnest(range(0, len(toks) - {ES_K - 1})) AS pos, "
        "toks FROM tarr), "
        "sh AS (SELECT doc_id, "
        + h64_sql(f"array_to_string(toks[pos + 1:pos + {ES_K}], ' ')", "es")
        + " AS h FROM sp), "
        "dh AS (SELECT DISTINCT doc_id, h FROM sh), "
        "mult AS (SELECT h, COUNT(*) AS nd FROM dh GROUP BY h), "
        "j AS (SELECT sh.doc_id, CASE WHEN mult.nd > 1 THEN 1 ELSE 0 END AS mem "
        "FROM sh JOIN mult ON sh.h = mult.h) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans, "
        "CAST(SUM(mem) AS BIGINT) AS n_memorized, "
        + sql_round_stable("1.0 - CAST(SUM(mem) AS DOUBLE) / COUNT(*)", 6)
        + " AS novelty_ratio "
        "FROM j GROUP BY doc_id"
    ),
    doc="Span-level memorization/novelty accounting (the eval-contamination "
    "and train-data-memorization audit view): every overlapping ES_K=12-"
    "token span of every document is hashed (the exact-substring dedup "
    "family's span stream, shared ES_K/seed so numbers line up with "
    "dedup_exact_substring), a span OCCURRENCE counts as memorized when "
    "its hash appears in at least one OTHER document, and each doc "
    "reports its span count, memorized-span count, and novelty ratio. "
    "Documents shorter than 12 tokens have no spans and drop out "
    "structurally (same semantics in both engines). Scale: one span "
    "explode (lambda-free zip of shifted token slices, zero scatter — "
    "functions/text.ngrams), one distinct "
    "+ count per span hash, one hash-keyed equi-join back; everything is "
    "corpus-linear on the span stream, and the multi-doc flag frame is "
    "bounded by distinct spans. The novelty ratio is one exact-integer "
    "division, stable-rounded.",
    tags=("dedup", "curation", "quality", "agg_count_by_key"),
)
def span_novelty_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    spans = toks.select(
        "doc_id", F.explode(ngrams("toks", ES_K)).alias("span")
    ).select("doc_id", h64(ngram_text("span", ES_K), "es").alias("h"))
    spans = persist_tracked(spans)
    mult = (
        spans.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    j = spans.join(mult, "h").select(
        "doc_id", F.when(F.col("nd") > 1, F.lit(1)).otherwise(F.lit(0)).alias("mem")
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("mem").cast("long").alias("n_memorized"),
        round_stable(
            F.lit(1.0) - F.sum("mem").cast("double") / F.count(F.lit(1)), 6
        ).alias("novelty_ratio"),
    )


# --------------------------------------------------------------------------
# doc_length_percentiles_by_source
# --------------------------------------------------------------------------

#: Percentiles as integer hundredths — rank = ceil(n*k/100) computed as
#: (n*k + 99) // 100, pure integer arithmetic in both engines (no float
#: quantile-interpolation semantics to reconcile: DuckDB's quantile_cont /
#: Spark's percentile interpolate differently, so neither is used).
PCTS = (25, 50, 75, 95)


@register(
    "doc_length_percentiles_by_source",
    oracle=(
        "WITH t AS (SELECT source, doc_id, "
        f"len({sql_tokens('text')}) AS n_tok "
        "FROM documents), "
        "r AS (SELECT source, n_tok, "
        "row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn, "
        "COUNT(*) OVER (PARTITION BY source) AS n FROM t) "
        "SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs, "
        + ", ".join(
            f"CAST(MAX(CASE WHEN rn = (n * {k} + 99) // 100 THEN n_tok END) "
            f"AS BIGINT) AS p{k}"
            for k in PCTS
        )
        + " FROM r GROUP BY source"
    ),
    doc="Exact per-source document-length percentiles (p25/p50/p75/p95 of "
    "the whitespace token count) — the length-distribution profile a "
    "curation pipeline reads before setting min/max-length filters per "
    "source. Percentile semantics are the rank-based 'value at rank "
    "ceil(q*n)' definition computed in PURE INTEGER arithmetic "
    "((n*k + 99) div 100), because the engines' built-in continuous "
    "quantiles interpolate differently and would never hash-match. One "
    "rank window partitioned by source (bounded per-source state) + one "
    "conditional aggregate; corpus-linear, one shuffle, dimension-scale "
    "output.",
    tags=("quality", "curation", "window", "agg_count_by_key"),
)
def doc_length_percentiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("source", "doc_id", "text"))
    t = docs.select(
        "source",
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
    )
    w = Window.partitionBy("source")
    r = t.select(
        "source",
        "n_tok",
        F.row_number().over(w.orderBy("n_tok", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return r.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        *[
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"(n * {k} + 99) div 100"), F.col("n_tok")
                )
            )
            .cast("long")
            .alias(f"p{k}")
            for k in PCTS
        ],
    )


# --------------------------------------------------------------------------
# dedup_canonical_quality
# --------------------------------------------------------------------------


@register(
    "dedup_canonical_quality",
    oracle=(
        "WITH t AS (SELECT doc_id, text, "
        f"{sql_tokens('text')} AS toks "
        "FROM documents), "
        f"g AS (SELECT doc_id, text, md5(array_to_string(toks[1:{ES_K}], ' ')) "
        f"AS grp FROM t WHERE len(toks) >= {ES_K}), "
        "feats AS (SELECT doc_id, grp, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, "
        "CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_wlen, "
        "CAST(len(regexp_extract_all(text, '\\bthe\\b')) AS BIGINT) AS n_stop "
        "FROM g), "
        f"w AS (SELECT {_W_BIAS}::DOUBLE AS w_bias, {_W_NTOK}::DOUBLE AS w_ntok, "
        f"{_W_AVGLEN}::DOUBLE AS w_avglen, {_W_STOP}::DOUBLE AS w_stop), "
        "s AS (SELECT doc_id, grp, "
        + sql_round_stable(
            "((w_bias + w_ntok * n_tok) + w_avglen * avg_wlen) + w_stop * n_stop", 6
        )
        + " AS score FROM feats CROSS JOIN w), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY grp "
        "ORDER BY score DESC, doc_id ASC) AS rk, "
        "COUNT(*) OVER (PARTITION BY grp) AS n, "
        "MIN(score) OVER (PARTITION BY grp) AS worst "
        "FROM s) "
        "SELECT grp, CAST(n AS BIGINT) AS n_docs, "
        "doc_id AS keeper, score AS keeper_score, "
        "CAST(n - 1 AS BIGINT) AS n_dropped, "
        + sql_round_stable("score - worst", 6)
        + " AS score_spread "
        "FROM r WHERE rk = 1 AND n > 1"
    ),
    doc="Quality-aware canonicalization of shared-opening boilerplate "
    "groups: docs whose first ES_K=12 whitespace tokens are identical "
    "(the prefix-blocking near-dup class — templated/boilerplate openings "
    "that exact-hash dedup misses because tails differ) are grouped by "
    "the prefix hash, and the KEEPER is the member with the best quality-"
    "classifier score (shared _W_* weights and feature expressions of "
    "quality_classifier_score, plans/privacyq.py) instead of dedup_exact's "
    "min-doc_id rule — what a real pipeline does: keep the best variant, "
    "drop the rest. Selection ranks by the 6-decimal stable-rounded score "
    "on BOTH engines (ties fall to doc_id ASC), so the argmax is cross-"
    "engine deterministic even at 1-ulp logit differences; score_spread "
    "(best - worst) quantifies what dropping costs. Docs shorter than 12 "
    "tokens have no prefix and drop out structurally. One map-side "
    "feature+hash pass with the broadcast 1-row weights frame, one group-"
    "keyed window — corpus-linear, one shuffle.",
    tags=("dedup", "curation", "quality", "window"),
)
def dedup_canonical_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    t = docs.select("doc_id", "text", tokens("text").alias("toks")).filter(
        F.size("toks") >= ES_K
    )
    feats = t.select(
        "doc_id",
        F.md5(F.expr(f"array_join(slice(toks, 1, {ES_K}), ' ')")).alias("grp"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        (
            F.length("text").cast("double") / F.size(F.split(F.col("text"), " "))
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
    s = feats.crossJoin(F.broadcast(w)).select(
        "doc_id", "grp", round_stable(z, 6).alias("score")
    )
    wh = Window.partitionBy("grp")
    r = s.select(
        "doc_id",
        "grp",
        "score",
        F.row_number()
        .over(wh.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rk"),
        F.count(F.lit(1)).over(wh).alias("n"),
        F.min("score").over(wh).alias("worst"),
    )
    return r.filter((F.col("rk") == 1) & (F.col("n") > 1)).select(
        "grp",
        F.col("n").cast("long").alias("n_docs"),
        F.col("doc_id").alias("keeper"),
        F.col("score").alias("keeper_score"),
        (F.col("n") - 1).cast("long").alias("n_dropped"),
        round_stable(F.col("score") - F.col("worst"), 6).alias("score_spread"),
    )
