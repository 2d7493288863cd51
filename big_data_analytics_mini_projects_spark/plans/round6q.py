"""Round-6 queries: the retuned (occupancy-rule, self-scaling) embedding
dedup plus the new LLM-training-data pipeline stages of this round —
URL/domain-level curation (the C4/RefinedWeb stage the PII/quality stages
presuppose) and cross-snapshot fuzzy dedup.

`dedup_embedding_bucketed` here REPLACES the frozen 4x4-bit declaration that
lived in plans/vectorq.py through round 5: the round-5 verdict's single 100x
non-runner (fixed-width LSH occupancy densification — 4-bit bands were 6.5 s
at 2k vectors, 409 s at 20k, killed at ~25 min at 200k). The band width now
derives from the corpus size by the operator's own measured rule
``band_bits ≈ log2(n / occupancy)`` (operators/vector.py), computed as an
integer-exact comparison ladder in BOTH engines so the declared result stays
oracle-checkable at every scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h64, h64_sql
from ..functions.text import (
    ngram_text,
    ngrams,
    round_stable,
    sql_round_stable,
    sql_token_count,
    sql_tokens,
    sql_trigram_shingles,
    tokens,
)
from ..operators.aggregates import dsum, sql_dsum
from ..operators.curation import normalize_url, sql_normalize_url
from ..operators.similarity import (
    lsh_candidates,
    signature_agreement,
    sql_lsh_bands,
    sql_minhash_sigs_wide,
)
from ..operators.textops import SQL_WINNOW_MINS
from ..operators.vector import (
    AUTO_MAX_BITS,
    AUTO_OCCUPANCY,
    N_BANDS,
    bucketed_near_pairs_auto,
    hyperplane_signs,
)
from ..sources.tables import load_table, spread
from .registry import register
from .round14q import SC_HASHES, SC_MIN_AGREE, SC_ROWS, _doc_sigs_bands
from .shared import SQL_TOKEN_BUDGET, SQL_VECS, TOKEN_BUDGET, embedding_vectors

NEAR_MIN_COS = 0.35  # same verify floor as the round-2..5 declaration


def _sql_w_ladder() -> str:
    """DuckDB mirror of operators/vector.auto_band_bits: the integer
    comparison ladder w = 4 + #{k in [4, AUTO_MAX_BITS) : n > AUTO_OCCUPANCY * 2^k}."""
    terms = " + ".join(
        f"(CASE WHEN n > {AUTO_OCCUPANCY << k} THEN 1 ELSE 0 END)"
        for k in range(4, AUTO_MAX_BITS)
    )
    return f"st AS (SELECT 4 + {terms} AS w FROM (SELECT COUNT(*) AS n FROM e))"


def _sql_band_bucket_full(b: int) -> str:
    """Band b's FULL AUTO_MAX_BITS-bit SRP bucket (plane stride
    AUTO_MAX_BITS, matching operators/vector.bucketed_near_pairs_auto)."""
    signs = hyperplane_signs(N_BANDS * AUTO_MAX_BITS)
    terms = []
    for i in range(AUTO_MAX_BITS):
        lits = ", ".join(f"{x:.1f}" for x in signs[b * AUTO_MAX_BITS + i])
        terms.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]::DOUBLE[]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def _sql_banded_auto() -> str:
    structs = ", ".join(
        f"struct_pack(band := {b}, bucket := {_sql_band_bucket_full(b)})"
        for b in range(N_BANDS)
    )
    return (
        "banded AS (SELECT vec_id, v, bb.band AS band, "
        "bb.bucket & ((1::BIGINT << w) - 1) AS bucket "
        f"FROM (SELECT vec_id, v, unnest([{structs}]) AS bb FROM e) CROSS JOIN st)"
    )


@register(
    "dedup_embedding_bucketed",
    oracle=(
        f"WITH {SQL_VECS}, {_sql_w_ladder()}, {_sql_banded_auto()}, "
        "cand AS (SELECT DISTINCT ka, kb, cos FROM ("
        "SELECT a.vec_id AS ka, b.vec_id AS kb, "
        "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v))) AS cos "
        "FROM banded a JOIN banded b "
        "ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id) "
        f"WHERE cos >= {NEAR_MIN_COS}) "
        f"SELECT ka, kb, {sql_round_stable('cos', 6)} AS cos FROM cand"
    ),
    doc="Embedding-cosine dedup at scale, round-6 retune: banded SRP "
    "blocking with the band width derived from the corpus size by the "
    "occupancy rule (4 bands x w bits, w = clamp(ceil(log2(n/32)), 4, 14) "
    "as an integer comparison ladder over a broadcast 1-row COUNT) -> ONE "
    "equi-join on (band, bucket) -> exact-cosine verify -> cross-band "
    "distinct. Replaces the round-2..5 frozen 4x4-bit declaration, the "
    "verdict's one 100x non-runner: at fixed width per-bucket occupancy "
    "grows linearly with the corpus and the verify stage quadratically "
    "(409 s at 20k vectors, killed at 200k); the adaptive width holds "
    "occupancy ~32 so verify work stays ~linear (w: 500 vecs -> 4 bits, "
    "2k -> 6, 20k -> 10, 200k -> 13). Recall at near-dup geometry stays "
    "high at every width (>= 0.95 at cos 0.99 through w=14, capture "
    "1-(1-p^w)^4); the loose 0.35 floor is a verify threshold, not a "
    "recall target. Width rule + measurements: operators/vector.py "
    "bucketed_near_pairs_auto.",
    tags=("dedup", "ann", "lsh_band", "embedding"),
)
def dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = embedding_vectors(spark, sf_dir)
    out = bucketed_near_pairs_auto(vecs, NEAR_MIN_COS)
    return out.select("ka", "kb", round_stable("cos", 6).alias("cos"))


# ---------------------------------------------------------------------------
# URL / domain-level curation — the C4/RefinedWeb ingest stage that precedes
# the PII/quality/dedup stages already in the catalog. The documents table
# carries no URL column, so each query first derives a deterministic messy
# URL from (source, doc_id) — scheme/www/case/query-string/fragment/slash
# noise selected by the cross-engine md5 hash, mirrored exactly in the
# oracle — then exercises the real normalization/filter machinery on it.
# ---------------------------------------------------------------------------

_PATH_MOD = 200  # doc_id % 200 -> intra-source path collisions = true URL dups


def _synth_url_spark() -> "F.Column":
    host = F.concat(F.col("source"), F.lit(".example.com"))
    return F.concat(
        F.when(h64("doc_id", "sch") % 2 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(h64("doc_id", "www") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(h64("doc_id", "case") % 3 == 0, F.upper(host)).otherwise(host),
        F.lit("/a/"),
        (F.col("doc_id") % _PATH_MOD).cast("string"),
        F.when(h64("doc_id", "sl") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            h64("doc_id", "qs") % 3 == 0,
            F.concat(F.lit("?utm_source=feed&ref="), (F.col("doc_id") % 7).cast("string")),
        ).otherwise(F.lit("")),
        F.when(h64("doc_id", "fr") % 4 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )


def _synth_url_sql() -> str:
    host = "source || '.example.com'"
    return (
        f"(CASE WHEN {h64_sql('doc_id', 'sch')} % 2 = 0 THEN 'https' ELSE 'http' END)"
        " || '://'"
        f" || (CASE WHEN {h64_sql('doc_id', 'www')} % 2 = 0 THEN 'www.' ELSE '' END)"
        f" || (CASE WHEN {h64_sql('doc_id', 'case')} % 3 = 0 THEN upper({host}) ELSE {host} END)"
        f" || '/a/' || CAST(doc_id % {_PATH_MOD} AS VARCHAR)"
        f" || (CASE WHEN {h64_sql('doc_id', 'sl')} % 2 = 0 THEN '/' ELSE '' END)"
        f" || (CASE WHEN {h64_sql('doc_id', 'qs')} % 3 = 0 THEN "
        "'?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END)"
        f" || (CASE WHEN {h64_sql('doc_id', 'fr')} % 4 = 0 THEN '#sec' ELSE '' END)"
    )


@register(
    "url_normalize_dedup",
    oracle=(
        f"WITH u AS (SELECT doc_id, {_synth_url_sql()} AS url FROM documents) "
        f"SELECT {sql_normalize_url('url')} AS url_norm, "
        "MIN(doc_id) AS keep_doc, COUNT(*) AS n_docs "
        f"FROM u GROUP BY {sql_normalize_url('url')}"
    ),
    doc="URL-level exact dedup after canonicalization (C4/RefinedWeb ingest "
    "step): lowercase + strip scheme/www./query/fragment/trailing slash "
    "(operators/curation.normalize_url, a codegen'd regexp_replace chain "
    "identical in Java regex and RE2), then keep the minimum doc_id per "
    "canonical URL. Map-only until the final groupBy on the canonical "
    "key — one corpus-linear shuffle, the exact-dedup shape. The messy "
    "URL is derived deterministically from (source, doc_id) since the "
    "synthetic table has no URL column (fixture mirrored in the oracle).",
    tags=("dedup", "curation", "filter_pred"),
)
def url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "source"))
    u = docs.select("doc_id", _synth_url_spark().alias("url"))
    return (
        u.select("doc_id", normalize_url("url").alias("url_norm"))
        .groupBy("url_norm")
        .agg(F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_docs"))
    )


DOMAIN_CAP = 15  # C4-style per-domain document cap


@register(
    "domain_doc_cap",
    oracle=(
        "SELECT source, doc_id, n_chars, rnk FROM ("
        "SELECT source, doc_id, n_chars, row_number() OVER ("
        "PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rnk "
        f"FROM documents) WHERE rnk <= {DOMAIN_CAP}"
    ),
    doc="Per-domain document cap (the C4 anti-boilerplate / anti-SEO-farm "
    "guard): keep at most 15 docs per source, preferring longer documents "
    "(n_chars DESC, doc_id ASC tiebreak). One row_number window partitioned "
    "by domain — partitions are domain-sized, never corpus-sized, and "
    "Spark >= 3.5 pushes the rank cutoff into the window operator "
    "(WindowGroupLimit) so partitions stop producing rows past the cap.",
    tags=("curation", "topk", "window"),
)
def domain_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars"))
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= DOMAIN_CAP)
        .select("source", "doc_id", "n_chars", "rnk")
    )


@register(
    "domain_blocklist_filter",
    oracle=(
        "WITH blocked AS (SELECT DISTINCT source FROM documents "
        f"WHERE {h64_sql('source', 'blk')} % 4 = 0) "
        "SELECT source, lang, COUNT(*) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
        "FROM documents WHERE source NOT IN (SELECT source FROM blocked) "
        "GROUP BY source, lang"
    ),
    doc="Domain-blocklist filtering (the C4 badlist step): the blocklist is "
    "a derived domain frame (here: domains hashing into bucket 0 of 4 — a "
    "stand-in for a curated list), applied as a BROADCAST anti-join "
    "(blocklists are list-sized, never corpus-sized), then per-(domain, "
    "lang) survivor stats. At 100 TB the blocklist broadcast means the "
    "filter is a map-side probe — the corpus never shuffles to be "
    "filtered.",
    tags=("curation", "join_anti", "filter_pred"),
)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents").select("source", "lang", "n_chars")
    )
    blocked = (
        docs.select("source").distinct().filter(h64("source", "blk") % 4 == 0)
    )
    return (
        docs.join(F.broadcast(blocked), "source", "left_anti")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


EVAL_MOD = 25  # ~4% of docs land in the eval split


@register(
    "split_train_eval_stats",
    oracle=(
        "WITH s AS (SELECT lang, "
        f"CASE WHEN {h64_sql('doc_id', 'ev')} % {EVAL_MOD} = 0 "
        "THEN 'eval' ELSE 'train' END AS split, "
        f"{sql_token_count('text')} AS n_tok, "
        "n_chars FROM documents) "
        "SELECT lang, split, COUNT(*) AS n_docs, "
        "CAST(SUM(n_tok) AS BIGINT) AS sum_tok, "
        + sql_round_stable("AVG(n_chars)")
        + " AS avg_chars FROM s GROUP BY lang, split"
    ),
    doc="Deterministic train/eval holdout manifest: the split is a pure "
    "function of doc_id (seeded md5 bucket, ~4% eval) so it is stable "
    "across runs, engines, and cluster layouts — no sampled state to "
    "persist. Emits the per-(lang, split) manifest stats (doc count, "
    "token count, mean length) a data card reports. Map + one aggregate; "
    "pairs with contamination_13gram for leakage screening.",
    tags=("curation", "sample_hashbucket", "agg_mean_std"),
)
def split_train_eval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    s = docs.select(
        "lang",
        F.when(h64("doc_id", "ev") % EVAL_MOD == 0, F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
        F.size(tokens("text")).alias("n_tok"),
        "n_chars",
    )
    return s.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tok"),
        round_stable(F.avg("n_chars")).alias("avg_chars"),
    )


LEN_PCT_LO, LEN_PCT_HI = 0.05, 0.95
BPE_TOPK = 20
PPL_KEEP_MAX = 3.4  # keep docs whose bigram cross-entropy <= this (~corpus median)


@register(
    "length_percentile_filter",
    oracle=(
        "WITH r AS (SELECT doc_id, lang, n_chars, percent_rank() OVER ("
        "PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS pr FROM documents) "
        f"SELECT doc_id, lang, n_chars, {sql_round_stable('pr')} AS pct_rank, "
        f"(pr >= {LEN_PCT_LO} AND pr <= {LEN_PCT_HI}) AS keep FROM r"
    ),
    doc="Per-language length-percentile filter (the Gopher/C4 'too short / "
    "too long' band expressed distributionally): percent_rank over "
    "(n_chars, doc_id) within each language — the total order makes the "
    "rank unique per row, so both engines compute the identical "
    "(rank-1)/(n-1) — and the keep flag bands it to [5%, 95%]. Window "
    "partitions are language-sized; at 100 TB a per-language percentile "
    "would instead come from a t-digest/quantile sketch (sketch_quantile_"
    "histogram is the catalog's sketch path) — this is the exact-rank "
    "variant kept oracle-checkable.",
    tags=("curation", "quantile", "window", "filter_pred"),
)
def length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"))
    w = Window.partitionBy("lang").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    r = docs.withColumn("pr", F.percent_rank().over(w))
    return r.select(
        "doc_id",
        "lang",
        "n_chars",
        round_stable("pr").alias("pct_rank"),
        ((F.col("pr") >= LEN_PCT_LO) & (F.col("pr") <= LEN_PCT_HI)).alias("keep"),
    )


@register(
    "token_budget_sample",
    oracle=SQL_TOKEN_BUDGET,
    doc="Deterministic per-domain token-budget sampler (the corpus-mixing "
    "step that caps each source's token contribution): docs are ordered by "
    "a seeded hash (an arrival-order-free shuffle both engines replay "
    "bit-identically), a running token sum accumulates within the domain "
    "partition, and docs are kept while the cumulative count fits the "
    "budget. The window partitions by domain — state per partition is one "
    "counter, never corpus-sized; complements corpus_mix_quota's "
    "rate-based (stateless) sampler with an exact-budget (stateful-window) "
    "one.",
    tags=("curation", "sample_hashbucket", "window", "pipeline"),
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("source", "doc_id", "text"))
    t = docs.select(
        "source",
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
        h64("doc_id", "tb").alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.asc("h"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tok", F.sum("n_tok").over(w).cast("long"))
        .filter(F.col("cum_tok") <= TOKEN_BUDGET)
        .select("source", "doc_id", "n_tok", "cum_tok")
    )


@register(
    "bpe_merge_step",
    oracle=(
        f"WITH words AS (SELECT unnest({sql_tokens('text')}) AS word FROM documents), "
        "pairs AS (SELECT unnest(list_transform(range(1, length(word)), "
        "i -> substr(word, i, 2))) AS pair FROM words WHERE length(word) >= 2), "
        "cnt AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair) "
        "SELECT pair, cnt, rnk FROM (SELECT pair, cnt, row_number() OVER ("
        "ORDER BY cnt DESC, pair ASC) AS rnk FROM cnt) "
        f"WHERE rnk <= {BPE_TOPK}"
    ),
    doc="One BPE merge-step candidate scan (the tokenizer-training "
    "inner loop): count adjacent symbol pairs across every word occurrence "
    "in the corpus and rank the top merge candidates. Pair expansion is a "
    "per-word array transform (words are short, so the O(i) substring scan "
    "is bounded); counting is one corpus-linear shuffle on the pair key; "
    "the global top-k is a TakeOrderedAndProject, not a full sort. A real "
    "BPE trainer iterates this query, re-tokenizing against the merge "
    "table each round — the per-iteration cost is exactly this shape.",
    tags=("curation", "tokenize_char", "topk", "agg_count_by_key"),
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("text"))
    words = docs.select(F.explode(tokens("text")).alias("word"))
    pairs = words.filter(F.length("word") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair")
    )
    cnt = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        cnt.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BPE_TOPK)
        .select("pair", "cnt", "rnk")
    )


@register(
    "doc_perplexity_bigram",
    oracle=(
        f"WITH tarr AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents), "
        "toks AS (SELECT doc_id, unnest(toks) AS word FROM tarr), "
        "grams AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN "
        "list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) "
        "ELSE []::VARCHAR[] END) AS gram FROM tarr), "
        "c1 AS (SELECT word, COUNT(*) AS n1 FROM toks GROUP BY word), "
        "c2 AS (SELECT gram, COUNT(*) AS n2 FROM grams GROUP BY gram), "
        "j AS (SELECT g.doc_id, ln(c1.n1) - ln(c2.n2) AS nll "
        "FROM grams g JOIN c2 ON g.gram = c2.gram "
        "JOIN c1 ON string_split(g.gram, ' ')[1] = c1.word) "
        "SELECT doc_id, n_bigrams, "
        + sql_round_stable("snll / n_bigrams")
        + " AS ce, "
        f"snll / n_bigrams <= {PPL_KEEP_MAX} AS keep FROM ("
        "SELECT doc_id, COUNT(*) AS n_bigrams, "
        + sql_dsum("nll", 8)
        + " AS snll FROM j GROUP BY doc_id)"
    ),
    doc="CCNet-style language-model quality filter: score every document by "
    "its mean bigram cross-entropy -avg ln P(w2|w1) under the corpus's own "
    "bigram LM (P = c(w1 w2)/c(w1), both counts over all occurrences), "
    "keep docs at or below the threshold. The LM 'training' is two "
    "corpus-linear count aggregates; scoring joins each doc's bigram "
    "stream against the (vocabulary-scale, AQE-broadcastable) count "
    "tables — no model state outside the data flow. Float rule: the "
    "cross-row nll sum is decimal-exact (dsum — double sums are partition-"
    "order dependent) and the final ratio is round_stable'd before the "
    "hash compare (the tfidf precedent for ln()); the keep flag compares "
    "the same exact-sum ratio in both engines.",
    tags=("curation", "quality", "ngram", "agg_count_by_key"),
)
def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            tokens("text").alias("toks"),
        )
    )
    toks = docs.select("doc_id", F.explode("toks").alias("word"))
    grams = docs.select("doc_id", F.explode(ngrams("toks", 2)).alias("g")).select(
        "doc_id", ngram_text("g", 2).alias("gram")
    )
    c1 = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n1"))
    c2 = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n2"))
    j = (
        grams.join(c2, "gram")
        .withColumn("word", F.element_at(F.split("gram", " "), 1))
        .join(c1, "word")
        .select("doc_id", (F.log("n1") - F.log("n2")).alias("nll"))
    )
    agg = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        dsum("nll", 8).alias("snll"),
    )
    ce = F.col("snll") / F.col("n_bigrams")
    return agg.select(
        "doc_id",
        "n_bigrams",
        round_stable(ce).alias("ce"),
        (ce <= PPL_KEEP_MAX).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Fuzzy-dedup compositions: winnowing-fingerprint overlap and the
# cross-snapshot (shard-vs-shard) MinHash join.
# ---------------------------------------------------------------------------

WINNOW_DF_CAP = 20   # fingerprint document-frequency cap (hot-fp skew guard)
WINNOW_MIN_SHARED = 8

#: Distinct winnowing fingerprints per doc, as textanalysisq's
#: doc_fingerprints oracle computes them.
_SQL_WINNOW_FPS = f"{SQL_WINNOW_MINS}, fps AS (SELECT DISTINCT doc_id, fp FROM wmin)"


@register(
    "dedup_winnow_overlap",
    oracle=(
        f"WITH {_SQL_WINNOW_FPS}, "
        f"freq AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp) "
        f"WHERE df <= {WINNOW_DF_CAP}), "
        "keep AS (SELECT fps.doc_id, fps.fp FROM fps JOIN freq USING (fp)) "
        "SELECT ka, kb, n_shared FROM ("
        "SELECT a.doc_id AS ka, b.doc_id AS kb, "
        "CAST(COUNT(*) AS BIGINT) AS n_shared "
        "FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id "
        f"GROUP BY a.doc_id, b.doc_id) WHERE n_shared >= {WINNOW_MIN_SHARED}"
    ),
    doc="Copy-detection near-dup pairs from winnowing-fingerprint overlap "
    "(Schleimer et al. 2003 — the MOSS composition): the shuffle-free "
    "per-doc fingerprints of doc_fingerprints become an inverted index; "
    "pairs sharing >= 3 fingerprints are candidate near-dups. The "
    "fingerprint document-frequency cap bounds hot-fingerprint fan-out "
    "(the same skew guard as dedup_ngram_jaccard's shingle df cap) so the "
    "per-fingerprint join term — the only quadratic term — is O(df_cap^2) "
    "per key. Guarantees: any shared substring of length >= 11 produces a "
    "shared fingerprint, so long verbatim overlaps are always candidates.",
    tags=("dedup", "fingerprint", "pipeline"),
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked
    from ..operators.textops import doc_fingerprints

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    fps = persist_tracked(doc_fingerprints(docs))
    freq = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_DF_CAP)
        .select("fp")
    )
    keep = fps.join(freq, "fp")
    a = keep.select(F.col("doc_id").alias("ka"), "fp")
    b = keep.select(F.col("doc_id").alias("kb"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("ka") < F.col("kb"))
        .groupBy("ka", "kb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


#: dedup_cross_snapshot runs round14q's dedup-state regime: SC_HASHES (16)
#: seeded mins, SC_ROWS (4) rows per band -> 4 bands, s* = (1/4)^(1/4) ~
#: 0.71, and the SC_MIN_AGREE (4 of 16) signature-agreement floor.
_SQL_XS_SIGS = f"""
{sql_trigram_shingles('shx', 'documents')},
seeds AS (SELECT unnest(range({SC_HASHES})) AS seed),
sigs AS (SELECT doc_id, seed,
         MIN(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || shingle), 1, 15))::BIGINT) AS mh
         FROM shx CROSS JOIN seeds GROUP BY doc_id, seed)
"""

#: Scale form of _SQL_XS_SIGS (identical sigs rows, one wide-aggregate pass
#: instead of the seeds cross-join scatter — the similarityq idiom; pinned
#: equal to the scatter form at driver SFs by tests/test_scale_tools.py).
_SQL_XS_SIGS_WIDE = f"""
{sql_trigram_shingles('shx', 'documents')},
{sql_minhash_sigs_wide(SC_HASHES, False)}
"""

_SQL_XS_TAIL = f"""
{sql_lsh_bands(SC_ROWS, False)},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b USING (band, band_sig)
         WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
scored AS (SELECT doc_a, doc_b,
           CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
           FROM cand JOIN sigs sa ON doc_a = sa.doc_id
           JOIN sigs sb ON doc_b = sb.doc_id AND sa.seed = sb.seed
           GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, n_agree, n_agree / {float(SC_HASHES)} AS est
FROM scored WHERE n_agree >= {SC_MIN_AGREE}
"""


@register(
    "dedup_cross_snapshot",
    oracle=f"WITH {_SQL_XS_SIGS}, {_SQL_XS_TAIL}",
    scale_oracle=f"WITH {_SQL_XS_SIGS_WIDE}, {_SQL_XS_TAIL}",
    doc="Cross-snapshot fuzzy dedup — the shard-vs-shard generalization of "
    "dedup_incremental's shard-vs-corpus shape (a crawl pipeline deduping "
    "snapshot N+1 against snapshot N): trigram-shingle MinHash signatures "
    "(16 seeded mins, computed exchange-free as one wide aggregate), LSH "
    "banding (4 bands x 4 rows), candidates restricted to A x B pairs "
    "(doc_id parity plays the snapshot id — never A x A or B x B), "
    "verified by signature agreement >= 4/16. Both quadratic terms are "
    "bounded: band buckets by the banding, the verify join by the "
    "candidate set. Snapshot parity filters both band-join sides before "
    "the join. It reads the signature and band leaves of "
    "dedup_state_compaction (round14q._doc_sigs_bands).",
    tags=("dedup", "minhash_sig", "lsh_band", "pipeline"),
)
def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ids, sigs, bands = _doc_sigs_bands(spark, sf_dir)
    cand = lsh_candidates(
        bands.filter(F.col("doc_id") % 2 == 0),
        "doc_a",
        bands.filter(F.col("doc_id") % 2 == 1),
        "doc_b",
    )
    return (
        signature_agreement(cand, sigs, "doc_a", "doc_b")
        .filter(F.col("n_agree") >= SC_MIN_AGREE)
        .select("doc_a", "doc_b", "n_agree", (F.col("n_agree") / SC_HASHES).alias("est"))
    )
