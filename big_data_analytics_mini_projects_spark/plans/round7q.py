"""ANN, containment and substring dedup, curation sampling, BM25F and two
streaming twins over the documents and embeddings tables.

The constants and oracle text shared with other plan modules (ES_K, the
exact-substring span chain ``_SQL_ES``, the IVF CTEs, the token budget)
live in plans/shared.py, which registers no queries: importing a plan
module registers its queries, and the import order in plans/catalog.py
sets the catalog order and the cache-family boundaries, both pinned by
tests/test_plan_hygiene.py::test_catalog_pinned.

Contents:

- ``ann_ivf_nprobe``     — multi-cell IVF ANN (nprobe=3) over decimal-exact
                           per-cell centroids.
- ``dedup_containment``  — doc-in-doc containment dedup (suffix/quotation
                           case Jaccard misses).
- ``domain_lang_drift``  — per-domain language-mix drift monitor (exact
                           integer-arithmetic total-variation distance).
- ``chunk_dedup_boilerplate`` — RefinedWeb-style repeated-passage removal
                           at sub-document (10-token chunk) granularity.
- ``streaming_token_budget`` — stateful streaming twin of
                           token_budget_sample (budget counter state).
- ``dedup_exact_substring``  — overlapping K-token span dedup with maximal-
                           interval merging (the shuffle-friendly equivalent
                           of suffix-array ExactSubstr dedup).
- ``crawl_freshness_sample`` — per-source crawl-age decay sampling with
                           exact power-of-two integer acceptance.
- ``bm25f_title_body``   — multi-field BM25F (title/body field weights +
                           per-field length normalization).
- ``streaming_domain_drift`` — stateful streaming twin of
                           domain_lang_drift (per-domain language-count
                           state, drift time series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h64, h64_sql
from ..functions.text import (
    ngram_text,
    ngrams,
    round_stable,
    sql_round_stable,
    sql_tokens,
    sql_trigram_shingles,
    tokens,
)
from ..operators.aggregates import dsum, sql_dsum
from ..operators.similarity import containment_pairs, ngram_shingles
from ..operators.vector import cosine_topk_ivf
from ..sources.tables import load_table, spread
from .registry import register
from .shared import (
    _SQL_ES,
    _SQL_IVF,
    ES_K,
    IVF_K,
    IVF_NPROBE,
    IVF_QUERIES,
    SQL_TOKEN_BUDGET,
    TOKEN_BUDGET,
    embedding_vectors,
    span_islands,
)


@register(
    "ann_ivf_nprobe",
    oracle=(
        f"WITH {_SQL_IVF} "
        f"SELECT query_id, neighbor_id, rank, {sql_round_stable('cos', 6)} AS cos "
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rank FROM pairs) "
        f"WHERE rank <= {IVF_K}"
    ),
    doc="Multi-cell IVF top-k (nprobe=3 of 10 cells): per-cell centroids as "
    "decimal-exact component means (posexplode -> cells x dim keyed "
    "aggregate, map-side combined), each query probes its 3 nearest cells "
    "by squared L2 to the centroid, candidates are an equi-join on the cell "
    "id. Recovers the across-cell-boundary neighbors probe-1 blocked search "
    "(ann_cosine_topk_blocked) misses at 3/10 of brute-force cost — the "
    "IVF recall/cost dial, complementing the SRP dial "
    "(ann_multiprobe_topk). Centroid and probe frames are broadcast-sized "
    "at any corpus scale; only the cell equi-join touches the corpus.",
    tags=("ann", "similarity_search"),
)
def ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = embedding_vectors(spark, sf_dir)
    out = cosine_topk_ivf(
        vecs, vecs.filter(F.col("vec_id") < IVF_QUERIES), IVF_K, nprobe=IVF_NPROBE
    )
    return out.select(
        "query_id", "neighbor_id", "rank", round_stable("cos", 6).alias("cos")
    )


CONT_TAU = 0.9   # containment floor: |A∩B| / |A| for the smaller set A
CONT_DF_CAP = 500

#: The df-capped co-occurrence CTEs of similarityq's _SQL_SHINGLES with the
#: cap as a parameter (a plans-module import would move the catalog order
#: and the cache-family boundaries).
_SQL_CONT = f"""
{sql_trigram_shingles('sh', 'documents')},
freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
keep AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle)
         WHERE df <= {CONT_DF_CAP}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS n_common
           FROM keep a JOIN keep b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
"""


@register(
    "dedup_containment",
    oracle=(
        f"WITH {_SQL_CONT} "
        "SELECT CASE WHEN sa.n_sh <= sb.n_sh THEN ka ELSE kb END AS inner_doc, "
        "CASE WHEN sa.n_sh <= sb.n_sh THEN kb ELSE ka END AS outer_doc, "
        "n_common, LEAST(sa.n_sh, sb.n_sh) AS n_inner, "
        + sql_round_stable("CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh)")
        + " AS containment "
        "FROM common JOIN sizes sa ON ka = sa.doc_id JOIN sizes sb ON kb = sb.doc_id "
        f"WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= {CONT_TAU}"
    ),
    doc="Doc-in-doc containment dedup: C = |A∩B| / min(|A|,|B|) over "
    "distinct word-trigram sets — the suffix/quotation case Jaccard "
    "misses (a short doc fully embedded in a long one scores |A|/|B| "
    "under Jaccard, far below any near-dup floor, but 1.0 under "
    "containment). Candidates from the same df-capped inverted shingle "
    "index as dedup_ngram_jaccard (hot-shingle skew guard); the smaller "
    "set is emitted as inner_doc — the side a containment-pruning "
    "pipeline would drop.",
    tags=("dedup", "ngram", "curation"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        tokens("text").alias("toks"),
    )
    sh = ngram_shingles(docs, n=3)
    out = containment_pairs(sh, min_containment=CONT_TAU, df_cap=CONT_DF_CAP)
    return out.select(
        "inner_doc",
        "outer_doc",
        "n_common",
        "n_inner",
        round_stable("containment").alias("containment"),
    )


#: Shared by the batch query below AND its stateful streaming twin
#: (streaming_domain_drift), which must agree on the oracle text bit-for-bit.
SQL_DOMAIN_DRIFT = (
    "WITH g AS (SELECT source, lang, "
    f"COUNT(*) FILTER ({h64_sql('doc_id', 'snap')} % 2 = 0) AS ca, "
    f"COUNT(*) FILTER ({h64_sql('doc_id', 'snap')} % 2 = 1) AS cb "
    "FROM documents GROUP BY source, lang), "
    "t AS (SELECT source, CAST(SUM(ca) AS BIGINT) AS na, "
    "CAST(SUM(cb) AS BIGINT) AS nb FROM g GROUP BY source), "
    "d AS (SELECT g.source AS source, MAX(t.na) AS n_a, MAX(t.nb) AS n_b, "
    "CAST(COUNT(*) AS BIGINT) AS n_langs, "
    "CAST(SUM(abs(g.ca * t.nb - g.cb * t.na)) AS BIGINT) AS num "
    "FROM g JOIN t USING (source) GROUP BY g.source) "
    "SELECT source, n_a, n_b, n_langs, "
    + sql_round_stable("num / (2.0 * n_a * n_b)")
    + " AS tvd FROM d WHERE n_a > 0 AND n_b > 0"
)


@register(
    "domain_lang_drift",
    oracle=SQL_DOMAIN_DRIFT,
    doc="Per-domain language-mix drift monitor: "
    "the corpus split into two snapshot halves by a seeded doc hash, "
    "per-domain language share vectors compared by total-variation "
    "distance. TVD is computed in INTEGER arithmetic — "
    "sum|ca*nb - cb*na| as an exact BIGINT, one double division at the "
    "end — so no float accumulation order exists to diverge between "
    "engines or runs. Two corpus-linear groupBys + a domain-keyed join of "
    "domain-sized frames; the drift gauge a continuously-ingesting "
    "pipeline alerts on when a crawl snapshot shifts a domain's language "
    "mix.",
    tags=("curation", "agg_count_by_key", "skew"),
)
def domain_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    )
    b = (h64("doc_id", "snap") % 2).alias("b")
    g = (
        docs.select("source", "lang", b)
        .groupBy("source", "lang")
        .agg(
            F.count(F.when(F.col("b") == 0, 1)).alias("ca"),
            F.count(F.when(F.col("b") == 1, 1)).alias("cb"),
        )
    )
    t = g.groupBy("source").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    d = (
        g.join(t, "source")
        .groupBy("source")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.count(F.lit(1)).alias("n_langs"),
            F.sum(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).alias(
                "num"
            ),
        )
    )
    tvd = F.col("num") / (F.lit(2.0) * F.col("n_a") * F.col("n_b"))
    return d.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "source", "n_a", "n_b", "n_langs", round_stable(tvd).alias("tvd")
    )


CHUNK_TOKS = 10   # "line" analogue for the newline-free synthetic corpus
BOILER_DF = 2     # chunk text appearing in >= 2 distinct docs = boilerplate


def chunk_col(toks_col: str = "toks") -> F.Column:
    """Fixed CHUNK_TOKS-token chunk array from a token-array column — one per-row
    transform, zero shuffle. The empty-token guard matters: Spark's
    sequence(0, -1) DESCENDS (yields [0, -1]) instead of producing an empty
    range like DuckDB's range(0, 0), so an unguarded empty doc would emit
    two phantom chunks."""
    return F.when(
        F.size(toks_col) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.expr(
            f"transform(sequence(0, "
            f"cast(ceil(size({toks_col}) / {CHUNK_TOKS}.0) as int) - 1), "
            f"i -> array_join("
            f"slice({toks_col}, i * {CHUNK_TOKS} + 1, {CHUNK_TOKS}), ' '))"
        )
    )


@register(
    "chunk_dedup_boilerplate",
    oracle=(
        "WITH tarr AS (SELECT doc_id, "
        f"{sql_tokens('text')} AS toks "
        "FROM documents), "
        "ch AS (SELECT doc_id, unnest(list_transform("
        f"range(0, CAST(ceil(len(toks) / {CHUNK_TOKS}.0) AS BIGINT)), "
        f"i -> array_to_string(toks[i * {CHUNK_TOKS} + 1:(i + 1) * {CHUNK_TOKS}], ' ')"
        ")) AS chunk FROM tarr), "
        "d AS (SELECT DISTINCT doc_id, chunk FROM ch), "
        "f AS (SELECT chunk, COUNT(*) AS df FROM d GROUP BY chunk), "
        f"b AS (SELECT chunk FROM f WHERE df >= {BOILER_DF}) "
        "SELECT ch.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, "
        "CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_boiler, "
        "CAST(SUM(CASE WHEN b.chunk IS NULL THEN "
        "len(string_split(ch.chunk, ' ')) ELSE 0 END) AS BIGINT) AS kept_tokens "
        "FROM ch LEFT JOIN b ON ch.chunk = b.chunk GROUP BY ch.doc_id"
    ),
    doc="Repeated-passage (boilerplate) removal at sub-document granularity "
    "— the RefinedWeb/C4 line-dedup stage, with fixed 10-token chunks as "
    "the line analogue for this newline-free corpus: chunks whose exact "
    "text appears in >= 2 distinct docs are dropped; per doc the surviving "
    "chunk/token accounting is emitted. Chunking is a per-row array "
    "transform (zero shuffle); the df count and the boiler-mark join are "
    "both keyed on the chunk text — corpus-linear, and the post-join "
    "aggregate is per-doc so a viral chunk fans out only to its own "
    "occurrences.",
    tags=("dedup", "curation", "ngram"),
)
def chunk_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    d = docs.select("doc_id", tokens("text").alias("toks"))
    ch = d.select("doc_id", F.explode(chunk_col("toks")).alias("chunk"))
    dist = ch.distinct()
    boiler = (
        dist.groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= BOILER_DF)
        .select("chunk", F.lit(1).alias("is_b"))
    )
    marked = ch.join(boiler, "chunk", "left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("is_b") == 1, 1).otherwise(0)).alias("n_boiler"),
        F.sum(
            F.when(F.col("is_b").isNull(), F.size(F.split(F.col("chunk"), " "))).otherwise(0)
        )
        .cast("long")
        .alias("kept_tokens"),
    )


@register(
    "streaming_token_budget",
    oracle=SQL_TOKEN_BUDGET,
    doc="Stateful streaming twin of token_budget_sample "
    "(applyInPandasWithState, append mode): per domain the state is one "
    "long — cumulative tokens seen — and each micro-batch emits the docs "
    "that still fit the budget in the seeded hash order the batch window "
    "replays. availableNow delivers the whole table as one batch per key, "
    "so stream output == the batch oracle bit-for-bit; on a live stream "
    "the budget carries across arrival windows with O(domains) state.",
    tags=("streaming", "stateful", "curation", "sample_hashbucket"),
    bench=False,  # streaming job startup dominates; batch twin is benched
)
def streaming_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import (
        documents_stream,
        run_available_now,
        stream_token_budget,
    )

    return run_available_now(
        stream_token_budget(documents_stream(spark, sf_dir), TOKEN_BUDGET),
        output_mode="append",
    )


@register(
    "dedup_exact_substring",
    oracle=(
        f"WITH {_SQL_ES} "
        "SELECT doc_id, n_tokens, CAST(SUM(covered) AS BIGINT) AS dup_tokens, "
        "CAST(COUNT(*) AS BIGINT) AS n_islands, "
        + sql_round_stable("CAST(SUM(covered) AS DOUBLE) / n_tokens")
        + " AS dup_ratio "
        "FROM cov GROUP BY doc_id, n_tokens"
    ),
    doc="Exact-substring dedup accounting (the GPT-3/ExactSubstr stage, "
    "suffix-array semantics re-expressed shuffle-friendly): every "
    "overlapping 12-token span is hashed (one per-row array transform, one "
    "corpus-linear explode), spans seen in >= 2 DISTINCT docs mark their "
    "positions as duplicated, and per doc the marked [pos, pos+11] "
    "intervals are merged into maximal islands by the classic "
    "gaps-and-islands running-max window — emitting per-doc duplicated-"
    "token counts matching a suffix-array pass over the concatenated "
    "corpus for CROSS-DOCUMENT matches of length >= K, at any alignment "
    "(within-document repeats are deliberately excluded by the distinct-"
    "doc rule — a doc is not a duplicate of itself; pinned in tests). Scale: the "
    "span stream is one row per token position (corpus-linear); the "
    "duplicate-span frequency group keys on a uniform 60-bit hash (no "
    "skew); the dup-set join back is duplicate-vocabulary-scale (unhinted "
    "— AQE broadcasts while small); island merging partitions by doc_id, "
    "bounded by document length. No quadratic term anywhere.",
    tags=("dedup", "fingerprint", "curation", "window"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return exact_substring_stats(docs)


def exact_substring_stats(docs: DataFrame) -> DataFrame:
    """Core of dedup_exact_substring over any (doc_id, text) frame — split
    out so fixtures can drive the island-merging and distinct-doc rules
    directly (tests/test_round7q.py)."""
    d = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens"), "toks"
    )
    sp = d.select(
        "doc_id", "n_tokens", F.posexplode(ngrams("toks", ES_K)).alias("pos", "span")
    ).select(
        "doc_id", "n_tokens", "pos", h64(ngram_text("span", ES_K), "es").alias("h")
    )
    dup = (
        sp.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    # dup is duplicate-vocabulary-scale — unhinted, AQE decides (tfidf pattern)
    m = sp.join(dup, "h").select("doc_id", "n_tokens", "pos")
    isl = span_islands(m, ES_K)
    cov = isl.groupBy("doc_id", "n_tokens", "island").agg(
        (F.max("pos") - F.min("pos") + F.lit(ES_K)).alias("covered")
    )
    return cov.groupBy("doc_id", "n_tokens").agg(
        F.sum("covered").alias("dup_tokens"),
        F.count(F.lit(1)).alias("n_islands"),
        round_stable(
            F.sum("covered").cast("double") / F.col("n_tokens")
        ).alias("dup_ratio"),
    )


CRAWL_AGES = 8   # seeded snapshot ages 0..7; acceptance probability 2^-age


@register(
    "crawl_freshness_sample",
    oracle=(
        "WITH t AS (SELECT source, "
        f"{h64_sql('doc_id', 'age')} % {CRAWL_AGES} AS age, "
        f"{h64_sql('doc_id', 'fr')} AS hk, "
        f"len({sql_tokens('text')}) AS n_tok "
        "FROM documents), "
        "k AS (SELECT source, age, n_tok, "
        "CASE WHEN hk % (1 << age) = 0 THEN 1 ELSE 0 END AS kept FROM t) "
        "SELECT source, age, COUNT(*) AS n_docs, "
        "CAST(SUM(kept) AS BIGINT) AS n_kept, "
        "CAST(COALESCE(SUM(CASE WHEN kept = 1 THEN n_tok END), 0) AS BIGINT) "
        "AS kept_tokens, "
        + sql_dsum("n_tok / pow(2.0, age)", 7)
        + " AS fresh_token_mass "
        "FROM k GROUP BY source, age"
    ),
    doc="Per-source crawl-freshness decay sampling: each doc gets a seeded "
    "snapshot age 0..7 and survives with "
    "probability exactly 2^-age via INTEGER acceptance — "
    "h % (1 << age) == 0 — so no float RNG or threshold comparison exists "
    "to diverge between engines, and every kept set is reproducible from "
    "doc_id alone (the property resharding must preserve). "
    "fresh_token_mass is the decayed token weight sum n_tok * 2^-age: each "
    "term has <= 7 fractional decimal digits, so the decimal(18,7) dsum is "
    "EXACT — accumulation order cannot perturb it. One corpus-linear pass, "
    "one (source, age)-keyed aggregate with map-side combine; output is "
    "sources x ages rows.",
    tags=("sampling", "sample_hashbucket", "curation"),
)
def crawl_freshness_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    t = docs.select(
        "source",
        (h64("doc_id", "age") % CRAWL_AGES).alias("age"),
        h64("doc_id", "fr").alias("hk"),
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    k = t.select(
        "source",
        "age",
        "n_tok",
        F.when(
            F.col("hk") % F.expr("shiftleft(1L, cast(age as int))") == 0, 1
        )
        .otherwise(0)
        .alias("kept"),
    )
    return k.groupBy("source", "age").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept") == 1, F.col("n_tok"))), F.lit(0)
        ).alias("kept_tokens"),
        dsum(F.col("n_tok") / F.pow(F.lit(2.0), F.col("age")), 7).alias(
            "fresh_token_mass"
        ),
    )


BM25F_TITLE_LEN = 8    # title = first 8 tokens; body = the rest
BM25F_W_T = 2.0        # field weights
BM25F_W_B = 1.0
BM25F_B = 0.75         # per-field length-normalization slope (both fields)
BM25F_K1 = 1.2

#: Weighted-field term frequency, written ONCE and spliced twice into the
#: oracle (score numerator and saturation denominator) so the IEEE operation
#: order matches the Spark expression token-for-token.
#: A field with avg length 0 has NO term rows (every doc's field is empty),
#: so its tf is always 0 — but the normalizer is still evaluated; the CASE
#: keeps it finite (1.0 is arbitrary: 0 / 1.0 = 0) and ANSI-safe in Spark.
_SQL_BM25F_WTF = (
    f"({BM25F_W_T} * tf_t / "
    f"(CASE WHEN avg_t > 0 THEN {1.0 - BM25F_B} + {BM25F_B} * len_t / avg_t ELSE 1.0 END) + "
    f"{BM25F_W_B} * tf_b / "
    f"(CASE WHEN avg_b > 0 THEN {1.0 - BM25F_B} + {BM25F_B} * len_b / avg_b ELSE 1.0 END))"
)


@register(
    "bm25f_title_body",
    oracle=(
        "WITH tarr AS (SELECT doc_id, "
        f"{sql_tokens('text')} AS toks "
        "FROM documents), "
        f"fl AS (SELECT doc_id, least(len(toks), {BM25F_TITLE_LEN}) AS len_t, "
        f"len(toks) - least(len(toks), {BM25F_TITLE_LEN}) AS len_b, toks FROM tarr), "
        "terms AS ("
        f"SELECT doc_id, len_t, len_b, 't' AS fld, unnest(toks[1:{BM25F_TITLE_LEN}]) "
        "AS word FROM fl "
        "UNION ALL "
        f"SELECT doc_id, len_t, len_b, 'b' AS fld, "
        f"unnest(toks[{BM25F_TITLE_LEN + 1}:len(toks)]) AS word FROM fl), "
        "tf AS (SELECT doc_id, len_t, len_b, word, "
        "CAST(SUM(CASE WHEN fld = 't' THEN 1 ELSE 0 END) AS BIGINT) AS tf_t, "
        "CAST(SUM(CASE WHEN fld = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS tf_b "
        "FROM terms GROUP BY doc_id, len_t, len_b, word), "
        "dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word), "
        "stats AS (SELECT COUNT(*) AS n_docs, "
        "CAST(SUM(len_t) AS BIGINT) / COUNT(*) AS avg_t, "
        "CAST(SUM(len_b) AS BIGINT) / COUNT(*) AS avg_b FROM fl), "
        "s AS (SELECT doc_id, word, tf_t, tf_b, "
        f"ln((n_docs + 1.0) / (df + 1.0)) * {_SQL_BM25F_WTF} / "
        f"({BM25F_K1} + {_SQL_BM25F_WTF}) AS score "
        "FROM tf JOIN dfreq USING (word) CROSS JOIN stats) "
        "SELECT doc_id, word, tf_t, tf_b, "
        + sql_round_stable("score")
        + " AS bm25f "
        "FROM (SELECT *, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY score DESC, word ASC) AS rn FROM s) WHERE rn <= 5"
    ),
    doc="Multi-field BM25F (title = first 8 tokens, body = rest, as the "
    "field split this single-text corpus supports): per-field term "
    "frequencies fold into one weighted, per-field-length-normalized "
    "tf-tilde (w_t=2, w_b=1, b=0.75), saturated by k1=1.2 and scaled by "
    "the same smoothed idf the TF-IDF/BM25 family uses — top-5 terms per "
    "doc with deterministic tiebreak. Field lengths ride THROUGH the term "
    "explode so no doc-keyed join back is needed; corpus stats (N, exact "
    "integer-sum average field lengths) broadcast as one scalar row; the "
    "document-frequency join is vocabulary-scale (unhinted — AQE). Two "
    "token-row shuffles + one per-doc top-k window, the same plan shape "
    "as tfidf_top_terms.",
    tags=("tfidf", "text_analysis", "topk", "join_broadcast"),
)
def bm25f_title_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return bm25f_scores(docs)


def bm25f_scores(docs: DataFrame, top_n: int = 5) -> DataFrame:
    """Core of bm25f_title_body over any (doc_id, text) frame — split out so
    fixtures can drive the field-weighting semantics directly (top_n lets
    tests see the full ranking; the declared query keeps the default 5)."""
    fl = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        F.least(F.size("toks"), F.lit(BM25F_TITLE_LEN)).cast("long").alias("len_t"),
        (F.size("toks") - F.least(F.size("toks"), F.lit(BM25F_TITLE_LEN)))
        .cast("long")
        .alias("len_b"),
        "toks",
    )
    t_terms = fl.select(
        "doc_id",
        "len_t",
        "len_b",
        F.lit("t").alias("fld"),
        F.explode(F.slice("toks", 1, BM25F_TITLE_LEN)).alias("word"),
    )
    b_terms = fl.select(
        "doc_id",
        "len_t",
        "len_b",
        F.lit("b").alias("fld"),
        F.explode(
            F.expr(f"slice(toks, {BM25F_TITLE_LEN + 1}, size(toks))")
        ).alias("word"),
    )
    tf = (
        t_terms.unionByName(b_terms)
        .groupBy("doc_id", "len_t", "len_b", "word")
        .agg(
            F.sum(F.when(F.col("fld") == "t", 1).otherwise(0)).alias("tf_t"),
            F.sum(F.when(F.col("fld") == "b", 1).otherwise(0)).alias("tf_b"),
        )
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = fl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len_t").alias("sum_t"),
        F.sum("len_b").alias("sum_b"),
    ).select(
        "n_docs",
        (F.col("sum_t") / F.col("n_docs")).alias("avg_t"),
        (F.col("sum_b") / F.col("n_docs")).alias("avg_b"),
    )
    def _norm(len_c: str, avg_c: str) -> F.Column:
        # empty-field guard: see _SQL_BM25F_WTF note (tf is 0 whenever this arm fires)
        return F.when(
            F.col(avg_c) > 0,
            F.lit(1.0 - BM25F_B) + F.lit(BM25F_B) * F.col(len_c) / F.col(avg_c),
        ).otherwise(F.lit(1.0))

    wtf = F.lit(BM25F_W_T) * F.col("tf_t") / _norm("len_t", "avg_t") + F.lit(
        BM25F_W_B
    ) * F.col("tf_b") / _norm("len_b", "avg_b")
    scored = (
        # dfreq is vocabulary-scale — unhinted, AQE decides (tfidf pattern)
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            * wtf
            / (F.lit(BM25F_K1) + wtf),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select("doc_id", "word", "tf_t", "tf_b", round_stable("score").alias("bm25f"))
    )


@register(
    "streaming_domain_drift",
    oracle=SQL_DOMAIN_DRIFT,
    doc="Stateful streaming twin of domain_lang_drift "
    "(applyInPandasWithState, append mode): per source the state is the "
    "per-language (ca, cb) snapshot-half count vector — O(languages) per "
    "domain, independent of corpus size — and each micro-batch folds its "
    "rows in and append-emits the refreshed exact-integer TVD row. "
    "availableNow delivers the whole table as one batch per key, so stream "
    "output == the batch query bit-for-bit; on a live stream each batch "
    "appends an updated row per touched domain — the per-domain drift TIME "
    "SERIES a continuously-ingesting crawl pipeline alerts on.",
    tags=("streaming", "stateful", "curation", "skew"),
    bench=False,  # streaming job startup dominates; batch twin is benched
)
def streaming_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import (
        documents_stream,
        run_available_now,
        stream_domain_drift,
    )

    return run_available_now(
        stream_domain_drift(documents_stream(spark, sf_dir)), output_mode="append"
    )
