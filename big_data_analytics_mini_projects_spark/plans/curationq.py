"""Corpus-curation + graph queries (beyond-reference, SURVEY.md §2.13):
cross-document duplicate n-gram coverage, Gopher-style repetition ratios,
train/test n-gram contamination, exact prefix-filtered set-similarity join,
and triangle counting over a k-NN co-occurrence graph.

All five are round-3 additions — registered in catalog tier 1/2 so each gets
a driver CORRECTNESS verdict in its first round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.curation import (
    dup_ngram_coverage,
    ngram_contamination,
    ngram_stream,
    pack_sequences,
    repetition_ratios,
)
from ..operators.graphs import triangle_count
from ..functions.hashing import h64
from ..functions.text import round_stable, sql_round_stable, sql_tokens, tokens
from ..operators.similarity import jaccard_prefix_pairs, ngram_shingles
from ..sources.tables import load_table, spread
from .registry import register
from .shared import PACK_SHARD

_SQL_TOKS = (
    f"tarr AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)"
)


def _sql_grams(n: int, distinct: bool) -> str:
    """Positional (or distinct) word n-grams CTE named g, mirroring
    operators/curation.ngram_stream / similarity.ngram_shingles."""
    inner = (
        f"SELECT doc_id, unnest(CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(range(1, len(toks) - {n - 2}), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' ')) "
        "ELSE []::VARCHAR[] END) AS gram FROM tarr"
    )
    if distinct:
        return f"g AS (SELECT DISTINCT doc_id, gram FROM ({inner}))"
    return f"g AS ({inner})"


def _docs_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            tokens("text").alias("toks"),
        )
    )


@register(
    "dup_ngram_coverage",
    oracle=(
        f"WITH {_SQL_TOKS}, {_sql_grams(5, distinct=False)}, "
        "df AS (SELECT gram, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY gram) "
        f"SELECT doc_id, n_grams, n_dup, {sql_round_stable('CAST(n_dup AS DOUBLE) / n_grams')} "
        "AS dup_frac FROM ("
        "SELECT doc_id, COUNT(*) AS n_grams, "
        "CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup "
        "FROM g JOIN df USING (gram) GROUP BY doc_id)"
    ),
    doc="RefinedWeb-style duplicated-5-gram coverage: fraction of each doc's "
    "5-gram POSITIONS whose gram also occurs in another document. Positional "
    "grams are a per-row array transform (zero shuffle); coverage is two "
    "linear groupBys (gram df, then doc rollup).",
    tags=("curation", "dedup", "ngram"),
)
def dup_ngram_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = ngram_stream(_docs_toks(spark, sf_dir), n=5)
    cov = dup_ngram_coverage(grams)
    return cov.select(
        "doc_id", "n_grams", "n_dup", round_stable("dup_frac").alias("dup_frac")
    )


@register(
    "repetition_ratios",
    oracle=(
        f"WITH {_SQL_TOKS}, "
        "sizes AS (SELECT doc_id, len(toks) AS n_tokens FROM tarr WHERE len(toks) >= 2), "
        "tok AS (SELECT doc_id, unnest(toks) AS tok FROM tarr), "
        "mt AS (SELECT doc_id, MAX(c) AS max_tok FROM "
        "(SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok) GROUP BY doc_id), "
        f"{_sql_grams(2, distinct=False)}, "
        "mb AS (SELECT doc_id, MAX(c) AS max_bg FROM "
        "(SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram) GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, "
        f"{sql_round_stable('CAST(max_tok AS DOUBLE) / n_tokens')} AS top_token_frac, "
        f"{sql_round_stable('2.0 * max_bg / n_tokens')} AS top_bigram_frac "
        "FROM sizes JOIN mt USING (doc_id) JOIN mb USING (doc_id)"
    ),
    doc="Gopher/MassiveText repetition filters (Rae et al. 2021 §A1): "
    "token-denominated share of the most frequent token and word bigram per "
    "doc. Two (doc, gram) partial aggregations — map-side combine, keys "
    "scale with corpus size, never per-doc quadratic.",
    tags=("curation", "quality", "text_analysis"),
)
def repetition_ratios_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep = repetition_ratios(_docs_toks(spark, sf_dir))
    return rep.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        round_stable("top_token_frac").alias("top_token_frac"),
        round_stable("top_bigram_frac").alias("top_bigram_frac"),
    )


@register(
    "contamination_13gram",
    oracle=(
        f"WITH {_SQL_TOKS}, {_sql_grams(13, distinct=True)}, "
        "test AS (SELECT doc_id AS test_id, gram FROM g WHERE doc_id % 20 = 0), "
        "train AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0) "
        "SELECT doc_id, COUNT(DISTINCT test_id) AS n_test_docs, "
        "COUNT(DISTINCT train.gram) AS n_shared_shingles "
        "FROM train JOIN test USING (gram) GROUP BY doc_id"
    ),
    doc="Train/test 13-gram contamination screen (the GPT-3 eval-leakage "
    "check): held-out slice = doc_id % 20 == 0; inverted-index equi-join on "
    "the shingle whose fan-out is bounded by the held-out side's df (an eval "
    "suite stays fixed-size at 100 TB), so the probe is linear in training "
    "shingles.",
    tags=("curation", "contamination", "ngram"),
)
def contamination_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = ngram_shingles(_docs_toks(spark, sf_dir), n=13)
    return ngram_contamination(sh, test_mod=20)


@register(
    "dedup_jaccard_prefix",
    oracle=(
        f"WITH {_SQL_TOKS}, {_sql_grams(3, distinct=True)}, "
        "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM g GROUP BY doc_id), "
        "common AS (SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS n_common "
        "FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id) "
        "SELECT ka, kb, n_common, "
        + sql_round_stable("CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)")
        + " AS jaccard "
        "FROM common JOIN sizes sa ON ka = sa.doc_id JOIN sizes sb ON kb = sb.doc_id "
        "WHERE 10 * n_common >= 6 * (sa.n_sh + sb.n_sh - n_common)"
    ),
    doc="EXACT set-similarity self-join at Jaccard >= 0.6 via prefix "
    "filtering (AllPairs/PPJoin, Bayardo et al. 2007): global (df asc, "
    "shingle) order, only each doc's first n - ceil(0.6 n) + 1 shingles are "
    "indexed — provably no dropped pairs, and the inverted index touches the "
    "RARE end of the vocabulary instead of df-capping away the hot end. The "
    "oracle is the naive all-pairs join, so the driver pins exact recall.",
    tags=("curation", "dedup", "ngram", "prefix_filter"),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = ngram_shingles(_docs_toks(spark, sf_dir), n=3)
    pairs = jaccard_prefix_pairs(sh, tau_tenths=6)
    return pairs.select(
        "ka", "kb", "n_common", round_stable("jaccard").alias("jaccard")
    )


@register(
    "triangle_count_knn",
    oracle=(
        "WITH p AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem), "
        "w AS (SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, COUNT(*) AS cnt "
        "FROM p a JOIN p b USING (l_orderkey) WHERE a.l_suppkey <> b.l_suppkey "
        "GROUP BY 1, 2), "
        "knn AS (SELECT sa, sb FROM (SELECT sa, sb, row_number() OVER "
        "(PARTITION BY sa ORDER BY cnt DESC, sb ASC) AS rn FROM w) WHERE rn <= 3), "
        "e AS (SELECT DISTINCT least(sa, sb) AS a, greatest(sa, sb) AS b FROM knn) "
        "SELECT (SELECT COUNT(DISTINCT n) FROM (SELECT a AS n FROM e "
        "UNION ALL SELECT b FROM e)) AS n_nodes, "
        "(SELECT COUNT(*) FROM e) AS n_edges, "
        "(SELECT COUNT(*) FROM e x JOIN e y ON x.b = y.a "
        "JOIN e z ON z.a = x.a AND z.b = y.b) AS n_triangles"
    ),
    doc="Triangle count over the top-3 co-supply k-NN graph: per-order "
    "supplier pairs (fan-out bounded by order size, ~7 in TPC-H — linear in "
    "lineitem), weights -> top-3 neighbors per supplier (window partition = "
    "one supplier's candidate list, bounded by the supplier DIMENSION, not "
    "the fact table), then degree-ordered wedge enumeration (Suri & "
    "Vassilvitskii 2011) whose O(m^1.5) bound survives hubs. k-NN blocking "
    "keeps the graph sparse where raw co-occurrence projections go complete.",
    tags=("graph", "triangles", "knn"),
)
def triangle_count_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = p.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sa"))
    b = p.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sb"))
    w = (
        a.join(b, "k")
        .filter(F.col("sa") != F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rn = F.row_number().over(
        Window.partitionBy("sa").orderBy(F.desc("cnt"), F.asc("sb"))
    )
    knn = w.withColumn("rn", rn).filter(F.col("rn") <= 3).select("sa", "sb")
    return triangle_count(knn, src="sa", dst="sb")


@register(
    "pack_sequences_2048",
    oracle=(
        f"WITH {_SQL_TOKS}, "
        f"d AS (SELECT doc_id, doc_id // {PACK_SHARD} AS shard, "
        "CAST(len(toks) AS BIGINT) AS n_tok FROM tarr), "
        "s AS (SELECT shard, n_tok, SUM(n_tok) OVER (PARTITION BY shard "
        "ORDER BY doc_id) - n_tok AS strt FROM d) "
        "SELECT shard, CAST(strt // 2048 AS BIGINT) AS seq_bin, COUNT(*) AS n_docs, "
        "CAST(SUM(n_tok) AS BIGINT) AS n_tokens "
        "FROM s GROUP BY shard, strt // 2048"
    ),
    doc="Concat-then-chunk sequence packing into 2048-token context windows "
    f"(the pretraining batch-prep step), packed within bounded {PACK_SHARD}-doc shards "
    "so the running-offset window partition is capped by construction — "
    "shards pack independently and in parallel; no global running sum, no "
    "single-partition window.",
    tags=("curation", "pipeline", "window"),
)
def pack_sequences_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(_docs_toks(spark, sf_dir), ctx=2048, shard_size=PACK_SHARD)


#: Corpus-mixing target: keep ~half the corpus tokens, split equally across
#: sources (basis points so every rate computation is integer arithmetic).
MIX_TARGET_BP = 5000


@register(
    "corpus_mix_quota",
    oracle=(
        f"WITH {_SQL_TOKS}, "
        "d AS (SELECT t.doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok, "
        "('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT "
        "% 10000 AS h FROM tarr t JOIN documents USING (doc_id)), "
        "tot AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tok FROM d GROUP BY source), "
        "quota AS (SELECT source, src_tok, "
        f"CAST((SUM(src_tok) OVER ()) * {MIX_TARGET_BP} // 10000 "
        "// (COUNT(*) OVER ()) AS BIGINT) AS q FROM tot), "
        # src_tok > 0: a source whose docs all tokenize to zero tokens would
        # make the rate NULL — both engines happened to agree by ignoring
        # NULL in LEAST; make the edge explicit instead (such a source keeps
        # nothing, which the h < rate filter then encodes as rate_bp = 0).
        "rates AS (SELECT source, src_tok, "
        "CAST(LEAST(10000, q * 10000 // src_tok) AS BIGINT) AS rate_bp "
        "FROM quota WHERE src_tok > 0) "
        "SELECT d.source, rate_bp, COUNT(*) AS n_docs_kept, "
        "CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept "
        "FROM d JOIN rates ON d.source = rates.source "
        "WHERE h < rate_bp GROUP BY d.source, rate_bp"
    ),
    doc="Quota-based corpus mixing (the pretraining data-mixture step): each "
    "source gets an equal share of a 50% total-token budget; per-source "
    "acceptance rates are exact integer basis points and documents are kept "
    "by a deterministic cross-engine hash, so every engine keeps the SAME "
    "documents. Totals are one bounded per-source aggregate (window over "
    "the source DIMENSION, not the corpus); acceptance is a map-side "
    "filter — no sort, no global sample.",
    tags=("curation", "sampling", "pipeline"),
)
def corpus_mix_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    d = spread(docs).withColumn("h", h64("doc_id", "mix") % 10000)
    tot = d.groupBy("source").agg(F.sum("n_tok").alias("src_tok"))
    # bounded window: one row per SOURCE (a dimension), never per document
    quota = tot.withColumn(
        "q",
        F.expr(
            f"((sum(src_tok) over ()) * {MIX_TARGET_BP} div 10000) "
            "div (count(1) over ())"
        ),
    )
    rates = quota.filter(F.col("src_tok") > 0).select(
        "source",
        "src_tok",
        F.least(F.lit(10000), F.expr("(q * 10000) div src_tok"))
        .cast("long")
        .alias("rate_bp"),
    )
    return (
        d.join(rates, "source")
        .filter(F.col("h") < F.col("rate_bp"))
        .groupBy("source", "rate_bp")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").alias("n_tokens_kept"),
        )
    )
