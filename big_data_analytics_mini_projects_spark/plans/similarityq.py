"""MinHash / LSH / dedup queries (SURVEY.md §2.7 + training-data dedup suite)
over the `documents` table.

All hash math uses the cross-engine md5 h64 (functions/hashing.py), so each
pipeline stage is reproduced verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.similarity import (
    BIT_POWERS,
    connected_components,
    connected_components_twophase,
    dedup_exact,
    lsh_bands,
    lsh_candidates,
    minhash_jaccard,
    minhash_signatures,
    ngram_jaccard_pairs,
    ngram_shingles,
    simhash_near_pairs,
    simhash_values,
    sql_lsh_bands,
    sql_minhash_sigs,
    sql_minhash_sigs_wide,
)
from ..functions.text import (
    round_stable,
    sql_round_stable,
    sql_tokens_ws,
    sql_trigram_shingles,
    tokenize_ws,
    tokens,
)
from ..sources.tables import load_table, spread
from .registry import register
from ..caching import checkpoint_shared, persist_tracked

NUM_HASHES = 32
ROWS_PER_BAND = 4  # -> 8 bands; s* = (1/8)^(1/4) ~ 0.6 dedup threshold
PAIR_DOC_LIMIT = 40  # doc_id < 40 for the all-pairs estimate queries

_SQL_H64 = "('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || word), 1, 15))::BIGINT"

_SQL_SIGS = f"""
toks AS (SELECT DISTINCT doc_id, word FROM ({sql_tokens_ws()})),
{sql_minhash_sigs(NUM_HASHES, 'toks', 'word')}
"""

#: Scale form of _SQL_SIGS: the pair queries only ever look at doc_id <
#: PAIR_DOC_LIMIT, and the engine side filters BEFORE building signatures —
#: the outer WHERE in the driver-gate oracle relies on DuckDB pushing the
#: group-key predicate through sigs' GROUP BY into the token expansion,
#: which the 100x run showed it does NOT (the scatter ground for >15 min at
#: 500k docs; nor does a filter directly above the unnest subquery push
#: into it). This form inlines the subset filter into the tokenizer's FROM
#: clause — the oracle becomes O(subset) by construction — and is pinned
#: result-equal to the driver-gate form at driver SFs by
#: tests/test_scale_tools.py.
_SQL_DOCS_LIM = f"(SELECT * FROM documents WHERE doc_id < {PAIR_DOC_LIMIT})"

_SQL_SIGS_LIM = f"""
toks AS (SELECT DISTINCT doc_id, word FROM ({sql_tokens_ws(_SQL_DOCS_LIM)})),
{sql_minhash_sigs(NUM_HASHES, 'toks', 'word')}
"""

#: Shingle-based signature CTE: minhash over word trigrams. Unigram token
#: sets degenerate on small vocabularies (the 31-word synthetic corpus makes
#: nearly every doc pair Jaccard~1 -> LSH emits all O(n²) pairs); trigram
#: shingles are the standard discriminative set representation for near-dup
#: detection, and what a 100 TB text dedup job actually hashes.
_SQL_SH_SIGS = f"""
{sql_trigram_shingles('shx', 'documents')},
{sql_minhash_sigs(NUM_HASHES, 'shx', 'shingle')}
"""

#: Scale form of _SQL_SH_SIGS: byte-identical `sigs` rows, but the seeds
#: CROSS JOIN scatter (|shingles| x NUM_HASHES rows materialized through a
#: grouped aggregate — more spill than one box has at sf10) is replaced by
#: ONE pass over the shingles computing all NUM_HASHES minima as aggregate
#: columns, then unpivoted. This mirrors the engine's round-4 exchange-free
#: signature rewrite on the DuckDB side; tests/test_scale_tools.py pins the
#: two forms equal at driver SFs, so the scatter form stays the (structurally
#: independent) driver-gate oracle while this form carries the 100x check.
_SQL_SH_SIGS_WIDE = f"""
{sql_trigram_shingles('shx', 'documents')},
{sql_minhash_sigs_wide(NUM_HASHES, False)}
"""


def _ws_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return tokenize_ws(docs).select("doc_id", "word")


def _shingles(spark: SparkSession, sf_dir: str, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) word trigrams — the discriminative set representation
    for the LSH/dedup queries (see _SQL_SH_SIGS note).

    ``distinct=False`` hands duplicate-insensitive consumers (minhash,
    simhash) the raw doc-local stream so no (doc, shingle) exchange precedes
    their per-doc aggregation — see ngram_shingles' shuffle note."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        tokens("text").alias("toks"),
    )
    return ngram_shingles(docs, n=3, distinct=distinct)


@register(
    "minhash_jaccard",
    oracle=(
        f"WITH {_SQL_SIGS} "
        f"SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS n_sig, "
        f"SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / {float(NUM_HASHES)} AS est "
        f"FROM sigs a JOIN sigs b USING (seed) "
        f"WHERE a.doc_id < b.doc_id AND a.doc_id < {PAIR_DOC_LIMIT} "
        f"AND b.doc_id < {PAIR_DOC_LIMIT} "
        f"GROUP BY a.doc_id, b.doc_id"
    ),
    scale_oracle=(
        f"WITH {_SQL_SIGS_LIM} "
        f"SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS n_sig, "
        f"SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / {float(NUM_HASHES)} AS est "
        f"FROM sigs a JOIN sigs b USING (seed) "
        f"WHERE a.doc_id < b.doc_id "
        f"GROUP BY a.doc_id, b.doc_id"
    ),
    doc="MinHash signatures (32 seeded hash fns, no materialized permutations "
    "— Part_2.pdf p4) + pairwise Jaccard estimates over a doc subset "
    "(minhash_sig; E[agreement]=J, =0 exactly when J=0, Part_2.pdf p3).",
    tags=("minhash_sig",),
)
def minhash_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _ws_tokens(spark, sf_dir).filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    sigs = minhash_signatures(toks, num_hashes=NUM_HASHES)
    return minhash_jaccard(sigs, NUM_HASHES)


@register(
    "minhash_fast_jaccard",
    oracle=(
        "WITH toksall AS (SELECT DISTINCT doc_id, word FROM "
        f"({sql_tokens_ws()})), "
        "toks AS (SELECT * FROM toksall WHERE "
        "(('0x' || substr(md5('rowsel:' || word), 1, 15))::BIGINT) % 2 < 1), "
        f"seeds AS (SELECT unnest(range({NUM_HASHES})) AS seed), "
        f"sigs AS (SELECT doc_id, seed, MIN({_SQL_H64}) AS mh "
        "FROM toks CROSS JOIN seeds GROUP BY doc_id, seed) "
        f"SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS n_sig, "
        f"SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / {float(NUM_HASHES)} AS est "
        f"FROM sigs a JOIN sigs b USING (seed) "
        f"WHERE a.doc_id < b.doc_id AND a.doc_id < {PAIR_DOC_LIMIT} "
        f"AND b.doc_id < {PAIR_DOC_LIMIT} "
        f"GROUP BY a.doc_id, b.doc_id"
    ),
    scale_oracle=(
        "WITH toksall AS (SELECT DISTINCT doc_id, word FROM "
        f"({sql_tokens_ws(_SQL_DOCS_LIM)})), "
        "toks AS (SELECT * FROM toksall WHERE "
        "(('0x' || substr(md5('rowsel:' || word), 1, 15))::BIGINT) % 2 < 1), "
        f"seeds AS (SELECT unnest(range({NUM_HASHES})) AS seed), "
        f"sigs AS (SELECT doc_id, seed, MIN({_SQL_H64}) AS mh "
        "FROM toks CROSS JOIN seeds GROUP BY doc_id, seed) "
        f"SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS n_sig, "
        f"SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / {float(NUM_HASHES)} AS est "
        f"FROM sigs a JOIN sigs b USING (seed) "
        f"WHERE a.doc_id < b.doc_id "
        f"GROUP BY a.doc_id, b.doc_id"
    ),
    doc="Truncated minhash (first-m-rows speedup, Part_2.pdf p7 / MMDS 3.3.6): "
    "signatures over the half of the token universe selected by a row hash; "
    "sets with no selected tokens drop out (the reference's ∞ signature).",
    tags=("minhash_fast",),
)
def minhash_fast_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _ws_tokens(spark, sf_dir).filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    sigs = minhash_signatures(toks, num_hashes=NUM_HASHES, row_fraction=(1, 2))
    return minhash_jaccard(sigs, NUM_HASHES)


_SQL_BANDS = f"""
{sql_lsh_bands(ROWS_PER_BAND, False)}
"""


@register(
    "lsh_candidates",
    oracle=(
        f"WITH {_SQL_SH_SIGS}, {_SQL_BANDS} "
        "SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb "
        "FROM bands a JOIN bands b USING (band, band_sig) "
        "WHERE a.doc_id < b.doc_id"
    ),
    scale_oracle=(
        f"WITH {_SQL_SH_SIGS_WIDE}, {_SQL_BANDS} "
        "SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb "
        "FROM bands a JOIN bands b USING (band, band_sig) "
        "WHERE a.doc_id < b.doc_id"
    ),
    doc="LSH banding -> candidate pairs (lsh_band, Part_2.pdf p5-6): 32-row "
    "trigram-shingle signatures split into 8 bands x 4 rows; pairs agreeing "
    "on any whole band become candidates (capture prob 1-(1-s^4)^8).",
    tags=("lsh_band",),
)
def lsh_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        _shingles(spark, sf_dir, distinct=False),
        token_col="shingle",
        num_hashes=NUM_HASHES,
    )
    return lsh_candidates(lsh_bands(sigs, ROWS_PER_BAND))


#: Scored candidate pairs (the LSH verify stage), shared by the dedup and
#: clustering oracles: candidates from band agreement, re-scored by signature
#: agreement, kept at est >= 0.5.
_SQL_SCORED = f"""
cand AS (SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
         FROM bands a JOIN bands b USING (band, band_sig) WHERE a.doc_id < b.doc_id),
scored AS (SELECT ka, kb,
           SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / {float(NUM_HASHES)} AS est
           FROM cand JOIN sigs sa ON ka = sa.doc_id
           JOIN sigs sb ON kb = sb.doc_id AND sa.seed = sb.seed
           GROUP BY ka, kb
           HAVING SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                  / {float(NUM_HASHES)} >= 0.5)
"""


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SQL_SCORED: (ka, kb, est) near-dup pairs.

    The OUTPUT is persisted, not just the signatures: seven queries across
    the similarityq/round12q families consume this frame (dedup_minhash_lsh,
    both CC variants, the histogram/canonical tails, threshold sensitivity),
    and each used to replay the candidate join + verify aggregation from the
    cached sigs — ~1.5 s per build at sf0.1. The verified pair set is tiny
    (|near-dup pairs| rows), so materializing it once per family costs
    nothing and every consumer's plan starts at an InMemoryRelation leaf."""
    sigs = persist_tracked(minhash_signatures(
        _shingles(spark, sf_dir, distinct=False),
        token_col="shingle",
        num_hashes=NUM_HASHES,
    ))
    cand = lsh_candidates(lsh_bands(sigs, ROWS_PER_BAND))
    sa = sigs.select(F.col("doc_id").alias("ka"), "seed", F.col("mh").alias("mha"))
    sb = sigs.select(F.col("doc_id").alias("kb"), "seed", F.col("mh").alias("mhb"))
    return persist_tracked(
        cand.join(sa, "ka")
        .join(sb, ["kb", "seed"])
        .groupBy("ka", "kb")
        .agg(
            (
                F.sum((F.col("mha") == F.col("mhb")).cast("bigint"))
                / F.lit(float(NUM_HASHES))
            ).alias("est")
        )
        .filter(F.col("est") >= 0.5)
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) connected components of the scored pairs, computed once
    per family visit: dedup_clusters, dedup_apply_canonical and round12q's
    cluster_size_histogram read the same memoized frame, so a repeat skips
    both the minhash/LSH plan construction and the pairs collect. At this
    scale the labels are a driver-side LocalRelation, which the memo keeps
    as it is (caching.checkpoint_shared)."""
    return checkpoint_shared(
        "sim.cc_labels",
        sf_dir,
        lambda: connected_components(_scored_pairs(spark, sf_dir)),
    )


@register(
    "dedup_minhash_lsh",
    oracle=(
        f"WITH {_SQL_SH_SIGS}, {_SQL_BANDS}, {_SQL_SCORED} "
        "SELECT ka, kb, est FROM scored"
    ),
    scale_oracle=(
        f"WITH {_SQL_SH_SIGS_WIDE}, {_SQL_BANDS}, {_SQL_SCORED} "
        "SELECT ka, kb, est FROM scored"
    ),
    doc="Full near-dup pipeline: shingle->minhash->band->bucket-join->verify "
    "(candidates re-scored by signature agreement, kept at est>=0.5) — the "
    "shape a 100 TB dedup job runs; only candidate pairs are ever scored.",
    tags=("lsh_band", "minhash_sig", "dedup"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scored_pairs(spark, sf_dir)


def _sql_reach(materialized: bool) -> str:
    """The oracles' twin of connected_components over the ``scored`` pairs:
    CTEs ``edges`` (both directions), ``nodes`` and the recursive
    ``reach(n, m)``, every node ``m`` reachable from ``n``; a component's
    label is its MIN(m) (:data:`_SQL_REACH_LABELS`). ``materialized`` marks
    ``edges`` AS MATERIALIZED, for the scale forms: the closure then reads a
    materialized edge table instead of re-evaluating the whole sigs -> bands
    -> scored chain on every step (the ols_words_pvalues lesson; measured
    ~5x on the 100x run)."""
    m = " MATERIALIZED" if materialized else ""
    return (
        f"edges AS{m} (SELECT ka AS a, kb AS b FROM scored "
        "UNION SELECT kb, ka FROM scored), "
        "nodes AS (SELECT DISTINCT a AS n FROM edges), "
        "reach(n, m) AS (SELECT n, n FROM nodes UNION "
        "SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)"
    )


#: (doc_id, cluster = min doc_id of its component) from :func:`_sql_reach`.
_SQL_REACH_LABELS = "SELECT n AS doc_id, MIN(m) AS cluster FROM reach GROUP BY n"

#: Cluster-resolution tail of both CC variants' oracles (below the sigs
#: CTE) and of their scale forms.
_SQL_CLUSTER_TAIL, _SQL_CLUSTER_TAIL_MAT = (
    f"{_SQL_BANDS}, {_SQL_SCORED}, {_sql_reach(mat)} {_SQL_REACH_LABELS}"
    for mat in (False, True)
)


@register(
    "dedup_clusters",
    oracle=f"WITH RECURSIVE {_SQL_SH_SIGS}, {_SQL_CLUSTER_TAIL}",
    scale_oracle=f"WITH RECURSIVE {_SQL_SH_SIGS_WIDE}, {_SQL_CLUSTER_TAIL_MAT}",
    doc="Duplicate-cluster resolution: connected components over the scored "
    "near-dup pairs (union-find on the driver up to 2^20 pairs, "
    "large-star/small-star above); cluster = min doc_id = the keeper a "
    "dedup pipeline retains. The labels are memoized per family visit "
    "(shared with dedup_apply_canonical), so a repeat skips the minhash/LSH "
    "plan and the pairs collect. Oracle: transitive closure via recursive "
    "CTE.",
    tags=("dedup", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = _cc_labels(spark, sf_dir)
    return cc.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


@register(
    "dedup_clusters_twophase",
    oracle=f"WITH RECURSIVE {_SQL_SH_SIGS}, {_SQL_CLUSTER_TAIL}",
    scale_oracle=f"WITH RECURSIVE {_SQL_SH_SIGS_WIDE}, {_SQL_CLUSTER_TAIL_MAT}",
    doc="dedup_clusters through the alternating large-star/small-star CC "
    "(Kiveris et al. 2014; operators/similarity.py "
    "connected_components_twophase) called directly, so the catalog pins "
    "the distributed path connected_components takes above 2^20 pairs: "
    "O(log^2 n) rounds independent of component diameter. Same output "
    "contract, same recursive-CTE oracle as dedup_clusters.",
    tags=("dedup", "graph"),
)
def dedup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _scored_pairs(spark, sf_dir)
    cc = connected_components_twophase(pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


@register(
    "dedup_exact",
    oracle=(
        "SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper "
        "FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1"
    ),
    doc="Exact-duplicate groups by content hash (hash-groupBy dedup): "
    "(hash, group size, keeper=min doc_id).",
    tags=("dedup",),
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(load_table(spark, sf_dir, "documents"))


_SQL_SIMHASH = f"""
bits(pos, p2) AS (VALUES {', '.join(f'({p}, {v})' for p, v in BIT_POWERS)}),
{sql_trigram_shingles('shx', 'documents')},
th AS (SELECT doc_id, ('0x' || substr(md5('sh:' || shingle), 1, 15))::BIGINT AS h FROM shx),
contrib AS (SELECT doc_id, pos, p2, SUM(((h // p2) % 2) * 2 - 1) AS c
            FROM th CROSS JOIN bits GROUP BY doc_id, pos, p2),
bitv AS (SELECT doc_id, pos, p2, CASE WHEN c > 0 THEN 1 ELSE 0 END AS bit FROM contrib),
sim AS (SELECT doc_id, SUM(bit * p2) AS simhash,
        SUM(CASE WHEN pos // 15 = 0 THEN bit * CAST(pow(2, pos % 15) AS BIGINT) ELSE 0 END) AS b0,
        SUM(CASE WHEN pos // 15 = 1 THEN bit * CAST(pow(2, pos % 15) AS BIGINT) ELSE 0 END) AS b1,
        SUM(CASE WHEN pos // 15 = 2 THEN bit * CAST(pow(2, pos % 15) AS BIGINT) ELSE 0 END) AS b2,
        SUM(CASE WHEN pos // 15 = 3 THEN bit * CAST(pow(2, pos % 15) AS BIGINT) ELSE 0 END) AS b3
        FROM bitv GROUP BY doc_id),
blocks AS (SELECT doc_id, 0 AS blk, b0 AS bv FROM sim UNION ALL
           SELECT doc_id, 1, b1 FROM sim UNION ALL
           SELECT doc_id, 2, b2 FROM sim UNION ALL
           SELECT doc_id, 3, b3 FROM sim),
cand AS (SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
         FROM blocks a JOIN blocks b USING (blk, bv) WHERE a.doc_id < b.doc_id)
"""

#: Scale form of _SQL_SIMHASH (same pattern as _SQL_SH_SIGS_WIDE): the
#: th CROSS JOIN bits scatter (|shingles| x 60 rows through a grouped
#: aggregate — the >78 GB spill class at sf10) becomes ONE pass computing
#: all 60 bit contributions as aggregate columns, unpivoted back to the
#: (doc_id, pos, p2, c) rows the rest of the pipeline consumes unchanged.
_SQL_SIMHASH_WIDE = f"""
{sql_trigram_shingles('shx', 'documents')},
th AS (SELECT doc_id, ('0x' || substr(md5('sh:' || shingle), 1, 15))::BIGINT AS h FROM shx),
contribw AS (SELECT doc_id, {', '.join(
    f'SUM(((h // {v}) % 2) * 2 - 1) AS c{p}' for p, v in BIT_POWERS
)} FROM th GROUP BY doc_id),
contrib AS (SELECT doc_id,
            unnest([{', '.join(str(p) for p, _ in BIT_POWERS)}]) AS pos,
            unnest([{', '.join(f'{v}::BIGINT' for _, v in BIT_POWERS)}]) AS p2,
            unnest([{', '.join(f'c{p}' for p, _ in BIT_POWERS)}]) AS c
            FROM contribw),
bitv AS (SELECT doc_id, pos, p2, CASE WHEN c > 0 THEN 1 ELSE 0 END AS bit FROM contrib),
sim AS (SELECT doc_id, SUM(bit * p2) AS simhash,
        SUM(CASE WHEN pos // 15 = 0 THEN bit * CAST(pow(2, pos % 15) AS BIGINT) ELSE 0 END) AS b0,
        SUM(CASE WHEN pos // 15 = 1 THEN bit * CAST(pow(2, pos % 15) AS BIGINT) ELSE 0 END) AS b1,
        SUM(CASE WHEN pos // 15 = 2 THEN bit * CAST(pow(2, pos % 15) AS BIGINT) ELSE 0 END) AS b2,
        SUM(CASE WHEN pos // 15 = 3 THEN bit * CAST(pow(2, pos % 15) AS BIGINT) ELSE 0 END) AS b3
        FROM bitv GROUP BY doc_id),
blocks AS (SELECT doc_id, 0 AS blk, b0 AS bv FROM sim UNION ALL
           SELECT doc_id, 1, b1 FROM sim UNION ALL
           SELECT doc_id, 2, b2 FROM sim UNION ALL
           SELECT doc_id, 3, b3 FROM sim),
cand AS (SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
         FROM blocks a JOIN blocks b USING (blk, bv) WHERE a.doc_id < b.doc_id)
"""


@register(
    "dedup_simhash",
    oracle=(
        f"WITH {_SQL_SIMHASH} "
        "SELECT ka, kb, bit_count(xor(ha.simhash, hb.simhash)) AS hamming "
        "FROM cand JOIN sim ha ON ka = ha.doc_id JOIN sim hb ON kb = hb.doc_id "
        "WHERE bit_count(xor(ha.simhash, hb.simhash)) <= 8"
    ),
    scale_oracle=(
        f"WITH {_SQL_SIMHASH_WIDE} "
        "SELECT ka, kb, bit_count(xor(ha.simhash, hb.simhash)) AS hamming "
        "FROM cand JOIN sim ha ON ka = ha.doc_id JOIN sim hb ON kb = hb.doc_id "
        "WHERE bit_count(xor(ha.simhash, hb.simhash)) <= 8"
    ),
    doc="SimHash near-dup detection: 60-bit Charikar fingerprint per doc over "
    "trigram shingles, 4x15-bit block candidate blocking, Hamming<=8 "
    "verification via bit_count(xor) — the constant-space complement to "
    "MinHash dedup.",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = simhash_values(
        _shingles(spark, sf_dir, distinct=False), spark, token_col="shingle"
    )
    return simhash_near_pairs(sim, max_hamming=8)


_SQL_SHINGLES = f"""
{sql_trigram_shingles('sh', 'documents')},
freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
keep AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle) WHERE df <= 500),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS n_common
           FROM keep a JOIN keep b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
"""


@register(
    "dedup_ngram_jaccard",
    oracle=(
        f"WITH {_SQL_SHINGLES} "
        "SELECT ka, kb, n_common, "
        + sql_round_stable("jac")
        + " AS jaccard FROM ("
        "SELECT ka, kb, n_common, "
        "CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jac "
        "FROM common JOIN sizes sa ON ka = sa.doc_id JOIN sizes sb ON kb = sb.doc_id) "
        "WHERE jac >= 0.2"
    ),
    doc="Word-trigram Jaccard near-dup pairs: per-row array shingling (no "
    "shuffle), shingle inverted-index join with df<=500 hot-shingle cap, "
    "exact Jaccard >= 0.2.",
    tags=("dedup", "ngram"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO spread here (measured round 12, interleaved A/B: +0.4 s): unlike
    # the minhash consumers, this query's distinct=True shingling exchanges
    # on (doc_id, shingle) right after the explode, so the scan is already
    # one cheap stage away from full parallelism and a pre-explode
    # round-robin shuffle of the text column is pure extra cost.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        tokens("text").alias("toks"),
    )
    sh = ngram_shingles(docs, n=3)
    out = ngram_jaccard_pairs(sh, min_jaccard=0.2, df_cap=500)
    return out.select("ka", "kb", "n_common", round_stable("jaccard").alias("jaccard"))


#: Everything downstream of the `sigs` CTE in the apply-step oracle — shared
#: verbatim by the driver-gate (scatter sigs) and scale (wide sigs) forms.
_SQL_APPLY_TAIL = (
    f"{_SQL_BANDS}, {_SQL_SCORED}, {_sql_reach(False)}, "
    "dropped AS (SELECT n AS doc_id FROM reach GROUP BY n "
    "HAVING MIN(m) <> n) "
    "SELECT source, COUNT(*) AS n_docs, "
    "CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_kept, "
    "CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_dropped "
    "FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id "
    "GROUP BY source"
)


@register(
    "dedup_apply_canonical",
    oracle=f"WITH RECURSIVE {_SQL_SH_SIGS}, {_SQL_APPLY_TAIL}",
    scale_oracle=f"WITH RECURSIVE {_SQL_SH_SIGS_WIDE}, {_SQL_APPLY_TAIL}",
    doc="The APPLY step of near-dup dedup — what a corpus user actually "
    "ships: minhash-LSH near-dup pairs -> connected components -> every "
    "non-canonical member (label != self) anti-joined out of the corpus; "
    "per-source kept/dropped accounting. Composes the whole pipeline "
    "(shingle -> sign -> band -> score -> cluster -> apply) into one "
    "driver-free DAG; the anti join is the only touch on the full corpus "
    "beyond the signature scan. Its connected_components is union-find on "
    "the driver up to 2^20 pairs and large-star/small-star above, exact at "
    "any component diameter; the labels are the family visit's memoized "
    "frame, so after dedup_clusters only the anti join and the per-source "
    "counts run.",
    tags=("dedup", "graph", "pipeline"),
)
def dedup_apply_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = _cc_labels(spark, sf_dir)
    dropped = cc.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    kept = docs.join(dropped, "doc_id", "left_anti")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kept_src = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        per_src.join(kept_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_docs") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
    )
