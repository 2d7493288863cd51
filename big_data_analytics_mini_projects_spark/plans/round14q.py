"""Round-9 fresh batch (2/15 budget): incremental MinHash-LSH dedup-state
maintenance — the round-8 verdict item-3 candidate and the production shape
for a 100 TB corpus that refreshes.

``incremental_snapshot_merge`` (plans/warehouseq.py) shows the MERGE-INTO
shape for per-key STATS state; these two queries apply the same
snapshot+delta discipline to the FUZZY-DEDUP state itself: the accumulated
canonical roster (and its LSH band index) is the state, each snapshot delta
is deduped against that state first and within itself second, and only the
surviving new canonicals are compacted into the roster. Daily cost is
O(delta x bands + state-index probe), never a corpus x corpus recompute —
the reason a refreshing crawl pipeline can afford fuzzy dedup at all.

Shared machinery: trigram shingles -> 16 seeded-min MinHash signatures
(operators/similarity.py:50, the exchange-free wide-aggregate form; the
Part_2.pdf p4 formulation) -> 4-band x 4-row LSH banding (Part_2.pdf p5)
-> candidates from band-bucket equi-joins only, verified by signature
agreement >= 4/16. dedup_cross_snapshot (plans/round6q.py) runs on the
same signature and band leaves (_doc_sigs_bands), so the two families
reconcile row-for-row (pinned by tests/test_round14q.py).

Greedy keeper rule (both queries, both engines): a delta doc matching the
state dedups to its MIN-id state canonical; an unmatched delta doc with a
smaller verified same-delta neighbor dedups to the MIN such neighbor
(greedy min-neighbor, NOT connected components — the standard one-pass
approximation; chains are documented conservative removals). Deterministic
by construction, so the DuckDB oracle computes it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import checkpoint_shared, persist_tracked
from ..functions.text import sql_trigram_shingles, tokens
from ..operators.similarity import (
    lsh_bands,
    lsh_candidates,
    minhash_signatures,
    ngram_shingles,
    signature_agreement,
    sql_lsh_bands,
    sql_minhash_sigs_wide,
)
from ..sources.tables import load_table, spread
from .registry import register

SC_HASHES = 16     # minhash width (the dedup_cross_snapshot regime)
SC_ROWS = 4        # rows per band -> 4 bands; s* = (1/4)^(1/4) ~ 0.71
SC_MIN_AGREE = 4   # signature-agreement verify floor (est >= 0.25)
SC_STEPS = 3       # snapshot folds in the compaction curve (doc_id % 3)


def _doc_sigs_bands(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(doc ids, minhash sigs, LSH bands) over the documents corpus.

    sigs/bands are checkpoint_shared LEAVES (one per family visit): every
    caller in the round14q/16q/20q state families, round6q's
    dedup_cross_snapshot and round19q's crossmodal_pair_curation references
    bands up to 3x and sigs 2x per step, and each Dataset op re-analyzes
    the whole accumulated tree — plain persists shared the COMPUTE but
    every build still paid the full-tree Catalyst analysis (~1.1 s/build
    for dedup_state_compaction, measured round 12). The thunk form skips
    signature/band construction entirely on memo hits; the memo guarantees
    every sibling and repeat plans against the SAME leaf, so downstream
    persists keep matching."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            tokens("text").alias("toks"),
        )
    )
    sigs = checkpoint_shared(
        "r14.sigs",
        sf_dir,
        lambda: minhash_signatures(
            ngram_shingles(docs, n=3, distinct=False),
            token_col="shingle",
            num_hashes=SC_HASHES,
        ),
    )
    bands = checkpoint_shared("r14.bands", sf_dir, lambda: lsh_bands(sigs, SC_ROWS))
    return docs.select("doc_id"), sigs, bands


def _verified_pairs(cand: DataFrame, sigs: DataFrame, d_col: str, k_col: str) -> DataFrame:
    """(d_col, k_col) candidate pairs whose signature agreement clears
    SC_MIN_AGREE. The verify join is bounded by the candidate set (band
    collisions), never all-pairs."""
    return (
        signature_agreement(cand, sigs, d_col, k_col)
        .filter(F.col("n_agree") >= SC_MIN_AGREE)
        .select(d_col, k_col)
    )


def _verified_min_keeper(
    cand: DataFrame, sigs: DataFrame, d_col: str, k_col: str
) -> DataFrame:
    """(d_col, keeper): per left doc, the MIN right doc among its
    :func:`_verified_pairs`."""
    return (
        _verified_pairs(cand, sigs, d_col, k_col)
        .groupBy(d_col)
        .agg(F.min(k_col).alias("keeper"))
    )


# -- shared oracle text -----------------------------------------------------

#: Wide-aggregate signature head (the similarityq idiom: one min-aggregate
#: pass, no seeds cross-join scatter) + banding — byte-compatible with the
#: engine's h64/lsh_bands scheme and with round6q's _SQL_XS_SIGS_WIDE regime.
_SQL_SC_HEAD = f"""
{sql_trigram_shingles('shx', 'documents')},
{sql_minhash_sigs_wide(SC_HASHES, True)},
{sql_lsh_bands(SC_ROWS, True)}"""


def _sql_scored(cand_cte: str, d: str, k: str) -> str:
    return (
        f"SELECT {d}, {k}, SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS n_agree "
        f"FROM {cand_cte} JOIN sigs sa ON {d} = sa.doc_id "
        f"JOIN sigs sb ON {k} = sb.doc_id AND sa.seed = sb.seed "
        f"GROUP BY {d}, {k}"
    )


_SQL_STATE_COMPACTION = f"""WITH {_SQL_SC_HEAD},
cand_s AS (SELECT DISTINCT d.doc_id AS doc_d, s.doc_id AS doc_s
           FROM bands d JOIN bands s USING (band, band_sig)
           WHERE d.doc_id % 2 = 1 AND s.doc_id % 2 = 0),
sc_s AS ({_sql_scored("cand_s", "doc_d", "doc_s")}),
m_s AS (SELECT doc_d, MIN(doc_s) AS k_s FROM sc_s
        WHERE n_agree >= {SC_MIN_AGREE} GROUP BY doc_d),
cand_d AS (SELECT DISTINCT b.doc_id AS doc_b, a.doc_id AS doc_a
           FROM bands a JOIN bands b USING (band, band_sig)
           WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1 AND a.doc_id < b.doc_id),
sc_d AS ({_sql_scored("cand_d", "doc_b", "doc_a")}),
m_d AS (SELECT doc_b, MIN(doc_a) AS k_d FROM sc_d
        WHERE n_agree >= {SC_MIN_AGREE} GROUP BY doc_b)
SELECT d.doc_id,
       CASE WHEN m_s.k_s IS NOT NULL THEN 'dup_of_state'
            WHEN m_d.k_d IS NOT NULL THEN 'dup_in_delta'
            ELSE 'new_canonical' END AS status,
       COALESCE(m_s.k_s, m_d.k_d, d.doc_id) AS keeper_id
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN m_s ON d.doc_id = m_s.doc_d
LEFT JOIN m_d ON d.doc_id = m_d.doc_b"""


@register(
    "dedup_state_compaction",
    oracle=_SQL_STATE_COMPACTION,
    doc="Incremental fuzzy-dedup state maintenance, single delta: the even "
    "doc_ids are the accumulated canonical STATE (its LSH band index), the "
    "odd doc_ids are the arriving snapshot delta, and every delta doc gets "
    "a disposition — dup_of_state (verified band-collision match against "
    "the state index; keeper = MIN matching canonical), dup_in_delta "
    "(unmatched, but a smaller verified same-delta neighbor exists), or "
    "new_canonical (enters the compacted state). The dedup twin of "
    "incremental_snapshot_merge's MERGE-INTO: per refresh the work is "
    "O(delta x bands) band-bucket equi-joins plus candidate-bounded "
    "verification, never corpus x corpus. Same shingle/signature/band/"
    "verify regime as dedup_cross_snapshot, so its pairs reconcile exactly "
    "(tests/test_round14q.py). MinHash per Part_2.pdf p4; banding p5.",
    tags=("dedup", "minhash_sig", "lsh_band", "merge_upsert", "pipeline"),
)
def dedup_state_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, sigs, bands = _doc_sigs_bands(spark, sf_dir)
    delta_b = bands.filter(F.col("doc_id") % 2 == 1)
    cand_s = lsh_candidates(
        delta_b, "doc_d", bands.filter(F.col("doc_id") % 2 == 0), "doc_s"
    )
    m_s = (
        _verified_min_keeper(cand_s, sigs, "doc_d", "doc_s")
        .withColumnRenamed("doc_d", "doc_id")
        .withColumnRenamed("keeper", "k_s")
    )
    cand_d = lsh_candidates(delta_b, "doc_a", None, "doc_b", ("doc_b", "doc_a"))
    m_d = (
        _verified_min_keeper(cand_d, sigs, "doc_b", "doc_a")
        .withColumnRenamed("doc_b", "doc_id")
        .withColumnRenamed("keeper", "k_d")
    )
    return (
        ids.filter(F.col("doc_id") % 2 == 1)
        .join(m_s, "doc_id", "left")
        .join(m_d, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("k_s").isNotNull(), F.lit("dup_of_state"))
            .when(F.col("k_d").isNotNull(), F.lit("dup_in_delta"))
            .otherwise(F.lit("new_canonical"))
            .alias("status"),
            F.coalesce("k_s", "k_d", "doc_id").alias("keeper_id"),
        )
    )


def _sql_compaction_curve() -> str:
    """Unrolled DuckDB mirror of the SC_STEPS-fold compaction: per step the
    state-probe candidates, the within-delta candidates, both verified
    scorings, the canonical survivors, and the compacted state union. The
    multiply-referenced state CTEs carry AS MATERIALIZED (the bpe_merge_curve
    lesson: without it DuckDB re-inlines the whole chain per reference)."""
    parts = [f"WITH {_SQL_SC_HEAD}"]
    for t in range(SC_STEPS):
        coh = f"doc_id % {SC_STEPS} = {t}"
        if t == 0:
            ms_pred = ""
        else:
            parts.append(
                f", cs{t} AS (SELECT DISTINCT d.doc_id AS doc_d, s.doc_id AS doc_s"
                f" FROM bands d JOIN bands s USING (band, band_sig)"
                f" JOIN st{t - 1} st ON s.doc_id = st.doc_id"
                f" WHERE d.{coh})"
                f", ss{t} AS ({_sql_scored(f'cs{t}', 'doc_d', 'doc_s')})"
                f", ms{t} AS (SELECT DISTINCT doc_d AS doc_id FROM ss{t}"
                f" WHERE n_agree >= {SC_MIN_AGREE})"
            )
            ms_pred = f" AND doc_b NOT IN (SELECT doc_id FROM ms{t})"
        parts.append(
            f", cd{t} AS (SELECT DISTINCT b.doc_id AS doc_b, a.doc_id AS doc_a"
            f" FROM bands a JOIN bands b USING (band, band_sig)"
            f" WHERE a.{coh} AND b.{coh} AND a.doc_id < b.doc_id)"
            f", sd{t} AS ({_sql_scored(f'cd{t}', 'doc_b', 'doc_a')})"
            f", dd{t} AS (SELECT DISTINCT doc_b AS doc_id FROM sd{t}"
            f" WHERE n_agree >= {SC_MIN_AGREE}{ms_pred})"
        )
        not_matched = (
            f" AND doc_id NOT IN (SELECT doc_id FROM ms{t})" if t else ""
        )
        parts.append(
            f", cn{t} AS (SELECT doc_id FROM documents WHERE {coh}{not_matched}"
            f" AND doc_id NOT IN (SELECT doc_id FROM dd{t}))"
        )
        union_prev = f"SELECT doc_id FROM st{t - 1} UNION ALL " if t else ""
        parts.append(
            f", st{t} AS MATERIALIZED ({union_prev}SELECT doc_id FROM cn{t})"
        )
        n_dup_state = (
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM ms{t})" if t else "CAST(0 AS BIGINT)"
        )
        parts.append(
            f", r{t} AS (SELECT CAST({t} AS BIGINT) AS step, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE {coh}) AS n_delta, "
            f"{n_dup_state} AS n_dup_state, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM dd{t}) AS n_dup_delta, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM cn{t}) AS n_new, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM st{t}) AS state_size)"
        )
    tail = " " + " UNION ALL ".join(f"SELECT * FROM r{t}" for t in range(SC_STEPS))
    return "".join(parts) + tail


@register(
    "dedup_compaction_curve",
    oracle=_sql_compaction_curve(),
    doc="Fuzzy-dedup state maintenance across SUCCESSIVE snapshot refreshes "
    "(doc_id % 3 plays the snapshot id, folded in order): per step, the "
    "delta probes the accumulated canonical state's band index first, "
    "dedups within itself second, and compacts its survivors into the "
    "state — emitting the refresh-pipeline health metrics (delta size, "
    "dups absorbed by state vs within-delta, new canonicals, compacted "
    "state size). The iterative production shape of dedup_state_compaction: "
    "per-step cost stays O(delta x bands + state probe) while the state "
    "monotonically accumulates — what a 100 TB crawl refresh runs daily. "
    "Engine folds the steps as one lazy DataFrame composition (persisted "
    "per-step rosters, zero driver-side data collects; the running "
    "state_size is a 3-row window, not a recount).",
    tags=("dedup", "minhash_sig", "lsh_band", "merge_upsert", "pipeline"),
)
def dedup_compaction_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sigs/bands arrive as checkpoint_shared leaves (see _doc_sigs_bands):
    # each of the SC_STEPS cohorts references bands 3x and sigs 2x, and every
    # Dataset op re-analyzes the accumulated tree (~2.2 s of pure planning
    # per build before the truncation).
    ids, sigs, bands = _doc_sigs_bands(spark, sf_dir)
    state: DataFrame | None = None
    step_rows: list[DataFrame] = []
    for t in range(SC_STEPS):
        co_ids = ids.filter(F.col("doc_id") % SC_STEPS == t)
        co_b = bands.filter(F.col("doc_id") % SC_STEPS == t)
        if state is not None:
            cand_s = lsh_candidates(co_b, "doc_d", bands.join(state, "doc_id"), "doc_s")
            m_s = (
                _verified_min_keeper(cand_s, sigs, "doc_d", "doc_s")
                .withColumnRenamed("doc_d", "doc_id")
                .select("doc_id", F.col("keeper").alias("k_s"))
            )
            with_state = co_ids.join(m_s, "doc_id", "left")
        else:
            with_state = co_ids.withColumn("k_s", F.lit(None).cast("long"))
        cand_d = lsh_candidates(co_b, "doc_a", None, "doc_b", ("doc_b", "doc_a"))
        m_d = (
            _verified_min_keeper(cand_d, sigs, "doc_b", "doc_a")
            .withColumnRenamed("doc_b", "doc_id")
            .select("doc_id", F.col("keeper").alias("k_d"))
        )
        # checkpoint_shared (not a persist): statuses feeds the canon
        # filter, the growing state union AND the per-step count row — a
        # leaf keeps each later step's analyzed tree flat instead of
        # re-embedding every earlier step's full derivation. Thunk form so
        # memo hits skip the construction (round-11 ADVICE).
        statuses = checkpoint_shared(
            f"r14.cc_statuses{t}",
            sf_dir,
            lambda ws=with_state, md=m_d: ws.join(md, "doc_id", "left").select(
                "doc_id",
                F.when(F.col("k_s").isNotNull(), F.lit("dup_of_state"))
                .when(F.col("k_d").isNotNull(), F.lit("dup_in_delta"))
                .otherwise(F.lit("new_canonical"))
                .alias("status"),
            ),
        )
        canon = statuses.filter(F.col("status") == "new_canonical").select("doc_id")
        state = canon if state is None else state.unionByName(canon)
        state = persist_tracked(state)
        # count(when(...)) instead of sum(cast): never NULL on an empty cohort
        # (the oracle's scalar-subquery COUNTs are 0 there, not NULL)
        step_rows.append(
            statuses.groupBy().agg(
                F.count(F.lit(1)).alias("n_delta"),
                F.count(F.when(F.col("status") == "dup_of_state", True)).alias(
                    "n_dup_state"
                ),
                F.count(F.when(F.col("status") == "dup_in_delta", True)).alias(
                    "n_dup_delta"
                ),
                F.count(F.when(F.col("status") == "new_canonical", True)).alias(
                    "n_new"
                ),
            ).select(F.lit(t).cast("long").alias("step"), "*")
        )
    out = step_rows[0]
    for r in step_rows[1:]:
        out = out.unionByName(r)
    w = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return out.withColumn("state_size", F.sum("n_new").over(w))
