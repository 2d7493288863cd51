"""Round-11 fresh batch (6 of the 15 budget; positions 14-19 of the
round-11 window — catalog.py tier 3): the round-10 verdict's four named
asks plus two round-11 queued themes, each the production
completion of a round-10 family.

- ``semdedup_cells_auto`` (verdict item 2) — SemDeDup with the cell count
  derived from the corpus by an OCCUPANCY RULE instead of a fixture pin:
  K = SEM_K_MIN << #{j : n > 512 * 4^j} — the smallest power-of-two K
  with n <= 8*K^2, so K tracks sqrt(n) — via the exact auto_band_bits
  comparison-ladder idiom (operators/vector.py:345, the round-6 retune
  that closed the fixed-width-LSH 100x non-runner). Closes the one
  documented SemDeDup scale dial, and sqrt (not n/target_cell) is the
  load-bearing choice: assignment O(n*K) and pair scan O(n^2/K) balance
  at O(n^1.5), the flat-index optimum.
- ``semdedup_keeper_quality`` (queue theme) — the published SemDeDup
  keeper rule: within each duplicate group, KEEP the example with the
  LOWEST cosine to its cluster centroid (the low-similarity member
  preserves the most diversity; Abbas et al. 2023 §4) instead of the
  greedy min-id convention — emitted as a re-pick over semdedup_cells'
  groups so both keeper policies stay comparable row-for-row.
- ``dedup_image_ahash_near`` (queue theme) — the blocked Hamming near-dup
  join over the SECOND fingerprint family: round16q's 4x15-bit block
  regime applied to the aHash roster (round17q computed aHash exact
  classes only). Engine and oracle both come from the parametric
  single-source helpers (_hash_disposition / _sql_blocked_near_ctes), so
  the dHash and aHash paths cannot drift.
- ``dedup_audio_fp`` (verdict item 3) — perceptual AUDIO dedup: the REAL
  16-bit PCM WAV payloads (stdlib ``wave`` codec, synth_wav_payloads) are
  parsed back and difference-hashed on their energy envelope
  (operators/audiofp.afp_wav, 61 windows -> 60 bits), then run through
  the SAME exact-class collapse + 4x15-bit block Hamming join as the
  image fingerprints. The synthetic signal's closed form makes the oracle
  SQL-derivable — the WAV analog of round16q's _sql_gray regime.
- ``crossmodal_pair_curation`` (verdict item 5) — the LAION-style
  (image, caption) kept set: a document pair survives iff its IMAGE leg
  (dedup_image_phash keeper) AND its TEXT leg (full-corpus MinHash-LSH
  greedy min keeper, the round14q verify regime) both keep it, with
  per-leg drop accounting (kept / image_dup / text_dup / both_dup). The
  oracle composes the two legs' CTE texts verbatim (_SQL_PHASH_CTES +
  _SQL_SC_HEAD), so neither leg can drift from its standalone query.
- ``streaming_tombstone_fold`` (verdict item 4) — the deletion leg as a
  STREAM: takedown tombstones arrive as micro-batches and join the STATIC
  orphan-disposition frame (round16q._orphan_dispositions keyed by
  old_keeper) — every arriving tombstone immediately emits the delta docs
  it orphans and their re-canonicalization, the shape a production
  pipeline runs when takedowns are a feed rather than a daily batch.
  Batch≡stream pinned via availableNow; oracle is the batch fold's
  orphan rows re-keyed by tombstone, byte-same CTE text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..operators.audiofp import AF_BITS, AF_WINDOWS, afp_wav
from ..operators.multimodal import synth_bmp_payloads, synth_wav_payloads
from ..operators.phash import phashes_bmp
from ..operators.similarity import lsh_candidates
from ..operators.vector import _dot, prepare_vectors
from ..sources.tables import load_table, spread
from .pipelineq import _SQL_KM, K_CENTROIDS
from .registry import register
from .round14q import SC_MIN_AGREE, _SQL_SC_HEAD, _doc_sigs_bands, _sql_scored, _verified_min_keeper
from .round16q import (
    SEM_TAU,
    TOMB_MOD,
    _SQL_PHASH_CTES,
    _SQL_SEMDEDUP_CTES,
    _SQL_TOMBSTONES,
    _assign_cells,
    _cell_pair_flags,
    _hash_disposition,
    _orphan_dispositions,
    _sql_blocked_near_ctes,
    _sql_hash_disp_cte,
    dedup_image_phash,
    semdedup_cells,
)
from .round17q import _SQL_AH_CTES

# --------------------------------------------------------------------------
# semdedup_cells_auto
# --------------------------------------------------------------------------

#: COST-BALANCED occupancy rule: K doubles while n > SEM_BALANCE *
#: SEM_K_MIN^2 * 4^j, i.e. K is the smallest power-of-two multiple of
#: SEM_K_MIN with n <= SEM_BALANCE * K^2 — so above the floor,
#: n/8 <= K^2 < n/2 and K tracks sqrt(n) (the FAISS IVF nlist ~ sqrt(n)
#: convention). WHY sqrt and not the naive n/target_cell: SemDeDup's two
#: cost terms pull in opposite directions — the centroid ASSIGNMENT is
#: O(n*K) while the within-cell pair scan is O(n^2/K); a linear
#: K = n/target keeps cells constant but makes assignment itself the
#: quadratic term (measured: at 100x the K=4096 assignment is ~2.4e9 dot
#: products — the oracle alone would run hours). K = Theta(sqrt(n))
#: balances both at O(n^1.5) TOTAL — the optimum for any flat one-level
#: cell index; going below n^1.5 needs a hierarchical (two-level)
#: assignment, which is a different published algorithm, not a tuning of
#: this one. The ladder covers corpora up to 512 * 4^19 ~ 1.4e14 vectors.
SEM_K_MIN = K_CENTROIDS  # floor at the fixture K, so tiny corpora reconcile
SEM_BALANCE = 8
SEM_K_DOUBLINGS = 20

_SQL_K_LADDER = " + ".join(
    f"CASE WHEN COUNT(*) > {SEM_BALANCE * SEM_K_MIN * SEM_K_MIN * (4 ** j)} THEN 1 ELSE 0 END"
    for j in range(SEM_K_DOUBLINGS)
)

#: (corpus count -> K -> centroid frame) head shared by the driver-gate and
#: scale-form oracles; the assignment/pair tails differ only in norm
#: precomputation (bit-identical arithmetic either way).
_SQL_AUTO_HEAD = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
st AS (SELECT ({SEM_K_MIN}::BIGINT << CAST({_SQL_K_LADDER} AS INTEGER)) AS kk FROM e),
c AS (SELECT vec_id AS cid, v AS cv FROM e, st WHERE vec_id < kk)"""

_SQL_SEM_AUTO = f"""WITH {_SQL_AUTO_HEAD},
pairs AS (SELECT e.vec_id, c.cid,
          list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
          + list_dot_product(c.cv, c.cv) AS d2 FROM e, c),
assign AS (SELECT vec_id, cid, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
  FROM pairs) WHERE rn = 1),
{_SQL_SEMDEDUP_CTES}
SELECT s.vec_id, s.cell, s.keeper_id, s.is_dup, st.kk AS k FROM sdisp s, st"""

#: Scale form: norms and self-dots hoisted out of the pair terms (one
#: list_dot_product per assignment pair and per cell pair instead of
#: three). Same operand values through the same expression trees, so the
#: result is bit-identical (pinned oracle-vs-oracle at the driver SF by
#: tests/test_scale_tools.py); at 100x this is the difference between
#: minutes and hours of oracle wall time.
_SQL_SEM_AUTO_SCALE = f"""WITH {_SQL_AUTO_HEAD},
en AS MATERIALIZED (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e),
cn AS MATERIALIZED (SELECT cid, cv, list_dot_product(cv, cv) AS cc FROM c),
pairs AS (SELECT en.vec_id, cn.cid,
          en.vv - 2 * list_dot_product(en.v, cn.cv) + cn.cc AS d2 FROM en, cn),
assign AS (SELECT vec_id, cid, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
  FROM pairs) WHERE rn = 1),
av AS (SELECT a.vec_id, a.cid AS cell, en.v, sqrt(en.vv) AS nrm
       FROM assign a JOIN en USING (vec_id)),
pp AS (SELECT x.vec_id AS kb, y.vec_id AS ka FROM av x JOIN av y
       ON x.cell = y.cell AND y.vec_id < x.vec_id
       WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= {SEM_TAU}),
k AS (SELECT kb AS vec_id, MIN(ka) AS keeper FROM pp GROUP BY kb),
sdisp AS (SELECT av.vec_id, av.cell, COALESCE(k.keeper, av.vec_id) AS keeper_id,
       k.keeper IS NOT NULL AS is_dup
FROM av LEFT JOIN k USING (vec_id))
SELECT s.vec_id, s.cell, s.keeper_id, s.is_dup, st.kk AS k FROM sdisp s, st"""


def _auto_k_col():
    """K as an integer-exact Column over a 1-row count frame ``n`` — the
    auto_band_bits comparison-ladder idiom (no floating log2, so both
    engines compute the identical K at every corpus size)."""
    w = F.lit(0)
    for j in range(SEM_K_DOUBLINGS):
        w = w + (
            F.col("n") > F.lit(SEM_BALANCE * SEM_K_MIN * SEM_K_MIN * (4 ** j))
        ).cast("int")
    return w


@register(
    "semdedup_cells_auto",
    oracle=_SQL_SEM_AUTO,
    scale_oracle=_SQL_SEM_AUTO_SCALE,
    doc="SemDeDup with a corpus-derived cell count — the occupancy rule "
    "that closes the one documented scale dial of semdedup_cells: "
    "K = 8 << #{j : n > 512 * 4^j}, the smallest power-of-two K with "
    "n <= 8*K^2, computed as an integer comparison ladder over a "
    "broadcast 1-row count frame — the exact auto_band_bits idiom "
    "(operators/vector.py), so engine and oracle derive the identical K "
    "with no float-edge risk. K tracks sqrt(n) (the IVF nlist ~ sqrt(n) "
    "convention) rather than n/target_cell because SemDeDup's two cost "
    "terms oppose: assignment is O(n*K), the within-cell pair scan is "
    "O(n^2/K) — sqrt balances both at O(n^1.5) total, the flat-index "
    "optimum (a linear-K rule makes the assignment itself the quadratic "
    "term). Assignment, tau and the salted (cell, vec_id%16) pair join "
    "are byte-shared with semdedup_cells (_assign_cells / "
    "_cell_pair_flags / the _SQL_SEMDEDUP_CTES oracle text); at the "
    "fixture corpus size the ladder floors at K=8 and the output "
    "reconciles with semdedup_cells row-for-row plus the k column "
    "(tests/test_round19q.py).",
    tags=("dedup", "ann", "pipeline", "semdedup"),
)
def semdedup_cells_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = persist_tracked(
        prepare_vectors(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", "v", "norm"
        )
    )
    stats = (
        vecs.agg(F.count(F.lit(1)).alias("n"))
        .select(_auto_k_col().alias("w"))
        .select(F.expr(f"shiftleft(CAST({SEM_K_MIN} AS BIGINT), w)").alias("kk"))
    )
    cents = (
        vecs.crossJoin(F.broadcast(stats))
        .filter(F.col("vec_id") < F.col("kk"))
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    asg = _assign_cells(vecs, cents)
    av = persist_tracked(asg.join(vecs, "vec_id").select("vec_id", "cell", "v", "norm"))
    k = (
        _cell_pair_flags(av, SEM_TAU)
        .filter(F.col("is_dup"))
        .groupBy("kb")
        .agg(F.min("ka").alias("keeper"))
    )
    return (
        av.select("vec_id", "cell")
        .join(k, av.vec_id == k.kb, "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("keeper", "vec_id").alias("keeper_id"),
            F.col("keeper").isNotNull().alias("is_dup"),
        )
        .crossJoin(F.broadcast(stats))
        .withColumnRenamed("kk", "k")
    )


# --------------------------------------------------------------------------
# semdedup_keeper_quality
# --------------------------------------------------------------------------

_SQL_SEM_QUALITY = f"""WITH {_SQL_KM},
{_SQL_SEMDEDUP_CTES},
vn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
cn AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM c),
qual AS (SELECT s.vec_id, s.cell, s.keeper_id,
         list_dot_product(vn.v, cn.cv) / (vn.norm * cn.cnorm) AS cosc
         FROM sdisp s JOIN vn USING (vec_id) JOIN cn ON s.cell = cn.cid),
qk AS (SELECT keeper_id, vec_id AS q_keeper_id FROM (
  SELECT keeper_id, vec_id, row_number() OVER (
    PARTITION BY keeper_id ORDER BY cosc ASC, vec_id ASC) AS rn FROM qual)
  WHERE rn = 1)
SELECT q.vec_id, q.cell, q.keeper_id AS grp_keeper, k.q_keeper_id,
       k.q_keeper_id <> q.keeper_id AS repicked
FROM qual q JOIN qk k USING (keeper_id)"""


@register(
    "semdedup_keeper_quality",
    oracle=_SQL_SEM_QUALITY,
    doc="The published SemDeDup keeper rule re-picked over the greedy "
    "groups: within each duplicate group (semdedup_cells' keeper_id "
    "partition) the KEPT example is the one with the LOWEST cosine to its "
    "cell centroid — keeping the low-similarity member preserves the most "
    "diversity (Abbas et al. 2023), vs the min-id convention the rest of "
    "the dedup suite uses for closed-form oracles. Per vector: its cell, "
    "the greedy group keeper, the quality-rule keeper (argmin cos-to-"
    "centroid, tie-break min vec_id — min(struct) in the engine, "
    "row_number in the oracle: the d2-argmin regime applied to cosine), "
    "and whether the two policies disagree. Composes semdedup_cells' "
    "builder + oracle CTEs verbatim, so the group frame cannot drift. "
    "Scale: one K-bounded broadcast join for centroid cosines + one "
    "group-keyed argmin aggregate on top of the base query — no new pair "
    "term.",
    tags=("dedup", "ann", "pipeline", "quality", "semdedup"),
)
def semdedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    sd = semdedup_cells(spark, sf_dir)
    vecs = persist_tracked(
        prepare_vectors(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", "v", "norm"
        )
    )
    cents = vecs.filter(F.col("vec_id") < K_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    qual = persist_tracked(
        sd.join(vecs, "vec_id")
        .join(F.broadcast(cents), sd.cell == cents.cid)
        .select(
            "vec_id",
            "cell",
            "keeper_id",
            (F.expr(_dot("v", "cv")) / (F.col("norm") * F.col("cnorm"))).alias("cosc"),
        )
    )
    qk = (
        qual.groupBy("keeper_id")
        .agg(
            F.min(
                F.struct(F.col("cosc").alias("cosc"), F.col("vec_id").alias("vec_id"))
            ).alias("best")
        )
        .select("keeper_id", F.col("best.vec_id").alias("q_keeper_id"))
    )
    return qual.join(qk, "keeper_id").select(
        "vec_id",
        "cell",
        F.col("keeper_id").alias("grp_keeper"),
        "q_keeper_id",
        (F.col("q_keeper_id") != F.col("keeper_id")).alias("repicked"),
    )


# --------------------------------------------------------------------------
# dedup_image_ahash_near
# --------------------------------------------------------------------------

_SQL_AHASH_NEAR = f"""WITH {_SQL_AH_CTES},
{_sql_blocked_near_ctes("ah", "ahash")},
{_sql_hash_disp_cte("ah", "ahash", out="adisp")}
SELECT doc_id, ahash, status, keeper_id FROM adisp"""


@register(
    "dedup_image_ahash_near",
    oracle=_SQL_AHASH_NEAR,
    doc="Blocked Hamming NEAR-dup over the aHash roster — the round16q "
    "4x15-bit block regime applied to the SECOND perceptual fingerprint "
    "family (round17q's dedup_image_ahash computed exact aHash classes "
    "only): exact-class collapse first, then the DISTINCT-hash roster "
    "block-joins and verifies bit_count(xor) <= 8 (recall complete to "
    "Hamming <= 3 by pigeonhole — the documented banded-recall trade), "
    "near classes merging by the greedy min-keeper hop. Both engine and "
    "oracle come from the SAME parametric single-source as the dHash "
    "path (_hash_disposition / _sql_blocked_near_ctes with hcol=ahash), "
    "so the two fingerprint families' dedup semantics are structurally "
    "identical — what makes their keeper sets comparable in the "
    "cross-family audit. Scale: one Arrow map stage + one groupBy; the "
    "Hamming join touches distinct hashes only.",
    tags=("dedup", "multimodal", "lsh_band", "minhash_sig", "phash"),
)
def dedup_image_ahash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    ph = persist_tracked(phashes_bmp(synth_bmp_payloads(docs)))
    return _hash_disposition(ph.select("doc_id", "ahash"), "ahash")


# --------------------------------------------------------------------------
# dedup_audio_fp
# --------------------------------------------------------------------------

#: The synthetic WAV signal's closed form (operators/multimodal._wav_samples:
#: sample_i = (((doc_id*31 + i*7) % 256) - 128) * 256, n = 100 + doc_id % 50)
#: re-derived entirely in SQL: per-window |sample| energies under the floor
#: NN boundary map, then the 60 difference bits.
_SQL_AFP_CTES = f"""aud AS (SELECT doc_id, 100 + doc_id % 50 AS n FROM documents),
en AS (SELECT doc_id, list_transform(range({AF_WINDOWS}), j ->
   list_sum(list_transform(range((j*n)//{AF_WINDOWS}, ((j+1)*n)//{AF_WINDOWS}), i ->
     abs((((doc_id*31 + i*7) % 256) - 128) * 256)))) AS e FROM aud),
fp AS (SELECT doc_id, CAST(list_sum(list_transform(range({AF_BITS}), j ->
   CASE WHEN e[j+2] > e[j+1] THEN (1::BIGINT << CAST(j AS INTEGER))
   ELSE 0::BIGINT END)) AS BIGINT) AS afp FROM en)"""

_SQL_AUDIO_FP = f"""WITH {_SQL_AFP_CTES},
{_sql_blocked_near_ctes("fp", "afp")},
{_sql_hash_disp_cte("fp", "afp", out="fdisp")}
SELECT doc_id, afp, status, keeper_id FROM fdisp"""


@register(
    "dedup_audio_fp",
    oracle=_SQL_AUDIO_FP,
    doc="Perceptual AUDIO dedup — the WAV leg of the round-10 image story: "
    "per clip the REAL 16-bit mono PCM WAV payload (written AND parsed "
    "with the stdlib wave codec) is fingerprinted on its energy envelope "
    "(operators/audiofp.afp_wav: 61 floor-NN windows of |sample| energy, "
    "bit j = E_{j+1} > E_j -> 60 bits, all integer-exact), then exact "
    "fingerprint classes collapse first and the DISTINCT roster enters "
    "the SAME 4x15-bit block Hamming join as the image hashes "
    "(_hash_disposition, bit_count(xor) <= 8, recall complete to Hamming "
    "3). The synthetic signal's closed form makes the oracle derive the "
    "fingerprint independently in SQL, so the real codec round trip is "
    "differentially checked end to end — the WAV analog of _sql_gray. "
    "Scale: one Arrow map stage linear in clip length + one groupBy; the "
    "Hamming join is bounded by content diversity, never corpus rows.",
    tags=("dedup", "multimodal", "lsh_band", "minhash_sig", "phash"),
)
def dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    fp = persist_tracked(afp_wav(synth_wav_payloads(docs)))
    return _hash_disposition(fp, "afp")


# --------------------------------------------------------------------------
# crossmodal_pair_curation
# --------------------------------------------------------------------------

_SQL_CROSSMODAL = f"""WITH {_SQL_SC_HEAD},
candt AS (SELECT DISTINCT b.doc_id AS doc_b, a.doc_id AS doc_a
          FROM bands a JOIN bands b USING (band, band_sig)
          WHERE a.doc_id < b.doc_id),
sct AS ({_sql_scored("candt", "doc_b", "doc_a")}),
mkt AS (SELECT doc_b, MIN(doc_a) AS tk FROM sct
        WHERE n_agree >= {SC_MIN_AGREE} GROUP BY doc_b),
{_SQL_PHASH_CTES}
SELECT d.doc_id,
  i.keeper_id = d.doc_id AS img_keep,
  m.tk IS NULL AS txt_keep,
  (i.keeper_id = d.doc_id) AND (m.tk IS NULL) AS pair_kept,
  CASE WHEN i.keeper_id = d.doc_id AND m.tk IS NULL THEN 'kept'
       WHEN i.keeper_id <> d.doc_id AND m.tk IS NOT NULL THEN 'both_dup'
       WHEN i.keeper_id <> d.doc_id THEN 'image_dup'
       ELSE 'text_dup' END AS drop_reason
FROM documents d JOIN idisp i USING (doc_id)
LEFT JOIN mkt m ON d.doc_id = m.doc_b"""


@register(
    "crossmodal_pair_curation",
    oracle=_SQL_CROSSMODAL,
    doc="LAION-style (image, caption) pair curation: a document pair "
    "survives iff BOTH modality legs keep it — the IMAGE leg is "
    "dedup_image_phash's keeper (exact dHash class + blocked Hamming "
    "near merge over the REAL BMP bytes; builder composed, not copied), "
    "the TEXT leg is the full-corpus MinHash-LSH greedy min keeper (band "
    "self-join candidates verified by >= 4/16 signature agreement — the "
    "round14q regime over the whole corpus instead of a state/delta "
    "split). Output per doc: each leg's keep flag, the pair verdict, and "
    "the drop reason (kept / image_dup / text_dup / both_dup) — the "
    "per-leg accounting a multimodal curation pipeline reports; the "
    "reconciliation test pins that per-leg drops sum to pair-level drops "
    "(tests/test_round19q.py). Oracle composes both legs' CTE texts "
    "verbatim (_SQL_PHASH_CTES + _SQL_SC_HEAD), so neither leg can drift "
    "from its standalone query. Scale: both legs are banded/blocked "
    "equi-joins; the final assembly is two doc_id-keyed joins.",
    tags=("dedup", "multimodal", "lsh_band", "minhash_sig", "pipeline"),
)
def crossmodal_pair_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ids, sigs, bands = _doc_sigs_bands(spark, sf_dir)
    candt = lsh_candidates(bands, "doc_a", None, "doc_b", ("doc_b", "doc_a"))
    mkt = (
        _verified_min_keeper(candt, sigs, "doc_b", "doc_a")
        .withColumnRenamed("doc_b", "doc_id")
        .select("doc_id", F.col("keeper").alias("tk"))
    )
    img = dedup_image_phash(spark, sf_dir).select(
        "doc_id", (F.col("keeper_id") == F.col("doc_id")).alias("img_keep")
    )
    return (
        img.join(mkt, "doc_id", "left")
        .select(
            "doc_id",
            "img_keep",
            F.col("tk").isNull().alias("txt_keep"),
            (F.col("img_keep") & F.col("tk").isNull()).alias("pair_kept"),
            F.when(F.col("img_keep") & F.col("tk").isNull(), F.lit("kept"))
            .when(~F.col("img_keep") & F.col("tk").isNotNull(), F.lit("both_dup"))
            .when(~F.col("img_keep"), F.lit("image_dup"))
            .otherwise(F.lit("text_dup"))
            .alias("drop_reason"),
        )
    )


# --------------------------------------------------------------------------
# streaming_tombstone_fold
# --------------------------------------------------------------------------

_SQL_STREAM_TOMB = f"""WITH t AS ({_SQL_TOMBSTONES})
SELECT d.doc_id AS tomb_id, o.doc_id AS orphan_id, o.status, o.new_keeper
FROM documents d LEFT JOIN (SELECT * FROM t WHERE status <> 'tombstoned') o
  ON o.old_keeper = d.doc_id
WHERE d.doc_id % {TOMB_MOD} = 0"""


@register(
    "streaming_tombstone_fold",
    oracle=_SQL_STREAM_TOMB,
    doc="The deletion leg of the dedup-state family as a STREAM — the "
    "takedown-feed shape of dedup_state_tombstones: tombstone ids "
    "(canonicals with doc_id % 10 == 0) STREAM in micro-batches and "
    "stream-static LEFT-join the orphan re-canonicalization frame "
    "(round16q._orphan_dispositions, keyed by old_keeper), so every "
    "arriving takedown immediately emits the delta docs it orphans and "
    "their disposition (rehomed / dup_in_delta / promoted + new keeper), "
    "or a bare (tomb_id, NULL) row when it orphaned nothing. Append mode "
    "with zero aggregation state — the static index is the only "
    "non-stream operand, exactly the streaming_dedup_state_probe shape "
    "with the roles flipped (the STATE side streams, the probe frame is "
    "static). Batch≡stream pinned via availableNow; the oracle re-keys "
    "the batch fold's orphan rows by tombstone over the byte-same "
    "_SQL_TOMBSTONES text, so the two views reconcile row-for-row. At "
    "100 TB the disposition frame is yesterday's fold output — O(orphans) "
    "— while takedowns arrive continuously.",
    tags=("streaming", "dedup", "minhash_sig", "lsh_band", "merge_upsert"),
    bench=False,
)
def streaming_tombstone_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import documents_stream, run_available_now

    static = persist_tracked(
        _orphan_dispositions(spark, sf_dir).select(
            F.col("doc_id").alias("orphan_id"),
            "status",
            F.col("old_keeper").alias("tomb_id"),
            "new_keeper",
        )
    )
    tombs = (
        documents_stream(spark, sf_dir)
        .filter(F.col("doc_id") % TOMB_MOD == 0)
        .select(F.col("doc_id").alias("tomb_id"))
    )
    out = tombs.join(static, "tomb_id", "left").select(
        "tomb_id", "orphan_id", "status", "new_keeper"
    )
    return run_available_now(out, output_mode="append")
