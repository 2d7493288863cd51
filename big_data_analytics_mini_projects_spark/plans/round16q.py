"""Perceptual-hash image dedup, SemDeDup cells and dedup-state tombstones.

- ``dedup_image_phash`` (verdict item 2) — perceptual-hash image near-dup,
  the multimodal leg of the dedup story: the REAL BMP byte path
  (synth_bmp_payloads -> operators/phash.dhash_bmp) computes a 60-bit
  difference hash per image; exact hash classes collapse FIRST (one
  groupBy — at 100 TB most dup mass is exact), then the DISTINCT-hash
  roster alone enters Hamming blocking via the SimHash-style 4x15-bit
  block index (pairs sharing a block, verified bit_count(xor) <= 8).
  Near-class merging is the greedy min-keeper hop (NOT connected
  components — the round14q convention), so the DuckDB oracle computes it
  bit-for-bit from the doc_id-derived pixel pattern's closed form.
- ``semdedup_cells`` (verdict item 3) — SemDeDup-style semantic dedup
  (Abbas et al. 2023): embeddings are partitioned into k-means cells (the
  EXACT kmeans_lloyd_step assignment — shared _SQL_KM CTE, K=8 seed
  centroids, min(struct(d2, cid)) argmin), then near-duplicates are pruned
  WITHIN cells only: pairs at cosine >= NEAR_MIN_COS (the shared.py
  embedding-near threshold) dedup to the min-id keeper. Cross-cell pairs
  are never generated — the cell blocking IS the published algorithm's
  scale bound (K grows with the corpus; per-cell work stays quadratic in
  cell size only).
- ``dedup_state_tombstones`` (verdict item 7) — the deletion/TTL leg of
  the round14q dedup-state family: a tombstone batch (robots/takedown
  removals — canonicals with doc_id % 10 == 0) is folded into the
  accumulated roster. Every delta doc whose canonical was tombstoned is
  ORPHANED and re-canonicalizes: to its MIN surviving verified state
  match (rehomed), else to its MIN verified same-orphan neighbor
  (dup_in_delta, the greedy convention), else it promotes into the
  roster. Same shingle/signature/band/verify regime as
  dedup_state_compaction (imported, not copied), so the families
  reconcile row-for-row (tests/test_round16q.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..operators.multimodal import synth_bmp_payloads
from ..operators.phash import PH_BLOCK_BITS, PH_GRID_H, PH_GRID_W, PH_N_BLOCKS, dhash_bmp
from ..operators.vector import _dot, prepare_vectors
from ..sources.tables import load_table, spread
from .pipelineq import _SQL_KM, K_CENTROIDS
from .registry import register
from .round14q import (
    SC_MIN_AGREE,
    _SQL_SC_HEAD,
    _doc_sigs_bands,
    _sql_scored,
    _state_candidates,
    _verified_min_keeper,
    _within_candidates,
)
from .shared import NEAR_MIN_COS

# --------------------------------------------------------------------------
# dedup_image_phash
# --------------------------------------------------------------------------

PH_MAX_HAMMING = 8  # the dedup_simhash verify gate, same 4x15 block regime
_PH_BLOCK_MASK = (1 << PH_BLOCK_BITS) - 1  # 32767


def _sql_gray(xs: str, ys: str, grid_w: int = PH_GRID_W, grid_h: int = PH_GRID_H) -> str:
    """Closed-form gray (r+g+b) of the synthetic BMP pixel pattern
    (operators/multimodal._bmp_pixel) at grid cell (xs, ys) under the floor
    NN map — w = 4 + doc_id % 4, h = 2 + doc_id % 3. Grid dims default to
    the dHash grid; round17q's aHash reuses this with its 6x10 grid."""
    sx = f"(({xs}) * (4 + doc_id % 4)) // {grid_w}"
    sy = f"(({ys}) * (2 + doc_id % 3)) // {grid_h}"
    return (
        f"((doc_id + 3 * ({sx}) + 7 * ({sy})) % 256"
        f" + (doc_id * 2 + ({sx}) + ({sy})) % 256"
        f" + (({sx}) * ({sy}) + doc_id) % 256)"
    )


#: 60-bit dHash in closed form: the oracle's independent derivation of what
#: the engine computes from the REAL BMP bytes.
_SQL_DHASH = (
    f"CAST(list_sum(flatten(list_transform(range({PH_GRID_H}), yr -> "
    f"list_transform(range({PH_GRID_W - 1}), xc -> "
    f"CASE WHEN {_sql_gray('xc + 1', 'yr')} > {_sql_gray('xc', 'yr')} "
    f"THEN (1::BIGINT << CAST(yr * {PH_GRID_W - 1} + xc AS INTEGER)) "
    f"ELSE 0::BIGINT END)))) AS BIGINT)"
)

def _sql_blocked_near_ctes(src: str, hcol: str) -> str:
    """Parametric CTE chain — exact hash classes -> 4x15-bit block scatter
    -> shared-block candidates -> Hamming<=8 verify -> per-hash min near
    keeper — over CTE ``src``'s (doc_id, ``hcol``) rows. The single SQL
    source for every 60-bit-fingerprint dedup oracle (dHash here, aHash
    and the audio fingerprint in round19q)."""
    return f"""cls AS (SELECT {hcol}, MIN(doc_id) AS ck FROM {src} GROUP BY {hcol}),
blk AS (SELECT {hcol}, ck, b, ({hcol} >> CAST(b * {PH_BLOCK_BITS} AS INTEGER))
        & {_PH_BLOCK_MASK} AS v
        FROM (SELECT {hcol}, ck, unnest(range({PH_N_BLOCKS})) AS b FROM cls)),
cand AS (SELECT DISTINCT a.{hcol} AS ha, a.ck AS ka, c.{hcol} AS hb, c.ck AS kb
         FROM blk a JOIN blk c ON a.b = c.b AND a.v = c.v
         WHERE a.{hcol} < c.{hcol}),
ver AS (SELECT * FROM cand WHERE bit_count(xor(ha, hb)) <= {PH_MAX_HAMMING}),
near AS (SELECT {hcol}, MIN(ok) AS nk FROM (
  SELECT ha AS {hcol}, kb AS ok FROM ver UNION ALL SELECT hb, ka FROM ver)
  GROUP BY {hcol})"""


def _sql_hash_disp_cte(src: str, hcol: str, out: str) -> str:
    """Per-doc disposition CTE (exact_dup / near_dup / canonical + keeper)
    over a fingerprint CTE and its ``_sql_blocked_near_ctes`` chain."""
    return (
        f"{out} AS (SELECT p.doc_id, p.{hcol},\n"
        "  CASE WHEN p.doc_id <> c.ck THEN 'exact_dup'\n"
        "       WHEN n.nk IS NOT NULL AND n.nk < c.ck THEN 'near_dup'\n"
        "       ELSE 'canonical' END AS status,\n"
        "  CASE WHEN p.doc_id <> c.ck THEN c.ck\n"
        "       ELSE LEAST(c.ck, COALESCE(n.nk, c.ck)) END AS keeper_id\n"
        f"FROM {src} p JOIN cls c USING ({hcol}) "
        f"LEFT JOIN near n USING ({hcol}))"
    )


#: Composable CTE chain (hash -> exact classes -> blocked Hamming near
#: frame -> per-doc disposition ``idisp``) shared by this query's oracle
#: and round19q's cross-modal join: the CTE text is the single source, so
#: the image leg cannot drift.
_SQL_PHASH_CTES = (
    f"ph AS (SELECT doc_id, {_SQL_DHASH} AS dhash FROM documents),\n"
    + _sql_blocked_near_ctes("ph", "dhash")
    + ",\n"
    + _sql_hash_disp_cte("ph", "dhash", out="idisp")
)

_SQL_PHASH = f"""WITH {_SQL_PHASH_CTES}
SELECT doc_id, dhash, status, keeper_id FROM idisp"""

def _ph_blocks_expr(hcol: str = "dhash") -> str:
    """The 4x15-bit block scatter of the class roster, as one generated
    array expression (the streaming_dedup_state_probe idiom) — parametric
    on the fingerprint column so the dHash/aHash/audio paths share it."""
    return "array(" + ", ".join(
        f"struct(CAST({b} AS INT) AS b, "
        f"shiftright({hcol}, {b * PH_BLOCK_BITS}) & {_PH_BLOCK_MASK} AS v)"
        for b in range(PH_N_BLOCKS)
    ) + ")"


#: Kept for the round-10 shape pins' import surface.
_PH_BLOCKS_EXPR = _ph_blocks_expr("dhash")


def _blocked_near_frame(cls: DataFrame, hcol: str) -> DataFrame:
    """(``hcol``, nk): for each distinct fingerprint in the class roster
    ``cls`` (hcol, ck), the MIN exact-class keeper among its verified
    Hamming<=8 neighbors — candidates only from the 4x15-bit block
    equi-join (recall-complete to Hamming 3 by pigeonhole). The engine
    single-source of the blocked-near shape for every 60-bit fingerprint
    family."""
    blk = cls.select(hcol, "ck", F.explode(F.expr(_ph_blocks_expr(hcol))).alias("bb")).select(
        hcol, "ck", F.col("bb.b").alias("b"), F.col("bb.v").alias("v")
    )
    a = blk.select(F.col(hcol).alias("ha"), F.col("ck").alias("ka"), "b", "v")
    c = blk.select(F.col(hcol).alias("hb"), F.col("ck").alias("kb"), "b", "v")
    ver = (
        a.join(c, ["b", "v"])
        .filter(F.col("ha") < F.col("hb"))
        .select("ha", "ka", "hb", "kb")
        .distinct()
        .filter(F.expr(f"bit_count(ha ^ hb) <= {PH_MAX_HAMMING}"))
    )
    return (
        ver.select(F.col("ha").alias(hcol), F.col("kb").alias("ok"))
        .unionByName(ver.select(F.col("hb").alias(hcol), F.col("ka").alias("ok")))
        .groupBy(hcol)
        .agg(F.min("ok").alias("nk"))
    )


def _hash_disposition(ph: DataFrame, hcol: str) -> DataFrame:
    """(doc_id, hcol, status, keeper_id): exact-class collapse + blocked
    near merge over a per-doc fingerprint frame — the engine twin of
    ``_sql_hash_disp_cte`` (exact_dup / near_dup / canonical, greedy
    min-keeper hop)."""
    cls = persist_tracked(ph.groupBy(hcol).agg(F.min("doc_id").alias("ck")))
    near = _blocked_near_frame(cls, hcol)
    return (
        ph.join(cls, hcol)
        .join(near, hcol, "left")
        .select(
            "doc_id",
            hcol,
            F.when(F.col("doc_id") != F.col("ck"), F.lit("exact_dup"))
            .when(F.col("nk") < F.col("ck"), F.lit("near_dup"))
            .otherwise(F.lit("canonical"))
            .alias("status"),
            F.when(F.col("doc_id") != F.col("ck"), F.col("ck"))
            .otherwise(F.least("ck", F.coalesce("nk", "ck")))
            .alias("keeper_id"),
        )
    )


@register(
    "dedup_image_phash",
    oracle=_SQL_PHASH,
    doc="Perceptual-hash image near-dup — the multimodal leg of the dedup "
    "suite: per image the REAL 24-bit BMP payload (synth_bmp_payloads) is "
    "parsed byte-for-byte and difference-hashed on a 7x10 gray grid "
    "(operators/phash.dhash_bmp, 60 bits so the value is exact in a "
    "signed BIGINT in both engines). Exact hash classes collapse first "
    "(groupBy dhash, min-id keeper — at corpus scale most duplicate mass "
    "is exact); only the DISTINCT-hash roster enters near-dup blocking: "
    "4x15-bit block equi-join (pigeonhole: Hamming <= 3 guarantees a "
    "shared block) verified by bit_count(xor) <= 8 — the dedup_simhash "
    "regime on a perceptual fingerprint. SEMANTICS: near_dup means "
    "'shares a 15-bit block AND Hamming <= 8' — recall is COMPLETE only "
    "to Hamming <= 3; pairs at 4-8 that differ in all four blocks are "
    "(by design) not candidates, the standard banded-recall trade "
    "(engine and oracle mirror the same blocked set, so the differential "
    "is exact either way). Near classes merge by the greedy "
    "min-keeper hop (round14q convention, not CC), keeping the oracle "
    "closed-form: the doc_id-derived pixel pattern makes the expected "
    "hash computable in SQL, so the REAL byte path is differentially "
    "checked end to end. Scale: two Arrow map stages + one groupBy; the "
    "Hamming join touches distinct hashes only (bounded by content "
    "diversity, never corpus rows).",
    tags=("dedup", "multimodal", "lsh_band", "minhash_sig", "phash"),
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    ph = persist_tracked(dhash_bmp(synth_bmp_payloads(docs)))
    return _hash_disposition(ph, "dhash")


# --------------------------------------------------------------------------
# semdedup_cells
# --------------------------------------------------------------------------

SEM_TAU = NEAR_MIN_COS  # the shared embedding-near threshold (shared.py)

#: Pair-join salt width: the within-cell self-join keyed on `cell` alone has
#: parallelism K — pathological at small K (one task owns a whole cell's
#: quadratic pair scan; measured: the K=2 sweep point ran ONE task for 20+
#: minutes at sf1). Bucketing the smaller-id side by vec_id % B and
#: replicating the larger-id side across the B buckets keeps the pair set
#: EXACT while lifting parallelism to K x B — the cf_item_similarity_salted
#: pattern applied to pair generation.
SEM_PAIR_BUCKETS = 16


def _assign_cells(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment of every vector to the
    given (cid, cv) centroid frame — the EXACT kmeans_lloyd_step shape
    shared by semdedup_cells, round17q's K-sweep and round19q's auto-K
    variant: bounded centroid frame broadcast, argmin via min(struct(d2,
    cid)) partial-aggregated map-side (tie-break (d2 asc, cid asc)), no
    per-vector window.

    Self-dots are HOISTED out of the pair term (one array fold per vector
    and per centroid instead of three per (vector, centroid) pair — the
    n*K assignment scan evaluates only the cross dot per pair). Same
    operand values through the same `vv - 2*d + cc` expression tree, so d2
    is bit-identical to the inline form — the exact hoisting the scale
    oracle (_SQL_SEM_AUTO_SCALE) already pins result-equal on the DuckDB
    side. Measured ~3x on the assignment stage at K=64."""
    vv = vecs.withColumn("_vv", F.expr(_dot("v", "v")))
    cc = cents.withColumn("_cc", F.expr(_dot("cv", "cv")))
    d2 = F.col("_vv") - 2 * F.expr(_dot("v", "cv")) + F.col("_cc")
    return (
        vv.join(F.broadcast(cc))
        .select("vec_id", F.struct(d2.alias("d2"), F.col("cid").alias("cid")).alias("dc"))
        .groupBy("vec_id")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", F.col("best.cid").alias("cell"))
    )


def _cell_pair_flags(av: DataFrame, tau: float) -> DataFrame:
    """(kb, ka, is_dup) for EVERY within-cell pair (ka < kb), is_dup =
    cosine >= tau, generated via the salted (cell, bucket) equi-join above.
    ``av`` carries (vec_id, cell, v, norm). Consumers filter or aggregate
    the flag (semdedup_cells keeps dup pairs; the round17q K-sweep counts
    evaluated vs dup pairs)."""
    y = av.select(
        F.col("vec_id").alias("ka"), "cell", F.col("v").alias("va"),
        F.col("norm").alias("na"),
        F.pmod(F.col("vec_id"), F.lit(SEM_PAIR_BUCKETS)).alias("bkt"),
    )
    x = av.select(
        F.col("vec_id").alias("kb"), "cell", F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    ).withColumn(
        # long literals: pmod(vec_id, 16) is bigint — matching types keep the
        # join key cast-free (and the shape pin's key parse clean)
        "bkt",
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(SEM_PAIR_BUCKETS)])),
    )
    return (
        x.join(y, ["cell", "bkt"])
        .filter(F.col("ka") < F.col("kb"))
        .select(
            "kb",
            "ka",
            (
                (F.expr(_dot("vb", "va")) / (F.col("nb") * F.col("na"))) >= tau
            ).alias("is_dup"),
        )
    )

#: Composable CTE chain after the shared _SQL_KM head (assignment ->
#: within-cell dup pairs -> greedy min keeper -> per-vector disposition
#: ``sdisp``) — the single oracle source for semdedup_cells and round19q's
#: quality-keeper re-pick.
_SQL_SEMDEDUP_CTES = f"""av AS (SELECT a.vec_id, a.cid AS cell, e.v FROM assign a JOIN e USING (vec_id)),
pp AS (SELECT x.vec_id AS kb, y.vec_id AS ka FROM av x JOIN av y
       ON x.cell = y.cell AND y.vec_id < x.vec_id
       WHERE list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) *
             sqrt(list_dot_product(y.v, y.v))) >= {SEM_TAU}),
k AS (SELECT kb AS vec_id, MIN(ka) AS keeper FROM pp GROUP BY kb),
sdisp AS (SELECT av.vec_id, av.cell, COALESCE(k.keeper, av.vec_id) AS keeper_id,
       k.keeper IS NOT NULL AS is_dup
FROM av LEFT JOIN k USING (vec_id))"""

_SQL_SEMDEDUP = f"""WITH {_SQL_KM},
{_SQL_SEMDEDUP_CTES}
SELECT vec_id, cell, keeper_id, is_dup FROM sdisp"""


@register(
    "semdedup_cells",
    oracle=_SQL_SEMDEDUP,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): every embedding "
    "is assigned to its nearest of K=8 seed centroids — the EXACT "
    "kmeans_lloyd_step assignment (shared _SQL_KM CTE; broadcast K-frame, "
    "min(struct(d2, cid)) argmin, (d2 asc, cid asc) tie-break) — and "
    "near-duplicates are pruned WITHIN cells only: pairs at cosine >= "
    "0.35 (NEAR_MIN_COS, the shared embedding-near threshold; the "
    "synthetic embeddings carry no >0.55 pairs) dedup to the min-id "
    "keeper, the published per-cluster pruning that complements the "
    "SRP-bucket syntactic path. Cross-cell pairs are never generated — "
    "the cell blocking is the algorithm's scale bound (K grows with the "
    "corpus so per-cell work stays bounded); the within-cell join is a "
    "salted (cell, vec_id%16) equi-join — pair set exact, parallelism "
    "K x 16 instead of K (the cf_item_similarity_salted pattern).",
    tags=("dedup", "ann", "pipeline", "semdedup"),
)
def semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = persist_tracked(
        prepare_vectors(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", "v", "norm"
        )
    )
    cents = vecs.filter(F.col("vec_id") < K_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
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
    )


# --------------------------------------------------------------------------
# dedup_state_tombstones
# --------------------------------------------------------------------------

TOMB_MOD = 10  # tombstoned canonicals: doc_id % 10 == 0 (all even -> all state)

_SQL_TOMBSTONES = f"""WITH {_SQL_SC_HEAD},
cand_s AS (SELECT DISTINCT d.doc_id AS doc_d, s.doc_id AS doc_s
           FROM bands d JOIN bands s USING (band, band_sig)
           WHERE d.doc_id % 2 = 1 AND s.doc_id % 2 = 0),
sc_s AS ({_sql_scored("cand_s", "doc_d", "doc_s")}),
vp AS (SELECT doc_d, doc_s FROM sc_s WHERE n_agree >= {SC_MIN_AGREE}),
old AS (SELECT doc_d, MIN(doc_s) AS k_old FROM vp GROUP BY doc_d),
surv AS (SELECT doc_d, MIN(doc_s) AS k_surv FROM vp
         WHERE doc_s % {TOMB_MOD} <> 0 GROUP BY doc_d),
orph AS (SELECT o.doc_d, o.k_old, s.k_surv FROM old o
         LEFT JOIN surv s USING (doc_d) WHERE o.k_old % {TOMB_MOD} = 0),
po AS (SELECT doc_d FROM orph WHERE k_surv IS NULL),
cand_o AS (SELECT DISTINCT b.doc_id AS doc_b, a.doc_id AS doc_a
           FROM bands a JOIN bands b USING (band, band_sig)
           JOIN po pa ON a.doc_id = pa.doc_d JOIN po pb ON b.doc_id = pb.doc_d
           WHERE a.doc_id < b.doc_id),
sc_o AS ({_sql_scored("cand_o", "doc_b", "doc_a")}),
m_o AS (SELECT doc_b, MIN(doc_a) AS k_o FROM sc_o
        WHERE n_agree >= {SC_MIN_AGREE} GROUP BY doc_b)
SELECT doc_id, 'tombstoned' AS status, doc_id AS old_keeper,
       CAST(NULL AS BIGINT) AS new_keeper
FROM documents WHERE doc_id % {TOMB_MOD} = 0
UNION ALL
SELECT o.doc_d AS doc_id,
       CASE WHEN o.k_surv IS NOT NULL THEN 'rehomed'
            WHEN m.k_o IS NOT NULL THEN 'dup_in_delta'
            ELSE 'promoted' END AS status,
       o.k_old AS old_keeper,
       COALESCE(o.k_surv, m.k_o, o.doc_d) AS new_keeper
FROM orph o LEFT JOIN m_o m ON o.doc_d = m.doc_b"""


def _verified_pairs(cand: DataFrame, sigs: DataFrame, d_col: str, k_col: str) -> DataFrame:
    """(d_col, k_col) candidate pairs whose signature agreement clears
    SC_MIN_AGREE — round14q._verified_min_keeper minus its final min-reduce
    (the tombstone fold needs the full verified pair set to re-home around
    the removed canonicals, not just the min)."""
    sa = sigs.select(F.col("doc_id").alias(d_col), "seed", F.col("mh").alias("mha"))
    sb = sigs.select(F.col("doc_id").alias(k_col), "seed", F.col("mh").alias("mhb"))
    return (
        cand.join(sa, d_col)
        .join(sb, [k_col, "seed"])
        .groupBy(d_col, k_col)
        .agg(F.sum((F.col("mha") == F.col("mhb")).cast("long")).alias("n_agree"))
        .filter(F.col("n_agree") >= SC_MIN_AGREE)
        .select(d_col, k_col)
    )


@register(
    "dedup_state_tombstones",
    oracle=_SQL_TOMBSTONES,
    doc="Deletion/TTL leg of the dedup-state family — the CRUD completion "
    "of dedup_state_compaction: a tombstone batch (takedown/robots "
    "removals; canonicals with doc_id % 10 == 0) is folded into the "
    "accumulated roster. Every delta doc whose min verified canonical "
    "was tombstoned is ORPHANED and re-canonicalizes with the greedy "
    "round14q convention: to its MIN surviving verified state match "
    "(rehomed — the verified pair set already contains the alternative, "
    "no re-probe of the corpus), else to its MIN verified same-orphan "
    "band neighbor (dup_in_delta), else it promotes into the roster. "
    "Output is the tombstoned canonicals plus every orphan's disposition "
    "(old_keeper -> new_keeper). Same shingle/signature/band/verify "
    "regime as dedup_state_compaction (imported, byte-same oracle CTEs), "
    "so orphans reconcile row-for-row with its dup_of_state set "
    "(tests/test_round16q.py). Scale: the fold touches verified pairs "
    "and orphan bands only — O(tombstones + orphans x bands), never a "
    "corpus recompute; exactly what a daily takedown batch costs.",
    tags=("dedup", "minhash_sig", "lsh_band", "merge_upsert", "pipeline"),
)
def dedup_state_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, _sigs, _bands = _doc_sigs_bands(spark, sf_dir)
    tomb = ids.filter(F.col("doc_id") % TOMB_MOD == 0).select(
        "doc_id",
        F.lit("tombstoned").alias("status"),
        F.col("doc_id").alias("old_keeper"),
        F.lit(None).cast("long").alias("new_keeper"),
    )
    return tomb.unionByName(_orphan_dispositions(spark, sf_dir))


def _orphan_dispositions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, status, old_keeper, new_keeper) for every ORPHANED delta doc
    of the tombstone fold — the re-canonicalization frame shared by
    dedup_state_tombstones (which unions the tombstoned canonicals on top)
    and round19q's streaming fold (which joins it, keyed by old_keeper,
    against the tombstone stream). Both callers' _doc_sigs_bands plans are
    identical, so CacheManager resolves them to one materialization.

    sigs/bands enter as checkpoint_shared leaves (built inside
    _doc_sigs_bands, same keys as the round14q curves): the fold references
    bands 3x and sigs 2x, and the leaf keeps every consumer's analyzed tree
    flat while the memo preserves plan identity across repeats/siblings."""
    _ids, sigs, bands = _doc_sigs_bands(spark, sf_dir)
    cand_s = _state_candidates(
        bands.filter(F.col("doc_id") % 2 == 1), bands.filter(F.col("doc_id") % 2 == 0)
    )
    vp = persist_tracked(_verified_pairs(cand_s, sigs, "doc_d", "doc_s"))
    old = vp.groupBy("doc_d").agg(F.min("doc_s").alias("k_old"))
    surv = (
        vp.filter(F.col("doc_s") % TOMB_MOD != 0)
        .groupBy("doc_d")
        .agg(F.min("doc_s").alias("k_surv"))
    )
    orph = persist_tracked(
        old.filter(F.col("k_old") % TOMB_MOD == 0).join(surv, "doc_d", "left")
    )
    po = orph.filter(F.col("k_surv").isNull()).select(F.col("doc_d").alias("doc_id"))
    cand_o = _within_candidates(bands.join(po, "doc_id"))
    m_o = (
        _verified_min_keeper(cand_o, sigs, "doc_b", "doc_a")
        .withColumnRenamed("doc_b", "doc_d")
        .select("doc_d", F.col("keeper").alias("k_o"))
    )
    return (
        orph.join(m_o, "doc_d", "left")
        .select(
            F.col("doc_d").alias("doc_id"),
            F.when(F.col("k_surv").isNotNull(), F.lit("rehomed"))
            .when(F.col("k_o").isNotNull(), F.lit("dup_in_delta"))
            .otherwise(F.lit("promoted"))
            .alias("status"),
            F.col("k_old").alias("old_keeper"),
            F.coalesce("k_surv", "k_o", "doc_d").alias("new_keeper"),
        )
    )
