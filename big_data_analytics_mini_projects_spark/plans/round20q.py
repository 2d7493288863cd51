"""Three queries, each the next production step its round19q sibling's
docstring names.

- ``semdedup_two_level`` — HIERARCHICAL centroid assignment, the
  O(n*K) -> O(n*(K1 + K/K1)) step the auto-K docstring calls out as the
  next published algorithm (IVF coarse quantization / two-level k-means):
  fine centroids are themselves assigned to K1 coarse centroids; a vector
  first picks its coarse cell, then argmins only over the fine centroids
  INSIDE that coarse cell. The output is the approximation AUDIT — per
  vector, the two-level fine cell vs the flat argmin and the agreement
  flag — exactly the recall measurement a production pipeline runs before
  trusting the hierarchical index (coarse boundaries cause the
  disagreements, never cells inside the same coarse region). Every coarse
  cell is non-empty by construction: the coarse seeds are a subset of the
  fine seeds and self-assign at distance 0.
- ``dedup_audio_ahash`` — the SECOND audio fingerprint + agreement audit:
  the 60-bit energy AVERAGE hash (60 windows, bit = window energy
  strictly above the clip mean via the exact integer inequality
  E_j * 60 > sum(E)) computed in the SAME codec parse as the difference
  hash (operators/audiofp.afps_wav — one parse, two fingerprints), with
  per-clip exact-class keepers under BOTH families and the agreement
  flag — the round17q dedup_image_ahash audit replayed on the WAV leg.
- ``dedup_tombstone_curve`` — the deletion leg across SUCCESSIVE takedown
  batches (the compaction-curve shape on tombstones): the takedown ledger
  is split into 3 ordered batches ((doc_id // 10) % 3); per batch, every
  delta doc whose CURRENT keeper dies re-homes to its MIN still-surviving
  verified match — including docs re-homed by an EARLIER batch whose new
  keeper dies later (the cascading re-home a one-shot fold cannot see) —
  else exits as dup_in_delta (min verified same-batch orphan) or
  promoted. Emits the per-batch roster-health row (tombstoned, orphans by
  disposition, running state size). Both engines derive the keeper chain
  DECLARATIVELY from the verified-pair set: keeper-after-batch-t is
  min{verified match not tombstoned by batch <= t}, so no iterative state
  is carried at all — the whole curve is three filtered aggregates over
  one pair frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import checkpoint_shared, persist_tracked
from ..operators.audiofp import AF_A_BITS, AF_A_WINDOWS, afps_wav
from ..operators.multimodal import synth_wav_payloads
from ..operators.similarity import lsh_candidates
from ..operators.vector import _dot, prepare_vectors
from ..sources.tables import load_table, spread
from .pipelineq import K_CENTROIDS
from .registry import register
from .round14q import (
    SC_MIN_AGREE,
    _SQL_SC_HEAD,
    _doc_sigs_bands,
    _sql_scored,
    _verified_pairs,
)
from .round16q import TOMB_MOD, _assign_cells
from .round19q import _SQL_AFP_CTES

# --------------------------------------------------------------------------
# semdedup_two_level
# --------------------------------------------------------------------------

TL_K_FINE = 64   # fine cells (vec_id < 64 seeds)
TL_K1 = K_CENTROIDS  # coarse cells (vec_id < 8 seeds — a subset of the fine)

_SQL_D2 = (
    "list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b})"
)


def _sql_argmin(pairs: str, key: str, cand: str) -> str:
    """row_number argmin CTE body over a (key, cand, d2) pair frame —
    (d2 asc, cand asc) tie-break, the kmeans_lloyd_step convention."""
    return (
        f"SELECT {key}, {cand} FROM (SELECT {key}, {cand}, row_number() OVER ("
        f"PARTITION BY {key} ORDER BY d2 ASC, {cand} ASC) AS rn FROM {pairs}) "
        "WHERE rn = 1"
    )


_SQL_TWO_LEVEL = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cc AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {TL_K1}),
fc AS (SELECT vec_id AS fid, v AS fv FROM e WHERE vec_id < {TL_K_FINE}),
fp2 AS (SELECT f.fid, c.cid, {_SQL_D2.format(a="f.fv", b="c.cv")} AS d2 FROM fc f, cc c),
f2c AS ({_sql_argmin("fp2", "fid", "cid")}),
vp2 AS (SELECT e.vec_id, c.cid, {_SQL_D2.format(a="e.v", b="c.cv")} AS d2 FROM e, cc c),
vcrs AS ({_sql_argmin("vp2", "vec_id", "cid")}),
cand AS (SELECT e.vec_id, f.fid, {_SQL_D2.format(a="e.v", b="f.fv")} AS d2
         FROM e JOIN vcrs USING (vec_id)
         JOIN (SELECT fc.fid, fc.fv, f2c.cid AS coarse FROM fc JOIN f2c USING (fid)) f
           ON f.coarse = vcrs.cid),
two AS ({_sql_argmin("cand", "vec_id", "fid")}),
fl2 AS (SELECT e.vec_id, f.fid, {_SQL_D2.format(a="e.v", b="f.fv")} AS d2 FROM e, fc f),
flat AS ({_sql_argmin("fl2", "vec_id", "fid")})
SELECT v.vec_id, v.cid AS coarse, t.fid AS cell_two, f.fid AS cell_flat,
       t.fid = f.fid AS agree
FROM vcrs v JOIN two t USING (vec_id) JOIN flat f USING (vec_id)"""


@register(
    "semdedup_two_level",
    oracle=_SQL_TWO_LEVEL,
    doc="Hierarchical (two-level) centroid assignment + approximation "
    "audit — the O(n*K) -> O(n*(K1 + K/K1)) step the auto-K occupancy "
    "rule's docstring names as the path below O(n^1.5) (IVF coarse "
    "quantization): the 64 fine centroids are themselves assigned to the "
    "8 coarse centroids (both seed frames broadcast-bounded); a vector "
    "argmins over the coarse frame first, then ONLY over the fine "
    "centroids inside its coarse cell. Per vector: its coarse cell, the "
    "two-level fine cell, the flat full-argmin cell, and the agreement "
    "flag — the recall audit run before trusting a hierarchical index "
    "(every disagreement is a coarse-boundary effect; within one coarse "
    "region the argmins coincide by construction). Coarse cells are "
    "never empty: the coarse seeds are a subset of the fine seeds and "
    "self-assign at distance zero. All three argmins are min(struct) "
    "partial aggregates over broadcast centroid frames — no shuffle "
    "keyed on anything but vec_id/fid.",
    tags=("ann", "pipeline", "semdedup"),
)
def semdedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = persist_tracked(
        prepare_vectors(load_table(spark, sf_dir, "embeddings")).select("vec_id", "v")
    )
    cc = vecs.filter(F.col("vec_id") < TL_K1).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    fc = persist_tracked(
        vecs.filter(F.col("vec_id") < TL_K_FINE).select(
            F.col("vec_id").alias("fid"), F.col("v").alias("fv")
        )
    )
    f2c = _assign_cells(
        fc.select(F.col("fid").alias("vec_id"), F.col("fv").alias("v")), cc
    ).select(F.col("vec_id").alias("fid"), F.col("cell").alias("coarse"))
    vcrs = _assign_cells(vecs, cc).withColumnRenamed("cell", "coarse")
    fcx = fc.join(f2c, "fid")  # (fid, fv, coarse) — 64 rows, broadcast
    # Self-dots hoisted out of the per-(vector, fine-centroid) term — one
    # fold per row on each side instead of three per pair; identical
    # `vv - 2*d + cc` tree, bit-identical d2 (the _assign_cells hoisting).
    d2 = F.col("_vv") - 2 * F.expr(_dot("v", "fv")) + F.col("_cc")
    two = (
        vecs.withColumn("_vv", F.expr(_dot("v", "v")))
        .join(vcrs, "vec_id")
        .join(F.broadcast(fcx.withColumn("_cc", F.expr(_dot("fv", "fv")))), "coarse")
        .select("vec_id", F.struct(d2.alias("d2"), F.col("fid").alias("fid")).alias("df"))
        .groupBy("vec_id")
        .agg(F.min("df").alias("best"))
        .select("vec_id", F.col("best.fid").alias("cell_two"))
    )
    flat = _assign_cells(
        vecs, fc.select(F.col("fid").alias("cid"), F.col("fv").alias("cv"))
    ).withColumnRenamed("cell", "cell_flat")
    return (
        vcrs.join(two, "vec_id")
        .join(flat, "vec_id")
        .select(
            "vec_id",
            "coarse",
            "cell_two",
            "cell_flat",
            (F.col("cell_two") == F.col("cell_flat")).alias("agree"),
        )
    )


# --------------------------------------------------------------------------
# dedup_audio_ahash
# --------------------------------------------------------------------------

_SQL_AUDIO_AHASH = f"""WITH {_SQL_AFP_CTES},
en60 AS (SELECT doc_id, list_transform(range({AF_A_WINDOWS}), j ->
   list_sum(list_transform(range((j*n)//{AF_A_WINDOWS}, ((j+1)*n)//{AF_A_WINDOWS}), i ->
     abs((((doc_id*31 + i*7) % 256) - 128) * 256)))) AS e FROM aud),
en60b AS (SELECT doc_id, e, list_sum(e) AS tot FROM en60),
af AS (SELECT doc_id, CAST(list_sum(list_transform(range({AF_A_BITS}), j ->
   CASE WHEN e[j+1] * {AF_A_BITS} > tot THEN (1::BIGINT << CAST(j AS INTEGER))
   ELSE 0::BIGINT END)) AS BIGINT) AS aafp FROM en60b),
acls AS (SELECT aafp, MIN(doc_id) AS ak FROM af GROUP BY aafp),
dcls AS (SELECT afp, MIN(doc_id) AS dk FROM fp GROUP BY afp)
SELECT af.doc_id, af.aafp, acls.ak AS keeper_id, acls.ak = dcls.dk AS agree
FROM af JOIN acls USING (aafp)
JOIN fp ON af.doc_id = fp.doc_id JOIN dcls USING (afp)"""


@register(
    "dedup_audio_ahash",
    oracle=_SQL_AUDIO_AHASH,
    doc="Second perceptual AUDIO fingerprint + cross-family agreement "
    "audit — the round17q dedup_image_ahash audit replayed on the WAV "
    "leg: the 60-bit energy AVERAGE hash (60 floor-NN windows over the "
    "REAL codec-parsed samples, bit = window energy strictly above the "
    "clip mean via the exact integer inequality E_j * 60 > sum(E)) "
    "computed in the SAME Arrow kernel parse as the difference hash "
    "(operators/audiofp.afps_wav — one parse, two fingerprints). Per "
    "clip: its average-hash exact-class keeper plus the AGREE flag "
    "(average-hash keeper == difference-hash keeper) — the standard "
    "confidence audit between independent fingerprint families before "
    "trusting perceptual dedup at corpus scale. Oracle derives both "
    "hashes from the synthetic signal's closed form, so the codec round "
    "trip is differentially pinned twice over. Scale: one Arrow map "
    "stage, two hash-keyed groupBys, one doc_id-keyed join — "
    "corpus-linear, no pair term at all.",
    tags=("dedup", "multimodal", "minhash_sig", "phash"),
)
def dedup_audio_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    fp = persist_tracked(afps_wav(synth_wav_payloads(docs)))
    acls = fp.groupBy("aafp").agg(F.min("doc_id").alias("ak"))
    dcls = fp.groupBy("afp").agg(F.min("doc_id").alias("dk"))
    return (
        fp.join(acls, "aafp")
        .join(dcls, "afp")
        .select(
            "doc_id",
            "aafp",
            F.col("ak").alias("keeper_id"),
            (F.col("ak") == F.col("dk")).alias("agree"),
        )
    )


# --------------------------------------------------------------------------
# dedup_tombstone_curve
# --------------------------------------------------------------------------

TC_STEPS = 3  # takedown batch of a tombstone s: (s // TOMB_MOD) % TC_STEPS


def _sql_tombstone_curve() -> str:
    """Unrolled DuckDB mirror of the TC_STEPS-batch cascading fold: ONE
    verified-pair CTE, then per batch the declarative keeper chain
    (keeper entering batch t = MIN verified match not tombstoned by a
    batch < t), orphan detection by keeper arithmetic, the survivor
    re-home, the same-batch dup join, and the roster-health row."""
    parts = [
        f"WITH {_SQL_SC_HEAD},",
        " cand_s AS (SELECT DISTINCT d.doc_id AS doc_d, s.doc_id AS doc_s"
        " FROM bands d JOIN bands s USING (band, band_sig)"
        " WHERE d.doc_id % 2 = 1 AND s.doc_id % 2 = 0),",
        f" sc_s AS ({_sql_scored('cand_s', 'doc_d', 'doc_s')}),",
        f" vp AS MATERIALIZED (SELECT doc_d, doc_s FROM sc_s"
        f" WHERE n_agree >= {SC_MIN_AGREE})",
    ]
    for t in range(TC_STEPS):
        alive = (
            f"doc_s % {TOMB_MOD} <> 0 OR (doc_s // {TOMB_MOD}) % {TC_STEPS} >= {t}"
        )
        surv = (
            f"doc_s % {TOMB_MOD} <> 0 OR (doc_s // {TOMB_MOD}) % {TC_STEPS} > {t}"
        )
        parts.append(
            f", ko{t} AS (SELECT doc_d, MIN(doc_s) AS k_cur FROM vp"
            f" WHERE {alive} GROUP BY doc_d)"
            f", orph{t} AS (SELECT doc_d, k_cur FROM ko{t}"
            f" WHERE k_cur % {TOMB_MOD} = 0"
            f" AND (k_cur // {TOMB_MOD}) % {TC_STEPS} = {t})"
            f", sv{t} AS (SELECT doc_d, MIN(doc_s) AS k_surv FROM vp"
            f" WHERE {surv} GROUP BY doc_d)"
            f", ox{t} AS (SELECT o.doc_d, o.k_cur, s.k_surv FROM orph{t} o"
            f" LEFT JOIN sv{t} s USING (doc_d))"
            f", po{t} AS (SELECT doc_d FROM ox{t} WHERE k_surv IS NULL)"
            f", cand_o{t} AS (SELECT DISTINCT b.doc_id AS doc_b, a.doc_id AS doc_a"
            f" FROM bands a JOIN bands b USING (band, band_sig)"
            f" JOIN po{t} pa ON a.doc_id = pa.doc_d"
            f" JOIN po{t} pb ON b.doc_id = pb.doc_d WHERE a.doc_id < b.doc_id)"
            f", sc_o{t} AS ({_sql_scored(f'cand_o{t}', 'doc_b', 'doc_a')})"
            f", m{t} AS (SELECT DISTINCT doc_b FROM sc_o{t}"
            f" WHERE n_agree >= {SC_MIN_AGREE})"
            f", r{t} AS (SELECT CAST({t} AS BIGINT) AS step,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM documents"
            f" WHERE doc_id % {TOMB_MOD} = 0"
            f" AND (doc_id // {TOMB_MOD}) % {TC_STEPS} = {t}) AS n_tombstoned,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM ox{t}) AS n_orphans,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM ox{t} WHERE k_surv IS NOT NULL)"
            f" AS n_rehomed,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM m{t}) AS n_dup_in_delta,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM po{t}"
            f" WHERE doc_d NOT IN (SELECT doc_b FROM m{t})) AS n_promoted)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM r{t}" for t in range(TC_STEPS))
    return "".join(parts) + (
        f" SELECT step, n_tombstoned, n_orphans, n_rehomed, n_dup_in_delta,"
        f" n_promoted,"
        f" CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)"
        f" - SUM(n_tombstoned) OVER w + SUM(n_promoted) OVER w AS BIGINT)"
        f" AS state_size"
        f" FROM ({union})"
        f" WINDOW w AS (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND"
        f" CURRENT ROW)"
    )


@register(
    "dedup_tombstone_curve",
    oracle=_sql_tombstone_curve(),
    doc="Deletion maintenance across SUCCESSIVE takedown batches — the "
    "compaction-curve shape on the tombstone leg, with the CASCADE a "
    "one-shot fold cannot express: the takedown ledger splits into 3 "
    "ordered batches ((doc_id // 10) % 3); a delta doc re-homed by an "
    "early batch re-orphans when its NEW keeper dies in a later one. "
    "Both engines derive the keeper chain declaratively from the ONE "
    "verified-pair frame — keeper entering batch t is MIN{verified match "
    "not tombstoned by a batch < t}, orphanhood is pure arithmetic on "
    "that keeper, exits (dup_in_delta / promoted) provably cannot recur "
    "(they require an empty survivor set, which stays empty) — so the "
    "whole curve is three filtered min-aggregates over the pair frame "
    "plus three orphan-bounded band joins: no iterative state, no "
    "driver loop, per-batch cost O(orphans x bands). Emits the per-batch "
    "roster-health row (tombstoned, orphans by disposition, running "
    "state size) — what a takedown-compliance dashboard plots.",
    tags=("dedup", "minhash_sig", "lsh_band", "merge_upsert", "pipeline"),
)
def dedup_tombstone_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plan truncation (guide §3.3): sigs/bands arrive as checkpoint_shared
    # leaves (built inside _doc_sigs_bands) — the 3-step curve below
    # references bands 2x per step and sigs 1x per step, and every Dataset
    # op re-analyzes the whole accumulated tree; the un-truncated query
    # spent ~3.7 s of pure driver planning per build (300-Exchange explain,
    # 1 Spark job). Values are the materialized rows — bit-identical.
    ids, sigs, bands = _doc_sigs_bands(spark, sf_dir)

    # Leaf-ify the verified pair frame too: 6 references across the 3 steps.
    # The WHOLE candidate+verify chain lives in the thunk, so memo hits skip
    # both its construction and the duplicate persist registration
    # (round-11 ADVICE).
    def _vps() -> DataFrame:
        cand_s = lsh_candidates(
            bands.filter(F.col("doc_id") % 2 == 1),
            "doc_d",
            bands.filter(F.col("doc_id") % 2 == 0),
            "doc_s",
        )
        vp = persist_tracked(_verified_pairs(cand_s, sigs, "doc_d", "doc_s"))
        tstep = (F.col("doc_s") % TOMB_MOD == 0).cast("int") * (
            F.expr(f"(doc_s div {TOMB_MOD}) % {TC_STEPS}") + 1
        )  # 0 = never tombstoned; t+1 = tombstoned at batch t
        return vp.select("doc_d", "doc_s", tstep.alias("ts"))

    vps = checkpoint_shared("r20.tc_vps", sf_dir, _vps)
    step_rows: list[DataFrame] = []
    for t in range(TC_STEPS):
        ko = (
            vps.filter((F.col("ts") == 0) | (F.col("ts") >= t + 1))
            .groupBy("doc_d")
            .agg(F.min("doc_s").alias("k_cur"))
        )
        orph = ko.filter(
            (F.col("k_cur") % TOMB_MOD == 0)
            & (F.expr(f"(k_cur div {TOMB_MOD}) % {TC_STEPS}") == t)
        )
        sv = (
            vps.filter((F.col("ts") == 0) | (F.col("ts") > t + 1))
            .groupBy("doc_d")
            .agg(F.min("doc_s").alias("k_surv"))
        )
        ox = persist_tracked(orph.join(sv, "doc_d", "left"))
        po = ox.filter(F.col("k_surv").isNull()).select(
            F.col("doc_d").alias("doc_id")
        )
        cand_o = lsh_candidates(
            bands.join(po, "doc_id"), "doc_a", None, "doc_b", ("doc_b", "doc_a")
        )
        m = (
            _verified_pairs(cand_o, sigs, "doc_b", "doc_a")
            .select("doc_b")
            .distinct()
            .withColumn("is_dup", F.lit(True))
        )
        disp = ox.join(m, ox.doc_d == m.doc_b, "left")
        step_rows.append(
            disp.groupBy().agg(
                F.count(F.lit(1)).alias("n_orphans"),
                F.count(F.when(F.col("k_surv").isNotNull(), True)).alias("n_rehomed"),
                F.count(
                    F.when(F.col("k_surv").isNull() & F.col("is_dup").isNotNull(), True)
                ).alias("n_dup_in_delta"),
                F.count(
                    F.when(F.col("k_surv").isNull() & F.col("is_dup").isNull(), True)
                ).alias("n_promoted"),
            ).select(F.lit(t).cast("long").alias("step"), "*")
        )
    out = step_rows[0]
    for r in step_rows[1:]:
        out = out.unionByName(r)
    tomb_counts = (
        ids.filter(F.col("doc_id") % TOMB_MOD == 0)
        .select(F.expr(f"(doc_id div {TOMB_MOD}) % {TC_STEPS}").alias("step"))
        .groupBy("step")
        .agg(F.count(F.lit(1)).alias("n_tombstoned"))
    )
    before = (
        ids.filter(F.col("doc_id") % 2 == 0)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("state_before"))
    )
    w = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        out.join(tomb_counts, "step", "left")
        .withColumn("n_tombstoned", F.coalesce("n_tombstoned", F.lit(0)))
        .crossJoin(F.broadcast(before))
        .select(
            "step",
            "n_tombstoned",
            "n_orphans",
            "n_rehomed",
            "n_dup_in_delta",
            "n_promoted",
            (
                F.col("state_before")
                - F.sum("n_tombstoned").over(w)
                + F.sum("n_promoted").over(w)
            ).alias("state_size"),
        )
    )
