"""Three queries, each the natural next production question after its
round16q sibling.

- ``dedup_image_ahash`` — SECOND perceptual fingerprint + agreement audit:
  the 60-bit average hash (6x10 cell grid, bit = cell gray strictly above
  the grid mean — exact integer inequality g*60 > sum(g)) computed from the
  SAME single byte parse as the dHash (operators/phash.phashes_bmp), with
  per-doc exact-class keepers under BOTH fingerprints and the agreement
  flag. Disagreement rate between independent fingerprint families is the
  standard confidence audit before trusting perceptual dedup at corpus
  scale; the oracle derives both hashes in closed form from the
  doc_id-derived pixel pattern.
- ``semdedup_k_sweep`` — the SemDeDup ablation: duplicate yield as a
  function of the cell count (K in 2/4/8/16, seed centroids vec_id < K,
  same min(struct) assignment and tau as semdedup_cells). More cells ->
  fewer within-cell pairs evaluated -> recall loss at the cell boundary;
  the sweep row (pairs evaluated, dup pairs, dup docs) per K is exactly
  the curve the published method tunes K with. K=8 reconciles with
  semdedup_cells row-for-row (tests/test_round17q.py).
- ``dedup_state_gc_metrics`` — the roster-health view of the tombstone
  fold: ONE row with the state size before, tombstones absorbed, orphans
  by disposition (rehomed / dup_in_delta / promoted), and the state size
  after (before - tombstoned + promoted). Shares dedup_state_tombstones'
  builder and oracle CTE text verbatim, so the two views cannot drift —
  the daily dashboard number a GC'd dedup pipeline alerts on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import checkpoint_shared, persist_tracked
from ..operators.multimodal import synth_bmp_payloads
from ..operators.phash import AH_BITS, AH_GRID_H, AH_GRID_W, phashes_bmp
from ..operators.vector import prepare_vectors
from ..sources.tables import load_table, spread
from .registry import register
from .round16q import (
    SEM_TAU,
    _SQL_DHASH,
    _SQL_TOMBSTONES,
    _assign_cells,
    _cell_pair_flags,
    _sql_gray,
)

# --------------------------------------------------------------------------
# dedup_image_ahash
# --------------------------------------------------------------------------

#: 60-bit aHash in closed form: row-major 6x10 cell grays, bit i set when
#: gray[i]*60 strictly exceeds the grid total (integer-exact mean compare).
_SQL_AGRAYS = (
    f"flatten(list_transform(range({AH_GRID_H}), yr -> "
    f"list_transform(range({AH_GRID_W}), xc -> "
    + _sql_gray("xc", "yr", AH_GRID_W, AH_GRID_H)
    + ")))"
)

#: Composable aHash CTE chain (cell grays -> grid total -> 60-bit hash in
#: ``ah``) — shared with round19q's blocked near-dup over the aHash roster.
_SQL_AH_CTES = f"""g0 AS (SELECT doc_id, {_SQL_AGRAYS} AS g FROM documents),
g1 AS (SELECT doc_id, g, list_sum(g) AS tot FROM g0),
ah AS (SELECT doc_id, CAST(list_sum(list_transform(range({AH_BITS}), i ->
  CASE WHEN g[i + 1] * {AH_BITS} > tot THEN (1::BIGINT << CAST(i AS INTEGER))
  ELSE 0::BIGINT END)) AS BIGINT) AS ahash FROM g1)"""

_SQL_AHASH = f"""WITH {_SQL_AH_CTES},
dh AS (SELECT doc_id, {_SQL_DHASH} AS dhash FROM documents),
acls AS (SELECT ahash, MIN(doc_id) AS ak FROM ah GROUP BY ahash),
dcls AS (SELECT dhash, MIN(doc_id) AS dk FROM dh GROUP BY dhash)
SELECT ah.doc_id, ah.ahash, acls.ak AS keeper_id, acls.ak = dcls.dk AS agree
FROM ah JOIN acls USING (ahash)
JOIN dh ON ah.doc_id = dh.doc_id JOIN dcls USING (dhash)"""


@register(
    "dedup_image_ahash",
    oracle=_SQL_AHASH,
    doc="Second perceptual fingerprint + cross-family agreement audit: the "
    "60-bit average hash (6x10 cell grid over the REAL parsed BMP bytes, "
    "bit = cell gray strictly above the grid mean via the exact integer "
    "inequality g*60 > sum(g)) computed in the SAME Arrow kernel parse as "
    "the dHash (operators/phash.phashes_bmp — one byte pass, two "
    "fingerprints). Per doc: its aHash exact-class keeper plus the AGREE "
    "flag (aHash keeper == dHash keeper) — the standard confidence audit "
    "between independent fingerprint families before trusting perceptual "
    "dedup decisions at corpus scale. Oracle derives both hashes in "
    "closed form from the doc_id-derived pixel pattern, so the byte path "
    "is differentially pinned twice over. Scale: one Arrow map stage, two "
    "hash-keyed groupBys, one doc_id-keyed join — corpus-linear, no pair "
    "term at all.",
    tags=("dedup", "multimodal", "minhash_sig", "phash"),
)
def dedup_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    ph = persist_tracked(phashes_bmp(synth_bmp_payloads(docs)))
    acls = ph.groupBy("ahash").agg(F.min("doc_id").alias("ak"))
    dcls = ph.groupBy("dhash").agg(F.min("doc_id").alias("dk"))
    return (
        ph.join(acls, "ahash")
        .join(dcls, "dhash")
        .select(
            "doc_id",
            "ahash",
            F.col("ak").alias("keeper_id"),
            (F.col("ak") == F.col("dk")).alias("agree"),
        )
    )


# --------------------------------------------------------------------------
# semdedup_k_sweep
# --------------------------------------------------------------------------

SEM_K_SWEEP = (2, 4, 8, 16)


def _sql_sem_k(k: int) -> str:
    """Per-K assignment + within-cell dup metrics CTE chain (the
    semdedup_cells shape, parametric in K)."""
    return (
        f"p{k} AS (SELECT e.vec_id, c.cid, "
        "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv) "
        "+ list_dot_product(c.cv, c.cv) AS d2 FROM e, "
        f"(SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {k}) c), "
        f"a{k} AS (SELECT vec_id, cid FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn "
        f"FROM p{k}) WHERE rn = 1), "
        f"v{k} AS (SELECT a.vec_id, a.cid AS cell, e.v FROM a{k} a "
        "JOIN e USING (vec_id)), "
        f"pp{k} AS (SELECT x.vec_id AS kb, y.vec_id AS ka, "
        "list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * "
        "sqrt(list_dot_product(y.v, y.v))) AS cos "
        f"FROM v{k} x JOIN v{k} y ON x.cell = y.cell AND y.vec_id < x.vec_id), "
        f"r{k} AS (SELECT CAST({k} AS BIGINT) AS k, "
        f"CAST(COUNT(*) AS BIGINT) AS n_pairs_eval, "
        f"CAST(COUNT(*) FILTER (cos >= {SEM_TAU}) AS BIGINT) AS n_dup_pairs, "
        f"CAST(COUNT(DISTINCT kb) FILTER (cos >= {SEM_TAU}) AS BIGINT) AS n_dups "
        f"FROM pp{k})"
    )


_SQL_SEM_SWEEP = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    + ", ".join(_sql_sem_k(k) for k in SEM_K_SWEEP)
    + " "
    + " UNION ALL ".join(f"SELECT * FROM r{k}" for k in SEM_K_SWEEP)
)


@register(
    "semdedup_k_sweep",
    oracle=_SQL_SEM_SWEEP,
    doc="SemDeDup cell-count ablation: duplicate yield as a function of K "
    "(2/4/8/16 seed centroids, same min(struct(d2,cid)) assignment and "
    "cosine tau as semdedup_cells). Per K: pairs evaluated (the compute "
    "cost — shrinks ~1/K as cells narrow), dup pairs and distinct dup "
    "docs found (the recall — drops as true pairs straddle cell "
    "boundaries). This pairs-vs-yield curve is exactly how the published "
    "method tunes its cluster count; K=8 reconciles row-for-row with "
    "semdedup_cells (tests/test_round17q.py). Engine folds the four Ks "
    "over ONE persisted vector frame — assignment is a broadcast-K join "
    "per sweep point, pair scans stay cell-blocked equi-joins.",
    tags=("dedup", "ann", "pipeline", "quality", "semdedup"),
)
def semdedup_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = persist_tracked(
        prepare_vectors(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", "v", "norm"
        )
    )
    rows: list[DataFrame] = []
    for k in SEM_K_SWEEP:
        cents = vecs.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv")
        )
        # persist av (the semdedup_cells discipline): _cell_pair_flags
        # consumes it on BOTH sides of the within-cell pair join, so the
        # unpersisted form ran the n*K assignment twice per sweep point
        # (measured: exec 3.3 s/45 jobs -> 1.1 s/13 jobs at sf0.1). The
        # checkpoint_shared leaf additionally spares repeats re-analyzing
        # the four assignment trees (guide §3.3); the within-cell pair
        # scan — the quantity this ablation measures — runs per repeat.
        av = checkpoint_shared(
            f"r17.ks_av{k}",
            sf_dir,
            lambda cents=cents: persist_tracked(
                _assign_cells(vecs, cents)
                .join(vecs, "vec_id")
                .select("vec_id", "cell", "v", "norm")
            ),
        )
        pp = _cell_pair_flags(av, SEM_TAU)
        rows.append(
            pp.groupBy().agg(
                F.count(F.lit(1)).alias("n_pairs_eval"),
                F.count(F.when(F.col("is_dup"), True)).alias("n_dup_pairs"),
                F.count_distinct(F.when(F.col("is_dup"), F.col("kb"))).alias(
                    "n_dups"
                ),
            ).select(F.lit(k).cast("long").alias("k"), "*")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# dedup_state_gc_metrics
# --------------------------------------------------------------------------

_SQL_GC = f"""WITH t AS ({_SQL_TOMBSTONES})
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id % 2 = 0)
       AS state_before,
       CAST(COUNT(*) FILTER (status = 'tombstoned') AS BIGINT) AS n_tombstoned,
       CAST(COUNT(*) FILTER (status <> 'tombstoned') AS BIGINT) AS n_orphans,
       CAST(COUNT(*) FILTER (status = 'rehomed') AS BIGINT) AS n_rehomed,
       CAST(COUNT(*) FILTER (status = 'dup_in_delta') AS BIGINT) AS n_dup_in_delta,
       CAST(COUNT(*) FILTER (status = 'promoted') AS BIGINT) AS n_promoted,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id % 2 = 0)
       - CAST(COUNT(*) FILTER (status = 'tombstoned') AS BIGINT)
       + CAST(COUNT(*) FILTER (status = 'promoted') AS BIGINT) AS state_after
FROM t"""


@register(
    "dedup_state_gc_metrics",
    oracle=_SQL_GC,
    doc="Roster-health dashboard of the tombstone fold — ONE row: state "
    "size before, tombstones absorbed, orphans by disposition (rehomed / "
    "dup_in_delta / promoted), and the state size after (before - "
    "tombstoned + promoted: rehomed and dup_in_delta docs left the roster "
    "with their keepers; promoted orphans joined it). Shares "
    "dedup_state_tombstones' builder AND its oracle CTE text verbatim "
    "(the disposition frame is the single source), so the dashboard can "
    "never drift from the row-level view — the daily alert number a "
    "GC'd dedup pipeline watches. Cost: the tombstone fold plus one "
    "1-row aggregate and one column-pruned state count.",
    tags=("dedup", "merge_upsert", "pipeline", "quality"),
)
def dedup_state_gc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .round16q import dedup_state_tombstones

    t = dedup_state_tombstones(spark, sf_dir)
    agg = t.groupBy().agg(
        F.count(F.when(F.col("status") == "tombstoned", True)).alias("n_tombstoned"),
        F.count(F.when(F.col("status") != "tombstoned", True)).alias("n_orphans"),
        F.count(F.when(F.col("status") == "rehomed", True)).alias("n_rehomed"),
        F.count(F.when(F.col("status") == "dup_in_delta", True)).alias(
            "n_dup_in_delta"
        ),
        F.count(F.when(F.col("status") == "promoted", True)).alias("n_promoted"),
    )
    before = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("state_before"))
    )
    return agg.crossJoin(F.broadcast(before)).select(
        "state_before",
        "n_tombstoned",
        "n_orphans",
        "n_rehomed",
        "n_dup_in_delta",
        "n_promoted",
        (
            F.col("state_before") - F.col("n_tombstoned") + F.col("n_promoted")
        ).alias("state_after"),
    )
