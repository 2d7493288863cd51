"""Tuning curves and quality accounting: every query is a measurement a
100 TB pipeline runs BEFORE committing to a parameter:

- ``pack_efficiency_sweep``       — pad-waste vs context length (512/1024/
  2048/4096) for concat-then-chunk packing: per-shard totals only, the
  whole sweep from one bounded aggregate.
- ``temperature_mix_rates``       — per-source sampling shares under
  temperature alpha = 1 / 0.5 / 0.25 (sqrt-composed powers only, so both
  engines' correctly-rounded sqrt keeps the weights bit-identical).
- ``cluster_size_histogram``      — near-dup cluster size distribution
  (including singletons by subtraction) from the connected-components
  labels: the dedup impact report.
- ``minhash_error_accounting``    — |MinHash estimate - exact Jaccard|
  error by true-similarity decile on the labeled slice: the signature-
  budget (32 hashes) justification.
- ``dedup_threshold_sensitivity`` — near-dup pair and affected-doc counts
  at est >= 16/30/31/32 out of 32: the dedup-threshold tuning curve, with
  the 16/32 point pinned equal to dedup_minhash_lsh's row count.
- ``banded_width_recall``         — capture rate and candidate cost of the
  banded-SRP embedding-dedup blocking stage at 2/4/6/8 bits per band,
  against exact all-pairs cosine truth on a constant slice: the measured
  justification for the occupancy-rule adaptive width.
- ``pagerank_convergence_curve``  — per-iteration L1 rank movement and
  mass conservation of the trade-graph PageRank: the graph sibling of
  lloyd_convergence_curve's is-it-settling diagnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import checkpoint_shared, persist_tracked
from ..functions.text import round_stable, sql_round_stable, sql_tokens, tokens
from ..operators.aggregates import dsum, sql_dsum
from ..operators.similarity import minhash_signatures
from ..sources.tables import load_table, spread
from .registry import register
from .round11q import LSH_EVAL_LIMIT, _SQL_SHX_SLICE, slice_pair_inter
from .shared import PACK_SHARD, embedding_vectors
from .similarityq import (
    NUM_HASHES,
    _SQL_BANDS,
    _SQL_REACH_LABELS,
    _SQL_SCORED,
    _SQL_SH_SIGS,
    _SQL_SH_SIGS_WIDE,
    _cc_labels,
    _scored_pairs,
    _shingles,
    _sql_reach,
)

# --------------------------------------------------------------------------
# pack_efficiency_sweep
# --------------------------------------------------------------------------

CTX_SWEEP = (512, 1024, 2048, 4096)


def _sql_pack_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT CAST({c} AS BIGINT) AS ctx, COUNT(*) AS n_shards, "
        f"CAST(SUM((t + {c} - 1) // {c}) AS BIGINT) AS n_seqs, "
        "CAST(SUM(t) AS BIGINT) AS total_tokens, "
        f"CAST(SUM((t + {c} - 1) // {c}) * {c} - SUM(t) AS BIGINT) "
        "AS pad_tokens, "
        + sql_round_stable(
            f"CAST(SUM(t) AS DOUBLE) / (SUM((t + {c} - 1) // {c}) * {c})", 6
        )
        + " AS efficiency FROM s"
        for c in CTX_SWEEP
    )
    return (
        "WITH d AS (SELECT doc_id, "
        f"len({sql_tokens('text')}) "
        "AS n_tok FROM documents), "
        f"s AS (SELECT doc_id // {PACK_SHARD} AS shard, "
        "CAST(SUM(n_tok) AS BIGINT) AS t FROM d GROUP BY shard) "
        + selects
    )


@register(
    "pack_efficiency_sweep",
    oracle=_sql_pack_oracle(),
    doc="Packing-efficiency sensitivity to the context length: for concat-"
    "then-chunk packing within bounded 200-doc shards "
    "(pack_sequences_2048's construction), the pad waste is EXACTLY the "
    "per-shard tail padding ceil(T/C)*C - T — so the whole 512/1024/2048/"
    "4096 sweep needs only per-shard token totals: one corpus tokenize "
    "pass, one shard-keyed aggregate (bounded partitions by construction), "
    "then a shards-frame rollup per context length. Reports sequences "
    "produced, pad tokens, and packing efficiency per C — the curve that "
    "decides whether a longer context is worth the extra padding at a "
    "fixed shard size. All counts integer; efficiency is the only float "
    "(exact-integer quotient, stably rounded).",
    tags=("curation", "pipeline"),
)
def pack_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    s = docs.groupBy(F.expr(f"doc_id div {PACK_SHARD}").alias("shard")).agg(
        F.sum("n_tok").alias("t")
    )
    return pack_efficiency_core(s)


def pack_efficiency_core(s: DataFrame) -> DataFrame:
    """Core of pack_efficiency_sweep over any (shard, t) totals frame."""
    e = s.select(
        F.explode(F.array(*[F.lit(c).cast("long") for c in CTX_SWEEP])).alias(
            "ctx"
        ),
        "t",
    )
    return (
        e.groupBy("ctx")
        .agg(
            F.count(F.lit(1)).alias("n_shards"),
            F.sum(F.expr("(t + ctx - 1) div ctx")).alias("n_seqs"),
            F.sum("t").alias("total_tokens"),
        )
        .select(
            "ctx",
            "n_shards",
            "n_seqs",
            "total_tokens",
            (F.col("n_seqs") * F.col("ctx") - F.col("total_tokens")).alias(
                "pad_tokens"
            ),
            round_stable(
                F.col("total_tokens").cast("double")
                / (F.col("n_seqs") * F.col("ctx")),
                6,
            ).alias("efficiency"),
        )
    )


# --------------------------------------------------------------------------
# temperature_mix_rates
# --------------------------------------------------------------------------

# ALPHA_SWEEP / MIX_BUDGET_DEN / the oracle text / the dimension-frame
# share sweep live in plans/shared.py since round 8 (the streaming twin
# streaming_mix_shares shares them without importing this module).
from .shared import (  # noqa: E402
    ALPHA_SWEEP,  # noqa: F401  (re-export: tests + docs cite this module)
    mix_shares_frame,
    sql_temperature_oracle,
)


@register(
    "temperature_mix_rates",
    oracle=sql_temperature_oracle(),
    doc="Temperature-based corpus mixing shares (the multilingual/multi-"
    "source pretraining sampling rule p_s ~ tokens_s^alpha) at alpha = "
    "1 / 0.5 / 0.25, with the expected token draw under a half-corpus "
    "budget — the flattening curve that shows how much low-resource "
    "sources gain as temperature drops. Cross-engine exactness without "
    "integer-only arithmetic: the sweep uses ONLY sqrt-composed powers "
    "(IEEE sqrt is correctly rounded in both engines, libm pow is not), "
    "weights are stably rounded to 6 decimals BEFORE the exact decimal "
    "denominator sum, so partition order cannot perturb any share. "
    "Everything after the per-source token totals runs on the sources "
    "DIMENSION frame (|sources| x 3 rows).",
    tags=("curation", "sampling", "pipeline"),
)
def temperature_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "source",
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    tot = docs.groupBy("source").agg(F.sum("n_tok").alias("m"))
    return mix_shares_frame(tot)


# --------------------------------------------------------------------------
# cluster_size_histogram
# --------------------------------------------------------------------------

_SQL_HIST_TAIL = (
    "cs AS (SELECT cluster, COUNT(*) AS size FROM lab GROUP BY cluster), "
    "h AS (SELECT size, COUNT(*) AS n_clusters FROM cs GROUP BY size) "
    "SELECT CAST(1 AS BIGINT) AS size, "
    "(SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lab) "
    "AS n_clusters "
    "UNION ALL SELECT size, n_clusters FROM h"
)


@register(
    "cluster_size_histogram",
    oracle=(
        f"WITH RECURSIVE {_SQL_SH_SIGS}, {_SQL_BANDS}, {_SQL_SCORED}, "
        f"{_sql_reach(False)}, lab AS ({_SQL_REACH_LABELS}), {_SQL_HIST_TAIL}"
    ),
    scale_oracle=(
        f"WITH RECURSIVE {_SQL_SH_SIGS_WIDE}, {_SQL_BANDS}, {_SQL_SCORED}, "
        f"{_sql_reach(True)}, lab AS ({_SQL_REACH_LABELS}), {_SQL_HIST_TAIL}"
    ),
    doc="Near-dup cluster size distribution — the dedup IMPACT report "
    "(how much of the corpus sits in 2-doc pairs vs big boilerplate "
    "blobs, and how many docs a canonicalize-and-drop pass would remove): "
    "exact size histogram of the connected components over the scored "
    "MinHash-LSH pairs (dedup_clusters' labels, same CC operator), with "
    "the singleton count recovered by subtraction (corpus total minus "
    "labeled nodes — no join against the full corpus). Result rows are "
    "bounded by the largest cluster size; everything downstream of the CC "
    "labels is dimension-scale. The labels are memoized per family visit, "
    "so a repeat runs only the corpus count and the two small aggregates. "
    "Sum(size x n_clusters) == corpus doc count is pinned as a unit test.",
    tags=("dedup", "graph", "quality"),
)
def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = _cc_labels(spark, sf_dir)
    cs = lab.groupBy("label").agg(F.count(F.lit(1)).alias("size"))
    h = cs.groupBy("size").agg(F.count(F.lit(1)).alias("n_clusters"))
    tot = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    inc = lab.agg(F.count(F.lit(1)).alias("n_in"))
    singletons = tot.crossJoin(F.broadcast(inc)).select(
        F.lit(1).cast("long").alias("size"),
        (F.col("n_docs") - F.col("n_in")).alias("n_clusters"),
    )
    return singletons.unionByName(h)


# --------------------------------------------------------------------------
# minhash_error_accounting
# --------------------------------------------------------------------------


@register(
    "minhash_error_accounting",
    oracle=(
        f"WITH {_SQL_SHX_SLICE}, "
        "sz AS (SELECT doc_id, COUNT(*) AS s FROM shx GROUP BY doc_id), "
        "it AS (SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS inter "
        "FROM shx a JOIN shx b USING (shingle) WHERE a.doc_id < b.doc_id "
        "GROUP BY ka, kb), "
        "pu AS (SELECT ka, kb, inter, sa.s + sb.s - inter AS un FROM it "
        "JOIN sz sa ON it.ka = sa.doc_id JOIN sz sb ON it.kb = sb.doc_id), "
        "ag AS (SELECT pu.ka, pu.kb, inter, un, "
        "SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS agree "
        "FROM pu JOIN sigs sa ON pu.ka = sa.doc_id "
        "JOIN sigs sb ON pu.kb = sb.doc_id AND sa.seed = sb.seed "
        "GROUP BY pu.ka, pu.kb, inter, un), "
        "er AS (SELECT (10 * inter) // un AS jac_band, "
        f"CAST(abs(agree * un - {NUM_HASHES} * inter) AS DOUBLE) "
        f"/ ({NUM_HASHES} * un) AS err FROM ag) "
        "SELECT jac_band, COUNT(*) AS n_pairs, "
        + sql_round_stable(
            sql_dsum(sql_round_stable("err", 6), 6) + " / COUNT(*)", 6
        )
        + " AS mean_abs_err, "
        + sql_round_stable("MAX(err)", 6)
        + " AS max_abs_err FROM er GROUP BY jac_band"
    ),
    doc="MinHash estimator error accounting on the labeled slice: "
    "|signature agreement/32 - exact Jaccard| summarized by true-"
    "similarity decile — the measurement that justifies (or resizes) the "
    "32-hash signature budget before a 100 TB run, and the companion to "
    "lsh_recall_precision's capture-side accounting. Every quantity is an "
    "exact rational pushed through one correctly-rounded double division "
    "(|agree*union - 32*inter| / (32*union)); the band key is pure "
    "integer arithmetic; the mean is a stably-rounded exact-decimal sum, "
    "so partition order cannot move any output bit. Cost is bounded by "
    "the constant 500-doc slice at any corpus scale.",
    tags=("minhash_sig", "dedup", "quality"),
)
def minhash_error_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh, sz, it = slice_pair_inter(spark, sf_dir)
    sza = sz.select(F.col("doc_id").alias("ka"), F.col("s").alias("sa"))
    szb = sz.select(F.col("doc_id").alias("kb"), F.col("s").alias("sb"))
    pu = (
        it.join(F.broadcast(sza), "ka")
        .join(F.broadcast(szb), "kb")
        .select(
            "ka", "kb", "inter",
            (F.col("sa") + F.col("sb") - F.col("inter")).alias("un"),
        )
    )
    sh_raw = _shingles(spark, sf_dir, distinct=False).filter(
        F.col("doc_id") < LSH_EVAL_LIMIT
    )
    sigs = minhash_signatures(sh_raw, token_col="shingle", num_hashes=NUM_HASHES)
    sa = sigs.select(F.col("doc_id").alias("ka"), "seed", F.col("mh").alias("mha"))
    sb = sigs.select(F.col("doc_id").alias("kb"), "seed", F.col("mh").alias("mhb"))
    ag = (
        pu.join(sa, "ka")
        .join(sb, ["kb", "seed"])
        .groupBy("ka", "kb", "inter", "un")
        .agg(
            F.sum((F.col("mha") == F.col("mhb")).cast("bigint")).alias("agree")
        )
    )
    er = ag.select(
        F.expr("(10 * inter) div un").alias("jac_band"),
        (
            F.abs(
                F.col("agree") * F.col("un") - NUM_HASHES * F.col("inter")
            ).cast("double")
            / (NUM_HASHES * F.col("un"))
        ).alias("err"),
    )
    return er.groupBy("jac_band").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        round_stable(
            dsum(round_stable(F.col("err"), 6), 6) / F.count(F.lit(1)), 6
        ).alias("mean_abs_err"),
        round_stable(F.max("err"), 6).alias("max_abs_err"),
    )


# --------------------------------------------------------------------------
# dedup_threshold_sensitivity
# --------------------------------------------------------------------------

#: Agreement-count thresholds out of NUM_HASHES=32 — exact multiples of
#: 1/32, so the compare is integer in both engines. Starts at the scored
#: chain's own 0.5 floor; the upper points sit in the distribution's
#: actual cliff (the synthetic corpus's near-dups are near-exact, agree
#: >= 29, so mid-range thresholds would all read identically).
AGREE_SWEEP = (16, 30, 31, 32)


def _sql_threshold_oracle(materialized: bool = False) -> str:
    # ``ag`` is referenced by two downstream aggregations; the scale form
    # MATERIALIZES it so DuckDB evaluates the sigs->bands->scored chain
    # once, not per reference (the ols_words_pvalues lesson — the scalar-
    # subquery first draft of this oracle re-evaluated the chain 8x and
    # took 170 s at 10x).
    mat = "MATERIALIZED " if materialized else ""
    ks = ", ".join(str(k) for k in AGREE_SWEEP)
    return (
        f"WITH {_SQL_SH_SIGS}, {_SQL_BANDS}, {_SQL_SCORED}, "
        f"ag AS {mat}(SELECT ka, kb, "
        f"CAST(est * {NUM_HASHES} AS BIGINT) AS agree FROM scored), "
        f"sw AS (SELECT unnest([{ks}]) AS k), "
        "flt AS (SELECT k, ka, kb FROM sw JOIN ag ON agree >= k), "
        "np AS (SELECT k, COUNT(*) AS n_pairs FROM flt GROUP BY k), "
        "nd AS (SELECT k, COUNT(DISTINCT d) AS n_dup_docs FROM "
        "(SELECT k, unnest([ka, kb]) AS d FROM flt) GROUP BY k) "
        f"SELECT k/{NUM_HASHES} AS threshold, n_pairs, n_dup_docs "
        "FROM np JOIN nd USING (k)"
    )


def _sql_threshold_scale_oracle() -> str:
    out = _sql_threshold_oracle(materialized=True).replace(
        _SQL_SH_SIGS, _SQL_SH_SIGS_WIDE, 1
    )
    assert out != _sql_threshold_oracle()  # make_sf1 ADVICE pattern
    return out


@register(
    "dedup_threshold_sensitivity",
    oracle=_sql_threshold_oracle(),
    scale_oracle=_sql_threshold_scale_oracle(),
    doc="Dedup-threshold tuning curve: near-dup pair count and affected "
    "document count at signature-agreement thresholds 16/30/31/32 out of "
    "32 over the full-corpus scored MinHash-LSH chain — how much the "
    "dedup pass would touch as the similarity bar rises, the curve read "
    "before fixing a production threshold (points placed in the "
    "distribution's cliff: this corpus's near-dups are near-exact, so "
    "mid-range thresholds all read identically). Thresholds are exact "
    "multiples of 1/32 so every compare is integer (agree >= k) in both "
    "engines; the 16/32 point is pinned equal to dedup_minhash_lsh's row "
    "count as a unit test. One pass over the scored pairs (already "
    "bounded by LSH candidacy) feeds all four points as conditional "
    "aggregates; the distinct-doc counts explode pair endpoints only "
    "(2 x pairs rows).",
    tags=("dedup", "lsh_band", "quality"),
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = persist_tracked(
        _scored_pairs(spark, sf_dir).select(
            "ka",
            "kb",
            (F.col("est") * NUM_HASHES).cast("long").alias("agree"),
        )
    )
    e = scored.select(
        F.explode(
            F.array(*[F.lit(k).cast("long") for k in AGREE_SWEEP])
        ).alias("k"),
        "ka",
        "kb",
        "agree",
    ).filter(F.col("agree") >= F.col("k"))
    np_ = e.groupBy("k").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = (
        e.select("k", F.explode(F.array("ka", "kb")).alias("d"))
        .groupBy("k")
        .agg(F.countDistinct("d").alias("n_dup_docs"))
    )
    return (
        np_.join(nd, "k")
        .select(
            (F.col("k") / F.lit(float(NUM_HASHES))).alias("threshold"),
            "n_pairs",
            "n_dup_docs",
        )
    )


# --------------------------------------------------------------------------
# banded_width_recall
# --------------------------------------------------------------------------

#: Band widths to sweep (bits per band, 4 bands each) and the evaluation
#: slice: 500 vectors keeps the all-pairs cosine truth bounded at any
#: corpus scale (the lsh_recall_precision construction for embeddings).
BW_SWEEP = (2, 4, 6, 8)
BW_BANDS = 4
EMB_EVAL_LIMIT = 500

#: Same near-duplicate threshold as the embedding dedup family
#: (plans/shared.NEAR_MIN_COS — single-sourced with vectorq's family).
from .shared import NEAR_MIN_COS  # noqa: E402

_SQL_COS_AB = (
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
    "sqrt(list_dot_product(b.v, b.v)))"
)


def _sql_band_bucket(width: int, band: int) -> str:
    """DuckDB band bucket: band ``band`` of a ``width``-bit code packs sign
    bits of planes [band*width, (band+1)*width), the plane layout of
    operators/vector.bucketed_near_pairs_auto."""
    from ..operators.vector import hyperplane_signs

    signs = hyperplane_signs(BW_BANDS * width)
    terms = []
    for i in range(width):
        lits = ", ".join(f"{x:.1f}" for x in signs[band * width + i])
        terms.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]::DOUBLE[]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def _sql_banded_width_oracle() -> str:
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
        f"WHERE vec_id < {EMB_EVAL_LIMIT})",
        "tp AS (SELECT a.vec_id AS ka, b.vec_id AS kb FROM e a, e b "
        f"WHERE a.vec_id < b.vec_id AND {_SQL_COS_AB} >= {NEAR_MIN_COS})",
        "tc AS (SELECT COUNT(*) AS n_truth FROM tp)",
    ]
    selects = []
    for w in BW_SWEEP:
        bands = " UNION ALL ".join(
            f"SELECT vec_id, {b} AS band, {_sql_band_bucket(w, b)} AS bucket "
            "FROM e"
            for b in range(BW_BANDS)
        )
        parts.append(f"bb{w} AS ({bands})")
        parts.append(
            f"cand{w} AS (SELECT DISTINCT a.vec_id AS ka, b.vec_id AS kb "
            f"FROM bb{w} a JOIN bb{w} b USING (band, bucket) "
            "WHERE a.vec_id < b.vec_id)"
        )
        selects.append(
            f"SELECT CAST({w} AS BIGINT) AS band_bits, tc.n_truth, "
            f"(SELECT COUNT(*) FROM cand{w}) AS n_cand, "
            f"(SELECT COUNT(*) FROM cand{w} c JOIN tp "
            "ON c.ka = tp.ka AND c.kb = tp.kb) AS n_hits FROM tc"
        )
    return (
        "WITH " + ", ".join(parts) + " "
        "SELECT band_bits, n_truth, n_cand, n_hits, "
        + sql_round_stable("CAST(n_hits AS DOUBLE) / NULLIF(n_truth, 0)", 6)
        + " AS recall, "
        + sql_round_stable("CAST(n_hits AS DOUBLE) / NULLIF(n_cand, 0)", 6)
        + " AS precision FROM ("
        + " UNION ALL ".join(selects)
        + ")"
    )


@register(
    "banded_width_recall",
    oracle=_sql_banded_width_oracle(),
    doc="Band-width recall/cost curve for the banded-SRP embedding dedup "
    "blocking stage: capture rate (vs the exact all-pairs cosine >= 0.35 "
    "truth) and candidate count at 2/4/6/8 bits per band, 4 bands — the "
    "MEASURED counterpart of the capture formula 1-(1-p^bits)^bands in "
    "operators/vector.bucketed_near_pairs_auto and the empirical justification "
    "for the round-6 occupancy-rule ADAPTIVE width "
    "(dedup_embedding_bucketed): wider bands collapse the candidate bill "
    "but shed recall, and this query shows exactly how fast on the real "
    "embedding geometry. Evaluated on a constant 500-vector labeled slice "
    "(the lsh_recall_precision construction), so the all-pairs truth and "
    "every per-width bucket join are bounded at ANY corpus scale — the "
    "affordable standing regression gate for retuning the width ladder. "
    "Buckets are integer sums of sign tests on identical dot products, so "
    "capture sets are bit-identical across engines; recall is provably "
    "non-increasing in the width (band b's w-bit bucket refines a "
    "coarser prefix only in the plane-index sense, and is pinned "
    "empirically monotone in tests/test_round12q.py).",
    tags=("embedding", "dedup", "lsh_band", "quality"),
)
def banded_width_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = persist_tracked(
        embedding_vectors(spark, sf_dir).filter(
            F.col("vec_id") < EMB_EVAL_LIMIT
        )
    )
    from ..operators.vector import _dot as _dot_expr

    # Leaf the exact all-pairs truth (guide §3.3): referenced by tc and all
    # four width rows, so the un-truncated build re-analyzed the crossJoin
    # chain five times per repeat.
    def _truth() -> DataFrame:
        a = vecs.select(F.col("vec_id").alias("ka"), F.col("v").alias("va"),
                        F.col("norm").alias("na"))
        b = vecs.select(F.col("vec_id").alias("kb"), F.col("v").alias("vb"),
                        F.col("norm").alias("nb"))
        return persist_tracked(
            a.crossJoin(b)
            .filter(F.col("ka") < F.col("kb"))
            .filter(
                (F.expr(_dot_expr("va", "vb")) / (F.col("na") * F.col("nb")))
                >= NEAR_MIN_COS
            )
            .select("ka", "kb")
        )

    truth = checkpoint_shared("r12.bw_truth", sf_dir, _truth)
    tc = truth.agg(F.count(F.lit(1)).alias("n_truth"))

    # The 4 widths' buckets all pack sign bits of the SAME deterministic
    # plane universe (plane j of hyperplane_signs(n) is index-stable in n):
    # width w, band b uses planes [b*w, (b+1)*w). Evaluate each plane's
    # sign ONCE per vector into a shared leaf, then every width's bucket is
    # a tiny integer expression over the sign columns — identical bits,
    # identical buckets, but 32 literal-array dot expressions analyzed and
    # executed once instead of 80 re-derived per width (the build spent
    # ~1.7 s of pure analysis on the four giant variants before this).
    from ..operators.vector import hyperplane_signs as _hp_signs

    n_planes = BW_BANDS * max(BW_SWEEP)

    def _build_signs():
        sign_cols = []
        for j, plane in enumerate(_hp_signs(n_planes)):
            lits = ", ".join(f"{x:.1f}D" for x in plane)
            sign_cols.append(
                (F.expr(_dot_expr("v", f"array({lits})")) > 0)
                .cast("long")
                .alias(f"s{j}")
            )
        return vecs.select("vec_id", *sign_cols)

    # thunk form: repeats skip re-parsing the 32 literal-array dot exprs
    signs = checkpoint_shared("r12.bw_signs", sf_dir, _build_signs)

    rows = None
    for w in BW_SWEEP:
        exprs = []
        for b in range(BW_BANDS):
            bits = None
            for i in range(w):
                bit = F.col(f"s{b * w + i}") * (1 << i)
                bits = bit if bits is None else bits + bit
            exprs.append(bits)
        bb = F.array(
            *[
                F.struct(F.lit(i).alias("band"), e.alias("bucket"))
                for i, e in enumerate(exprs)
            ]
        )
        vb = signs.select("vec_id", F.explode(bb).alias("bb")).select(
            "vec_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        ca = vb.select("band", "bucket", F.col("vec_id").alias("ka"))
        cb = vb.select("band", "bucket", F.col("vec_id").alias("kb"))
        cand = (
            ca.join(cb, ["band", "bucket"])
            .filter(F.col("ka") < F.col("kb"))
            .select("ka", "kb")
            .distinct()
        )
        row = (
            cand.join(truth.withColumn("t", F.lit(1)), ["ka", "kb"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_cand"),
                F.count("t").alias("n_hits"),
            )
            .crossJoin(F.broadcast(tc))
            .select(
                F.lit(w).cast("long").alias("band_bits"),
                "n_truth",
                "n_cand",
                "n_hits",
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    recall = F.when(
        F.col("n_truth") > 0, F.col("n_hits").cast("double") / F.col("n_truth")
    )
    precision = F.when(
        F.col("n_cand") > 0, F.col("n_hits").cast("double") / F.col("n_cand")
    )
    return rows.select(
        "band_bits",
        "n_truth",
        "n_cand",
        "n_hits",
        round_stable(recall, 6).alias("recall"),
        round_stable(precision, 6).alias("precision"),
    )


# --------------------------------------------------------------------------
# pagerank_convergence_curve
# --------------------------------------------------------------------------

#: Same recurrence constants, transition matrix and oracle head as
#: plans/graphq.pagerank_trade_graph — shared so the two cannot drift apart.
from .shared import (  # noqa: E402
    DAMPING,
    N_PR_ITERS,
    pagerank_edges,
    sql_pagerank_head,
)


def _sql_pr_curve_oracle(materialized: bool = False) -> str:
    """Unrolled PageRank with per-iteration L1-delta/mass accounting
    (graphq._pagerank_oracle's CTE chain; MATERIALIZED scale form for the
    same inline-explosion reason)."""
    m = " MATERIALIZED" if materialized else ""
    head = sql_pagerank_head(materialized)
    steps = "".join(
        f", r{t} AS{m} (SELECT ed.dst AS node, "
        f"0.15 / (SELECT n FROM nn) + {DAMPING} * SUM(r.r * ed.p) AS r "
        f"FROM ed JOIN r{t - 1} r ON ed.src = r.node GROUP BY ed.dst)"
        for t in range(1, N_PR_ITERS + 1)
    )
    rows = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS iteration, "
        f"(SELECT COUNT(*) FROM r{t}) AS n_nodes, "
        "(SELECT "
        + sql_dsum(
            sql_round_stable(
                f"abs(a.r - b.r) * (SELECT n FROM nn)", 4
            ),
            4,
        )
        + f" FROM r{t} a JOIN r{t - 1} b USING (node)) AS l1_delta, "
        "(SELECT "
        + sql_dsum(sql_round_stable("r * (SELECT n FROM nn)", 4), 4)
        + f" FROM r{t}) AS total_mass"
        for t in range(1, N_PR_ITERS + 1)
    )
    return head + steps + " " + rows


@register(
    "pagerank_convergence_curve",
    oracle=_sql_pr_curve_oracle(),
    scale_oracle=_sql_pr_curve_oracle(materialized=True),
    doc="PageRank convergence accounting — the iterative-convergence "
    "observability pattern (lloyd_convergence_curve for the quantizer, "
    "the Lloyd inertia curve's graph sibling): per iteration, the L1 "
    "rank movement sum|r_t - r_(t-1)| and the total rank mass, both in "
    "relative-rank units (x N). The curve that answers 'how many more "
    "iterations does this graph need' before anyone pays for them, and "
    "the mass row is a free conservation check (= N up to rounding). "
    "Same recurrence, same persisted pre-partitioned transition matrix "
    "discipline as pagerank_trade_graph (constants imported so they "
    "cannot drift); per-iteration rank frames are persisted so the "
    "accounting rows do not re-run the rank chain quadratically. "
    "Cross-engine float discipline: per-node quantities are stably "
    "rounded to 4 decimals THEN exact-decimal summed, the same tolerance "
    "class the driver-green pagerank output already pins. Contraction "
    "(delta non-increasing, factor ~damping) is a unit-test invariant.",
    tags=("pagerank", "graph", "iterative", "quality"),
)
def pagerank_convergence_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plan truncation (guide §3.3): every rank frame chains the whole
    # derivation of its predecessors, so the accounting union analyzed a
    # 437-Exchange tree per build (~1.5 s of pure Catalyst, measured round
    # 12). edges/nodes and each iteration's ranks are checkpoint_shared
    # leaves: repeat builds plan 10 shallow (leaf join leaf) steps, and the
    # leaf preserves the groupBy(dst) hash partitioning (LogicalRDD keeps
    # the physical plan's outputPartitioning), so the next iteration's
    # src==node join stays exchange-free exactly like the persisted form.
    edges = checkpoint_shared(
        "r12.pr_edges", sf_dir, lambda: pagerank_edges(spark, sf_dir)
    )
    nodes = checkpoint_shared(
        "r12.pr_nodes",
        sf_dir,
        lambda: persist_tracked(edges.select(F.col("src").alias("node")).distinct()),
    )
    n = nodes.count()  # bounded scalar-collect class (see graphq)
    prev = checkpoint_shared(
        "r12.pr_ranks0",
        sf_dir,
        lambda: persist_tracked(nodes.select("node", F.lit(1.0 / n).alias("r"))),
    )
    out = None
    for t in range(1, N_PR_ITERS + 1):
        ranks = checkpoint_shared(
            f"r12.pr_ranks{t}",
            sf_dir,
            lambda prev=prev: persist_tracked(
                edges.join(prev, edges.src == prev.node)
                .groupBy("dst")
                .agg(F.sum(F.col("r") * F.col("p")).alias("s"))
                .select(
                    F.col("dst").alias("node"),
                    (F.lit(0.15 / n) + F.lit(DAMPING) * F.col("s")).alias("r"),
                )
            ),
        )
        joined = ranks.join(
            prev.select("node", F.col("r").alias("pr")), "node"
        )
        row = joined.agg(
            F.lit(t).cast("long").alias("iteration"),
            F.count(F.lit(1)).alias("n_nodes"),
            dsum(
                round_stable(F.abs(F.col("r") - F.col("pr")) * n, 4), 4
            ).alias("l1_delta"),
            dsum(round_stable(F.col("r") * n, 4), 4).alias("total_mass"),
        )
        out = row if out is None else out.unionAll(row)
        prev = ranks
    return out
