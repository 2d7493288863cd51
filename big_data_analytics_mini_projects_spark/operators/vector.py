"""Embedding similarity search (beyond-reference training-data operators):
brute-force cosine top-k, blocked (IVF-style) search, near-duplicate pairs,
and a random-hyperplane LSH sketch for cosine blocking.

Scale design:
- Dot products run as sequential array folds (``aggregate(zip_with(...))``):
  no Python and no shuffle per element; the lambdas are ``CodegenFallback``,
  so the fold runs interpreted outside whole-stage codegen. They are
  bit-identical to DuckDB's list_dot_product (verified by the differential
  suite) so full-precision cosines are oracle-checkable.
- Brute force is O(|Q|·N) — correct baseline; the scale paths are (a)
  block by a coarse-quantizer cell (here the `label` column plays the IVF
  cell id: probe=1 search touches 1/cells of the data), and (b) the
  16-bit random-hyperplane sketch: candidates share a bucket, turning the
  N² near-dup self-join into per-bucket joins.
- Hyperplane signs are Rademacher ±1 literals derived from the cross-engine
  md5 hash at *plan build* time, so both engines fold the identical
  constant vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import h64_py
from .aggregates import dsum

EMB_DIM = 64
N_PLANES = 16


def hyperplane_signs(n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix from the shared md5 hash."""
    return [
        [2.0 * (h64_py(f"{i}-{d}", "hp") % 2) - 1.0 for d in range(EMB_DIM)]
        for i in range(n_planes)
    ]


def _dot(a: str, b: str) -> str:
    # Measured note (optimization round 11): an unrolled 64-term
    # `a[0]*b[0] + ...` sum was tried and is ~3x SLOWER than this
    # higher-order-function fold (the giant expression drops out of
    # whole-stage codegen); the HOF stays. The cheap lever is evaluating
    # FEWER dots — hoist self-dots/norms out of pair joins (see
    # round16q._assign_cells).
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def prepare_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v, norm, ...) — the normalized-access projection every vector
    operator starts from. float[] -> double[] is exact, so all arithmetic is
    double end-to-end."""
    return emb.withColumn(
        "v", F.expr("transform(embedding, x -> cast(x as double))")
    ).withColumn("norm", F.expr(f"sqrt({_dot('v', 'v')})"))


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k tail shared by every ANN variant:
    rank by (cos desc, neighbor asc) — ties only between identical vectors."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Brute-force cosine top-k: every query vs every vector (self excluded).

    ``vectors``/``queries`` are prepare_vectors outputs. Deterministic
    ranking: (cos desc, neighbor asc) — cosines are full-precision doubles,
    ties only between identical vectors. Returns
    (query_id, neighbor_id, rank, cos)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    c = vectors.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("norm").alias("cn")
    )
    pairs = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.expr(_dot("qv", "cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    return _rank_topk(pairs, k)


def cosine_topk_blocked(vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """IVF-style search: candidates share the query's coarse cell
    (``label``) — probe-1 IVF with pre-assigned cells. Same output shape
    as cosine_topk; at 100 TB this replaces the cross join with an equi-join
    on the cell id."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("blk"),
        F.col("v").alias("qv"), F.col("norm").alias("qn"),
    )
    c = vectors.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("blk"),
        F.col("v").alias("cv"), F.col("norm").alias("cn"),
    )
    pairs = (
        q.join(c, "blk")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.expr(_dot("qv", "cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    return _rank_topk(pairs, k)


def ivf_cell_centroids(vectors: DataFrame, cell_col: str) -> DataFrame:
    """Decimal-exact per-cell centroid means: (cell_col, cv double[dim]).

    posexplode -> (cell, pos) keyed aggregate (keys bounded by cells x dim,
    map-side combine does the heavy lifting) -> re-assembled position-sorted
    array. Component sums run in decimal so the means — and everything
    derived from them — are bit-identical across engines and partition
    orders (the same exactness discipline as diversity_by_group)."""
    comp = vectors.select(cell_col, F.posexplode("v").alias("pos", "x"))
    cm = comp.groupBy(cell_col, "pos").agg(
        (dsum("x", 8) / F.count(F.lit(1))).alias("m")
    )
    return cm.groupBy(cell_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 3,
) -> DataFrame:
    """Multi-cell IVF search (nprobe > 1): each query ranks the coarse-cell
    centroids by squared L2 distance and probes its ``nprobe`` nearest cells;
    candidates are an equi-join on the cell id.

    The probe-1 blocked search misses neighbors that fall just across a cell
    boundary; probing the nprobe nearest cells recovers them at nprobe/cells
    of brute-force cost — the standard IVF recall/cost dial (the other dial,
    multiprobe SRP, is cosine_topk_multiprobe). Centroids are decimal-exact
    (ivf_cell_centroids) and d2 uses the same three-dot-product expression in
    both engines, so the probed cell sets — and hence the result — stay
    oracle-checkable. Scale shape: centroid frame is cells x dim (broadcast),
    the probe frame is |Q| x nprobe (broadcast), and the only corpus-sized
    operation is the equi-join on the cell id."""
    cents = ivf_cell_centroids(vectors, "label")
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    d2 = (
        F.expr(_dot("qv", "qv"))
        - 2 * F.expr(_dot("qv", "cv"))
        + F.expr(_dot("cv", "cv"))
    )
    qc = q.join(F.broadcast(cents)).select(
        "query_id", "qv", "qn", F.col("label").alias("cell"), d2.alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        qc.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", "qn", "cell")
    )
    c = vectors.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("cell"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    pairs = (
        c.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.expr(_dot("qv", "cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    return _rank_topk(pairs, k)


def embedding_near_pairs(
    vectors: DataFrame, min_cos: float, max_rows: int | None = 50_000
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (ka < kb, cos >= min_cos).

    All-pairs within the given frame; callers bound the frame (subset,
    bucket, or cell) — the hyperplane sketch below is the standard way to
    bound it at scale. The bound is ENFORCED (round-8 verdict item 6): the
    input is counted up front and a frame larger than ``max_rows`` raises
    rather than silently planning a corpus x corpus cross join (50k rows is
    already 1.25e9 pair evaluations — the labeled brute-force ceiling; a
    caller that genuinely wants more must say so explicitly). Pass
    ``max_rows=None`` to opt out AFTER blocking. NOTE: the guard's count
    re-executes the upstream plan (the pair scan below runs it again twice
    via self-join) — callers with an expensive unpersisted input should
    ``.persist()`` it before calling."""
    if max_rows is not None:
        # limit(max_rows + 1) keeps the guard itself cheap on huge inputs:
        # the count job stops scanning after the first excess row.
        n = vectors.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"embedding_near_pairs: input has > {max_rows} rows; "
                "all-pairs cosine is quadratic — block it first "
                "(hyperplane_buckets / IVF cells) or raise max_rows "
                "explicitly if a brute-force slice this large is intended"
            )
    a = vectors.select(F.col("vec_id").alias("ka"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = vectors.select(F.col("vec_id").alias("kb"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("ka") < F.col("kb"))
        .select(
            "ka", "kb",
            (F.expr(_dot("va", "vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )


def _srp_bucket_sql(plane_indices: list[int]) -> str:
    """ONE parsed SQL expression packing the sign bits of the given
    hyperplane indices (bit i of the result = plane_indices[i]) — the
    minhash/simhash expr-string treatment (round 12): the nested Column
    form cost ~5 py4j round trips per bit, ~1.2 s of driver time per build
    for the 4x14-bit adaptive banding. Same operands, same left-associative
    order, exact integers — bit-identical buckets."""
    signs = hyperplane_signs(max(plane_indices) + 1)
    terms = []
    for i, p in enumerate(plane_indices):
        lits = ", ".join(f"{x:.1f}D" for x in signs[p])
        terms.append(
            f"cast(({_dot('v', f'array({lits})')}) > 0 as bigint) * {1 << i}"
        )
    return " + ".join(terms)


def hyperplane_buckets(vectors: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """16-bit SRP (signed random projection) bucket per vector:
    bit i = [v · h_i > 0]. Near-identical vectors collide with high
    probability; the bucket is the blocking key for cosine dedup at scale."""
    return vectors.select(
        F.col("vec_id"),
        F.expr(_srp_bucket_sql(list(range(n_planes)))).alias("bucket"),
    )


N_BANDS = 4

#: Occupancy rule for the self-tuning banded dedup below: target ~32 vectors
#: per bucket; the width ladder covers corpora up to 32 * 2^14 ≈ 524k
#: vectors (extend AUTO_MAX_BITS for larger corpora — a 10^9-vector corpus
#: needs ~log2(1e9/32) = 25 bits).
AUTO_OCCUPANCY = 32
AUTO_MAX_BITS = 14


def auto_band_bits(n_col):
    """Integer-exact occupancy-rule band width as a Column expression:

        w(n) = 4 + #{k in [4, AUTO_MAX_BITS) : n > AUTO_OCCUPANCY * 2^k}
             = clamp(ceil(log2(n / AUTO_OCCUPANCY)), 4, AUTO_MAX_BITS)

    A comparison ladder, not floating log2, so both engines (this and the
    DuckDB oracle's mirror, plans/round6q.py) compute the identical width
    at every corpus size — no float-edge risk at exact powers of two."""
    w = F.lit(4)
    for k in range(4, AUTO_MAX_BITS):
        w = w + (n_col > F.lit(AUTO_OCCUPANCY << k)).cast("int")
    return w


def bucketed_near_pairs_auto(vectors: DataFrame, min_cos: float) -> DataFrame:
    """Banded-SRP cosine near-duplicate pairs — the 100 TB composition of
    :func:`hyperplane_buckets` (blocking) and :func:`embedding_near_pairs`
    (verify): candidates are pairs sharing ANY band's bucket (LSH OR-
    construction, the minhash-banding idiom applied to SRP), verified by an
    exact cosine and deduplicated across bands. No cross join of the corpus
    anywhere; the per-bucket pair count is the only quadratic term, as with
    MinHash+LSH banding.

    The band width is derived from the corpus size by the occupancy rule
    ``w ≈ log2(n / AUTO_OCCUPANCY)`` (:func:`auto_band_bits`). A band has
    only 2^w buckets, so at FIXED width the per-bucket occupancy grows
    linearly with the corpus and the verify stage quadratically (measured,
    BASELINE.md round-4 rehearsal: 4-bit bands took 6.5 s at 2k vectors but
    409 s at 20k — 86x shuffle on 10x data — and a >25-min kill at 200k,
    while 8 bits restored 20k to 10.8 s). Narrow bands also starve the
    join-key cardinality (N_BANDS * 2^w distinct shuffle keys): at 4 bits
    only 64 keys exist, and two reducers received all pairs.

    Width: each band computes its FULL ``AUTO_MAX_BITS``-bit SRP bucket
    (plane stride AUTO_MAX_BITS: band b, bit i uses hyperplane
    b*AUTO_MAX_BITS + i), then masks to the low ``w`` bits. The count is a
    1-row aggregate broadcast onto the corpus (the allowlisted scalar-stats
    cross-join shape), so the whole plan stays declarative: scan -> 1-row
    agg -> broadcast -> explode N_BANDS keys -> ONE equi-join on
    (band, bucket) -> exact-cosine verify BEFORE the cross-band distinct.

    Measured widths on the test corpora: 500 vecs -> 4 bits, 2k -> 6,
    20k -> 10, 200k -> 13 — per-bucket verify work stays ~constant
    (~occupancy^2/2 pairs) and shuffle-key cardinality grows with the
    corpus. Recall trades against width exactly as the capture formula
    1-(1-p^w)^N_BANDS says, p = 1-acos(cos)/pi: at cos 0.99 (p = 0.955)
    capture is 0.99 at w=4 and 0.95 at w=14 — near-duplicate geometry keeps
    high recall at every corpus size, while loose-threshold recall
    (cos ~ 0.35) intentionally falls with scale; more bands (hash tables)
    buy it back."""
    stats = vectors.agg(F.count(F.lit(1)).alias("n")).select(
        auto_band_bits(F.col("n")).alias("w")
    )
    bb = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    _srp_bucket_sql(
                        list(range(b * AUTO_MAX_BITS, (b + 1) * AUTO_MAX_BITS))
                    )
                ).alias("full"),
            )
            for b in range(N_BANDS)
        ]
    )
    vb = (
        vectors.crossJoin(F.broadcast(stats))
        .select(F.col("vec_id"), "v", "norm", "w", F.explode(bb).alias("bb"))
        .select(
            "vec_id",
            "v",
            "norm",
            F.col("bb.band").alias("band"),
            F.expr("bb.full & (shiftleft(1L, w) - 1)").alias("bucket"),
        )
    )
    a = vb.select(
        "band", "bucket", F.col("vec_id").alias("ka"), F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    b = vb.select(
        "band", "bucket", F.col("vec_id").alias("kb"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("ka") < F.col("kb"))
        .select(
            "ka", "kb",
            (F.expr(_dot("va", "vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
        .distinct()
    )


def cosine_topk_multiprobe(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Multi-probe SRP LSH search (Lv et al. 2007): each query probes its own
    16-bit hyperplane bucket PLUS the 16 one-bit-flip neighbor buckets, so a
    near neighbor that landed just across one hyperplane is still found —
    recall rises without building more hash tables.

    The probe set is a per-row array literal (bucket ^ 2^i), exploded and
    equi-joined against the vectors' buckets: probe fan-out is the constant
    N_PLANES+1, candidates per probe are one bucket's occupancy, and no
    probe bucket repeats (b ^ 2^i are pairwise distinct) so candidates are
    hit at most once — no dedup shuffle. Same output shape as cosine_topk:
    (query_id, neighbor_id, rank, cos), rank by (cos desc, neighbor asc).
    """
    vb = hyperplane_buckets(vectors).join(vectors, "vec_id")
    qb = hyperplane_buckets(queries).join(queries, "vec_id")
    probes = F.array(
        F.col("bucket"), *[F.expr(f"bucket ^ {1 << i}") for i in range(N_PLANES)]
    )
    q = qb.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
        F.explode(probes).alias("blk"),
    )
    c = vb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("blk"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    pairs = (
        q.join(c, "blk")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.expr(_dot("qv", "cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    return _rank_topk(pairs, k)


def diversity_by_group(vectors: DataFrame, key: str = "label") -> DataFrame:
    """Per-group embedding diversity WITHOUT materializing pairs: the mean
    squared pairwise L2 distance over the n(n-1) ordered pairs has the
    closed form

        (2n * sum(||x||^2) - 2 * ||sum(x)||^2) / (n (n-1))

    so two linear aggregates (scalar squared norms; per-dimension component
    sums via posexplode, keys bounded by groups x dim) replace the O(n^2)
    self-join entirely — the collapse-detection / diversity metric a corpus
    pipeline wants per source or cluster at 100 TB.

    Decimal sufficient statistics (operators/aggregates.dsum) make every
    cross-row sum exact, so the result is bit-stable across engines.
    Returns (key, n, avg_sq_norm, mean_pair_sqdist) for groups with n >= 2.
    """
    sq = vectors.select(key, F.expr(_dot("v", "v")).alias("sq"))
    s1 = sq.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"), dsum("sq", 8).alias("s1")
    )
    comp = vectors.select(key, F.posexplode("v").alias("pos", "x"))
    sv = (
        comp.groupBy(key, "pos")
        .agg(dsum("x", 8).alias("s"))
        .groupBy(key)
        .agg(dsum(F.col("s") * F.col("s"), 6).alias("sv2"))
    )
    n = F.col("n")
    return (
        s1.join(sv, key)
        .filter(n >= 2)
        .select(
            key,
            "n",
            (F.col("s1") / n).alias("avg_sq_norm"),
            (
                (F.lit(2) * n * F.col("s1") - F.lit(2) * F.col("sv2"))
                / (n * (n - F.lit(1)))
            ).alias("mean_pair_sqdist"),
        )
    )
