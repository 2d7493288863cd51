"""MinHash / LSH / near-duplicate detection (SURVEY.md §2.7 + the
training-data dedup suite: exact, MinHash+LSH, SimHash, n-gram Jaccard).

Reference: Part_2.pdf p3-7 — signature construction without materialized
permutations (p4), banding with the 1-(1-s^r)^b capture probability (p5-6),
and the truncated first-m-rows speedup (p7). The engine keeps those
algorithms and re-expresses them as DataFrame aggregations over the
cross-engine md5 hash (functions/hashing.py), so every stage is
oracle-checkable in DuckDB.

Scale design:
- signatures: tokens × H rows -> groupBy(key, seed) min(hash). One shuffle,
  integer min-combine (map-side partial), linear in corpus size. For very
  wide H, the array formulation (collect tokens once, H array_min's) trades
  shuffle volume for per-row CPU; the rows form keeps whole-stage codegen.
- banding: groupBy(key, band) with an order-pinned concat; candidates come
  from an equi-join on (band, band_sig) — bucket sizes are the only
  quadratic term, exactly the LSH point.
- simhash: 4×15-bit block index; candidate pairs share a block (standard
  Charikar blocking), verified by Hamming distance via bit_count(xor).
- n-gram Jaccard: shingle-inverted-index join with a document-frequency cap
  on shingles (hot-shingle skew guard at scale).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.text import ngram_text, ngrams
from ..caching import persist_tracked
from ..sources.readers import local_relation

#: (pos, 2^pos) literals for 60-bit arithmetic — double pow() is inexact past
#: 2^53, so both engines get the exact powers as data, not math.
BIT_POWERS = [(p, 1 << p) for p in range(60)]


def _h64_seeded(col: Column, seed_col: Column) -> Column:
    """60-bit md5 hash with a *column* seed: int(md5('{seed}:{v}')[:15], 16)."""
    s = F.concat(seed_col.cast("string"), F.lit(":"), col.cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    tokens: DataFrame,
    token_col: str = "word",
    num_hashes: int = 32,
    row_fraction: tuple[int, int] | None = None,
) -> DataFrame:
    """(key, seed, mh) minhash signature rows over distinct tokens per key.

    One map per element per hash function, no permutations materialized —
    the Part_2.pdf p4 formulation. ``row_fraction=(m, r)`` keeps only tokens
    with h(token) % r < m: the first-m-rows truncation of Part_2.pdf p7
    (keys whose tokens all fall outside the subset simply produce no rows —
    the reference's ∞ signature).

    Shuffle shape (the sf1 scale rehearsal caught the naive version): MIN is
    duplicate-insensitive, so no ``distinct()`` — a distinct exchange hashes
    on (key, token), scattering every key across every partition, after
    which the ×num_hashes seed explode's partial min-agg barely combines
    (per-partition key cardinality saturates at all-keys: measured 38M
    records / 700 MB shuffled for a 50k-doc corpus, growing ~quadratically
    until saturation). Instead the ``num_hashes`` seeded mins are computed
    as COLUMNS in one aggregate over the token stream, which is key-local
    straight out of the tokenize/shingle explode — the map-side combine
    collapses each partition to one row per key, and the only exchange is
    |keys| wide rows. The (key, seed, mh) row contract is restored by a
    post-agg explode of |keys| × num_hashes rows."""
    t = tokens.select("doc_id", token_col)
    if row_fraction is not None:
        m, r = row_fraction
        t = t.filter(_h64_seeded(F.col(token_col), F.lit("rowsel")) % r < m)
    # The num_hashes aggregates are built as ONE parsed SQL expression each
    # rather than nested Column ops: the Column form costs ~8 py4j round
    # trips per seed (~0.7 s of driver time per call at 32 seeds, measured),
    # paid by every consumer on every bench repeat. Same functions, same
    # operand order -> identical values and identical physical aggregation.
    mins = t.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(cast(conv(substring(md5(concat(cast({s} as string), "
                f"':', cast({token_col} as string))), 1, 15), 16, 10) "
                f"as bigint))"
            ).alias(f"_mh{s}")
            for s in range(num_hashes)
        ]
    )
    structs = ", ".join(
        f"named_struct('seed', {s}, 'mh', _mh{s})" for s in range(num_hashes)
    )
    return mins.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("_x")
    ).select("doc_id", F.col("_x.seed").alias("seed"), F.col("_x.mh").alias("mh"))


def sql_minhash_sigs(num_hashes: int, src: str, col: str) -> str:
    """DuckDB twin of :func:`minhash_signatures` in the seeds-cross-join
    scatter form: CTEs ``seeds`` and ``sigs`` (doc_id, seed, mh) over the
    (doc_id, ``col``) rows of CTE ``src``."""
    h = f"('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || {col}), 1, 15))::BIGINT"
    return (
        f"seeds AS (SELECT unnest(range({num_hashes})) AS seed),\n"
        f"sigs AS (SELECT doc_id, seed, MIN({h}) AS mh\n"
        f"         FROM {src} CROSS JOIN seeds GROUP BY doc_id, seed)"
    )


def sql_minhash_sigs_wide(num_hashes: int, materialized: bool) -> str:
    """The same ``sigs`` rows over CTE ``shx`` (doc_id, shingle) in one wide
    aggregate pass, as :func:`minhash_signatures` computes them: CTE
    ``sigw`` holds one row per doc with the ``num_hashes`` minima as
    columns, ``sigs`` unpivots it. No seeds scatter, so it runs at scales
    where the scatter form spills. ``materialized`` marks both CTEs AS
    MATERIALIZED."""
    m = " MATERIALIZED" if materialized else ""
    mins = ", ".join(
        f"MIN(('0x' || substr(md5('{s}:' || shingle), 1, 15))::BIGINT) AS mh{s}"
        for s in range(num_hashes)
    )
    cols = ", ".join(f"mh{s}" for s in range(num_hashes))
    return (
        f"sigw AS{m} (SELECT doc_id, {mins} FROM shx GROUP BY doc_id),\n"
        f"sigs AS{m} (SELECT doc_id, unnest(range({num_hashes})) AS seed,\n"
        f"         unnest([{cols}]) AS mh\n"
        "         FROM sigw)"
    )


def minhash_jaccard(sigs: DataFrame, num_hashes: int) -> DataFrame:
    """Pairwise Jaccard estimates: fraction of agreeing signature rows
    (E[agreement] = J, exactly 0 when J = 0 — Part_2.pdf p3-4).
    Emits (key_a, key_b, n_sig, est) for key_a < key_b pairs that share at
    least one signature row slot; est counts agreements / num_hashes.

    ``sigs`` feeds both sides of the self-join; persisting it computes the
    signature pipeline once instead of once per branch (the aliases differ,
    so Catalyst's ReuseExchange cannot dedupe them by itself)."""
    sigs = persist_tracked(sigs)
    a = sigs.select(F.col("doc_id").alias("ka"), "seed", F.col("mh").alias("mha"))
    b = sigs.select(F.col("doc_id").alias("kb"), "seed", F.col("mh").alias("mhb"))
    return (
        a.join(b, "seed")
        .filter(F.col("ka") < F.col("kb"))
        .groupBy("ka", "kb")
        .agg(
            F.count(F.lit(1)).alias("n_sig"),
            (
                F.sum((F.col("mha") == F.col("mhb")).cast("bigint"))
                / F.lit(float(num_hashes))
            ).alias("est"),
        )
    )


def lsh_bands(sigs: DataFrame, rows_per_band: int) -> DataFrame:
    """(key, band, band_sig): md5 over the band's signature rows in seed order
    (Part_2.pdf p5: sets agreeing on a whole band become candidates)."""
    banded = sigs.withColumn("band", F.expr(f"seed div {rows_per_band}"))
    ordered = F.array_sort(F.collect_list(F.struct("seed", "mh")))
    concat = F.array_join(F.transform(ordered, lambda s: s["mh"].cast("string")), "-")
    return banded.groupBy("doc_id", "band").agg(F.md5(concat).alias("band_sig"))


def sql_lsh_bands(rows_per_band: int, materialized: bool) -> str:
    """DuckDB twin of :func:`lsh_bands` over CTE ``sigs``: CTE ``bands``
    (doc_id, band, band_sig). ``materialized`` marks it AS MATERIALIZED."""
    m = " MATERIALIZED" if materialized else ""
    return (
        f"bands AS{m} (SELECT doc_id, seed // {rows_per_band} AS band,\n"
        "          md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_sig\n"
        "          FROM sigs GROUP BY doc_id, band)"
    )


def lsh_candidates(
    a: DataFrame,
    a_col: str,
    b: DataFrame | None,
    b_col: str,
    out: tuple[str, str] | None = None,
) -> DataFrame:
    """Distinct candidate pairs from the band-bucket equi-join: a doc of the
    ``a`` bands frame (as ``a_col``) and a doc of ``b`` (as ``b_col``) that
    agree on a whole band (Part_2.pdf p5). ``b`` None pairs the docs of
    ``a`` among themselves, each unordered pair once, a_col < b_col. The
    pair columns come out, and are deduplicated, in ``out`` order (default
    (a_col, b_col)): the order keys the distinct's exchange, which the
    round14q state families' shape pins fix as (doc_b, doc_a).

    The caller decides what to persist: a frame read on both join sides
    computes twice unless it is persisted or a checkpoint leaf."""
    pairs = a.select(F.col("doc_id").alias(a_col), "band", "band_sig").join(
        (a if b is None else b).select(F.col("doc_id").alias(b_col), "band", "band_sig"),
        ["band", "band_sig"],
    )
    if b is None:
        pairs = pairs.filter(F.col(a_col) < F.col(b_col))
    return pairs.select(*(out or (a_col, b_col))).distinct()


def signature_agreement(
    cand: DataFrame,
    sigs: DataFrame,
    a_col: str,
    b_col: str,
    num_hashes: int | None = None,
) -> DataFrame:
    """The LSH verify stage: (a_col, b_col, ``cand``'s other columns) plus
    ``n_agree``, the number of seeds on which the ``sigs`` (doc_id, seed,
    mh) rows of the pair's ``a_col`` and ``b_col`` docs agree. Only
    candidate pairs are joined to their signatures, so the work is bounded
    by the candidate set, never all pairs. Given ``num_hashes``, the column
    is the agreement fraction ``est`` = n_agree / num_hashes instead,
    computed inside the aggregate."""
    sa = sigs.select(F.col("doc_id").alias(a_col), "seed", F.col("mh").alias("mha"))
    sb = sigs.select(F.col("doc_id").alias(b_col), "seed", F.col("mh").alias("mhb"))
    n_agree = F.sum((F.col("mha") == F.col("mhb")).cast("long"))
    agree = (
        n_agree.alias("n_agree")
        if num_hashes is None
        else (n_agree / F.lit(float(num_hashes))).alias("est")
    )
    keys = [a_col, b_col] + [c for c in cand.columns if c not in (a_col, b_col)]
    return cand.join(sa, a_col).join(sb, [b_col, "seed"]).groupBy(*keys).agg(agree)


def lsh_capture_probability(s: float, r: int, b: int) -> float:
    """Closed-form P(candidate | Jaccard=s) = 1 - (1 - s^r)^b (Part_2.pdf p5-6)."""
    return 1.0 - (1.0 - s**r) ** b


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact-duplicate groups by content hash: (text_hash, n_docs, keeper) —
    keeper = min key, the row a dedup pipeline would retain."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_values(tokens: DataFrame, spark=None, token_col: str = "word") -> DataFrame:
    """60-bit SimHash per key over distinct tokens (Charikar): bit p of the
    fingerprint is 1 iff Σ_tokens (2·bit_p(h(token)) - 1) > 0.

    Returns (key, simhash, b0..b3) where b0..b3 are the 4 15-bit blocks used
    for candidate blocking.

    Shuffle design: one groupBy(key) over the token rows with 60 conditional
    SUM aggregates — one per bit — each `((h div 2^p) % 2) * 2 - 1`, combined
    map-side like any other partial agg. The alternative (explode tokens x 60
    bit positions, aggregate (key, pos)) shuffles 60x the corpus token count
    for identical results; at 100 TB that is the whole job's cost. Powers of
    two stay in integer arithmetic throughout (exact past double's 2^53).

    The internal distinct is KEY-LOCAL: ``repartition(key)`` first, so the
    (key, token) dedup satisfies its clustering requirement from the key
    partitioning and runs without its own exchange — and the 60-sum partial
    agg then emits exactly one row per key. A plain ``.distinct()`` would
    instead exchange on (key, token), scattering every key across every
    partition, after which the partial agg's output saturates at
    |keys| x |partitions| wide rows (the sf1 rehearsal's 60x shuffle
    inflation). Pass the RAW token/shingle stream; pre-distincted input is
    re-deduped harmlessly."""
    t = (
        tokens.select("doc_id", token_col)
        .repartition(F.col("doc_id"))
        .dropDuplicates(["doc_id", token_col])
        .withColumn("h", _h64_seeded(F.col(token_col), F.lit("sh")))
    )
    # integer div, not / : h spans 60 bits, past double's 2^53 exactness.
    # Every column below is ONE parsed SQL expression instead of nested
    # Column ops (the minhash_signatures treatment): the Column form cost
    # ~2.1 s of py4j round trips + eager analysis per build for the 60
    # conditional sums plus the 5 sixty-term bit-recombination trees —
    # pure driver time, paid on every bench repeat. Same operands, same
    # left-associative order; all values are exact integers.
    counts = t.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(((h div {p2}) % 2) * 2 - 1) AS c{p}")
            for p, p2 in BIT_POWERS
        ]
    )

    def bit(p: int) -> str:
        return f"cast((c{p} > 0) as bigint)"

    simhash = " + ".join(
        [bit(0)] + [f"{bit(p)} * {p2}" for p, p2 in BIT_POWERS[1:]]
    )
    blocks = [
        " + ".join(
            [f"{bit(blk * 15)} * 1"]
            + [f"{bit(p)} * {1 << (p % 15)}" for p in range(blk * 15 + 1, blk * 15 + 15)]
        )
        + f" AS b{blk}"
        for blk in range(4)
    ]
    return counts.selectExpr("doc_id", f"{simhash} AS simhash", *blocks)


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Candidate pairs sharing any 15-bit block, verified by Hamming distance
    bit_count(xor) <= max_hamming. Returns (ka, kb, hamming).

    ``sim`` (one row per key) is referenced six times below (4 block slices +
    both verification sides) — persisted so the fingerprint pipeline runs
    once."""
    sim = persist_tracked(sim)
    blocks = None
    for blk in range(4):
        part = sim.select(
            F.col("doc_id").alias("k"), F.lit(blk).alias("blk"), F.col(f"b{blk}").alias("bv")
        )
        blocks = part if blocks is None else blocks.unionAll(part)
    a = blocks.select(F.col("k").alias("ka"), "blk", "bv")
    b = blocks.select(F.col("k").alias("kb"), "blk", "bv")
    cand = (
        a.join(b, ["blk", "bv"]).filter(F.col("ka") < F.col("kb")).select("ka", "kb").distinct()
    )
    ha = sim.select(F.col("doc_id").alias("ka"), F.col("simhash").alias("ha"))
    hb = sim.select(F.col("doc_id").alias("kb"), F.col("simhash").alias("hb"))
    return (
        cand.join(ha, "ka")
        .join(hb, "kb")
        .withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("ka", "kb", "hamming")
    )


#: Most pair rows :func:`connected_components` resolves on the driver. A
#: bound on driver memory, not a tuning point: 2^20 collected pairs plus the
#: union-find map are a few hundred MB of Python objects at worst, while the
#: distributed path pays Spark jobs every round at any graph size.
_DRIVER_MAX_EDGES = 1 << 20

#: Round budget of :func:`connected_components_twophase`; running out of it
#: raises. Large-star/small-star takes O(log^2 n) rounds at any diameter.
_TWOPHASE_MAX_ROUNDS = 12


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected ``(ka, kb)`` pair list:
    (node, label), label = min node id of the component (the canonical
    "keeper" a dedup pipeline retains), both of the input key's type.

    One job, ``limit(T + 1).collect()`` with T = ``_DRIVER_MAX_EDGES``,
    picks the path. At most T pairs: union-find on the driver, exact at any
    diameter, handed back as a LocalRelation; near-dup pair graphs (pairs
    above a similarity threshold) are this size. Above T:
    :func:`connected_components_twophase`, the only path for a graph the
    driver cannot hold; the pairs plan runs again under it.
    """
    fwd = pairs.select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
    rows = fwd.limit(_DRIVER_MAX_EDGES + 1).collect()
    if len(rows) > _DRIVER_MAX_EDGES:
        return connected_components_twophase(pairs)
    # the key type of both columns together, as twophase's node set has it
    both = fwd.unionAll(fwd.select("dst", "src"))
    key = both.schema["src"].dataType.simpleString()
    return local_relation(
        pairs.sparkSession, _union_find_labels(rows), f"node {key}, label {key}"
    )


def _union_find_labels(rows: list) -> pd.DataFrame:
    """(node, label) of every node in the ``rows`` pairs: union-find that always
    hangs the larger root under the smaller, so each root is its
    component's minimum."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    return pd.DataFrame({"node": nodes, "label": [find(n) for n in nodes]})


def connected_components_twophase(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond") —
    the distributed path :func:`connected_components` takes above its
    driver bound.

    Min-label propagation needs O(diameter) rounds: a path component of
    length D takes D rounds, so a 100 TB web-crawl dedup graph with one long
    chain stalls the whole job. Large-star/small-star contracts the graph
    toward each component's minimum in O(log^2 n) rounds regardless of
    diameter, with the SAME per-round physical shape (one groupBy(min) +
    one join — no new shuffle primitive):

    - large-star: for each node u, connect every *larger* neighbor v > u to
      m(u) = min(N(u) + {u});
    - small-star: orient each edge large->small; connect every smaller
      neighbor (and u itself) to m(u).

    Both preserve connectivity; at the fixpoint the edge set is exactly the
    star {(v, c)} with c = the component minimum. Convergence is detected
    via the (edge_count, sum-of-endpoints) pair — each round only rewires
    endpoints downward, so the pair is stable iff the edge set is.

    More than ``_TWOPHASE_MAX_ROUNDS`` rounds without a fixpoint RAISES
    rather than returning labels of an unfinished contraction.

    Returns (node, label), same contract as :func:`connected_components`
    (label = min node id of the component).
    """
    raw = pairs.select(F.col("ka").alias("u"), F.col("kb").alias("v"))
    nodes = persist_tracked(
        raw.select(F.col("u").alias("node"))
        .unionAll(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    # Lazy checkpoint: materialized by the first round's own job (the
    # truncation-after-materialize semantics are identical; localCheckpoint
    # persists blocks, so the round's two reads of `edges` share one compute).
    edges = raw.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=False)
    prev = None
    for _ in range(_TWOPHASE_MAX_ROUNDS):
        # -- large-star: both directions, group by u, attach larger nbrs to min
        both = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = both.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        ls = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: orient large->small, attach smaller nbrs + self to min
        ori = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        smins = ori.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ori.join(smins, "u")
            .select(
                F.explode(F.array(F.col("v"), F.col("u"))).alias("u"),
                F.col("m").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # lazy: the convergence signature's collect below materializes
            # the checkpoint in the same job (1 job/round instead of 2)
            .localCheckpoint(eager=False)
        )
        edges = ss
        sig = edges.agg(
            F.count(F.lit(1)).alias("c"), F.sum(F.col("u") + F.col("v")).alias("s")
        ).collect()[0]
        cur = (sig["c"], sig["s"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            "connected_components_twophase did not stabilize in "
            f"{_TWOPHASE_MAX_ROUNDS} rounds (O(log^2 n) expected)."
        )
    # Fixpoint edges are (member, component_min) stars; isolated-in-pairs
    # nodes (self-pair inputs) label themselves.
    lab = edges.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("label")
    ).groupBy("node").agg(F.min("label").alias("label"))
    return nodes.join(lab, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


def ngram_shingles(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per key from a token-*array* column, distinct by
    default (set semantics for Jaccard/df counting).

    Shingling is a per-row zip of n shifted token slices
    (``functions/text.ngrams``) — zero shuffle, no lambda, one codegen
    stage; the windowed lead() formulation would shuffle the corpus by key
    for no reason.

    ``distinct=False`` skips the (key, shingle) distinct EXCHANGE and keeps
    the stream key-local (each doc's shingles stay in its partition). Use it
    for duplicate-insensitive consumers — minhash (MIN) and simhash (which
    dedups key-locally itself) — where the distinct exchange would scatter
    every key across every partition and ruin the downstream per-key partial
    aggregation (measured 60x shuffle inflation at 50k docs)."""
    sh = docs.select("doc_id", F.explode(ngrams("toks", n)).alias("g")).select(
        "doc_id", ngram_text("g", n).alias("shingle")
    )
    return sh.distinct() if distinct else sh


def _capped_pair_counts(shingles: DataFrame, df_cap: int) -> DataFrame:
    """(ka, kb, n_common, na, nb): doc pairs ka < kb sharing at least one
    shingle held by at most ``df_cap`` docs, with the number of such
    shingles they share and each doc's full distinct-shingle count. The
    candidate core of :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`; ``shingles`` is persisted, since the df
    counter, both join sides and the size table all read it."""
    shingles = persist_tracked(shingles)
    freq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # The rare-shingle list is vocabulary-scale (grows with the corpus) — no
    # broadcast hint; AQE promotes it when it is actually small and falls
    # back to a shuffled join at 100 TB instead of OOMing the executors.
    keep = shingles.join(
        freq.filter(F.col("df") <= df_cap).select("shingle"), "shingle"
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = keep.select(F.col("doc_id").alias("ka"), "shingle")
    b = keep.select(F.col("doc_id").alias("kb"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("ka") < F.col("kb"))
        .groupBy("ka", "kb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("ka"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("kb"), F.col("n_sh").alias("nb"))
    return common.join(sa, "ka").join(sb, "kb")


def ngram_jaccard_pairs(
    shingles: DataFrame, min_jaccard: float = 0.2, df_cap: int = 500
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing >=1 shingle.

    ``df_cap`` drops shingles appearing in more than df_cap docs before the
    inverted-index join — the hot-shingle skew guard; at 100 TB this cap is
    what keeps bucket joins from going quadratic on boilerplate text.
    Returns (ka, kb, n_common, jaccard)."""
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        _capped_pair_counts(shingles, df_cap)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= min_jaccard)
        .select("ka", "kb", "n_common", "jaccard")
    )


def containment_pairs(
    shingles: DataFrame,
    min_containment: float = 0.9,
    df_cap: int = 500,
) -> DataFrame:
    """Doc-in-doc containment pairs: C(A,B) = |A∩B| / min(|A|,|B|).

    Jaccard misses the suffix/quotation case — a short doc fully embedded in
    a long one scores |A|/|B|, far below any near-dup threshold — so corpus
    dedup pipelines (SlimPajama-style containment pruning) need the
    asymmetric measure. Candidate generation is the same df-capped inverted
    shingle index as :func:`ngram_jaccard_pairs` (hot-shingle skew guard);
    sizes use the uncapped distinct-shingle sets. Returns
    (inner_doc, outer_doc, n_common, n_inner, containment) with the smaller
    set as ``inner_doc`` (ka on size ties — ids already ordered ka < kb)."""
    cont = F.col("n_common").cast("double") / F.least("na", "nb")
    inner = F.when(F.col("na") <= F.col("nb"), F.col("ka")).otherwise(F.col("kb"))
    outer = F.when(F.col("na") <= F.col("nb"), F.col("kb")).otherwise(F.col("ka"))
    return (
        _capped_pair_counts(shingles, df_cap)
        .withColumn("containment", cont)
        .filter(F.col("containment") >= min_containment)
        .select(
            inner.alias("inner_doc"),
            outer.alias("outer_doc"),
            "n_common",
            F.least("na", "nb").alias("n_inner"),
            "containment",
        )
    )


def jaccard_prefix_pairs(shingles: DataFrame, tau_tenths: int = 3) -> DataFrame:
    """Prefix-filtered exact set-similarity join (the AllPairs/PPJoin family:
    Bayardo et al. 2007, Xiao et al. 2008) — the scale path the df-cap
    heuristic in :func:`ngram_jaccard_pairs` approximates.

    Shingles are globally ordered by (document frequency asc, shingle) and
    only each document's first ``n - ceil(tau*n) + 1`` shingles are indexed:
    any pair with Jaccard >= tau must share a prefix shingle (pigeonhole on
    the >= ceil(tau*|x|) common elements), so the candidate join touches the
    RARE end of the vocabulary instead of capping away the hot end — exact
    recall, no dropped pairs, and the inverted index shrinks with tau.

    tau = tau_tenths/10 is kept in tenths so prefix lengths and the final
    threshold test are exact integer arithmetic in both engines
    (ceil(tau*n) = (tau_tenths*n + 9) div 10; jac >= tau is
    10*n_common >= tau_tenths*union).

    Returns (ka, kb, n_common, jaccard). Shuffle census: per-doc shingle-set
    groupBy (partition = one document — bounded by doc length), shingle df
    groupBy, one row_number window keyed by doc, the prefix equi-join on
    shingle + candidate distinct, and two doc-keyed joins attaching each
    candidate's shingle ARRAY. Verification is per-candidate-row
    array_intersect (sorted-merge over two bounded arrays) instead of a
    posting-list expansion — the intermediate is |candidates| rows, never
    |candidates| x doc-length. Everything is linear except the prefix join,
    whose fan-out the prefix theorem bounds; the size filter
    (tau*max <= min, integer form) prunes cross-length candidates before the
    array joins.
    """
    # One groupBy gives both the verify arrays and the sizes; doc partition
    # is bounded by document length, never corpus size.
    doc_sets = persist_tracked(
        shingles.groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shs"))
        .withColumn("n_sh", F.size("shs"))
    )
    sh = doc_sets.select("doc_id", "n_sh", F.explode("shs").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    order_w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = sh.join(freq, "shingle").withColumn(
        "pos", F.row_number().over(order_w)
    )
    prefix_len = (
        F.col("n_sh") - F.expr(f"({tau_tenths} * n_sh + 9) div 10") + F.lit(1)
    )
    pref = ranked.filter(F.col("pos") <= prefix_len).select(
        "doc_id", "n_sh", "shingle"
    )
    cand = (
        pref.select(F.col("doc_id").alias("ka"), F.col("n_sh").alias("na"), "shingle")
        .join(
            pref.select(
                F.col("doc_id").alias("kb"), F.col("n_sh").alias("nb"), "shingle"
            ),
            "shingle",
        )
        .filter(F.col("ka") < F.col("kb"))
        # size filter: J >= tau forces tau*max(na,nb) <= min(na,nb)
        # (10*min >= tau_tenths*max in exact integer form).
        .filter(
            F.lit(10) * F.least("na", "nb")
            >= F.lit(tau_tenths) * F.greatest("na", "nb")
        )
        .select("ka", "kb")
        .distinct()
    )
    sa = doc_sets.select(
        F.col("doc_id").alias("ka"), F.col("shs").alias("sha"), F.col("n_sh").alias("na")
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("kb"), F.col("shs").alias("shb"), F.col("n_sh").alias("nb")
    )
    verified = (
        cand.join(sa, "ka")
        .join(sb, "kb")
        .withColumn("n_common", F.size(F.array_intersect("sha", "shb")).cast("long"))
    )
    union_sz = F.col("na") + F.col("nb") - F.col("n_common")
    return (
        verified.filter(
            F.lit(10) * F.col("n_common") >= F.lit(tau_tenths) * union_sz
        )
        .select(
            "ka",
            "kb",
            "n_common",
            (F.col("n_common") / union_sz).alias("jaccard"),
        )
    )
