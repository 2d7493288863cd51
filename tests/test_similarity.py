"""Property/golden tests for the MinHash/LSH suite on the reference's own
fixture sets (Part_2.pdf p4; FIXTURES.md §A4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_mini_projects_spark.operators.similarity import (
    dedup_exact,
    lsh_bands,
    lsh_candidates,
    lsh_capture_probability,
    minhash_jaccard,
    minhash_signatures,
    ngram_jaccard_pairs,
    ngram_shingles,
    simhash_near_pairs,
    simhash_values,
)

#: Part_2.pdf p4 fixture: S1={a,e}, S2={c,d}, S3={b}, S4={a,d,e}.
SETS = [(1, "a"), (1, "e"), (2, "c"), (2, "d"), (3, "b"), (4, "a"), (4, "d"), (4, "e")]


def _tokens(spark):
    return spark.createDataFrame(SETS, "doc_id long, word string")


def test_minhash_estimates_jaccard(spark):
    """E[sig agreement] = Jaccard; exactly 0 when J=0 (Part_2.pdf p3)."""
    sigs = minhash_signatures(_tokens(spark), num_hashes=500)
    est = {
        (r["ka"], r["kb"]): r["est"]
        for r in minhash_jaccard(sigs, 500).collect()
    }
    assert est[(1, 2)] == 0.0  # disjoint sets -> exact zero
    assert est[(1, 4)] == pytest.approx(2 / 3, abs=0.08)
    assert est[(2, 4)] == pytest.approx(1 / 4, abs=0.08)
    assert est[(1, 3)] == 0.0 and est[(2, 3)] == 0.0 and est[(3, 4)] == 0.0


def test_lsh_identical_sets_always_candidates(spark):
    dup = SETS + [(9, "a"), (9, "e")]  # doc 9 duplicates doc 1
    sigs = minhash_signatures(
        spark.createDataFrame(dup, "doc_id long, word string"), num_hashes=32
    )
    cand = {(r["ka"], r["kb"]) for r in lsh_candidates(lsh_bands(sigs, 4)).collect()}
    assert (1, 9) in cand
    assert (1, 2) not in cand  # disjoint sets share no band


def test_lsh_capture_probability_table():
    """Part_2.pdf p5-6 closed-form table."""
    assert lsh_capture_probability(0.75, 5, 100) >= 0.9999  # stated as ">= 0.9999"
    assert lsh_capture_probability(0.9, 17, 29) == pytest.approx(0.995, abs=5e-3)
    assert lsh_capture_probability(0.9, 16, 31) == pytest.approx(0.9983, abs=5e-4)
    assert lsh_capture_probability(0.9, 19, 27) == pytest.approx(0.9801, abs=1e-3)
    assert lsh_capture_probability(0.9, 25, 20) == pytest.approx(0.7746, abs=5e-4)
    assert lsh_capture_probability(0.9, 18, 28) == pytest.approx(0.99, abs=5e-3)


def test_dedup_exact_finds_planted_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd"), (3, "aa bb"), (4, "ee"), (5, "aa bb")],
        "doc_id long, text string",
    )
    out = dedup_exact(docs).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 3 and out[0]["keeper"] == 1


def test_simhash_duplicates_and_near_duplicates(spark):
    base = [(i, f"tok{j}") for i in (1, 2) for j in range(20)]  # identical docs 1,2
    near = [(3, f"tok{j}") for j in range(18)] + [(3, "zz1"), (3, "zz2")]
    far = [(4, f"other{j}") for j in range(20)]
    toks = spark.createDataFrame(base + near + far, "doc_id long, word string")
    sim = simhash_values(toks, spark)
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[1] == vals[2]
    pairs = {(r["ka"], r["kb"]): r["hamming"] for r in simhash_near_pairs(sim, 12).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs
    if (1, 3) in pairs:  # near-dup usually survives with small hamming
        assert pairs[(1, 3)] <= 12


def test_ngram_jaccard_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog".split(" ")),
            (2, "the quick brown fox jumps over the lazy cat".split(" ")),
            (3, "completely different words here entirely now".split(" ")),
        ],
        "doc_id long, toks array<string>",
    )
    sh = ngram_shingles(docs, n=3)
    out = {(r["ka"], r["kb"]): r["jaccard"] for r in ngram_jaccard_pairs(sh, 0.2).collect()}
    assert (1, 2) in out and out[(1, 2)] == pytest.approx(6 / 8, abs=1e-9)
    assert (1, 3) not in out


def test_connected_components_known_graph(spark, cc_paths):
    """Two chains + an isolate-free triangle resolve to min-id labels:
    {1-2-3-4} -> 1, {10-11} -> 10, {20-21-22} -> 20, on the driver path
    and on large-star/small-star."""
    from big_data_analytics_mini_projects_spark.operators.similarity import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "ka long, kb long",
    )
    for path in cc_paths:
        got = {
            r["node"]: r["label"] for r in connected_components(pairs).collect()
        }
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20
        }, path


def test_connected_components_long_chain(spark, cc_paths, monkeypatch):
    """The diameter story behind the CC paths (round-4 verdict item 5),
    pinned on a 40-node path graph (diameter 39):

    - the driver path's union-find returns the exact labels at any
      diameter;
    - large-star/small-star returns them within its O(log^2 n) round
      budget, and RAISES when the budget runs out, never returning the
      labels of an unfinished contraction.
    """
    from big_data_analytics_mini_projects_spark.operators import similarity

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "ka long, kb long"
    )
    want = {i: 0 for i in range(n)}
    for path in cc_paths:
        got = {
            r["node"]: r["label"]
            for r in similarity.connected_components(pairs).collect()
        }
        assert got == want, path

    monkeypatch.setattr(similarity, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(similarity, "_TWOPHASE_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="stabilize"):
        similarity.connected_components(pairs)


def test_connected_components_empty(spark, cc_paths):
    from big_data_analytics_mini_projects_spark.operators.similarity import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "ka long, kb long")
    for path in cc_paths:
        out = connected_components(pairs)
        assert out.columns == ["node", "label"], path
        assert out.count() == 0, path
        if path == "driver":
            # an empty pandas frame must not fall back to a Python-RDD scan
            plan = out._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
            assert "LocalRelation" in plan, plan


def test_connected_components_path_boundary(spark, monkeypatch):
    """Exactly T pair rows stay on the driver (the result is a
    LocalRelation); T + 1 rows take large-star/small-star (its labels read
    a checkpointed RDD). The extra row repeats an edge reversed, so both see
    the same graph and must give identical labels."""
    from big_data_analytics_mini_projects_spark.operators import similarity

    edges = [(5, 4), (4, 3), (3, 2), (2, 1), (9, 8), (8, 7)]
    monkeypatch.setattr(similarity, "_DRIVER_MAX_EDGES", len(edges))
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 7, 8: 7, 9: 7}
    for rows, leaf in ((edges, "LocalRelation"), (edges + [(1, 2)], "LogicalRDD")):
        pairs = spark.createDataFrame(rows, "ka long, kb long")
        out = similarity.connected_components(pairs)
        plan = out._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert leaf in plan, plan
        assert {r["node"]: r["label"] for r in out.collect()} == want


def test_auto_band_bits_width_rule(spark):
    """The occupancy-rule ladder (round-6 retune) is integer-exact at every
    corpus size, including exact powers of two: w = clamp(ceil(log2(n/32)),
    4, 14)."""
    from pyspark.sql import functions as F

    from big_data_analytics_mini_projects_spark.operators.vector import auto_band_bits

    cases = {500: 4, 512: 4, 513: 5, 2000: 6, 2048: 6, 2049: 7,
             20000: 10, 200000: 13, 524288: 14, 10**9: 14}
    df = spark.createDataFrame([(n,) for n in cases], "n long").select(
        "n", auto_band_bits(F.col("n")).alias("w")
    )
    got = {r["n"]: r["w"] for r in df.collect()}
    assert got == cases


def test_bucketed_near_pairs_auto_subset_and_recall(spark, sf_dir):
    """dedup_embedding_bucketed's engine has no false positives (exact-
    cosine verify) and near-total recall on true near-duplicates
    (cos >= 0.99) — at whatever width the corpus size selects."""
    import numpy as np

    from big_data_analytics_mini_projects_spark.operators.vector import (
        bucketed_near_pairs_auto,
        embedding_near_pairs,
        prepare_vectors,
    )
    from big_data_analytics_mini_projects_spark.plans.shared import embedding_vectors
    from big_data_analytics_mini_projects_spark.plans.round6q import NEAR_MIN_COS

    # corpus table: candidates are a strict subset of the all-pairs truth
    vecs = embedding_vectors(spark, sf_dir)
    truth = {(r["ka"], r["kb"]) for r in embedding_near_pairs(vecs, NEAR_MIN_COS).collect()}
    got = {(r["ka"], r["kb"]) for r in bucketed_near_pairs_auto(vecs, NEAR_MIN_COS).collect()}
    assert got <= truth

    # near-dup fixture: 40 bases x 3 noisy copies -> recall >= 0.95 at 0.99
    rng = np.random.RandomState(7)
    base = rng.randn(40, 64)
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):
            noisy = b + 0.02 * rng.randn(64)
            rows.append((vid, [float(x) for x in noisy]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nvecs = prepare_vectors(emb)
    ntruth = {(r["ka"], r["kb"]) for r in embedding_near_pairs(nvecs, 0.99).collect()}
    ngot = {(r["ka"], r["kb"]) for r in bucketed_near_pairs_auto(nvecs, 0.99).collect()}
    assert ngot <= ntruth
    assert len(ntruth) >= 100
    assert len(ngot) / len(ntruth) >= 0.95


def test_embedding_near_pairs_row_bound_enforced(spark):
    """The all-pairs helper must refuse an unbounded frame (round-8 verdict
    item 6): a frame over max_rows raises before any cross join is planned;
    the same frame passes once the caller explicitly raises the bound."""
    import pytest

    from big_data_analytics_mini_projects_spark.operators.vector import (
        embedding_near_pairs,
        prepare_vectors,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    vecs = prepare_vectors(emb)
    with pytest.raises(ValueError, match="quadratic"):
        embedding_near_pairs(vecs, 0.5, max_rows=10)
    # explicit opt-in: the same frame under a stated bound plans and runs
    assert embedding_near_pairs(vecs, 0.99, max_rows=25).count() >= 0
