"""Semantics-level unit tests for the round-7-continuation round12q forward
batch (round-9 window): packing-efficiency sweep, temperature mix shares,
cluster size histogram, MinHash error accounting, and the dedup-threshold
sensitivity curve."""

from __future__ import annotations

import duckdb

from big_data_analytics_mini_projects_spark.caching import _CHECKPOINTED
from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
from big_data_analytics_mini_projects_spark.plans.round11q import (
    slice_pair_inter,
)
from big_data_analytics_mini_projects_spark.plans.round12q import (
    AGREE_SWEEP,
    ALPHA_SWEEP,
    CTX_SWEEP,
    NUM_HASHES,
    pack_efficiency_core,
)

from .compare import assert_df_equal
from .test_count_marginals import _corpus


def test_pack_efficiency_golden(spark):
    """Two shards (100 and 2048 tokens) at C=1024: ceil(100/1024)=1 and
    ceil(2048/1024)=2 sequences, pad = 3*1024 - 2148 = 924."""
    s = spark.createDataFrame([(0, 100), (1, 2048)], "shard long, t long")
    rows = {r["ctx"]: r for r in pack_efficiency_core(s).collect()}
    r = rows[1024]
    assert (r["n_shards"], r["n_seqs"], r["total_tokens"], r["pad_tokens"]) == (
        2, 3, 2148, 924,
    )
    assert abs(r["efficiency"] - 2148 / 3072) < 1e-6


def test_pack_pad_monotone_on_doubling(spark, sf_dir):
    """Along the 512->1024->2048->4096 doubling chain, per-shard tail pad
    (-T mod C) can only stay or grow, so total pad is monotone."""
    rows = sorted(
        QUERIES["pack_efficiency_sweep"].build(spark, sf_dir).collect(),
        key=lambda r: r["ctx"],
    )
    assert [r["ctx"] for r in rows] == sorted(CTX_SWEEP)
    for a, b in zip(rows, rows[1:]):
        assert b["pad_tokens"] >= a["pad_tokens"]
        assert b["efficiency"] <= a["efficiency"] + 1e-9
        assert a["total_tokens"] == b["total_tokens"]
        assert a["pad_tokens"] == a["n_seqs"] * a["ctx"] - a["total_tokens"]


def test_temperature_shares(spark, sf_dir):
    """Shares sum to ~1 per alpha; dropping the temperature flattens the
    distribution (max share non-increasing)."""
    out = QUERIES["temperature_mix_rates"].build(spark, sf_dir).collect()
    by_alpha = {}
    for r in out:
        by_alpha.setdefault(r["alpha"], []).append(r)
    assert set(by_alpha) == set(ALPHA_SWEEP)
    n_sources = {len(v) for v in by_alpha.values()}
    assert len(n_sources) == 1
    for a, rows in by_alpha.items():
        total_share = sum(r["share"] for r in rows)
        assert abs(total_share - 1.0) < 1e-4 * len(rows) + 1e-6
    max1 = max(r["share"] for r in by_alpha[1.0])
    max25 = max(r["share"] for r in by_alpha[0.25])
    assert max25 <= max1 + 1e-9


def test_cluster_histogram_mass(spark, sf_dir):
    """Sum(size x n_clusters) over the histogram (including the singleton
    row) equals the corpus document count."""
    from big_data_analytics_mini_projects_spark.sources.tables import load_table

    rows = QUERIES["cluster_size_histogram"].build(spark, sf_dir).collect()
    mass = sum(r["size"] * r["n_clusters"] for r in rows)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert mass == n_docs
    sizes = [r["size"] for r in rows]
    assert len(sizes) == len(set(sizes))
    assert all(r["n_clusters"] >= 0 for r in rows)


#: A corpus without near-duplicates: no two docs share a word trigram, and
#: two docs are too short to have one.
NO_DUPS = [
    (1, "alpha beta gamma delta epsilon"),
    (2, "one two three four five six"),
    (3, "red green blue"),
    (4, "short"),
    (5, ""),
]


def test_empty_near_dup_graph_matches_oracle(spark, tmp_path):
    """With no scored pairs the connected-components labels are empty:
    every doc is a singleton cluster and dedup_clusters returns no rows.
    Both queries match their DuckDB oracles on the first build and on the
    memo-hit second build, and the memo keeps the empty labels a
    LocalRelation (a checkpoint would put an RDD scan in their place)."""
    sf_dir = _corpus(tmp_path, NO_DUPS)
    key = ("sim.cc_labels", sf_dir)
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        for name in ("cluster_size_histogram", "dedup_clusters"):
            spec = QUERIES[name]
            labels = None
            for _ in range(2):
                df = spec.build(spark, sf_dir)
                assert labels is None or _CHECKPOINTED[key][1] is labels, name
                labels = _CHECKPOINTED[key][1]
                plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
                assert "LogicalRDD" not in plan, (name, plan)
                assert_df_equal(df, con, spec.oracle)
                if name == "cluster_size_histogram":
                    assert [tuple(r) for r in df.collect()] == [(1, len(NO_DUPS))]
                else:
                    assert df.columns == ["doc_id", "cluster"] and df.count() == 0


def test_minhash_error_bands(spark, sf_dir):
    """Bands in 0..10; mean <= max <= 1; pair count matches the exact
    inverted-index pair count on the slice."""
    rows = QUERIES["minhash_error_accounting"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["jac_band"] <= 10
        assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"] + 1e-9
        assert r["max_abs_err"] <= 1.0
    assert sum(r["n_pairs"] for r in rows) == slice_pair_inter(spark, sf_dir).count()


def test_threshold_sensitivity_pins(spark, sf_dir):
    """Monotone non-increasing in the threshold; the 16/32 point equals
    dedup_minhash_lsh's row count (same chain, same floor)."""
    rows = sorted(
        QUERIES["dedup_threshold_sensitivity"].build(spark, sf_dir).collect(),
        key=lambda r: r["threshold"],
    )
    assert len(rows) == len(AGREE_SWEEP)
    for a, b in zip(rows, rows[1:]):
        assert b["n_pairs"] <= a["n_pairs"]
        assert b["n_dup_docs"] <= a["n_dup_docs"]
    at_floor = next(
        r for r in rows if abs(r["threshold"] - 16 / NUM_HASHES) < 1e-9
    )
    assert at_floor["n_pairs"] == QUERIES["dedup_minhash_lsh"].build(
        spark, sf_dir
    ).count()


def test_banded_width_recall_monotone(spark, sf_dir):
    """Wider bands are finer blocking, so candidates and captured truth
    TREND downward in width — but the sweep's candidate sets are not
    mathematically nested (a w-bit code uses planes [0, 4w), so a wider
    code tests planes the narrower one never sees), so strict pairwise
    monotonicity is only empirical on the current fixture (round-7 ADVICE).
    Pin the guaranteed invariants exactly and the trend with slack: each
    step may exceed its predecessor by at most 10% + 5 pairs, and the
    widest setting must be strictly below the narrowest."""
    from big_data_analytics_mini_projects_spark.plans.round12q import BW_SWEEP

    rows = sorted(
        QUERIES["banded_width_recall"].build(spark, sf_dir).collect(),
        key=lambda r: r["band_bits"],
    )
    assert [r["band_bits"] for r in rows] == sorted(BW_SWEEP)
    n_truth = {r["n_truth"] for r in rows}
    assert len(n_truth) == 1 and n_truth.pop() > 0
    for a, b in zip(rows, rows[1:]):
        assert b["n_cand"] <= a["n_cand"] * 1.10 + 5, (a, b)
        assert b["n_hits"] <= a["n_hits"] * 1.10 + 5, (a, b)
    assert rows[-1]["n_cand"] < rows[0]["n_cand"], (rows[0], rows[-1])
    assert rows[-1]["n_hits"] <= rows[0]["n_hits"], (rows[0], rows[-1])
    for r in rows:
        assert r["n_hits"] <= min(r["n_truth"], r["n_cand"])
        assert 0.0 <= r["recall"] <= 1.0
        assert 0.0 <= r["precision"] <= 1.0


def test_pagerank_curve_contraction(spark, sf_dir):
    """PageRank is a contraction in L1: per-iteration rank movement must
    shrink (factor ~damping); total mass is conserved at N."""
    rows = sorted(
        QUERIES["pagerank_convergence_curve"].build(spark, sf_dir).collect(),
        key=lambda r: r["iteration"],
    )
    assert [r["iteration"] for r in rows] == [1, 2, 3]
    n = rows[0]["n_nodes"]
    for r in rows:
        assert r["n_nodes"] == n
        assert abs(r["total_mass"] - n) < 0.05 * n * 1e-2 + 1.0
    for a, b in zip(rows, rows[1:]):
        assert b["l1_delta"] <= a["l1_delta"] + 1e-6
