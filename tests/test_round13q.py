"""Unit tests for the round13q forward batch (round-9-budget, authored in
round 8): streaming mix twin equivalence, BPE greedy-merge semantics on a
crafted run-heavy fixture, and the repetition-gate invariants. The full
differential against the DuckDB oracles runs in test_catalog_oracle."""

from __future__ import annotations

import os

import duckdb
import pytest

from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
from big_data_analytics_mini_projects_spark.plans.round13q import (
    DUP_2GRAM_MAX,
    DUP_WORD_MAX,
    N_MERGES,
    TOP_WORD_MAX,
    _sql_bpe_oracle,
)

from .compare import assert_df_equal


def test_streaming_mix_shares_equals_batch_twin(spark, sf_dir):
    """availableNow stream output == the batch twin bit-for-bit (the twin
    contract): same rows, same rounded shares."""
    got = {
        (r["alpha"], r["source"]): (r["src_tok"], r["share"], r["exp_tokens"])
        for r in QUERIES["streaming_mix_shares"].build(spark, sf_dir).collect()
    }
    want = {
        (r["alpha"], r["source"]): (r["src_tok"], r["share"], r["exp_tokens"])
        for r in QUERIES["temperature_mix_rates"].build(spark, sf_dir).collect()
    }
    assert got == want


def test_bpe_curve_invariants(spark, sf_dir):
    rows = sorted(
        QUERIES["bpe_merge_curve"].build(spark, sf_dir).collect(),
        key=lambda r: r["iteration"],
    )
    assert [r["iteration"] for r in rows] == list(range(1, N_MERGES + 1))
    for r in rows:
        # raw adjacency count can exceed applied merges only via overlapping
        # runs; it can never be smaller
        assert r["pair_count"] >= r["merged_occ"] > 0
        assert len(r["pair"].split(" ")) == 2
    for a, b in zip(rows, rows[1:]):
        # each applied merge removes exactly one freq-weighted symbol
        assert b["total_syms"] == a["total_syms"] - b["merged_occ"]
        # the argmax count is non-increasing across iterations only in the
        # absence of newly-created pairs overtaking — NOT guaranteed; the
        # guaranteed direction is that the vocabulary keeps compressing
        assert b["total_syms"] < a["total_syms"]


def _bpe_on_fixture(spark, tmp_path, name, docs):
    """bpe_merge_curve's rows on a one-off documents table, and the
    unrolled DuckDB oracle's rows on the same data, both as sorted
    (iteration, pair, pair_count, merged_occ, total_syms) tuples."""
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    sf_dir = os.path.join(tmp_path, name)
    os.makedirs(sf_dir)
    fixture = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"COPY d TO '{fixture}' (FORMAT PARQUET)")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fixture}')"
    )
    got = sorted(
        (r["iteration"], r["pair"], r["pair_count"], r["merged_occ"], r["total_syms"])
        for r in QUERIES["bpe_merge_curve"].build(spark, sf_dir).collect()
    )
    return got, sorted(con.execute(_sql_bpe_oracle()).fetchall())


def test_bpe_greedy_run_semantics(spark, tmp_path):
    """Pin the greedy leftmost-non-overlapping semantics on a run-heavy
    fixture where the top pair is a SELF-pair: 'aaaa' must merge to
    'aa aa' (two merges, even island offsets), 'aaa' to 'aa a' (one),
    and the engine must agree with the unrolled SQL oracle on the same
    data — the exact case regexp_replace-based merging gets wrong
    (consumed separators block adjacent matches).
    A second fixture pins the argmax tie order (cnt desc, sym, nxt)."""
    # iteration 1 by hand. Word freqs: aaaa x3 (doc1 + doc2 twice), aaa x1,
    # aa x2, xy x3, baaab x1. Raw 'a a' adjacency = 3 pairs x3 (aaaa)
    # + 2x1 (aaa) + 1x2 (aa) + 2x1 (baaab) = 15 — the argmax ('x y' has 3).
    # Greedy application (even island offsets): aaaa -> aa,aa (2 merges x3),
    # aaa -> aa,a (1 x1), aa -> aa (1 x2), baaab -> b,aa,a,b (1 x1):
    # merged_occ = 6+1+2+1 = 10.
    got, want = _bpe_on_fixture(
        spark,
        tmp_path,
        "runs",
        [(1, "aaaa aaa aa xy"), (2, "aaaa aaaa xy xy"), (3, "baaab aa")],
    )
    it1 = got[0]
    assert it1[1:4] == ("a a", 15, 10)
    assert got == want

    # Every pair below has count 2, so each merge is a tie: 'a b' beats
    # 'c a' on sym and 'a c' on nxt, then 'a c' beats 'c a' on sym. After
    # three merges each word is one symbol and the fourth row degenerates.
    got, want = _bpe_on_fixture(
        spark, tmp_path, "ties", [(1, "ca ac ab"), (2, "ab ac ca")]
    )
    assert [r[1] for r in got] == ["a b", "a c", "c a", None]
    assert [r[2] for r in got] == [2, 2, 2, None]
    assert got == want


def test_repetition_rules_invariants(spark, duck, sf_dir):
    rows = QUERIES["repetition_quality_rules"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["top_word_frac"] <= 1.0
        assert 0.0 <= r["dup_word_frac"] < 1.0
        assert 0.0 <= r["dup_2gram_frac"] <= 1.0
        assert 0 <= r["n_dup_words"] < r["n_words"] or r["n_dup_words"] == 0
        want_keep = (
            r["top_word_frac"] <= TOP_WORD_MAX
            and r["dup_word_frac"] <= DUP_WORD_MAX
            and r["dup_2gram_frac"] <= DUP_2GRAM_MAX
        )
        assert r["keep"] == want_keep
    # the gates must actually separate the corpus (not all-pass/all-fail)
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept


def test_span_novelty_invariants(spark, sf_dir):
    """Novelty accounting must reconcile with the exact-substring dedup
    family: spans are the same ES_K stream, so any doc reported by
    dedup_exact_substring as carrying repeated spans must show memorized
    spans here, and ratios are exact-integer consistent."""
    rows = QUERIES["span_novelty_scan"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_memorized"] <= r["n_spans"]
        assert 0.0 <= r["novelty_ratio"] <= 1.0
        if r["n_memorized"] == 0:
            assert r["novelty_ratio"] == 1.0
    # cross-family reconciliation: docs with cross-doc repeated spans
    # (dedup_exact_substring reports rep_tokens > 0) must be non-novel here
    es = {
        r["doc_id"]
        for r in QUERIES["dedup_exact_substring"].build(spark, sf_dir).collect()
    }
    nv = {r["doc_id"]: r for r in rows}
    for doc_id in es:
        assert doc_id in nv and nv[doc_id]["n_memorized"] > 0, doc_id


def test_round13q_differential(spark, duck, sf_dir):
    """Local mirror of the driver gate for all six round13q queries (they
    sat at the catalog tail, outside the round-8 window — first driver
    verdict lands with the round-9 rotation)."""
    for name in (
        "streaming_mix_shares",
        "bpe_merge_curve",
        "repetition_quality_rules",
        "span_novelty_scan",
        "doc_length_percentiles_by_source",
        "dedup_canonical_quality",
    ):
        spec = QUERIES[name]
        assert_df_equal(spec.build(spark, sf_dir), duck, spec.oracle)


def test_doc_length_percentiles_invariants(spark, sf_dir):
    rows = QUERIES["doc_length_percentiles_by_source"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_docs"] > 0
        assert r["p25"] <= r["p50"] <= r["p75"] <= r["p95"]


def test_dedup_canonical_quality_invariants(spark, sf_dir):
    """Keeper selection must reconcile with the classifier: the keeper's
    score is the group max (spread >= 0), groups are genuine (>= 2 docs),
    and every keeper carries the group's best quality_classifier_score
    among its members."""
    rows = QUERIES["dedup_canonical_quality"].build(spark, sf_dir).collect()
    assert rows, "fixture must contain shared-opening boilerplate groups"
    for r in rows:
        assert r["n_docs"] >= 2
        assert r["n_dropped"] == r["n_docs"] - 1
        assert r["score_spread"] >= 0.0


def test_round13q_batch2_differential(spark, duck, sf_dir):
    for name in ("doc_length_percentiles_by_source", "dedup_canonical_quality"):
        spec = QUERIES[name]
        assert_df_equal(spec.build(spark, sf_dir), duck, spec.oracle)


def test_bpe_degenerate_corpus_matches_oracle(spark, tmp_path):
    """Pin the empty-argmax path (round-8 ADVICE): once every word has
    collapsed to a single symbol there are no adjacent pairs left, and the
    engine must emit the oracle's degenerate rows (NULL pair, NULL count,
    zero merges, flat symbol total) for the remaining iterations instead of
    raising. 'ab ab c' degenerates after one real merge."""
    import duckdb as _duck

    con = _duck.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO d VALUES (1, 'ab ab c')")
    fixture = os.path.join(tmp_path, "documents.parquet")
    con.execute(f"COPY d TO '{fixture}' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fixture}')")

    # the second build reads the family's memoized vocabulary
    for _ in range(2):
        spark_rows = sorted(
            QUERIES["bpe_merge_curve"].build(spark, str(tmp_path)).collect(),
            key=lambda r: r["iteration"],
        )
        assert [r["iteration"] for r in spark_rows] == list(range(1, N_MERGES + 1))
        it1 = spark_rows[0]
        # 'ab' has corpus freq 2, so the one applied merge is freq-weighted x2
        assert it1["pair"] == "a b" and it1["merged_occ"] == 2
        for r in spark_rows[1:]:
            assert r["pair"] is None and r["pair_count"] is None
            assert r["merged_occ"] == 0 and r["total_syms"] == it1["total_syms"]
        got = [
            (r["iteration"], r["pair"], r["pair_count"], r["merged_occ"], r["total_syms"])
            for r in spark_rows
        ]
        assert got == sorted(con.execute(_sql_bpe_oracle()).fetchall())
