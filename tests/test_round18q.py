"""Unit tests for pack_with_salvage (round-10 fresh batch part 3). The
synthetic corpus's cross-doc duplicates are near-whole-document (the
boilerplate families share entire texts), so at driver SFs salvage
recovers nothing over drop_doc — the differential still pins the
island/gap/tail algebra, but the discriminating path (a dirty doc with
clean flanks long enough to keep) needs the handcrafted fixture below."""

from __future__ import annotations

import os

import duckdb

from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
from big_data_analytics_mini_projects_spark.plans.round18q import (
    SALVAGE_CTX,
    SALVAGE_MIN,
)

from .compare import assert_df_equal


def test_round18q_differential(spark, duck, sf_dir):
    spec = QUERIES["pack_with_salvage"]
    assert_df_equal(spec.build(spark, sf_dir), duck, spec.oracle)


def test_salvage_reconciles_exact_substring(spark, sf_dir):
    """Policy totals bracket each other, and the raw-vs-salvage gap equals
    the duplicated token mass plus sub-minimum fragments: with F the
    dropped fragments (each < SALVAGE_MIN, at most islands+1 segments per
    doc), sum(dup) <= raw - salvage <= sum(dup) + (SALVAGE_MIN-1) *
    sum(islands + 1) over the dirty docs of dedup_exact_substring."""
    rows = {r["policy"]: r for r in QUERIES["pack_with_salvage"].build(spark, sf_dir).collect()}
    assert set(rows) == {"raw", "drop_doc", "salvage"}
    raw, drop, salv = (rows[p] for p in ("raw", "drop_doc", "salvage"))
    assert drop["total_tokens"] <= salv["total_tokens"] <= raw["total_tokens"]
    es = QUERIES["dedup_exact_substring"].build(spark, sf_dir).collect()
    dup_total = sum(r["dup_tokens"] for r in es)
    frag_cap = (SALVAGE_MIN - 1) * sum(r["n_islands"] + 1 for r in es)
    gap = raw["total_tokens"] - salv["total_tokens"]
    assert dup_total <= gap <= dup_total + frag_cap
    for r in rows.values():
        assert r["pad_tokens"] == r["n_seqs"] * SALVAGE_CTX - r["total_tokens"]
        assert 0.0 <= r["efficiency"] <= 1.0


def test_salvage_fixture_recovers_flanks(spark, tmp_path):
    """Two docs share a 12-token middle block; each has unique flanks of
    18 and 14 tokens (>= SALVAGE_MIN) -> the island covers exactly the
    shared 12, both flanks salvage. A third pair shares its full text ->
    fully covered, salvage 0. A clean doc keeps everything. Expected
    per-policy totals computed by hand; engine must also match the oracle
    on the fixture byte-for-byte."""
    shared = " ".join(f"dup{i}" for i in range(12))
    a_flank1 = " ".join(f"a{i}" for i in range(18))
    a_flank2 = " ".join(f"az{i}" for i in range(14))
    b_flank1 = " ".join(f"b{i}" for i in range(18))
    b_flank2 = " ".join(f"bz{i}" for i in range(14))
    full = " ".join(f"full{i}" for i in range(20))
    clean = " ".join(f"c{i}" for i in range(30))
    docs = [
        (1, f"{a_flank1} {shared} {a_flank2}"),   # 44 tokens, salvages 32
        (2, f"{b_flank1} {shared} {b_flank2}"),   # 44 tokens, salvages 32
        (3, full),                                 # 20 tokens, fully covered
        (4, full),                                 # 20 tokens, fully covered
        (5, clean),                                # 30 tokens, clean
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    fixture = os.path.join(tmp_path, "documents.parquet")
    con.execute(f"COPY d TO '{fixture}' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fixture}')")

    spec = QUERIES["pack_with_salvage"]
    rows = {r["policy"]: r for r in spec.build(spark, str(tmp_path)).collect()}
    # raw: 44+44+20+20+30 = 158; drop: only doc 5 = 30;
    # salvage: 32+32+0+0+30 = 94. One shard, ctx 2048 -> 1 seq each.
    assert rows["raw"]["total_tokens"] == 158
    assert rows["drop_doc"]["total_tokens"] == 30
    assert rows["salvage"]["total_tokens"] == 94
    assert all(r["n_seqs"] == 1 for r in rows.values())
    assert_df_equal(spec.build(spark, str(tmp_path)), con, spec.oracle)
