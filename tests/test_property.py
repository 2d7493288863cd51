"""Seeded randomized property tests: each distributed operator is compared
against an independent, obviously-correct Python re-derivation on small random
inputs (deterministic seeds — no flakes, no hypothesis shrink cost in CI).

These cover the operators whose oracles share the most structure with the
Spark plan (as-of join, salted join, connected components): a DuckDB oracle
written with the same algebra could hide a shared misunderstanding; a
brute-force nested loop cannot.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from big_data_analytics_mini_projects_spark.operators.relational import (
    join_asof,
    join_salted,
)
from big_data_analytics_mini_projects_spark.operators.similarity import (
    connected_components,
)


def test_asof_join_matches_bruteforce(spark):
    """join_asof == per-left-row scan for the latest right row at ts' <= ts."""
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        keys = ["a", "b", "c"]
        left = [
            (k, rng.randrange(0, 50), i)
            for i, k in enumerate(rng.choices(keys, k=25))
        ]
        # unique (key, ts) on the right — the operator's documented precondition
        right_slots = {(k, t) for k in keys for t in rng.sample(range(50), 8)}
        right = [(k, t, f"p{k}{t}") for (k, t) in sorted(right_slots)]
        ldf = spark.createDataFrame(left, "k string, ts long, lid long")
        rdf = spark.createDataFrame(right, "k string, rts long, payload string")
        got = {
            (r["k"], r["ts"], r["lid"]): r["payload"]
            for r in join_asof(ldf, rdf, "k", "ts", "rts", ["payload"]).collect()
        }
        expect = {}
        for (k, t, lid) in left:
            prior = [(rt, p) for (rk, rt, p) in right if rk == k and rt <= t]
            if prior:
                expect[(k, t, lid)] = max(prior)[1]
        assert got == expect, f"seed {seed}"


def test_salted_join_matches_plain_join(spark):
    """join_salted is semantics-preserving: same multiset of output rows as
    the plain equi-join, for any salt fan-out."""
    for seed in (7, 8):
        rng = random.Random(seed)
        big = [
            (rng.randrange(0, 5), i, rng.randrange(0, 100))
            for i in range(200)
        ]
        small = [(k, f"g{k % 3}") for k in range(5) if rng.random() < 0.8]
        bdf = spark.createDataFrame(big, "k long, row_id long, val long")
        sdf = spark.createDataFrame(small, "k long, grp string")
        for n_salt in (1, 4):
            got = sorted(
                (r["k"], r["row_id"], r["val"], r["grp"])
                for r in join_salted(bdf, sdf, "k", F.col("row_id"), n_salt=n_salt).collect()
            )
            plain = sorted(
                (r["k"], r["row_id"], r["val"], r["grp"])
                for r in bdf.join(sdf, "k").collect()
            )
            assert got == plain, f"seed {seed} n_salt {n_salt}"


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark, cc_paths):
    """Both CC paths (driver union-find, distributed large-star/small-star)
    == classic union-find, including multi-hop chains longer than one
    propagation round."""
    graphs = []
    for seed in (11, 12):
        rng = random.Random(seed)
        nodes = list(range(30))
        edges = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(18)
            }
        )
        # add one long path to force >2 propagation rounds
        path = [100, 101, 102, 103, 104, 105]
        edges += list(zip(path, path[1:]))
        graphs.append((seed, edges, spark.createDataFrame(edges, "ka long, kb long")))
    for cc_path in cc_paths:
        for seed, edges, pdf in graphs:
            got = {
                r["node"]: r["label"] for r in connected_components(pdf).collect()
            }
            assert got == _union_find_components(edges), f"{cc_path} seed {seed}"


def test_connected_components_twophase_matches_union_find(spark):
    """Large-star/small-star CC == union-find on random graphs AND on a
    50-node chain — the diameter case where min-label propagation needs 50
    rounds but the two-phase contraction must converge in O(log^2 n)."""
    from big_data_analytics_mini_projects_spark.operators.similarity import (
        connected_components_twophase,
    )

    for seed in (21, 22):
        rng = random.Random(seed)
        nodes = list(range(30))
        edges = sorted(
            {tuple(sorted(rng.sample(nodes, 2))) for _ in range(18)}
        )
        chain = list(range(200, 250))  # diameter-49 path component
        edges += list(zip(chain, chain[1:]))
        pdf = spark.createDataFrame(edges, "ka long, kb long")
        out = connected_components_twophase(pdf)
        # the result reads the persisted node set, not the pairs plan again
        plan = out._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert re.search(r"InMemoryTableScan \[node#\d+L?\]", plan), plan
        got = {r["node"]: r["label"] for r in out.collect()}
        assert got == _union_find_components(edges), f"seed {seed}"


def test_cf_salted_matches_plain(spark):
    """Block-decomposed skew CF == plain self-join CF, bit-identical, on a
    skewed ratings set where one power user crosses the salt threshold."""
    from big_data_analytics_mini_projects_spark.operators.recommend import (
        cf_item_similarities,
    )

    rng = random.Random(31)
    rows = [(0, item, float(rng.randrange(1, 6))) for item in range(40)]  # hot
    for u in range(1, 12):
        for item in rng.sample(range(40), 6):
            rows.append((u, item, float(rng.randrange(1, 6))))
    rf = spark.createDataFrame(rows, "user_id long, item long, rating double")
    key = lambda df: {
        (r["item_a"], r["item_b"]): (r["nc"], round(r["sim"], 9))
        for r in df.collect()
    }
    plain = key(cf_item_similarities(rf, min_common=2))
    salted = key(
        cf_item_similarities(rf, min_common=2, salt_blocks=4, salt_min_ratings=16)
    )
    assert plain == salted


def test_pagerank_rank_mass_conserved(spark, sf_dir):
    """With both edge directions present every node has out-edges, so no
    rank mass dangles: sum(r) == 0.15 + 0.85 == 1 after every iteration.
    The catalog query outputs r*N, so sum(rank_rel) must equal N."""
    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES

    rows = QUERIES["pagerank_trade_graph"].build(spark, sf_dir).collect()
    n = len(rows)
    total = sum(r["rank_rel"] for r in rows)
    assert abs(total - n) < 1e-2 * n**0.5 + 1e-6, (total, n)


def test_scd2_intervals_partition_each_user_timeline(spark, sf_dir):
    """Per user: islands are consecutive from 1, interval starts strictly
    increase, each interval closes exactly where the next opens (to_us =
    next from_us - 1; the last is open = -1), and n_rows sums to the user's
    event count."""
    from collections import defaultdict

    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
    from big_data_analytics_mini_projects_spark.sources.tables import load_table

    rows = QUERIES["scd2_user_event_intervals"].build(spark, sf_dir).collect()
    ev_counts = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    assert set(by_user) == set(ev_counts)
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r["seq"])
        assert [r["seq"] for r in ivs] == list(range(1, len(ivs) + 1)), uid
        for a, b in zip(ivs, ivs[1:]):
            assert a["from_us"] < b["from_us"], uid
            assert a["to_us"] == b["from_us"] - 1, uid
        assert ivs[-1]["to_us"] == -1, uid
        assert sum(r["n_rows"] for r in ivs) == ev_counts[uid], uid


def test_bloom_filter_never_false_negative(spark, sf_dir):
    """The Bloom filter may pass non-members (n_false_pos >= 0) but must
    NEVER reject a member: every member order passes, in every group."""
    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES

    rows = QUERIES["bloom_filter_join_prune"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        n_true_pass = r["n_pass"] - r["n_false_pos"]
        assert n_true_pass == r["n_member"], r
        assert 0 <= r["n_false_pos"] <= r["n_orders"] - r["n_member"], r


def test_weighted_reservoir_matches_python_aes(spark, sf_dir):
    """The sampled doc set equals an independent pure-Python A-ES
    re-derivation (same md5 hash, same ln(u)/w key, same tiebreak)."""
    import math

    from big_data_analytics_mini_projects_spark.functions.hashing import h64_py
    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
    from big_data_analytics_mini_projects_spark.plans.corpusq import WRS_K
    from big_data_analytics_mini_projects_spark.sources.tables import load_table

    docs = [
        (r["doc_id"], r["n_chars"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    ]
    keyed = sorted(
        (
            (-(math.log((h64_py(d, "wrs") + 1) / float(1 << 60)) / w), d)
            for d, w in docs
        ),
    )[:WRS_K]
    expect = {d for _, d in keyed}
    got = {
        r["doc_id"]
        for r in QUERIES["sample_weighted_reservoir"].build(spark, sf_dir).collect()
    }
    assert got == expect


def test_jaccard_prefix_matches_bruteforce_random(spark):
    """Prefix-filtered join == brute-force all-pairs on random token sets,
    across tau values — the exact-recall theorem, not just one fixture."""
    from big_data_analytics_mini_projects_spark.operators.similarity import (
        jaccard_prefix_pairs,
    )
    for seed, tau_tenths in ((1, 3), (2, 6), (3, 8)):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]  # small vocab -> real collisions
        docs = {
            d: set(rng.sample(vocab, rng.randrange(3, 12))) for d in range(20)
        }
        rows = [(d, w) for d, ws in docs.items() for w in ws]
        sh = spark.createDataFrame(rows, "doc_id long, shingle string")
        got = {
            (r["ka"], r["kb"]): r["n_common"]
            for r in jaccard_prefix_pairs(sh, tau_tenths=tau_tenths).collect()
        }
        expect = {}
        for a in docs:
            for b in docs:
                if a < b:
                    c = len(docs[a] & docs[b])
                    u = len(docs[a] | docs[b])
                    if c and 10 * c >= tau_tenths * u:
                        expect[(a, b)] = c
        assert got == expect, f"seed {seed} tau {tau_tenths}"


def test_triangle_count_matches_bruteforce_random(spark):
    from big_data_analytics_mini_projects_spark.operators.graphs import (
        triangle_count,
    )
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 12
        edges = [
            (a, b)
            for a in range(n)
            for b in range(n)
            if a < b and rng.random() < 0.3
        ]
        # feed them shuffled/reversed to exercise canonicalization
        noisy = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
        df = spark.createDataFrame(noisy + noisy[:3], "u long, v long")
        row = triangle_count(df).collect()[0]
        es = set(edges)
        tri = sum(
            1
            for x in range(n)
            for y in range(x + 1, n)
            for z in range(y + 1, n)
            if (x, y) in es and (y, z) in es and (x, z) in es
        )
        assert row["n_triangles"] == tri, f"seed {seed}"
        assert row["n_edges"] == len(es), f"seed {seed}"


def test_pack_sequences_conserves_tokens(spark):
    from big_data_analytics_mini_projects_spark.operators.curation import (
        pack_sequences,
    )
    for seed in (1, 2):
        rng = random.Random(seed)
        docs = [(i, ["t"] * rng.randrange(0, 40)) for i in range(37)]
        df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
        out = pack_sequences(df, ctx=16, shard_size=10).collect()
        # token + doc conservation per shard
        by_shard: dict[int, list] = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r)
        for shard, rows in by_shard.items():
            want = [t for (i, t) in docs if i // 10 == shard]
            assert sum(r["n_docs"] for r in rows) == len(want)
            assert sum(r["n_tokens"] for r in rows) == sum(len(t) for t in want)
            for r in rows:  # bin ids within the shard's token span
                assert 0 <= r["seq_bin"] <= sum(len(t) for t in want) // 16


def test_merge_snapshot_equals_whole_range_stats(spark):
    """Splitting events at ANY cutoff and merging the two snapshots must
    equal the single-pass stats over the whole range (associativity of the
    additive stats — the property incremental maintenance relies on)."""
    from big_data_analytics_mini_projects_spark.operators.relational import (
        merge_snapshot,
    )
    for seed, cut in ((1, 30), (2, 70)):
        rng = random.Random(seed)
        rows = [
            (rng.randrange(6), rng.randrange(100)) for _ in range(200)
        ]
        df = spark.createDataFrame(rows, "user_id long, ts_us long")

        def stats(frame):
            return frame.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts_us").alias("first_ts"),
                F.max("ts_us").alias("last_ts"),
            )

        merged = {
            r["user_id"]: (r["n_events"], r["first_ts"], r["last_ts"])
            for r in merge_snapshot(
                stats(df.filter(F.col("ts_us") <= cut)),
                stats(df.filter(F.col("ts_us") > cut)),
            ).collect()
        }
        whole = {
            r["user_id"]: (r["n_events"], r["first_ts"], r["last_ts"])
            for r in stats(df).collect()
        }
        assert merged == whole, f"seed {seed} cut {cut}"


def test_diversity_matches_bruteforce_random(spark):
    from big_data_analytics_mini_projects_spark.operators.vector import (
        diversity_by_group,
    )
    rng = random.Random(7)
    rows = [
        (f"g{g}", [round(rng.uniform(-2, 2), 3) for _ in range(8)])
        for g in range(3)
        for _ in range(rng.randrange(2, 7))
    ]
    df = spark.createDataFrame(rows, "label string, v array<double>")
    got = {
        r["label"]: r["mean_pair_sqdist"]
        for r in diversity_by_group(df, key="label").collect()
    }
    byg: dict[str, list] = {}
    for g, v in rows:
        byg.setdefault(g, []).append(v)
    for g, vs in byg.items():
        dists = [
            sum((a - b) ** 2 for a, b in zip(x, y))
            for i, x in enumerate(vs)
            for y in vs[i + 1 :]
        ]
        want = sum(dists) / len(dists)
        assert abs(got[g] - want) < 1e-6, g


def test_round_stable_cross_engine_parity(spark, duck):
    """The binary-stable rounding formula (the F.round replacement that
    closed the round-3 'residual hazard' class) must agree bit-for-bit
    between Spark, DuckDB, and the plain-Python floor derivation — including
    adversarial near-.xxxx5 values where F.round/round()/Python round() give
    THREE different answers (shortest-repr half-up vs binary half-away vs
    half-even)."""
    import math

    from big_data_analytics_mini_projects_spark.functions.text import (
        round_stable,
        sql_round_stable,
    )

    rng = random.Random(20260814)
    vals = [rng.uniform(-1000, 1000) for _ in range(300)]
    # adversarial: exact and 1-ulp-adjacent .xxxx5 boundaries at each digit
    for d in (0, 2, 4, 6):
        for k in range(-5, 6):
            x = (k * 10 + 5) / (2 * 10**d) if d else k + 0.5
            vals += [x, math.nextafter(x, -math.inf), math.nextafter(x, math.inf)]
    for digits in (0, 2, 4, 6):
        py = [math.floor(v * 10**digits + 0.5) / 10**digits for v in vals]
        sdf = spark.createDataFrame([(v,) for v in vals], ["x"]).select(
            round_stable(F.col("x"), digits).alias("r")
        )
        got_spark = [r["r"] for r in sdf.collect()]
        # values go in as a REGISTERED double column, not SQL literals:
        # DuckDB parses a 17-digit literal into DECIMAL(18,17) and its
        # decimal->double conversion can land 1 ulp off (0.12499999999999999
        # becomes 0.125); real oracles only round doubles computed from
        # table data, which is what this exercises
        import pandas as pd

        duck.register("round_vals", pd.DataFrame({"x": pd.Series(vals, dtype="float64")}))
        got_duck = [
            r[0]
            for r in duck.execute(
                f"SELECT {sql_round_stable('x', digits)} FROM round_vals"
            ).fetchall()
        ]
        duck.unregister("round_vals")
        assert got_spark == py, f"digits={digits}: spark != python floor"
        assert got_duck == py, f"digits={digits}: duckdb != python floor"


def test_dsum_varchar_bridge_parity_past_2pow53(spark, duck):
    """dsum/sql_dsum must agree bit-for-bit with exact decimal arithmetic
    even when the scaled integer sum exceeds 2^53 — the regime where
    DuckDB's DIRECT ``CAST(SUM(decimal) AS DOUBLE)`` was measured 1 ulp off
    (tpch_q1 sum_charge at the 10x rehearsal SF, fixed by the VARCHAR
    bridge in sql_dsum). Values are k + j/64: exactly representable as
    doubles AND as 6-decimal-place decimals, so the decimal cast is exact
    in both engines and pure Python Decimal gives the ground truth."""
    import decimal
    import random as _random

    import pandas as pd

    from big_data_analytics_mini_projects_spark.operators.aggregates import (
        dsum,
        sql_dsum,
    )

    rng = _random.Random(20260814)
    # ~2000 rows of ~9e8 -> sum ~1.8e12; scaled by 1e6 -> ~1.8e18 > 2^53
    vals = [rng.randrange(1, 10**9) + rng.randrange(64) / 64 for _ in range(2000)]
    truth = float(str(sum(decimal.Decimal(str(v)) for v in vals)))
    assert abs(truth) * 10**6 > 2**53  # the regime under test

    got_spark = (
        spark.createDataFrame([(v,) for v in vals], ["x"])
        .agg(dsum("x", 6).alias("s"))
        .collect()[0]["s"]
    )
    duck.register("dsum_vals", pd.DataFrame({"x": pd.Series(vals, dtype="float64")}))
    got_duck = duck.execute(f"SELECT {sql_dsum('x', 6)} FROM dsum_vals").fetchone()[0]
    duck.unregister("dsum_vals")

    assert got_spark == truth, f"spark {got_spark!r} != decimal truth {truth!r}"
    assert got_duck == truth, f"duckdb {got_duck!r} != decimal truth {truth!r}"


def test_phash_kernels_match_bruteforce_on_random_bmps(spark):
    """dhash_bmp / phashes_bmp parse REAL bytes (header offset, bottom-up
    rows, 4-byte padding); this re-derives both hashes from the pixel
    MATRIX directly — never touching bytes — over random geometries
    (including w or h of 1, where the floor NN map degenerates) and random
    pixel content, so any byte-layout misunderstanding diverges."""
    import struct

    from big_data_analytics_mini_projects_spark.operators.phash import (
        AH_BITS,
        AH_GRID_H,
        AH_GRID_W,
        PH_GRID_H,
        PH_GRID_W,
        phashes_bmp,
    )

    def encode(px):  # px[y][x] = (r, g, b), top-down image coordinates
        h, w = len(px), len(px[0])
        row_len = (w * 3 + 3) & ~3
        hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + row_len * h, 0, 0, 54)
        hdr += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_len * h,
                           2835, 2835, 0, 0)
        body = b"".join(
            b"".join(bytes((b, g, r)) for (r, g, b) in px[y])
            + b"\x00" * (row_len - w * 3)
            for y in range(h - 1, -1, -1)
        )
        return hdr + body

    def gray_grid(px, gw, gh):
        h, w = len(px), len(px[0])
        return [
            [sum(px[y * h // gh][x * w // gw]) for x in range(gw)]
            for y in range(gh)
        ]

    def ref_dhash(px):
        g = gray_grid(px, PH_GRID_W, PH_GRID_H)
        out = 0
        for y in range(PH_GRID_H):
            for x in range(PH_GRID_W - 1):
                if g[y][x + 1] > g[y][x]:
                    out |= 1 << (y * (PH_GRID_W - 1) + x)
        return out

    def ref_ahash(px):
        g = [v for row in gray_grid(px, AH_GRID_W, AH_GRID_H) for v in row]
        tot = sum(g)
        return sum(1 << i for i, v in enumerate(g) if v * AH_BITS > tot)

    rng = random.Random(45054)
    images = {}
    for i in range(40):
        w, h = rng.randrange(1, 13), rng.randrange(1, 11)
        images[i] = [
            [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
             for _ in range(w)]
            for _ in range(h)
        ]
    df = spark.createDataFrame(
        [(i, bytearray(encode(px))) for i, px in images.items()],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: (r["dhash"], r["ahash"]) for r in phashes_bmp(df).collect()}
    assert got == {i: (ref_dhash(px), ref_ahash(px)) for i, px in images.items()}
