"""Golden-value unit tests from the reference's own worked examples
(SURVEY.md §5: the only correctness artifacts the reference ships)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_analytics_mini_projects_spark.functions.hashing import h64, h64_py
from big_data_analytics_mini_projects_spark.functions.text import tokenize_char
from big_data_analytics_mini_projects_spark.operators.aggregates import mean_std_chars
from big_data_analytics_mini_projects_spark.operators.linalg import matmul_coo
from big_data_analytics_mini_projects_spark.plans.linalgq import MATMUL_FIXTURE
from big_data_analytics_mini_projects_spark.plans.textq import MEANCHARS_FIXTURE
from big_data_analytics_mini_projects_spark.sources.readers import scan_coo, scan_mem


def test_meanchars_golden(spark):
    """Assignment 1 Description.htm:38 worked example; population σ per the
    code (MRSystemSimulator2020.py:244), not the spec's sample σ — the
    discrepancy pinned by SURVEY.md §7.4 trap #1."""
    docs = scan_mem(spark, MEANCHARS_FIXTURE, "doc_id long, text string")
    out = mean_std_chars(tokenize_char(docs), doc_count=3)
    rows = {r["ch"]: (r["mean"], r["std"]) for r in out.collect()}
    assert rows["a"] == (1.3333, 1.2472)
    assert rows["b"] == (0.6667, 0.4714)
    assert rows["c"] == (1.0, 0.0)
    assert rows["d"] == (1.0, 0.0)


def test_matmul_golden(spark):
    """Part_2.pdf p1: M=[[2,1],[6,3]] x N=[[5,11],[0,1]] = [[10,23],[30,69]]."""
    out = matmul_coo(scan_coo(spark, MATMUL_FIXTURE))
    cells = {(r["i"], r["j"]): r["val"] for r in out.collect()}
    assert cells == {(0, 0): 10.0, (0, 1): 23.0, (1, 0): 30.0, (1, 1): 69.0}


def test_h64_spark_matches_python(spark):
    df = spark.createDataFrame([("hello",), ("13",)], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", h64(F.col("s"), 7).alias("h")).collect()}
    assert got == {"hello": h64_py("hello", 7), "13": h64_py("13", 7)}


def test_join_asof_semantics(spark):
    """Exact-tie timestamps match (>=); left rows with no prior right row are
    dropped (inner); latest-of-several-priors wins."""
    from big_data_analytics_mini_projects_spark.operators.relational import join_asof

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 50), (3, "u", 30), (5, "u", 10), (4, "v", 100)],
        "event_id long, user_id string, ts long",
    )
    right = spark.createDataFrame(
        [("u", 50, 900), ("u", 20, 800), ("w", 1, 700)],
        "user_id string, rts long, payload long",
    )
    got = {
        r["event_id"]: (r["payload"], r["rts"])
        for r in join_asof(
            left, right, "user_id", "ts", "rts", ["payload", "rts"]
        ).collect()
    }
    assert got == {
        1: (900, 50),  # latest prior (50 beats 20)
        2: (900, 50),  # exact tie: right row AT left ts is visible
        3: (800, 20),  # only the earlier right row qualifies (20 <= 30 < 50)
        # event 5 (ts=10): precedes all right rows -> dropped
        # event 4 (user v): no right rows at all -> dropped (inner semantics)
    }


def test_join_asof_random_vs_bruteforce(spark):
    """Seeded random instance: the window-merge as-of join equals the
    brute-force definition (argmax over right rows with rts <= ts)."""
    import random

    from big_data_analytics_mini_projects_spark.operators.relational import join_asof

    rng = random.Random(7)
    left = [(i, f"u{rng.randrange(5)}", rng.randrange(1000)) for i in range(200)]
    right_raw = {
        (f"u{rng.randrange(5)}", rng.randrange(1000)): rng.randrange(10_000)
        for _ in range(80)
    }
    right = [(u, t, p) for (u, t), p in right_raw.items()]

    exp = {}
    for eid, u, t in left:
        cand = [(rt, p) for (ru, rt, p) in right if ru == u and rt <= t]
        if cand:
            exp[eid] = max(cand)[1]

    ldf = spark.createDataFrame(left, "event_id long, user_id string, ts long")
    rdf = spark.createDataFrame(right, "user_id string, rts long, payload long")
    got = {
        r["event_id"]: r["payload"]
        for r in join_asof(ldf, rdf, "user_id", "ts", "rts", ["payload"]).collect()
    }
    assert got == exp


def test_connected_components_random_vs_union_find(spark, cc_paths):
    """Seeded random graph: both CC paths (driver union-find, distributed
    large-star/small-star) equal an independent union-find."""
    import random

    from big_data_analytics_mini_projects_spark.operators.similarity import (
        connected_components,
    )

    rng = random.Random(11)
    edges = list({(rng.randrange(60), rng.randrange(60)) for _ in range(45)})
    edges = [(a, b) for a, b in edges if a != b]

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
            parent[ra] = rb
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    exp = {n: min(members) for members in comp.values() for n in members}

    pairs = spark.createDataFrame(edges, "ka long, kb long")
    for path in cc_paths:
        got = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
        assert got == exp, path
