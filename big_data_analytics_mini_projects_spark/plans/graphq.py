"""Graph analytics over the relational testdata (beyond-reference; extends
the iterative-algorithm family started by connected components,
operators/similarity.connected_components).

PageRank here runs over the bipartite supplier<->customer trade graph
(edges = lineitem counts via orders), made strongly usable by adding both
edge directions — every node then has out-edges, so no dangling-mass term
is needed and the recurrence is exactly

    r_{t+1}(v) = 0.15/N + 0.85 * sum_{(u,v) in E} r_t(u) * w(u,v)/outw(u)

Scale design (100 TB):
- Edge list built once (join + groupBy), persisted, reused by all
  iterations; the transition probability w/outw is precomputed so each
  iteration is ONE unhinted join (ranks are |V| rows — AQE decides) plus
  ONE groupBy(dst) shuffle. The only driver round trip is the scalar |V|
  (the bounded scalar-collect class); rank vectors never leave the cluster.
- Three iterations are unrolled in the DuckDB oracle, so the differential
  test pins the full iterative computation, not just one step.
- Output is rank * N (relative rank, ~1.0 scale) rounded to 4 — stable to
  cross-engine double-summation-order noise (~1e-13 relative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import round_stable, sql_round_stable
from .registry import register
from ..caching import checkpoint_shared, persist_tracked

from .shared import DAMPING, N_PR_ITERS, pagerank_edges, sql_pagerank_head


def _pagerank_oracle(materialized: bool = False) -> str:
    """``materialized=True`` is the scale form: identical SQL except the
    multiply-referenced CTEs carry DuckDB's AS MATERIALIZED hint. Without
    it DuckDB inlines e0 into e (twice), e into outw+ed, and ed into every
    unrolled iteration — the 60M-row lineitem join re-evaluates ~12x at
    sf10f and the stacked spills exceed a single box's temp disk. With it
    the transition matrix materializes once (the exact analogue of the
    engine's persisted `edges` frame). Result-identical; pinned equal at
    base SFs by tests/test_scale_tools.py."""
    head = sql_pagerank_head(materialized)
    steps = "".join(
        f", r{t} AS (SELECT ed.dst AS node, "
        f"0.15 / (SELECT n FROM nn) + {DAMPING} * SUM(r.r * ed.p) AS r "
        f"FROM ed JOIN r{t - 1} r ON ed.src = r.node GROUP BY ed.dst)"
        for t in range(1, N_PR_ITERS + 1)
    )
    tail = (
        f" SELECT node, " + sql_round_stable("r * (SELECT n FROM nn)") + " AS rank_rel "
        f"FROM r{N_PR_ITERS}"
    )
    return head + steps + tail


@register(
    "pagerank_trade_graph",
    oracle=_pagerank_oracle(),
    scale_oracle=_pagerank_oracle(materialized=True),
    doc="Three unrolled PageRank iterations (damping 0.85) over the "
    "bidirectional supplier<->customer trade graph (edge weight = lineitem "
    "count): edges+transition probabilities built once and persisted, each "
    "iteration one unhinted rank join (AQE decides) + one groupBy(dst) "
    "shuffle; the only driver round trip is the scalar node count. The "
    "oracle unrolls the same three iterations in SQL, pinning the whole "
    "iterative computation. Output is relative rank (r*N) per node.",
    tags=("pagerank", "graph", "iterative"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Transition matrix, built once and reused by every iteration — a
    # checkpoint_shared leaf (round 12): repeats skip re-analyzing the
    # lineitem-join derivation, and the leaf preserves the repartition's
    # hash(src) partitioning so each iteration still exchanges only the
    # |V|-row ranks frame — measured at the 100x rehearsal (sf10f, 120M
    # directed edges) this is the difference between re-shuffling ~1.5 GB
    # of edges per iteration and the per-iteration floor (ranks +
    # groupBy(dst) only).
    edges = checkpoint_shared(
        "graphq.pr_edges", sf_dir, lambda: pagerank_edges(spark, sf_dir)
    )
    nodes = checkpoint_shared(
        "graphq.pr_nodes",
        sf_dir,
        lambda: persist_tracked(edges.select(F.col("src").alias("node")).distinct()),
    )
    # |V| as a driver scalar — the bounded scalar-collect class (same as the
    # two-pass sampler's entity count); deriving it from the PERSISTED edge
    # cache keeps the expensive lineitem join from being rebuilt per use.
    n = nodes.count()
    # NOTE (round 12): the per-iteration rank frames deliberately stay
    # UN-materialized, unlike the convergence curve's (whose r10 form
    # already persisted them): here the final ranks IS the query result,
    # and leafing the chain would turn every bench repeat into a cached
    # read of the answer — result caching, not optimization. Each repeat
    # recomputes the full iteration chain from the cached transition
    # matrix, exactly as before.
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    for _ in range(N_PR_ITERS):
        ranks = (
            # ranks is |V| rows — scales with the data, so no broadcast hint.
            edges.join(ranks, edges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("p")).alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(0.15 / n) + F.lit(DAMPING) * F.col("s")).alias("r"),
            )
        )
    return ranks.select("node", round_stable(F.col("r") * n).alias("rank_rel"))
