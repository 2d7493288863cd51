"""Cross-module query-plan helpers with NO @register side effects.

Importing a plan module registers its queries, and the import order in
plans/catalog.py sets the catalog order and the cache-family boundaries
(the registry releases a family's persists when consecutive builds cross a
module). So a helper that two plan modules share lives here,
registration-free: importing it moves no query and no family boundary.
``tests/test_plan_hygiene.py::test_catalog_pinned`` pins the ordered
catalog.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h64_sql
from ..operators.aggregates import dsum, sql_dsum
from ..caching import persist_tracked
from ..functions.text import round_stable, sql_round_stable, sql_token_count, sql_tokens
from ..operators.relational import last_per_key
from ..sources.tables import load_table

#: Per-domain token budget for the deterministic hash-ordered sampler —
#: shared by the batch query (plans/round6q.token_budget_sample) and its
#: stateful streaming twin (plans/round7q.streaming_token_budget), which
#: must agree bit-for-bit on the budget AND the oracle text.
TOKEN_BUDGET = 800

SQL_TOKEN_BUDGET = (
    "WITH t AS (SELECT source, doc_id, "
    f"{sql_token_count('text')} AS n_tok, "
    f"{h64_sql('doc_id', 'tb')} AS h FROM documents), "
    "c AS (SELECT source, doc_id, n_tok, "
    "CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok "
    "FROM t) "
    f"SELECT source, doc_id, n_tok, cum_tok FROM c WHERE cum_tok <= {TOKEN_BUDGET}"
)

#: Synthetic ratings derivation (FIXTURES.md §B): lineitem⋈orders gives
#: (user=o_custkey, item=l_partkey, rating∈1..5, recency=l_shipdate).
#: floor before cast — DuckDB rounds double->int casts, Spark truncates.
RATING_EXPR = "1 + (CAST(floor(l_extendedprice * 100) AS BIGINT) % 5)"

SQL_RATINGS_DEDUP = f"""
SELECT user_id, item, rating FROM (
  SELECT o_custkey AS user_id, l_partkey AS item, {RATING_EXPR} AS rating,
         row_number() OVER (PARTITION BY o_custkey, l_partkey
                            ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
WHERE rn = 1
"""

#: SURVEY.md §7.4 wart #4 compatibility mode: the reference dedupes with
#: ``reduceByKey(lambda a, b: b)`` (a3_p2.py:22) — "last seen" in file order,
#: NOT the spec's "most recent". The engine's deterministic surrogate for
#: arrival order is the fact table's stable row key (l_orderkey,
#: l_linenumber): monotone in load order for an append-only fact, and —
#: unlike RDD partition-arrival order — reproducible on any cluster layout.
#: The synthetic testdata duplicates (l_orderkey, l_linenumber) (60k rows,
#: 45.8k distinct at sf0.01), so the rating itself is the final tiebreaker:
#: rows tying on all three carry the same output value, making the pick
#: total where it matters.
SQL_RATINGS_DEDUP_LAST_SEEN = f"""
SELECT user_id, item, rating FROM (
  SELECT o_custkey AS user_id, l_partkey AS item, {RATING_EXPR} AS rating,
         row_number() OVER (PARTITION BY o_custkey, l_partkey
                            ORDER BY l_orderkey DESC, l_linenumber DESC,
                                     {RATING_EXPR} DESC) AS rn
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
WHERE rn = 1
"""


def ratings_deduped(
    spark: SparkSession, sf_dir: str, mode: str = "most_recent"
) -> DataFrame:
    """Rating dedupe per (user, item) — agg_last_per_key (a3_p2.py:18-22).

    ``mode="most_recent"`` (default): max by timestamp, the spec'd semantics
    (SURVEY.md §7.4 wart #4 'engine uses timestamp max_by').
    ``mode="last_seen"``: the reference CODE's ``reduceByKey(lambda a,b: b)``
    behavior behind the promised compatibility flag — last row in arrival
    order, with (l_orderkey, l_linenumber) as the deterministic arrival-order
    surrogate (see SQL_RATINGS_DEDUP_LAST_SEEN). The two modes genuinely
    disagree wherever a later-keyed row has an earlier ship date.
    """
    from ..sources.tables import spread

    # spread: orders broadcasts, so scan + join + the md5 rating hash all ran
    # in the single local scan task before the dedup window's exchange
    # (guide §2.5 input skew). No-op when the scan has enough splits.
    li = spread(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item"),
        F.expr(RATING_EXPR).alias("rating"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    if mode == "last_seen":
        order = [F.desc("l_orderkey"), F.desc("l_linenumber"), F.desc("rating")]
    elif mode == "most_recent":
        order = [F.desc("l_shipdate"), F.desc("l_orderkey"), F.desc("l_linenumber")]
    else:
        raise ValueError(f"unknown dedupe mode: {mode!r}")
    # Persisted per mode: three core.py queries and the CF family all start
    # from this frame, and each used to replay the join + dedup window per
    # build. |user,item| rows x 3 narrow columns — cheap to hold; released
    # at the family boundary like every tracked persist.
    from ..caching import persist_tracked

    return persist_tracked(
        last_per_key(raw, ["user_id", "item"], order).select(
            "user_id", "item", "rating"
        )
    )


#: Embedding-table access shared by vectorq and round6q (registration-free
#: by the module contract above). DuckDB side: float[] -> DOUBLE[] exactly
#: as prepare_vectors' transform(cast) does, so cosines match bit-for-bit.
SQL_VECS = "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"


def embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prepare_vectors over the embeddings table, rebalanced.

    spread(): the embeddings table is one local parquet split, and every
    consumer immediately runs per-row array folds (norms, hyperplane dot
    products) — single-threaded without a rebalance (measured 2 x ~4 s
    one-task stages in dedup_embedding_bucketed at sf0.1). Filters (e.g.
    vec_id < 5 query subsets) still push through the repartition."""
    from ..operators.vector import prepare_vectors
    from ..sources.tables import spread

    return prepare_vectors(spread(load_table(spark, sf_dir, "embeddings")))


#: Scratch root for derived ingestion fixtures. Spark itself spills to the
#: system temp dir, so that is the one location guaranteed writable here.
SCRATCH = os.path.join(tempfile.gettempdir(), "bdamp_spark_scratch")


def scratch_path(name: str, sf_dir: str) -> str:
    tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    return os.path.join(SCRATCH, tag, name)


def reset_scratch(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)


# -- constants and oracle text of the round7q..round18q families -------------
# Defined here rather than in the module that first used them, so that the
# modules sharing them import no plan module (see the module docstring).

#: Time constants.
DAY_US = 86_400_000_000
WEEK_US = 7 * DAY_US

#: Exact-substring span width in tokens.
ES_K = 12

#: Docs per packing shard (pack_efficiency_sweep, pack_with_salvage).
PACK_SHARD = 200

#: dedup_exact_substring's span chain, also the head of pack_with_salvage's
#: oracle: every ES_K-token span hashed (``sh``), the spans seen in >= 2
#: distinct docs (``dup``), their positions (``m``) merged into maximal
#: islands by the gaps-and-islands running max (``isl``, the twin of
#: :func:`span_islands`), and each island's covered token count (``cov``).
_SQL_ES = f"""
tarr AS (SELECT doc_id, {sql_tokens('text')} AS toks
         FROM documents),
sp AS (SELECT doc_id, len(toks) AS n_tokens,
       unnest(range(0, len(toks) - {ES_K - 1})) AS pos, toks FROM tarr),
sh AS (SELECT doc_id, n_tokens, pos,
       {h64_sql(f"array_to_string(toks[pos + 1:pos + {ES_K}], ' ')", 'es')} AS h
       FROM sp),
dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
        WHERE nd >= 2),
m AS (SELECT doc_id, n_tokens, pos FROM sh JOIN dup USING (h)),
isl AS (SELECT doc_id, n_tokens, pos,
        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT *, MAX(pos + {ES_K - 1}) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m)),
cov AS (SELECT doc_id, n_tokens, island, MAX(pos) - MIN(pos) + {ES_K} AS covered
        FROM isl GROUP BY doc_id, n_tokens, island)
"""


def span_islands(m: DataFrame, k: int) -> DataFrame:
    """``m``'s columns plus ``island``: the marked ``k``-token spans of each
    doc (one row per (doc_id, pos) span start) merged into maximal runs of
    overlapping spans, numbered 1, 2, ... per doc in ``pos`` order. A span
    opens a new island when it starts past the furthest end of every span
    before it (the gaps-and-islands running max)."""
    cols = m.columns
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = (
        F.max(F.col("pos") + F.lit(k - 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_end")
    )
    return m.select(*cols, prev_end).select(
        *cols,
        F.sum(
            F.when(
                F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")), 1
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )


#: IVF ANN family parameters + oracle CTEs (originally plans/round7q.py).
IVF_QUERIES = 5   # vec_id < 5 are the query vectors (same as the ANN family)
IVF_K = 10
IVF_NPROBE = 3    # of the 10 label cells

_SQL_COS_QE = (
    "list_dot_product(q.v, e.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))"
)

#: Centroids / probe-cell CTEs shared with the Spark twin expression-for-
#: expression: decimal-exact component means (VARCHAR bridge — see
#: operators/aggregates.sql_dsum), d2 via the same three dot products.
_SQL_IVF = f"""
{SQL_VECS},
comp AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos FROM e),
cm AS (SELECT label, pos,
       CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
       FROM comp GROUP BY label, pos),
cent AS (SELECT label, list(m ORDER BY pos) AS cv FROM cm GROUP BY label),
q AS (SELECT vec_id, v FROM e WHERE vec_id < {IVF_QUERIES}),
qc AS (SELECT q.vec_id AS query_id, c.label AS cell,
       list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, c.cv)
       + list_dot_product(c.cv, c.cv) AS d2
       FROM q, cent c),
probes AS (SELECT query_id, cell FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY d2 ASC, cell ASC) AS pr FROM qc)
  WHERE pr <= {IVF_NPROBE}),
pairs AS (SELECT p.query_id, e.vec_id AS neighbor_id, {_SQL_COS_QE} AS cos
          FROM probes p
          JOIN e ON e.label = p.cell
          JOIN q ON q.vec_id = p.query_id
          WHERE e.vec_id <> p.query_id)
"""

#: Quality-classifier weights (originally plans/privacyq.py) — stand-ins for
#: a trained quality model's parameters; broadcast to executors exactly like
#: real model weights would be. Shared verbatim by quality_classifier_score
#: (privacyq) and quality_threshold_sweep (round11q).
_W_BIAS, _W_NTOK, _W_AVGLEN, _W_STOP = -2.0, 0.01, 0.3, -0.15


#: Sliding-window family (originally plans/round8q.py): 30-min slide, 1-h
#: window; the oracle text is shared VERBATIM by the batch query
#: (round8q.sliding_window_event_rate) and its streaming twin
#: (round9q.streaming_sliding_counts) so their differential gate is the
#: same SQL string.
SLIDE_US = 1_800_000_000  # 30 min
WIN_US = 2 * SLIDE_US     # 1 hour

SQL_SLIDING_RATE = (
    "WITH e AS (SELECT event_type, value, epoch_us(ts) AS t FROM events), "
    "x AS (SELECT event_type, value, unnest(["
    f"(t // {SLIDE_US}) * {SLIDE_US} - {SLIDE_US}, "
    f"(t // {SLIDE_US}) * {SLIDE_US}]) AS win_start_us FROM e) "
    "SELECT win_start_us, event_type, COUNT(*) AS n, "
    f"{sql_dsum('value')} AS sum_value "
    "FROM x GROUP BY win_start_us, event_type"
)

#: Near-duplicate cosine floor (originally plans/vectorq.py) — shared by the
#: embedding-dedup family and round12q's banded_width_recall.
NEAR_MIN_COS = 0.35

#: PageRank parameters (originally plans/graphq.py) — shared by
#: pagerank_trade_graph and round12q's pagerank_convergence_curve.
DAMPING = 0.85
N_PR_ITERS = 3


def sql_pagerank_head(materialized: bool = False) -> str:
    """The oracles' transition-matrix CTEs up to the uniform ranks ``r0``:
    e0 (weighted supplier->customer edges), e (both directions), outw, ed
    (transition probability p = w / outw), nn (|V|). ``materialized=True``
    adds DuckDB's AS MATERIALIZED hint to the multiply-referenced CTEs."""
    m = " MATERIALIZED" if materialized else ""
    return (
        f"WITH e0 AS{m} (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src, "
        "'c' || CAST(o_custkey AS VARCHAR) AS dst, COUNT(*) AS w "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2), "
        f"e AS{m} (SELECT src, dst, w FROM e0 "
        "UNION ALL SELECT dst AS src, src AS dst, w FROM e0), "
        "outw AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src), "
        f"ed AS{m} (SELECT e.src, e.dst, e.w / outw.ow AS p "
        "FROM e JOIN outw USING (src)), "
        "nn AS (SELECT COUNT(*) AS n FROM outw), "
        "r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM outw)"
    )


def pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, p): the bidirectional supplier<->customer trade graph's
    transition matrix (edge weight = lineitem count, p = w / outw(src)),
    persisted and hash-partitioned on src so each rank iteration's
    src == node join exchanges only the |V|-row ranks."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Cached: the union's two branches, the out-weight aggregate, and the
    # transition join all read e0 — without this the lineitem join runs 4x.
    e0 = persist_tracked(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    e = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    return persist_tracked(
        e.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
        .repartition(F.col("src"))
    )


# -- temperature-mix family (originally plans/round12q.py; moved so the
# streaming twin in round13q shares weights + oracle text without a
# module-level import of round12q) --------------------------------------

#: Mixing temperatures — ONLY sqrt-composed powers (1, 1/2, 1/4): IEEE
#: sqrt is correctly rounded in both engines, pow(x, 0.7) is not.
ALPHA_SWEEP = (1.0, 0.5, 0.25)

#: Token budget for the expected-tokens column: half the corpus.
MIX_BUDGET_DEN = 2


def _sql_alpha_w(alpha: float, m: str) -> str:
    if alpha == 1.0:
        return f"CAST({m} AS DOUBLE)"
    if alpha == 0.5:
        return sql_round_stable(f"sqrt(CAST({m} AS DOUBLE))", 6)
    if alpha == 0.25:
        return sql_round_stable(f"sqrt(sqrt(CAST({m} AS DOUBLE)))", 6)
    raise ValueError(alpha)


def sql_temperature_oracle() -> str:
    """Shared verbatim by temperature_mix_rates (round12q) and its
    streaming twin streaming_mix_shares (round13q): identical result
    contract, one oracle text."""
    blocks = " UNION ALL ".join(
        f"SELECT {a}::DOUBLE AS alpha, source, m, {_sql_alpha_w(a, 'm')} AS w "
        "FROM tot"
        for a in ALPHA_SWEEP
    )
    return (
        "WITH d AS (SELECT source, "
        f"len({sql_tokens('text')}) "
        "AS n_tok FROM documents), "
        "tot AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS m FROM d "
        "GROUP BY source), "
        f"aw AS ({blocks}), "
        f"den AS (SELECT alpha, {sql_dsum('w', 6)} AS denom, "
        "CAST(SUM(m) AS BIGINT) AS total FROM aw GROUP BY alpha) "
        "SELECT aw.alpha, aw.source, aw.m AS src_tok, "
        + sql_round_stable("aw.w / den.denom", 6)
        + " AS share, "
        + sql_round_stable(
            f"{sql_round_stable('aw.w / den.denom', 6)} "
            f"* (den.total // {MIX_BUDGET_DEN})",
            2,
        )
        + " AS exp_tokens "
        "FROM aw JOIN den ON aw.alpha = den.alpha"
    )


def mix_shares_frame(tot: DataFrame) -> DataFrame:
    """Temperature-mix share sweep over a per-source token-total frame
    ``tot(source, m)`` — everything here runs on the sources DIMENSION
    frame (|sources| x 3 rows), so batch and streaming twins share this
    tail verbatim. Weights are stably rounded to 6 decimals BEFORE the
    exact decimal denominator sum, so partition order cannot perturb any
    share (the round12q cross-engine contract)."""
    m_dbl = F.col("m").cast("double")
    aw = None
    for a in ALPHA_SWEEP:
        if a == 1.0:
            w = m_dbl
        elif a == 0.5:
            w = round_stable(F.sqrt(m_dbl), 6)
        else:
            w = round_stable(F.sqrt(F.sqrt(m_dbl)), 6)
        part = tot.select(
            F.lit(a).alias("alpha"), "source", "m", w.alias("w")
        )
        aw = part if aw is None else aw.unionByName(part)
    aw = persist_tracked(aw)
    den = aw.groupBy("alpha").agg(
        dsum(F.col("w"), 6).alias("denom"), F.sum("m").alias("total")
    )
    share = round_stable(F.col("w") / F.col("denom"), 6)
    return (
        aw.join(F.broadcast(den), "alpha")
        .select(
            "alpha",
            "source",
            F.col("m").alias("src_tok"),
            share.alias("share"),
            round_stable(
                share * F.expr(f"total div {MIX_BUDGET_DEN}"), 2
            ).alias("exp_tokens"),
        )
    )
