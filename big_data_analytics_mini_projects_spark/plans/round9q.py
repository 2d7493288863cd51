"""Within-document span dedup, a streaming sliding-window twin and IVF
search over Lloyd-refined centroids.

- ``dedup_substring_withindoc`` — WITHIN-document repeated-span profile:
  the complement of dedup_exact_substring's distinct-doc rule (which
  deliberately ignores self-repeats). Same span-hash machinery, duplicate
  mark = the same 12-token span occurring at >= 2 positions of ONE doc —
  the 'ten copies of the same paragraph in one page' boilerplate signal
  Gopher's top-token/bigram ratios (repetition_ratios) are too coarse to
  localize.
- ``streaming_sliding_counts`` — watermarked STREAMING twin of
  sliding_window_event_rate (overlapping windows through the streaming
  state store; batch == stream over availableNow, shared oracle text).
- ``ann_ivf_lloyd`` — IVF ANN over LEARNED centroids: one Lloyd iteration
  (assign to label-mean seeds -> decimal-exact reassigned means) refines
  the coarse quantizer before the nprobe=3 search, chaining
  kmeans_lloyd_step's training step into ann_ivf_nprobe's serving path —
  the actual IVF build pipeline rather than its two halves in isolation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h64, h64_sql
from ..functions.text import (
    ngram_text,
    ngrams,
    round_stable,
    sql_round_stable,
    sql_tokens,
    tokens,
)
from ..operators.vector import _dot, ivf_cell_centroids
from ..sources.tables import load_table, spread
from .registry import register
from .shared import ES_K, SQL_VECS, embedding_vectors, span_islands

WD_K = ES_K  # same 12-token span width as the cross-doc query


_SQL_WD = f"""
tarr AS (SELECT doc_id, {sql_tokens('text')} AS toks
         FROM documents),
sp AS (SELECT doc_id, len(toks) AS n_tokens,
       unnest(range(0, len(toks) - {WD_K - 1})) AS pos, toks FROM tarr),
sh AS (SELECT doc_id, n_tokens, pos,
       {h64_sql(f"array_to_string(toks[pos + 1:pos + {WD_K}], chr(32))", 'es')} AS h
       FROM sp),
dup AS (SELECT doc_id, h FROM sh GROUP BY doc_id, h HAVING COUNT(*) >= 2),
m AS (SELECT sh.doc_id, sh.n_tokens, sh.pos FROM sh JOIN dup USING (doc_id, h)),
isl AS (SELECT doc_id, n_tokens, pos,
        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT *, MAX(pos + {WD_K - 1}) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m)),
cov AS (SELECT doc_id, n_tokens, island, MAX(pos) - MIN(pos) + {WD_K} AS covered
        FROM isl GROUP BY doc_id, n_tokens, island)
"""


@register(
    "dedup_substring_withindoc",
    oracle=(
        f"WITH {_SQL_WD} "
        "SELECT doc_id, n_tokens, CAST(SUM(covered) AS BIGINT) AS rep_tokens, "
        "CAST(COUNT(*) AS BIGINT) AS n_islands, "
        + sql_round_stable("CAST(SUM(covered) AS DOUBLE) / n_tokens")
        + " AS rep_ratio "
        "FROM cov GROUP BY doc_id, n_tokens"
    ),
    doc="Within-document repeated-span profile: the 12-token span stream of "
    "dedup_exact_substring, but a position is marked duplicated when its "
    "span recurs at another position of the SAME doc (>= 2 occurrences per "
    "(doc, span-hash)) — exactly the self-repeats the cross-doc query's "
    "distinct-doc rule excludes, so the pair (dup_ratio, rep_ratio) "
    "separates 'copied across the web' from 'templated within the page'. "
    "Scale: the only new shuffle keys on (doc_id, h) — bounded by document "
    "length, no cross-doc fan-in at all (strictly easier than the "
    "cross-doc variant's duplicate-vocabulary join); island merge is the "
    "same per-doc bounded window.",
    tags=("dedup", "fingerprint", "curation", "window"),
)
def dedup_substring_withindoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return withindoc_repeat_stats(docs)


def withindoc_repeat_stats(docs: DataFrame) -> DataFrame:
    """Core of dedup_substring_withindoc over any (doc_id, text) frame."""
    d = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens"), "toks"
    )
    sp = d.select(
        "doc_id", "n_tokens", F.posexplode(ngrams("toks", WD_K)).alias("pos", "span")
    ).select("doc_id", "n_tokens", "pos", h64(ngram_text("span", WD_K), "es").alias("h"))
    dup = (
        sp.groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("no"))
        .filter(F.col("no") >= 2)
        .select("doc_id", "h")
    )
    m = sp.join(dup, ["doc_id", "h"]).select("doc_id", "n_tokens", "pos")
    isl = span_islands(m, WD_K)
    cov = isl.groupBy("doc_id", "n_tokens", "island").agg(
        (F.max("pos") - F.min("pos") + F.lit(WD_K)).alias("covered")
    )
    return cov.groupBy("doc_id", "n_tokens").agg(
        F.sum("covered").alias("rep_tokens"),
        F.count(F.lit(1)).alias("n_islands"),
        round_stable(
            F.sum("covered").cast("double") / F.col("n_tokens")
        ).alias("rep_ratio"),
    )


def _register_streaming_sliding():
    # oracle text shared verbatim with the batch twin
    # (round8q.sliding_window_event_rate) via plans/shared.py: importing
    # round8q would register its queries here and so move the catalog order
    # and the cache-family boundaries (test_catalog_pinned).
    from .shared import SQL_SLIDING_RATE

    @register(
        "streaming_sliding_counts",
        oracle=SQL_SLIDING_RATE,
        doc="Watermarked STREAMING sliding windows (1 h / 30 min slide) per "
        "event type — the overlapping-window aggregation through the "
        "streaming state store: each event updates TWO window states, the "
        "2-hour watermark bounds retained state, complete-mode availableNow "
        "output equals the batch twin bit-for-bit (shared oracle text). At "
        "100 TB/day this is the always-on rate monitor; the batch twin is "
        "the backfill.",
        tags=("streaming", "time", "window"),
        bench=False,
    )
    def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.aggregates import dsum
        from ..streaming.stream_stats import events_stream, run_available_now

        ev = events_stream(spark, sf_dir)
        out = (
            ev.withWatermark("ts", "2 hours")
            .groupBy(
                F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
            .select(
                F.unix_micros("w.start").alias("win_start_us"),
                "event_type",
                "n",
                "sum_value",
            )
        )
        return run_available_now(out, output_mode="complete")

    return streaming_sliding_counts


streaming_sliding_counts = _register_streaming_sliding()


IVFL_QUERIES = 5
IVFL_K = 10
IVFL_NPROBE = 3

_SQL_D2 = (
    "list_dot_product({v}, {v}) - 2 * list_dot_product({v}, {c}) "
    "+ list_dot_product({c}, {c})"
)

_SQL_COS = (
    "list_dot_product(q.v, e.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))"
)

#: One Lloyd iteration in SQL: cent0 = decimal-exact label means; a1 = argmin
#: assignment under cent0 (tie: cell asc); cent1 = decimal-exact means of the
#: a1 groups; a2 = re-assignment under cent1 (the IVF lists); queries probe
#: the IVFL_NPROBE nearest cent1 cells.
_SQL_IVFL = f"""
{SQL_VECS},
comp0 AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos FROM e),
cm0 AS (SELECT label, pos,
        CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
        FROM comp0 GROUP BY label, pos),
cent0 AS (SELECT label AS cell, list(m ORDER BY pos) AS cv FROM cm0 GROUP BY label),
a1 AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_SQL_D2.format(v='e.v', c='c.cv')} ASC, c.cell ASC) AS rn
  FROM e, cent0 c) WHERE rn = 1),
comp1 AS (SELECT a1.cell, unnest(e.v) AS x, unnest(range(1, len(e.v) + 1)) AS pos
          FROM e JOIN a1 USING (vec_id)),
cm1 AS (SELECT cell, pos,
        CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
        FROM comp1 GROUP BY cell, pos),
cent1 AS (SELECT cell, list(m ORDER BY pos) AS cv FROM cm1 GROUP BY cell),
a2 AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_SQL_D2.format(v='e.v', c='c.cv')} ASC, c.cell ASC) AS rn
  FROM e, cent1 c) WHERE rn = 1),
q AS (SELECT vec_id, v FROM e WHERE vec_id < {IVFL_QUERIES}),
probes AS (SELECT query_id, cell FROM (
  SELECT q.vec_id AS query_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
           {_SQL_D2.format(v='q.v', c='c.cv')} ASC, c.cell ASC) AS pr
  FROM q, cent1 c) WHERE pr <= {IVFL_NPROBE}),
pairs AS (SELECT p.query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS cos
          FROM probes p
          JOIN a2 ON a2.cell = p.cell
          JOIN e ON e.vec_id = a2.vec_id
          JOIN q ON q.vec_id = p.query_id
          WHERE e.vec_id <> p.query_id)
"""


@register(
    "ann_ivf_lloyd",
    oracle=(
        f"WITH {_SQL_IVFL} "
        f"SELECT query_id, neighbor_id, rank, {sql_round_stable('cos', 6)} AS cos "
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rank FROM pairs) "
        f"WHERE rank <= {IVFL_K}"
    ),
    doc="IVF ANN over LEARNED centroids — the full coarse-quantizer build "
    "chained into serving: label means seed one Lloyd iteration "
    "(assign -> decimal-exact re-mean -> re-assign), the re-assignment is "
    "the inverted lists, and each query probes its 3 nearest refined "
    "centroids. Composes kmeans_lloyd_step (training cost) with "
    "ann_ivf_nprobe (serving shape). Scale: two corpus x K broadcast "
    "assignment passes and one cells x dim keyed mean per iteration — all "
    "map-side-combined, no corpus self-join; adding Lloyd iterations "
    "multiplies only the linear assignment cost. Tie-breaks (cell asc, "
    "neighbor asc) and decimal-exact centroid arithmetic keep every "
    "intermediate oracle-identical.",
    tags=("ann", "similarity_search", "pipeline"),
)
def ann_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = embedding_vectors(spark, sf_dir)  # (vec_id, label, v, norm)

    def assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
        d2 = (
            F.expr(_dot("v", "v"))
            - 2 * F.expr(_dot("v", "cv"))
            + F.expr(_dot("cv", "cv"))
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
        return (
            vectors.join(F.broadcast(cents))
            .select("vec_id", "cell", d2.alias("d2"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell")
        )

    cent0 = ivf_cell_centroids(vecs, "label").select(
        F.col("label").alias("cell"), "cv"
    )
    a1 = assign(vecs.select("vec_id", "v"), cent0)
    cent1 = ivf_cell_centroids(
        vecs.join(a1, "vec_id").select("cell", "v"), "cell"
    )
    a2 = assign(vecs.select("vec_id", "v"), cent1)

    q = vecs.filter(F.col("vec_id") < IVFL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    d2q = (
        F.expr(_dot("qv", "qv"))
        - 2 * F.expr(_dot("qv", "cv"))
        + F.expr(_dot("cv", "cv"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        q.join(F.broadcast(cent1))
        .select("query_id", "qv", "qn", "cell", d2q.alias("d2"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= IVFL_NPROBE)
        .select("query_id", "qv", "qn", "cell")
    )
    cand = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("norm").alias("nn"),
    ).join(a2.select(F.col("vec_id").alias("neighbor_id"), "cell"), "neighbor_id")
    pairs = (
        cand.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.expr(_dot("qv", "nv")) / (F.col("qn") * F.col("nn"))).alias("cos"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= IVFL_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            round_stable("cos", 6).alias("cos"),
        )
    )
