"""Training-data-pipeline extensions, round 2: incremental shard dedup,
one Lloyd step of k-means over embeddings, event-funnel conversion, and BM25
ranking — four more of the operations a 100 TB corpus build runs, each
oracle-checked (beyond-reference; extends SURVEY.md §7.4.7).

Scale notes per query:
- `dedup_incremental`: the production dedup shape is RARELY all-pairs — it is
  "dedup the incoming shard against the standing corpus". The inverted-index
  join only pairs shard docs with corpus docs (never corpus x corpus), so
  daily ingest cost scales with the shard, not the corpus.
- `kmeans_lloyd_step`: assignment is a broadcast join against K centroids
  (K bounded, hint legal) with the distance as three dot products; the
  argmin is a partial-aggregating min(struct) — one shuffle of N rows, no
  window. This is the per-iteration cost of IVF coarse-quantizer training.
- `funnel_conversion`: each stage is a groupBy(user) min + an equi-join on
  user — no window over event history, state per user is one timestamp.
- `bm25_top_terms`: same two-shuffle shape as TF-IDF; document length joins
  back as a per-doc scalar, corpus stats as a 1-row cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.aggregates import sql_wide_dsum, wide_dsum
from ..operators.relational import join_auto
from ..operators.similarity import ngram_shingles
from ..operators.vector import _dot, prepare_vectors
from ..functions.text import (
    round_stable,
    sql_round_stable,
    sql_tokens_ws,
    sql_trigram_shingles,
    tokenize_ws,
    tokens,
)
from ..sources.tables import load_table, spread
from .registry import register
from ..caching import persist_tracked

#: Incremental dedup: docs with doc_id % SHARD_MOD == 0 play the incoming
#: shard; the rest are the standing corpus.
SHARD_MOD = 10
INC_MIN_JACCARD = 0.2
INC_DF_CAP = 500

K_CENTROIDS = 8
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5

_SQL_SHARD_SHINGLES = f"""
{sql_trigram_shingles('sh', 'documents')},
freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
keep AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle)
         WHERE df <= {INC_DF_CAP}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT s.doc_id AS new_doc, c.doc_id AS corpus_doc, COUNT(*) AS n_common
           FROM keep s JOIN keep c USING (shingle)
           WHERE s.doc_id % {SHARD_MOD} = 0 AND c.doc_id % {SHARD_MOD} <> 0
           GROUP BY s.doc_id, c.doc_id),
jac AS (SELECT new_doc, corpus_doc, n_common,
        CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS j
        FROM common JOIN sizes sa ON new_doc = sa.doc_id
        JOIN sizes sb ON corpus_doc = sb.doc_id)
"""


@register(
    "dedup_incremental",
    oracle=(
        f"WITH {_SQL_SHARD_SHINGLES} "
        "SELECT new_doc, corpus_doc AS best_match, n_common, "
        + sql_round_stable("j")
        + " AS jaccard FROM ("
        "SELECT *, row_number() OVER (PARTITION BY new_doc "
        "ORDER BY j DESC, corpus_doc ASC) AS rn FROM jac "
        f"WHERE j >= {INC_MIN_JACCARD}) WHERE rn = 1"
    ),
    doc="Incremental dedup — the incoming shard (doc_id % 10 == 0) checked "
    "against the standing corpus via the trigram-shingle inverted index "
    "(df-capped): per new doc, its best corpus near-match at Jaccard >= 0.2 "
    "— the decision row an ingest pipeline acts on. Shard x corpus only; "
    "corpus x corpus pairs are never generated.",
    tags=("dedup", "ngram", "pipeline"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            tokens("text").alias("toks"),
        )
    )
    sh = persist_tracked(ngram_shingles(docs, n=3))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # Rare-shingle list is vocabulary-scale — unhinted, AQE decides
    # (same reasoning as ngram_jaccard_pairs / bm25's dfreq join).
    keep = sh.join(
        freq.filter(F.col("df") <= INC_DF_CAP).select("shingle"),
        "shingle",
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shard = keep.filter(F.col("doc_id") % SHARD_MOD == 0).select(
        F.col("doc_id").alias("new_doc"), "shingle"
    )
    corpus = keep.filter(F.col("doc_id") % SHARD_MOD != 0).select(
        F.col("doc_id").alias("corpus_doc"), "shingle"
    )
    common = (
        shard.join(corpus, "shingle")
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("new_doc"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("corpus_doc"), F.col("n_sh").alias("nb"))
    jac = (
        common.join(sa, "new_doc")
        .join(sb, "corpus_doc")
        .withColumn(
            "j", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .filter(F.col("j") >= INC_MIN_JACCARD)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("new_doc").orderBy(F.desc("j"), F.asc("corpus_doc"))
    return (
        jac.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "new_doc",
            F.col("corpus_doc").alias("best_match"),
            "n_common",
            round_stable("j").alias("jaccard"),
        )
    )


_SQL_KM = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {K_CENTROIDS}),
pairs AS (SELECT e.vec_id, c.cid,
          list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
          + list_dot_product(c.cv, c.cv) AS d2 FROM e, c),
assign AS (SELECT vec_id, cid, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
  FROM pairs) WHERE rn = 1)
"""


@register(
    "kmeans_lloyd_step",
    oracle=(
        f"WITH {_SQL_KM} "
        "SELECT cid AS cluster, COUNT(*) AS n_assigned, "
        + sql_round_stable(sql_wide_dsum("d2", 6))
        + " AS inertia "
        "FROM assign GROUP BY cid"
    ),
    doc="One Lloyd iteration of k-means over the embedding column: assign "
    "every vector to the nearest of K=8 seed centroids (squared L2 via three "
    "dot products — the same expression in both engines, so doubles match "
    "bit-for-bit), then per-cluster size and exact-decimal inertia — the "
    "per-iteration cost of training an IVF coarse quantizer.",
    tags=("ann", "pipeline", "agg_combiner"),
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = prepare_vectors(load_table(spark, sf_dir, "embeddings")).select("vec_id", "v")
    cents = vecs.filter(F.col("vec_id") < K_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    d2 = (
        F.expr(_dot("v", "v"))
        - 2 * F.expr(_dot("v", "cv"))
        + F.expr(_dot("cv", "cv"))
    )
    # K centroids are bounded -> broadcast hint is legal; argmin via
    # min(struct) partial-aggregates map-side (no per-vector window)
    pairs = vecs.join(F.broadcast(cents)).select(
        "vec_id", F.struct(d2.alias("d2"), F.col("cid").alias("cid")).alias("dc")
    )
    assign = pairs.groupBy("vec_id").agg(F.min("dc").alias("best"))
    return (
        assign.select("vec_id", F.col("best.cid").alias("cluster"), F.col("best.d2").alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            round_stable(wide_dsum(F.col("d2"), 6)).alias("inertia"),
        )
    )


@register(
    "funnel_conversion",
    oracle=(
        "WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t_v FROM events "
        "WHERE event_type = 'view' GROUP BY user_id), "
        "c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_c FROM events e "
        "JOIN v ON e.user_id = v.user_id "
        "WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_v GROUP BY e.user_id), "
        "p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_p FROM events e "
        "JOIN c ON e.user_id = c.user_id "
        "WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_c GROUP BY e.user_id) "
        "SELECT (SELECT COUNT(*) FROM v) AS n_viewed, "
        "(SELECT COUNT(*) FROM c) AS n_clicked_after, "
        "(SELECT COUNT(*) FROM p) AS n_purchased_after"
    ),
    doc="Ordered event funnel view -> click -> purchase with strict "
    "event-time sequencing (first view, first click AFTER it, first purchase "
    "after that): each stage is one groupBy(user) min + an equi-join — no "
    "per-user event-history window, O(1) state per user at any scale.",
    tags=("pipeline", "window", "filter_pred"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts_us")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_v"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_us") > F.col("t_v"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_c"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("t_c"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_p"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after")))
    )


@register(
    "bm25_top_terms",
    oracle=(
        f"WITH toks AS ({sql_tokens_ws()}), "
        "tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY doc_id, word), "
        "dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id), "
        "dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS dfreq FROM toks GROUP BY word), "
        "stats AS (SELECT COUNT(*) AS n_docs, "
        "CAST(CAST((SELECT SUM(dl) FROM dl) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avgdl FROM documents), "
        "s AS (SELECT tf.doc_id, tf.word, tf.tf, dfreq.dfreq, "
        "ln(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5)) "
        f"* (tf * ({BM25_K1} + 1.0)) / (tf + {BM25_K1} * (1.0 - {BM25_B} "
        f"+ {BM25_B} * dl / avgdl)) AS score "
        "FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (word) CROSS JOIN stats) "
        "SELECT doc_id, word, tf, dfreq, "
        + sql_round_stable("score")
        + " AS bm25 "
        "FROM (SELECT *, row_number() OVER (PARTITION BY doc_id "
        f"ORDER BY score DESC, word) AS rn FROM s) WHERE rn <= {BM25_TOPK}"
    ),
    doc="BM25 (Okapi) top-5 terms per doc — the retrieval-grade upgrade of "
    "TF-IDF (k1=1.2, b=0.75, length-normalized): one pass counts tokens "
    "per (doc, word) and only that tf table is cached; document length and "
    "document frequency are its marginals (sum of tf per doc, rows per "
    "word), corpus stats join as a broadcast scalar, "
    "document frequencies join back unhinted (vocabulary-scale — AQE "
    "decides); all score arithmetic is the same double expression in both "
    "engines.",
    tags=("tfidf", "pipeline", "topk"),
)
def bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_ws(spread(docs.select("doc_id", "text"))).select("doc_id", "word")
    # Persist the (doc, word) count, not the token rows: dl and dfreq are its
    # marginals. Each (doc_id, word) row is unique, so count(doc_id) per word
    # is exactly countDistinct(doc_id), NULL doc_id skipped by both.
    tf = persist_tracked(toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("word").agg(F.count("doc_id").alias("dfreq"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.sum("dl").alias("sum_dl"))
    ).select(
        "n_docs", (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl")
    )
    # dfreq is vocabulary-scale (unbounded) — unhinted, AQE decides
    scored = (
        join_auto(tf.join(dl, "doc_id"), dfreq, "word")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            F.log(1.0 + (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5))
            * (F.col("tf") * (BM25_K1 + 1.0))
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BM25_TOPK)
        .select("doc_id", "word", "tf", "dfreq", round_stable("score").alias("bm25"))
    )
