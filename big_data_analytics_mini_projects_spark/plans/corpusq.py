"""Corpus/warehouse extensions (beyond-reference; extends SURVEY.md §7.4.7):
bigram language-model counts, SCD2 interval construction, weighted reservoir
sampling, int8 embedding quantization, Bloom-filter join pruning, per-label
z-score normalization, and key-skew profiling — shapes a training-data
pipeline runs at 100 TB that the earlier modules don't cover. (PMI
collocations and chi-square drift live in plans/qaq.py, whose place in
plans/catalog.py's import order sets their catalog position and cache
family.)

Scale notes per query:
- `bigram_lm_successors`: adjacent pairs are the lambda-free zip of two
  shifted token slices (functions/text.ngrams: zero shuffle, one codegen
  stage); counts are two partial-agg
  shuffles; both top-k levels order by INTEGER counts with string
  tiebreakers, so ranking is bit-exact across engines.
- `scd2_user_event_intervals`: the gaps-and-islands SCD2 build is ONE
  shuffle — hash(user_id) satisfies every later window and the
  (user, island) groupBy, so Catalyst inserts no further exchange.
- `sample_weighted_reservoir`: A-ES key ln(u)/w with u from the shared
  cross-engine md5 hash; orderBy+limit compiles to TakeOrderedAndProject
  (per-partition heaps), the same scale shape as the two-pass sampler.
- `embedding_int8_quantize`: per-dimension min/max is a posexplode +
  64-row aggregate (bounded -> broadcast hint legal on the way back);
  at 100 TB the N*64 explode is the standard shape for per-dim stats and
  stays JVM-side end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h64, h64_sql
from ..sources.tables import load_table, spread
from ..functions.text import SQL_BIGRAM_PAIRS, ngrams, round_stable, sql_round_stable, tokens
from .registry import register

BIGRAM_TOP_HEADS = 20
BIGRAM_TOP_SUCC = 3
WRS_K = 25
EMB_DIM = 64
Q_LEVELS = 255  # int8 code book: 0..255


@register(
    "bigram_lm_successors",
    oracle=(
        f"WITH {SQL_BIGRAM_PAIRS}, "
        "bi AS (SELECT pr.w1 AS w1, pr.w2 AS w2, COUNT(*) AS cnt "
        "FROM pairs GROUP BY 1, 2), "
        "tot AS (SELECT w1, SUM(cnt) AS total FROM bi GROUP BY w1), "
        "heads AS (SELECT w1, total, row_number() OVER "
        "(ORDER BY total DESC, w1) AS hr FROM tot), "
        f"keep AS (SELECT w1, total FROM heads WHERE hr <= {BIGRAM_TOP_HEADS}), "
        "ranked AS (SELECT bi.w1, bi.w2, bi.cnt, keep.total, row_number() OVER "
        "(PARTITION BY bi.w1 ORDER BY bi.cnt DESC, bi.w2) AS rn "
        "FROM bi JOIN keep USING (w1)) "
        "SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt, "
        "CAST(total AS BIGINT) AS total, "
        + sql_round_stable("cnt / total")
        + " AS p "
        f"FROM ranked WHERE rn <= {BIGRAM_TOP_SUCC}"
    ),
    doc="Bigram language-model table: adjacent-token pairs generated as a "
    "per-row zip of two shifted token slices (zero shuffle, no lambda), "
    "counted by (w1, w2); for the 20 most frequent head words, the top-3 "
    "successors with conditional probability cnt/total. Both top-k levels "
    "rank by integer counts with string tiebreakers — bit-exact ordering "
    "in every engine (beyond-reference training-data op).",
    tags=("bigram", "text_analysis", "topk"),
)
def bigram_lm_successors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = spread(docs).select(tokens("text").alias("t"))
    pairs = toks.select(F.explode(ngrams("t", 2)).alias("pr")).select(
        F.col("pr")["0"].alias("w1"), F.col("pr")["1"].alias("w2")
    )
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    tot = bi.groupBy("w1").agg(F.sum("cnt").alias("total"))
    heads = (
        tot.orderBy(F.desc("total"), "w1").limit(BIGRAM_TOP_HEADS)
    )  # TakeOrderedAndProject; bounded K -> broadcast hint legal below
    w = Window.partitionBy("w1").orderBy(F.desc("cnt"), "w2")
    return (
        bi.join(F.broadcast(heads), "w1")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BIGRAM_TOP_SUCC)
        .select(
            "w1",
            "w2",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("total").cast("long").alias("total"),
            round_stable(F.col("cnt") / F.col("total")).alias("p"),
        )
    )


@register(
    "scd2_user_event_intervals",
    oracle=(
        "WITH o AS (SELECT user_id, event_id, ts_us, event_type, "
        "CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type "
        "THEN 1 ELSE 0 END AS chg FROM ("
        "SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type "
        "FROM events) WINDOW w AS (PARTITION BY user_id "
        "ORDER BY ts_us, event_id)), "
        "isl AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id "
        "ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS island FROM o), "
        "runs AS (SELECT user_id, island, MIN(event_type) AS event_type, "
        "MIN(ts_us) AS from_us, COUNT(*) AS n_rows "
        "FROM isl GROUP BY user_id, island) "
        "SELECT user_id, CAST(island AS BIGINT) AS seq, event_type, from_us, "
        "coalesce(lead(from_us) OVER (PARTITION BY user_id ORDER BY island) "
        "- 1, -1) AS to_us, CAST(n_rows AS BIGINT) AS n_rows FROM runs"
    ),
    doc="SCD2 (type-2 slowly-changing-dimension) interval construction from "
    "the event log: per user, runs of identical event_type collapse to "
    "[valid_from, valid_to) intervals via gaps-and-islands (change flag -> "
    "cumulative island id -> per-island min/count -> lead() close-off). "
    "ONE shuffle: hash(user_id) satisfies both windows and the "
    "(user, island) groupBy, so no further exchange appears "
    "(beyond-reference warehouse op).",
    tags=("scd2", "window", "agg_last_per_key"),
)
def scd2_user_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_us", "event_type"
    )
    w_row = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_cum = w_row.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chg = (
        ~F.lag("event_type").over(w_row).eqNullSafe(F.col("event_type"))
    ).cast("int")
    isl = ev.withColumn("chg", chg).withColumn("island", F.sum("chg").over(w_cum))
    runs = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts_us").alias("from_us"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    w_isl = Window.partitionBy("user_id").orderBy("island")
    return runs.select(
        "user_id",
        F.col("island").cast("long").alias("seq"),
        "event_type",
        "from_us",
        F.coalesce(F.lead("from_us").over(w_isl) - 1, F.lit(-1)).alias("to_us"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


@register(
    "sample_weighted_reservoir",
    oracle=(
        "WITH keyed AS (SELECT doc_id, n_chars, "
        f"ln((({h64_sql('doc_id', 'wrs')}) + 1) / 1152921504606846976.0) "
        "/ n_chars AS k FROM documents) "
        "SELECT doc_id, n_chars FROM ("
        "SELECT doc_id, n_chars, row_number() OVER (ORDER BY k DESC, doc_id) "
        f"AS rn FROM keyed) WHERE rn <= {WRS_K}"
    ),
    doc="Weighted reservoir sample (Efraimidis-Spirakis A-ES): keep the "
    f"{WRS_K} docs with the largest u^(1/w) — equivalently largest "
    "ln(u)/w — where w = n_chars (longer docs proportionally likelier) and "
    "u in (0,1] derives from the shared cross-engine md5 hash, so both "
    "engines draw the identical 'random' sample. orderBy+limit compiles to "
    "TakeOrderedAndProject (per-partition heaps, no global sort) — the "
    "single-pass distributed weighted sampler a corpus-prep pipeline uses "
    "for quality-weighted subset selection (beyond-reference op).",
    tags=("sampling", "topk"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # u in (0,1]: (h64 + 1) / 2^60; A-ES key = ln(u)/w, larger is better.
    u = (h64("doc_id", "wrs") + 1) / F.lit(float(1 << 60))
    keyed = docs.withColumn("k", F.log(u) / F.col("n_chars"))
    return (
        keyed.orderBy(F.desc("k"), "doc_id")
        .limit(WRS_K)
        .select("doc_id", "n_chars")
    )


@register(
    "embedding_int8_quantize",
    oracle=(
        f"WITH el AS (SELECT vec_id, label, i AS dim, "
        f"CAST(embedding[i + 1] AS DOUBLE) AS val "
        f"FROM embeddings CROSS JOIN range({EMB_DIM}) AS t(i)), "
        "ds AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM el GROUP BY dim), "
        "q AS (SELECT el.vec_id, el.label, el.val, ds.mn, ds.mx, "
        f"floor((el.val - ds.mn) / (ds.mx - ds.mn) * {Q_LEVELS} + 0.5) AS code "
        "FROM el JOIN ds USING (dim)), "
        "err AS (SELECT vec_id, label, "
        f"SUM(pow(val - (mn + code / {Q_LEVELS} * (mx - mn)), 2)) / {EMB_DIM} "
        "AS mse FROM q GROUP BY vec_id, label) "
        "SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, "
        + sql_round_stable("AVG(mse) * 1e6")
        + " AS mean_mse_ppm FROM err GROUP BY label"
    ),
    doc="Scalar int8 quantization of the embedding table (the memory-"
    "bandwidth lever every 100 TB ANN index pulls): per-dimension min/max "
    "codebook (posexplode -> 64-row aggregate, bounded -> broadcast back), "
    "linear 0..255 encode, then per-vector reconstruction MSE and per-label "
    "averages. All arithmetic stays JVM-side; the oracle re-derives "
    "codebook, codes and error in SQL (beyond-reference vector op).",
    tags=("embedding", "quantize", "join_broadcast"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    el = spread(emb).select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val_f")
    ).withColumn("val", F.col("val_f").cast("double"))
    ds = el.groupBy("dim").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    q = el.join(F.broadcast(ds), "dim").withColumn(
        "code",
        round_stable(
            (F.col("val") - F.col("mn")) / (F.col("mx") - F.col("mn")) * Q_LEVELS, 0
        ),
    )
    deq = F.col("mn") + F.col("code") / Q_LEVELS * (F.col("mx") - F.col("mn"))
    err = q.groupBy("vec_id", "label").agg(
        (F.sum(F.pow(F.col("val") - deq, 2)) / EMB_DIM).alias("mse")
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        round_stable(F.avg("mse") * 1e6).alias("mean_mse_ppm"),
    )


BF_M = 4096  # bloom bit-space (bounded by construction -> broadcast legal)
BF_K = 3     # hash functions


def _bf_pos_sql(expr: str, j: int) -> str:
    return f"(({h64_sql(expr, f'bf{j}')}) % {BF_M})"


@register(
    "bloom_filter_join_prune",
    oracle=(
        "WITH s AS (SELECT c_custkey FROM customer "
        "WHERE c_mktsegment = 'BUILDING'), "
        "p AS ("
        + " UNION ".join(
            f"SELECT DISTINCT {_bf_pos_sql('c_custkey', j)} AS pos FROM s"
            for j in range(BF_K)
        )
        + "), "
        "o AS (SELECT o_orderpriority, o_custkey, "
        + ", ".join(
            f"{_bf_pos_sql('o_custkey', j)} AS pos{j}" for j in range(BF_K)
        )
        + " FROM orders), "
        "f AS (SELECT o_orderpriority, o_custkey, "
        "(" + " AND ".join(
            f"pos{j} IN (SELECT pos FROM p)" for j in range(BF_K)
        ) + ") AS bloom_pass, "
        "o_custkey IN (SELECT c_custkey FROM s) AS is_member FROM o) "
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass, "
        "CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_member, "
        "CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_false_pos "
        "FROM f GROUP BY o_orderpriority"
    ),
    doc="Bloom-filter pre-join pruning — the runtime-filter pattern that cuts "
    "a 100 TB shuffle before it happens (Spark's own "
    "spark.sql.optimizer.runtime.bloomFilter is this, made explicit and "
    f"cross-engine-deterministic): k={BF_K} md5-derived positions in an "
    f"m={BF_M} bit space built from the BUILDING-segment custkeys; the "
    "position table is bounded at m rows BY CONSTRUCTION, so it broadcasts "
    "legally and the orders scan is filtered map-side with NO shuffle. The "
    "query reports per-priority pass/member/false-positive accounting, so "
    "the differential test pins both the filter semantics and the exact "
    "false-positive set.",
    tags=("bloom", "filter_pred", "join_broadcast"),
)
def bloom_filter_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    s = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    # Bit-position table: <= BF_M rows by construction -> broadcast hint legal.
    p = None
    for j in range(BF_K):
        pj = s.select((h64("c_custkey", f"bf{j}") % BF_M).alias("pos"))
        p = pj if p is None else p.unionByName(pj)
    p = p.distinct()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey"
    )
    for j in range(BF_K):
        orders = orders.withColumn(f"pos{j}", h64("o_custkey", f"bf{j}") % BF_M)
    # Membership probes: BF_K broadcast left joins against the bounded
    # position table — the fact side never shuffles (map-side filtering).
    flags = orders
    for j in range(BF_K):
        pj = p.select(F.col("pos").alias(f"pos{j}"), F.lit(1).alias(f"hit{j}"))
        flags = flags.join(F.broadcast(pj), f"pos{j}", "left")
    bloom_pass = F.expr(
        " AND ".join(f"hit{j} IS NOT NULL" for j in range(BF_K))
    )
    # Ground truth: the member set scales with customers -> unhinted (AQE).
    member = s.select(
        F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("is_m")
    )
    flags = flags.join(member, "o_custkey", "left").select(
        "o_orderpriority",
        bloom_pass.alias("bloom_pass"),
        F.col("is_m").isNotNull().alias("is_member"),
    )
    return flags.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).cast("long").alias("n_member"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0)
        ).cast("long").alias("n_false_pos"),
    )


@register(
    "embedding_zscore_by_label",
    oracle=(
        f"WITH el AS (SELECT vec_id, label, i AS dim, "
        f"CAST(embedding[i + 1] AS DOUBLE) AS val "
        f"FROM embeddings CROSS JOIN range({EMB_DIM}) AS t(i)), "
        "st AS (SELECT label, dim, COUNT(*) AS n, SUM(val) AS s, "
        "SUM(val * val) AS s2 FROM el GROUP BY label, dim), "
        "z AS (SELECT el.vec_id, el.label, "
        "(el.val - st.s / st.n) / sqrt(st.s2 / st.n - pow(st.s / st.n, 2)) "
        "AS z FROM el JOIN st USING (label, dim)) "
        "SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vals, "
        + sql_round_stable("AVG(abs(z))")
        + " AS mean_abs_z, "
        + sql_round_stable("MAX(abs(z))")
        + " AS max_abs_z FROM z GROUP BY label"
    ),
    doc="Per-label, per-dimension z-score normalization of the embedding "
    "table (the feature-standardization pass before contrastive/classifier "
    "training): population mean/std from one sufficient-statistic aggregate "
    "(n, sum, sum-of-squares — the identical expression in both engines, not "
    "each engine's own stddev kernel), normalized values re-aggregated to "
    "per-label |z| diagnostics. The (label, dim) stats table is bounded at "
    "labels*64 rows -> broadcast back onto the exploded values.",
    tags=("embedding", "agg_mean_std", "quantize"),
)
def embedding_zscore_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    el = spread(emb).select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val_f")
    ).withColumn("val", F.col("val_f").cast("double"))
    st = el.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("s"),
        F.sum(F.col("val") * F.col("val")).alias("s2"),
    )
    mean = F.col("s") / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - F.pow(mean, 2))
    z = el.join(F.broadcast(st), ["label", "dim"]).select(
        "vec_id", "label", ((F.col("val") - mean) / sd).alias("z")
    )
    return z.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vals"),
        round_stable(F.avg(F.abs("z"))).alias("mean_abs_z"),
        round_stable(F.max(F.abs("z"))).alias("max_abs_z"),
    )


@register(
    "skew_profile_events",
    oracle=(
        "WITH c AS (SELECT event_type, user_id, COUNT(*) AS c "
        "FROM events GROUP BY event_type, user_id) "
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users, "
        "CAST(SUM(c) AS BIGINT) AS n_rows, CAST(MAX(c) AS BIGINT) AS max_cnt, "
        + sql_round_stable("MAX(c) / SUM(c)")
        + " AS max_share, "
        + sql_round_stable("ln(SUM(c)) - SUM(c * ln(c)) / SUM(c)")
        + " AS entropy "
        "FROM c GROUP BY event_type"
    ),
    doc="Key-skew profiler — the diagnostic a 100 TB job runs BEFORE picking "
    "a join strategy (salting? AQE skew split? broadcast?): per event_type, "
    "the user-key distribution's cardinality, heaviest-key share, and "
    "Shannon entropy, computed in ONE extra aggregate over the per-key "
    "counts via entropy = ln(N) - sum(c*ln(c))/N — no per-key share join, "
    "no window. Companion to salted_join_skewed (operators/relational.py).",
    tags=("skew", "agg_count_by_key"),
)
def skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    c = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_cnt"),
        round_stable(F.max("c") / F.sum("c")).alias("max_share"),
        round_stable(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c")
        ).alias("entropy"),
    )
