"""Late-round registrations: corpus QA (PMI collocations, chi-square drift),
the PNG codec round trip, and streaming session windows."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import SQL_BIGRAM_PAIRS, ngrams, round_stable, sql_round_stable, tokens
from ..operators.multimodal import decode_png_stats, synth_png_payloads
from ..sources.tables import load_table, spread
from ..streaming.stream_stats import events_stream, run_available_now
from .registry import register
from ..caching import persist_tracked

MAX_US = (1 << 63) - 1  # open-interval sentinel for overlap arithmetic


@register(
    "range_overlap_sessions",
    oracle=(
        # SCD2 event-type runs (gaps-and-islands, as in scd2_user_event_intervals)
        "WITH o AS (SELECT user_id, event_id, ts_us, event_type, "
        "CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type "
        "THEN 1 ELSE 0 END AS chg FROM ("
        "SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events) "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), "
        "isl AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id "
        "ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS island FROM o), "
        "runs AS (SELECT user_id, island, MIN(event_type) AS event_type, "
        "MIN(ts_us) AS from_us FROM isl GROUP BY user_id, island), "
        "iv AS (SELECT user_id, CAST(island AS BIGINT) AS seq, event_type, from_us, "
        "coalesce(lead(from_us) OVER (PARTITION BY user_id ORDER BY island) - 1, "
        f"{MAX_US}) AS eff_to FROM runs), "
        # session windows (10-min gap, as in session_windows_users)
        "se0 AS (SELECT user_id, epoch_us(ts) AS t FROM events), "
        "se1 AS (SELECT user_id, t, CASE WHEN lag(t) OVER w IS NULL "
        "OR t - lag(t) OVER w >= 600000000 THEN 1 ELSE 0 END AS brk "
        "FROM se0 WINDOW w AS (PARTITION BY user_id ORDER BY t)), "
        "se2 AS (SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id "
        "ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM se1), "
        "sess AS (SELECT user_id, MIN(t) AS session_start_us, "
        "MAX(t) + 600000000 AS session_end_us FROM se2 GROUP BY user_id, sid) "
        # interval-overlap join on user with the overlap length
        "SELECT iv.user_id, iv.seq, iv.event_type, sess.session_start_us, "
        "least(iv.eff_to, sess.session_end_us - 1) "
        "- greatest(iv.from_us, sess.session_start_us) + 1 AS overlap_us "
        "FROM iv JOIN sess ON iv.user_id = sess.user_id "
        "AND iv.from_us < sess.session_end_us "
        "AND sess.session_start_us <= iv.eff_to"
    ),
    doc="Range-x-range interval-overlap join — the interval algebra the "
    "point-in-range queries don't cover: each user's SCD2 event-type runs "
    "joined against their session windows where the two intervals overlap, "
    "emitting the exact overlap length in micros (open runs handled via a "
    "max-int64 sentinel, all integer arithmetic). Rides the user_id "
    "equi-join with the overlap predicate as a residual — never a "
    "cartesian/nested-loop — the same shape that scales to 100 TB because "
    "per-user interval counts are bounded by that user's activity, not the "
    "corpus. Reuses the scd2 and session-window builders end to end.",
    tags=("range_join", "scd2", "window"),
)
def range_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpusq import scd2_user_event_intervals
    from .samplingq import session_windows_users

    iv = scd2_user_event_intervals(spark, sf_dir).select(
        "user_id",
        "seq",
        "event_type",
        "from_us",
        F.when(F.col("to_us") == -1, F.lit(MAX_US))
        .otherwise(F.col("to_us"))
        .alias("eff_to"),
    )
    sess = session_windows_users(spark, sf_dir).select(
        "user_id", "session_start_us", "session_end_us"
    )
    j = iv.join(sess, "user_id").filter(
        (F.col("from_us") < F.col("session_end_us"))
        & (F.col("session_start_us") <= F.col("eff_to"))
    )
    overlap = (
        F.least(F.col("eff_to"), F.col("session_end_us") - 1)
        - F.greatest(F.col("from_us"), F.col("session_start_us"))
        + 1
    )
    return j.select(
        "user_id", "seq", "event_type", "session_start_us",
        overlap.alias("overlap_us"),
    )


PMI_MIN_PAIR = 5  # pair-count floor: rare pairs have unstable PMI
PMI_TOPK = 30


@register(
    "pmi_word_pairs",
    oracle=(
        f"WITH {SQL_BIGRAM_PAIRS}, "
        "bi AS (SELECT pr.w1 AS w1, pr.w2 AS w2, COUNT(*) AS c12 "
        "FROM pairs GROUP BY 1, 2), "
        "uni AS (SELECT pr.w1 AS w, COUNT(*) AS c FROM pairs GROUP BY 1), "
        "n AS (SELECT SUM(c12) AS n FROM bi), "
        f"scored AS (SELECT bi.w1, bi.w2, bi.c12, u1.c AS c1, u2.c AS c2, "
        "ln(bi.c12 * (SELECT n FROM n) / (u1.c * u2.c)) AS pmi "
        "FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w "
        f"WHERE bi.c12 >= {PMI_MIN_PAIR}) "
        "SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, "
        + sql_round_stable("pmi")
        + " AS pmi "
        "FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rn "
        f"FROM scored) WHERE rn <= {PMI_TOPK}"
    ),
    doc="Pointwise mutual information over adjacent word pairs — the corpus "
    "collocation detector (phrase mining / tokenizer-merge candidates): "
    "PMI = ln(c12*N / (c1*c2)) from the bigram table joined twice against "
    "the unigram-head counts. One pass generates the pairs and counts them "
    "per (w1, w2); only that count table is cached, and the unigram heads "
    "and N are its marginals (sums of c12), so the cache is vocabulary-"
    "sized, not corpus-sized. Pair-count floor against unstable rare-pair "
    "PMI, top-30 by (pmi, w1, w2) — ties and near-ties break on exact "
    "strings after a 4-decimal-stable score (beyond-reference training-data "
    "op).",
    tags=("bigram", "text_analysis", "topk"),
)
def pmi_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = spread(docs).select(tokens("text").alias("t"))
    pairs = toks.select(F.explode(ngrams("t", 2)).alias("pr")).select(
        F.col("pr")["0"].alias("w1"), F.col("pr")["1"].alias("w2")
    )
    # Persist the joint count, not the pair stream: the unigram heads and N
    # are its marginals (sums of c12 are the same bigints as row counts).
    allbi = persist_tracked(pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    bi = allbi.filter(F.col("c12") >= PMI_MIN_PAIR)
    uni = allbi.groupBy("w1").agg(F.sum("c12").alias("c"))
    n = allbi.agg(F.sum("c12").alias("n"))
    # Unigram counts are vocabulary-scale -> unhinted joins (AQE decides);
    # N is a 1-row broadcast scalar.
    scored = (
        bi.join(uni.select(F.col("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w1").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "pmi", F.log(F.col("c12") * F.col("n") / (F.col("c1") * F.col("c2")))
        )
    )
    return (
        scored.orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOPK)
        .select("w1", "w2", F.col("c12").cast("long").alias("c12"),
                round_stable("pmi").alias("pmi"))
    )


@register(
    "label_drift_chi2",
    oracle=(
        "WITH s AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'shard_a' ELSE "
        "'shard_b' END AS shard, lang, COUNT(*) AS c FROM documents "
        "GROUP BY 1, 2), "
        "tot AS (SELECT SUM(c) AS n FROM s), "
        "rowt AS (SELECT shard, SUM(c) AS rc FROM s GROUP BY shard), "
        "colt AS (SELECT lang, SUM(c) AS cc FROM s GROUP BY lang), "
        "cells AS (SELECT s.shard, s.lang, s.c, "
        "rowt.rc * colt.cc / (SELECT n FROM tot) AS expected "
        "FROM s JOIN rowt USING (shard) JOIN colt USING (lang)) "
        "SELECT lang, "
        "CAST(SUM(CASE WHEN shard = 'shard_a' THEN c ELSE 0 END) AS BIGINT) "
        "AS n_a, "
        "CAST(SUM(CASE WHEN shard = 'shard_b' THEN c ELSE 0 END) AS BIGINT) "
        "AS n_b, "
        + sql_round_stable("SUM(pow(c - expected, 2) / expected)")
        + " AS chi2_contrib "
        "FROM cells GROUP BY lang"
    ),
    doc="Distribution-drift detector between two corpus shards (here the "
    "deterministic doc_id parity split): the chi-square contingency "
    "statistic of the lang distribution, reported per label so the drifting "
    "class is identifiable (sum of chi2_contrib = the test statistic; "
    "compare against the chi2 critical value offline). Expected counts come "
    "from the margins in one pass over the (shard, lang) cells — the "
    "ingest-QA gate that catches a bad shard before it trains "
    "(beyond-reference training-data op).",
    tags=("quality", "agg_count_by_key"),
)
def label_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    s = docs.select(
        F.when(F.col("doc_id") % 2 == 0, "shard_a").otherwise("shard_b").alias(
            "shard"
        ),
        "lang",
    ).groupBy("shard", "lang").agg(F.count(F.lit(1)).alias("c"))
    # The cell table is bounded at |shards| x |langs| rows: margins and the
    # grand total are broadcast scalars over it.
    tot = s.agg(F.sum("c").alias("n"))
    rowt = s.groupBy("shard").agg(F.sum("c").alias("rc"))
    colt = s.groupBy("lang").agg(F.sum("c").alias("cc"))
    cells = (
        s.join(F.broadcast(rowt), "shard")
        .join(F.broadcast(colt), "lang")
        .crossJoin(F.broadcast(tot))
        .withColumn("expected", F.col("rc") * F.col("cc") / F.col("n"))
    )
    return cells.groupBy("lang").agg(
        F.sum(F.when(F.col("shard") == "shard_a", F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("shard") == "shard_b", F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_b"),
        round_stable(
            F.sum(F.pow(F.col("c") - F.col("expected"), 2) / F.col("expected"))
        ).alias("chi2_contrib"),
    )


@register(
    "multimodal_png_decode",
    oracle=(
        "SELECT doc_id, CAST(3 + doc_id % 5 AS BIGINT) AS width, "
        "CAST(2 + doc_id % 4 AS BIGINT) AS height, "
        "CAST(list_sum(list_transform(range(2 + doc_id % 4), y -> "
        "list_sum(list_transform(range(3 + doc_id % 5), x -> "
        "(doc_id * 5 + x * 11 + y) % 256 + (doc_id + x + y * 13) % 256 "
        "+ (doc_id * 3 + x * y) % 256)))) AS BIGINT) AS px_sum FROM documents"
    ),
    doc="REAL COMPRESSED image codec round trip, stdlib only: per doc a "
    "genuine 8-bit RGB PNG (signature, IHDR, zlib-deflated filter-0 "
    "scanlines in IDAT, CRC32-checked chunks) written into the binary "
    "column, then decoded by walking the chunk stream and INFLATING the "
    "pixel data — unlike the BMP twin, byte offsets are useless until "
    "decompression succeeds, so the oracle's closed-form check proves a "
    "real compression round trip.",
    tags=("multimodal",),
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_png_stats(synth_png_payloads(docs))


@register(
    "streaming_session_windows",
    oracle=(
        "WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events), "
        "o AS (SELECT user_id, t, value, CASE WHEN lag(t) OVER w IS NULL "
        "OR t - lag(t) OVER w >= 600000000 THEN 1 ELSE 0 END AS brk "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)), "
        "s AS (SELECT user_id, t, value, SUM(brk) OVER (PARTITION BY user_id "
        "ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
        "SELECT user_id, MIN(t) AS session_start_us, "
        "MAX(t) + 600000000 AS session_end_us, COUNT(*) AS n_events, "
        "CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM s GROUP BY user_id, sid"
    ),
    doc="Streaming session windows: the batch session_windows_users query "
    "run as a real streaming aggregation (watermark + session_window, "
    "availableNow) — dynamic-length event-time sessions whose state merges "
    "adjacent windows as rows arrive; at 100 TB/day the watermark is what "
    "lets Spark drop closed-session state. Oracle = the identical "
    "gaps-and-islands SQL as the batch twin.",
    tags=("streaming", "window"),
    bench=False,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import dsum

    ev = events_stream(spark, sf_dir)
    sw = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window(F.col("ts"), "600 seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(sw)
