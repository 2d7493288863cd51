"""Multimodal + streaming catalog queries.

The streaming queries run REAL Structured Streaming jobs (availableNow
trigger to a memory sink) and return the final table — so the correctness
gate covers the streaming engine, not just a batch stand-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.multimodal import (
    decode_bmp_stats,
    decode_wav_stats,
    extract_binary_meta,
    sample_frames,
    synth_bmp_payloads,
    synth_wav_payloads,
    with_binary_payload,
)
from ..sources.tables import load_table
from ..streaming.stream_stats import (
    events_stream,
    run_available_now,
    stream_global_stats,
    stream_hourly_counts,
)
from ..functions.text import sql_round_stable
from .registry import register


@register(
    "multimodal_meta",
    oracle=(
        "SELECT doc_id, strlen(text) AS byte_len, substr(md5(text), 1, 8) AS sig, "
        "('0x' || substr(md5(text), 9, 4))::BIGINT % 1024 AS fake_width, "
        "('0x' || substr(md5(text), 13, 4))::BIGINT % 1024 AS fake_height "
        "FROM documents"
    ),
    doc="Binary-column metadata extraction via Arrow-batched mapInPandas "
    "(bytes in -> typed struct out): the exact plumbing of an image decoder, "
    "with a deterministic fake kernel (real codecs stubbed, "
    "operators/multimodal.py).",
    tags=("multimodal",),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_binary_meta(with_binary_payload(docs))


@register(
    "multimodal_frames",
    oracle=(
        "SELECT doc_id, unnest(range((strlen(text) % 3) + 1)) AS frame_idx, "
        "substr(md5(text || ':' || CAST(unnest(range((strlen(text) % 3) + 1)) AS VARCHAR)), "
        "1, 8) AS frame_sig FROM documents"
    ),
    doc="One-to-many frame sampling (video UDTF shape) via mapInPandas: each "
    "payload expands to a deterministic number of fake frames with derived "
    "signatures.",
    tags=("multimodal",),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return sample_frames(with_binary_payload(docs))


@register(
    "multimodal_wav_decode",
    oracle=(
        "SELECT doc_id, CAST(100 + doc_id % 50 AS BIGINT) AS n_samples, "
        "CAST(8000 AS BIGINT) AS framerate, "
        "CAST(list_sum(list_transform(range(100 + doc_id % 50), "
        "i -> abs((((doc_id * 31 + i * 7) % 256) - 128) * 256))) AS BIGINT) "
        "AS abs_sum FROM documents"
    ),
    doc="REAL audio codec round trip, no external libs: per doc a genuine "
    "16-bit mono PCM WAV container is written (stdlib wave codec) into the "
    "binary column, then a second Arrow-batched mapInPandas stage parses the "
    "container (header + frames) and aggregates sample stats. The oracle "
    "re-derives the same stats from the signal's closed form — so the test "
    "verifies the actual encode->bytes->decode path, not a fake.",
    tags=("multimodal",),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_wav_stats(synth_wav_payloads(docs))


@register(
    "multimodal_bmp_decode",
    oracle=(
        "SELECT doc_id, CAST(4 + doc_id % 4 AS BIGINT) AS width, "
        "CAST(2 + doc_id % 3 AS BIGINT) AS height, "
        "CAST(list_sum(list_transform(range(2 + doc_id % 3), y -> "
        "list_sum(list_transform(range(4 + doc_id % 4), x -> "
        "(doc_id + 3 * x + 7 * y) % 256 + (doc_id * 2 + x + y) % 256 "
        "+ (x * y + doc_id) % 256)))) AS BIGINT) AS px_sum FROM documents"
    ),
    doc="REAL image codec round trip, no external libs: per doc a genuine "
    "24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up BGR rows, 4-byte "
    "padding) is packed into the binary column, then decoded by parsing the "
    "header and pixel array; dimensions + RGB sum checked against the "
    "pattern's closed form — the image twin of multimodal_wav_decode.",
    tags=("multimodal",),
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_bmp_stats(synth_bmp_payloads(docs))


@register(
    "streaming_welford_stats",
    oracle=(
        "SELECT COUNT(*) AS n, "
        + sql_round_stable("CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)")
        + " AS mean, "
        + sql_round_stable(
            "sqrt(CAST(CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) "
            "- (CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)) "
            "* (CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)))"
        )
        + " AS std FROM events"
    ),
    doc="Structured Streaming global (n, mean, σ_pop): a real streaming job "
    "(availableNow -> memory sink) whose single state row is the Welford "
    "triple as exact decimal sufficient statistics (agg_welford streaming "
    "flavor, sampler_v02.py:81-87).",
    tags=("streaming", "agg_welford"),
    bench=False,  # streaming job startup dominates; batch twin is benched
)
def streaming_welford_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(stream_global_stats(events_stream(spark, sf_dir)))


@register(
    "streaming_hourly_counts",
    oracle=(
        "SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type, "
        "COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY window_start_us, event_type"
    ),
    doc="Watermarked tumbling-window streaming aggregation (1h windows, 2h "
    "watermark) run to completion via availableNow — the event-time windowed "
    "agg of SURVEY.md §2.11, checked against the batch date_trunc twin.",
    tags=("streaming",),
    bench=False,
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(stream_hourly_counts(events_stream(spark, sf_dir)))


@register(
    "streaming_user_stats",
    oracle=(
        "SELECT user_id, COUNT(*) AS n, "
        # Outer CAST: DuckDB SUM(BIGINT) -> HUGEINT -> float64 in pandas,
        # mismatching Spark's int64 in the driver's dtype-sensitive value-hash.
        "CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents, "
        "CAST(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0 "
        "/ COUNT(*) AS mean "
        "FROM events GROUP BY user_id"
    ),
    doc="Arbitrary-stateful streaming operator (applyInPandasWithState): "
    "per-user running (n, total_cents, mean) maintained in two-long state "
    "across micro-batches, emitted in update mode; integer-cents state makes "
    "the result batch-order independent and oracle-exact.",
    tags=("streaming", "stateful"),
    bench=False,
)
def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import stream_user_stats

    return run_available_now(
        stream_user_stats(events_stream(spark, sf_dir)), output_mode="update"
    )


@register(
    "streaming_scd2_intervals",
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
        "FROM isl GROUP BY user_id, island), "
        "iv AS (SELECT user_id, CAST(island AS BIGINT) AS seq, event_type, "
        "from_us, lead(from_us) OVER (PARTITION BY user_id ORDER BY island) "
        "- 1 AS to_us, CAST(n_rows AS BIGINT) AS n_rows FROM runs) "
        # the open tail run stays in streaming state and is never emitted
        "SELECT * FROM iv WHERE to_us IS NOT NULL"
    ),
    doc="Streaming SCD2 (applyInPandasWithState, append mode): per-user the "
    "open run lives in (string, 3 longs) state; closed [from, to] intervals "
    "are emitted immutably as micro-batches arrive — the streaming twin of "
    "scd2_user_event_intervals, oracle-checked against the batch "
    "gaps-and-islands SQL restricted to closed intervals.",
    tags=("streaming", "stateful", "scd2"),
    bench=False,
)
def streaming_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import stream_scd2_intervals

    return run_available_now(
        stream_scd2_intervals(events_stream(spark, sf_dir)), output_mode="append"
    )


@register(
    "streaming_interval_join",
    oracle=(
        "SELECT p.event_id AS purchase_id, v.event_id AS view_id "
        "FROM events p JOIN events v ON p.user_id = v.user_id "
        "AND p.event_type = 'purchase' AND v.event_type = 'view' "
        "AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts < p.ts"
    ),
    doc="Stream-stream interval self-join with watermarks on both sides "
    "(append mode, availableNow): the streaming twin of "
    "range_join_purchase_context, emitting (purchase, view) pairs with "
    "bounded join state; checked pair-for-pair against the batch SQL.",
    tags=("streaming", "range_join"),
    bench=False,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import stream_purchase_context_pairs

    return run_available_now(
        stream_purchase_context_pairs(events_stream(spark, sf_dir)),
        output_mode="append",
    )


@register(
    "streaming_dedup_events",
    oracle="SELECT event_id, user_id, event_type FROM events",
    doc="Watermarked streaming exact-dedup (dropDuplicatesWithinWatermark): "
    "the stream unioned with itself (2x every record) collapses back to "
    "exactly the distinct events; dedup state expires with the watermark so "
    "it is bounded by the duplicate window, not stream length.",
    tags=("streaming", "dedup"),
    bench=False,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import stream_dedup_doubled

    return run_available_now(
        stream_dedup_doubled(events_stream(spark, sf_dir)), output_mode="append"
    )
