"""Stream≡batch equivalence as a declared driver query (round-4 verdict
item 6). It keeps a module of its own: moved into another module it would
change its catalog position and its cache family, since the import order
in plans/catalog.py sets both (pinned by
tests/test_plan_hygiene.py::test_catalog_pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from ..streaming.stream_stats import events_stream, run_available_now
from .registry import register


@register(
    "streaming_batch_equiv_hourly",
    oracle=(
        "SELECT CAST(NULL AS BIGINT) AS window_start_us, "
        "CAST(NULL AS VARCHAR) AS event_type, "
        "CAST(NULL AS BIGINT) AS n_stream, CAST(NULL AS BIGINT) AS n_batch, "
        "CAST(NULL AS DOUBLE) AS sum_stream, CAST(NULL AS DOUBLE) AS sum_batch "
        "WHERE FALSE"
    ),
    doc="Stream≡batch equivalence AS A DRIVER VERDICT (round-4 verdict item "
    "6): the watermarked hourly-window aggregation runs twice through the "
    "SAME builder (streaming/stream_stats.stream_hourly_counts) — once as a "
    "real availableNow stream, once over the batch read (withWatermark is a "
    "no-op on batch) — and the query returns the full-outer-join MISMATCH "
    "rows. Expected output: zero rows (oracle: the empty frame with this "
    "schema), so any stream/batch divergence — late-data handling, state "
    "merge, decimal sum — flips the driver row red instead of living only "
    "in tests/test_streaming.py.",
    tags=("streaming", "window", "qa"),
    bench=False,
)
def streaming_batch_equiv_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream_stats import stream_hourly_counts

    streamed = run_available_now(
        stream_hourly_counts(events_stream(spark, sf_dir))
    ).select(
        "window_start_us",
        "event_type",
        F.col("n").alias("n_stream"),
        F.col("sum_value").alias("sum_stream"),
    )
    batch = stream_hourly_counts(load_table(spark, sf_dir, "events")).select(
        "window_start_us",
        "event_type",
        F.col("n").alias("n_batch"),
        F.col("sum_value").alias("sum_batch"),
    )
    j = streamed.join(batch, ["window_start_us", "event_type"], "full_outer")
    mismatch = ~(
        F.col("n_stream").eqNullSafe(F.col("n_batch"))
        & F.col("sum_stream").eqNullSafe(F.col("sum_batch"))
    )
    return j.filter(mismatch).select(
        "window_start_us", "event_type", "n_stream", "n_batch",
        "sum_stream", "sum_batch",
    )
