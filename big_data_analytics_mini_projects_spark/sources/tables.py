"""Loaders for the driver's deterministic parquet testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.

Scale notes: at 100 TB these would be partitioned parquet/iceberg directories;
``spark.read.parquet`` on a directory is the identical call. The only local
quirk handled here is the nanosecond timestamp encoding of ``events.ts``
(Spark reads it as long nanos under ``spark.sql.legacy.parquet.nanosAsLong``;
we derive ``ts_us`` (epoch micros, long) and a proper timestamp column so both
epoch-based arithmetic and event-time windowing are available downstream).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import ensure_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing timestamp encodings."""
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dtypes = dict(df.dtypes)
        if dtypes.get("ts") == "bigint":
            # TIMESTAMP(NANOS) read as long nanos: keep epoch-micros long for
            # engine-neutral arithmetic + a real timestamp for streaming windows.
            df = df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
                "ts", F.timestamp_micros(F.col("ts_us"))
            )
        elif dtypes.get("ts") == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as NTZ: the
            # naive value means "as if UTC" (matching the oracle's
            # epoch_us), so cast under the pinned UTC session tz for epoch
            # micros, then rebuild a TIMESTAMP column for event-time
            # windowing (unix_micros/watermarks reject NTZ).
            df = df.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            ).withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        else:  # already a tz-aware timestamp
            df = df.withColumn("ts_us", F.unix_micros(F.col("ts")))
    return df


def _parse_size_bytes(s: str) -> int:
    """Parse a Spark byte-size conf string: plain integers ("134217728"),
    byte-suffixed ("134217728b") and k/m/g/t/p forms with optional trailing
    b ("128m", "128mb", "1g") — the grammar of Spark's JavaUtils
    byteStringAs, which `spark.sql.files.maxPartitionBytes` round-trips
    through (a user-set "128m" previously killed the probe; round-11
    ADVICE)."""
    s = s.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmgtp":
        mult = 1024 ** ("kmgtp".index(s[-1]) + 1)
        s = s[:-1]
    return int(s) * mult


def _row_group_midpoints(path: str):
    """Byte midpoint of each row group in a local parquet file, as
    parquet-mr computes it to assign the group to a split: the first
    column chunk's start (dictionary page if it comes first) plus half the
    group's compressed size. Reads the footer only."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        first = rg.column(0)
        start = first.data_page_offset
        if first.has_dictionary_page:
            start = min(start, first.dictionary_page_offset)
        size = sum(rg.column(j).total_compressed_size for j in range(rg.num_columns))
        yield start + size // 2


def _split_estimate(spark: SparkSession, files: list[str]) -> int:
    """Lower bound on the non-empty input partitions Spark's file scan makes
    of ``files``, computed on the driver with no job.

    Mirrors FilePartition: maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalBytes / defaultParallelism)), with every file
    charged openCostInBytes; a file is cut into ceil(size / maxSplitBytes)
    byte ranges; the ranges are packed next-fit decreasing, each charged
    openCostInBytes. A parquet range reads exactly the row groups whose
    midpoint it holds, so only those ranges are packed. Next-fit over a
    subsequence opens no more bins than the full sequence has bins holding
    a subsequence item, so the count never exceeds Spark's non-empty
    partitions. Only a file spanning several ranges has its footer read: a
    file within one range, or a non-parquet file, counts one non-empty
    range, and a non-local listing counts one split per file."""
    local = [f[len("file:"):] for f in files if f.startswith("file:")]
    if len(local) < len(files):
        return len(files)
    conf = spark.conf
    max_pb = _parse_size_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    open_cost = _parse_size_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304b"))
    sizes = [os.path.getsize(f) for f in local]
    total = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_pb, max(open_cost, total // max(1, spark.sparkContext.defaultParallelism)))
    held = []  # lengths of the byte ranges that read at least one row group
    for path, size in zip(local, sizes):
        if size > max_split and path.endswith(".parquet"):
            starts = {m // max_split * max_split for m in _row_group_midpoints(path)}
        else:
            starts = {0} if size else set()
        held += [min(max_split, size - s) for s in starts]
    parts = current = 0
    for length in sorted(held, reverse=True):
        if current and current + length > max_split:
            parts, current = parts + 1, 0
        current += length + open_cost
    return parts + bool(current)


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition a scan before per-row-EXPENSIVE expansion (tokenize,
    shingle, per-seed hashing, trigram explode) — ONLY when the scan is
    actually starved for parallelism.

    A single small parquet file scans as ONE input split, which serializes
    the entire downstream explode/hash pipeline onto one core until the
    first shuffle — measured 6.6 s single-threaded vs <1 s spread for the
    trigram pipeline at sf0.1. One cheap exchange of the compact base rows
    buys full parallelism for the expansion. Keep it AFTER any scan-level
    filter so pushdown still reaches parquet.

    At 100 TB the input arrives in thousands of splits and an unconditional
    ``repartition(n)`` would be a FULL round-robin shuffle of the corpus
    (plus the sort-before-repartition each map task pays, SPARK-23207) for
    nothing — exactly the accidental exchange the optimization guide warns
    about (§2.4). So the frame passes through untouched when the scan
    already yields >= ``partitions`` (default: the session's default
    parallelism) NON-EMPTY input splits. The count (``_split_estimate``)
    is the one Spark's file scan makes: each file is cut into byte ranges,
    a parquet range reads the row groups whose midpoint it holds, and the
    ranges that read something are packed as Spark packs them. So one large
    multi-row-group file counts its row-group splits, while a
    single-row-group file counts one split however many ranges it spans.
    The probe is a file listing plus footer reads of multi-range files on
    the driver; ``df.rdd.getNumPartitions()`` would compile the physical
    plan (0.1-0.2 s per call, measured) and still count empty splits.

    A pass-through returns ``df`` itself, so ``spread(df) is df`` tells
    whether an exchange was added. If the listing fails the frame is
    repartitioned; if only the size or footer probe fails, the listing's
    file count stands in for the estimate. Results are identical either
    way: every consumer is an exchange-insensitive expansion/aggregation."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df.repartition(n)
    try:
        est = _split_estimate(df.sparkSession, files)
    except Exception:
        est = len(files)
    return df if est >= n else df.repartition(n)
