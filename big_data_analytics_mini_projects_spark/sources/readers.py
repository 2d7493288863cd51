"""Source operators mirroring the reference's ingestion surface (SURVEY.md §2.1).

- ``scan_text_json``  <- sc.textFile over JSON-lines (a3_p1.py:12, a3_p2.py:13)
- ``scan_csv``        <- positional CSV with seek-based two-pass (sampler_v02.py:41-48)
- ``scan_mem``        <- sc.parallelize / constructor data list (MRSystemSimulator2020.py:46)
- ``scan_coo``        <- scipy-COO sparse matrix records (MRSystemSimulator2020.py:296-301)
- ``local_relation``  <- a driver-side pandas result, handed back as a LocalRelation

All return DataFrames with explicit schemas (the reference is schema-on-read with
KeyError fallbacks; we validate instead — SURVEY.md §1.3).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Reviews schema from Assignment 3 Description.htm:90 / a3_p1.py:17-27.
REVIEWS_SCHEMA = StructType(
    [
        StructField("overall", DoubleType()),
        StructField("verified", StringType()),  # may arrive bool or str; normalized below
        StructField("reviewTime", StringType()),
        StructField("reviewerID", StringType()),
        StructField("asin", StringType()),
        StructField("reviewText", StringType()),
        StructField("summary", StringType()),
    ]
)

#: Transactions schema from Assignment 1 Description.htm:38
#: ("record_id, date, user_id, amount"), consumed positionally at sampler_v02.py:48.
TRANSACTIONS_SCHEMA = StructType(
    [
        StructField("record_id", LongType()),
        StructField("date", StringType()),
        StructField("user_id", StringType()),
        StructField("amount", DoubleType()),
    ]
)

#: COO sparse-matrix cell schema (MRSystemSimulator2020.py:296-301; Part_2.pdf p1).
COO_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("i", LongType()),
        StructField("j", LongType()),
        StructField("v", DoubleType()),
    ]
)


def scan_text_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines scan with the explicit REVIEWS_SCHEMA (gzip transparent,
    like HDFS text).

    Reference reads gzipped JSON-lines with json.loads per line and KeyError
    fallbacks (a3_p1.py:17-27); here missing fields become NULLs and
    ``verified`` absent -> false (the documented assumption, a3_p1.py:26-27).
    """
    df = spark.read.schema(REVIEWS_SCHEMA).json(path)
    if "verified" in df.columns:
        df = df.withColumn(
            "verified",
            F.coalesce(F.lower(F.col("verified")).cast("boolean"), F.lit(False)),
        )
    return df


def scan_csv(spark: SparkSession, path: str) -> DataFrame:
    """Positional headerless CSV scan with TRANSACTIONS_SCHEMA
    (sampler_v02.py:41,48).

    The reference re-reads via ``f.seek(0)`` for its second pass; in Spark a
    re-read is simply a second scan of the same immutable source — or no
    re-read at all once the plan is declarative.
    """
    return spark.read.csv(path, schema=TRANSACTIONS_SCHEMA, header=False)


def scan_mem(spark: SparkSession, rows: Iterable, schema) -> DataFrame:
    """In-memory collection source (sc.parallelize / simulator ``data`` list)."""
    return spark.createDataFrame(list(rows), schema)


def local_relation(spark: SparkSession, pdf, schema: str) -> DataFrame:
    """A driver-side result (a pandas frame) handed back as a JVM
    ``LocalRelation``: ``createDataFrame(pandas_df, schema)`` ships it
    through Arrow. ``createDataFrame(list)``, and pyspark's route for an
    EMPTY pandas frame, plan a Python-RDD scan instead, whose first use
    starts the Python workers (seconds). So an empty result goes over as
    one null row under ``LIMIT 0``, which the optimizer folds into an empty
    LocalRelation."""
    if len(pdf):
        return spark.createDataFrame(pdf, schema)
    return spark.createDataFrame(pdf.reindex([0]), schema).limit(0)


def scan_coo(spark: SparkSession, cells: Iterable[tuple[str, int, int, float]]) -> DataFrame:
    """Sparse COO matrix source: (name, i, j, v) cell records."""
    return spark.createDataFrame(
        [(str(n), int(i), int(j), float(v)) for (n, i, j, v) in cells], COO_SCHEMA
    )
