"""Focused tests for the round-11 optimization machinery:

- ``sources.tables.spread`` is conditional: it repartitions a starved scan
  but passes a well-split source through untouched (the 100 TB contract —
  no accidental full-corpus shuffle, guide §2.4/§2.5).
- ``caching.checkpoint_shared`` memoizes one truncated leaf per (name,
  sf_dir) per family visit and drops it with the tracked persists.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from big_data_analytics_mini_projects_spark.caching import (
    _CHECKPOINTED,
    checkpoint_shared,
    release_persisted,
)
from big_data_analytics_mini_projects_spark.sources.tables import (
    _parse_size_bytes,
    load_table,
    spread,
)

from .conftest import SF_DIR


def test_spread_repartitions_single_split_scan(spark):
    df = load_table(spark, SF_DIR, "documents").select("doc_id")
    out = spread(df, partitions=4)
    assert out is not df, "single-file scan must be rebalanced"
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == 4
    # results unaffected
    assert out.count() == df.count()


def test_spread_passes_through_well_split_source(spark, tmp_path):
    path = os.path.join(str(tmp_path), "many_files.parquet")
    spark.range(0, 1000).repartition(8).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    out = spread(df, partitions=4)  # 8 files >= 4 requested -> no-op
    assert out is df, "well-split scan must pass through with no shuffle"


def test_parse_size_bytes_accepts_all_conf_forms():
    # the three observed conf string families: default-echo bytes, plain
    # integer, and human-suffixed (with and without the trailing b)
    assert _parse_size_bytes("134217728b") == 128 * 1024 * 1024
    assert _parse_size_bytes("134217728") == 128 * 1024 * 1024
    assert _parse_size_bytes("128m") == 128 * 1024 * 1024
    assert _parse_size_bytes("128mb") == 128 * 1024 * 1024
    assert _parse_size_bytes("1g") == 1024 ** 3
    assert _parse_size_bytes("4k") == 4096


def test_spread_repartitions_packed_small_files(spark, tmp_path):
    # 16 tiny files >= 8 requested partitions by COUNT, but Spark's
    # open-cost packing folds them into fewer splits than 8 at the test
    # session's parallelism — the probe must see through the file count
    # and keep the repartition (round-11 ADVICE).
    path = os.path.join(str(tmp_path), "tiny_files.parquet")
    spark.range(0, 160).repartition(16).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    out = spread(df, partitions=8)
    assert out is not df, "packed tiny files must still be rebalanced"
    assert out.count() == df.count()


def test_checkpoint_shared_memoizes_and_releases(spark):
    release_persisted()
    base = spark.range(0, 10).withColumn("x", F.col("id") * 2)
    calls = []

    def build():
        calls.append(1)
        return base

    a = checkpoint_shared("t.frame", SF_DIR, build)
    b = checkpoint_shared("t.frame", SF_DIR, build)
    assert a is b, "memo must hand every consumer the same leaf object"
    assert len(calls) == 1, "thunk must not re-run on memo hits"
    # the leaf is a truncated plan, values unchanged
    assert sorted(r["x"] for r in a.collect()) == [i * 2 for i in range(10)]
    assert "range" not in a._jdf.queryExecution().analyzed().toString().lower()

    release_persisted()
    assert ("t.frame", SF_DIR) not in _CHECKPOINTED
    c = checkpoint_shared("t.frame", SF_DIR, build)
    assert c is not a and len(calls) == 2, "family boundary must drop the memo"
    release_persisted()


@pytest.mark.parametrize("active", ["other_session", "no_session"])
def test_checkpoint_shared_rebuilds_on_session_mismatch(spark, monkeypatch, active):
    """A memo entry built by another session (a restart dropped its
    checkpoint blocks), or met while no session is active, is a miss: the
    thunk runs again and its leaf replaces the entry."""
    release_persisted()
    key = ("t.session", SF_DIR)
    sentinel = object()
    _CHECKPOINTED[key] = (sentinel, spark.range(0, 1))
    if active == "no_session":
        monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    calls = []

    def build():
        calls.append(1)
        return spark.range(0, 5)

    out = checkpoint_shared("t.session", SF_DIR, build)
    assert len(calls) == 1, "a session mismatch must re-run the thunk"
    assert out.count() == 5
    assert _CHECKPOINTED[key][0] is not sentinel
    assert _CHECKPOINTED[key][1] is out
    release_persisted()
