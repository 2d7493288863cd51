"""Focused tests for the round-11 optimization machinery:

- ``sources.tables.spread`` is conditional: it repartitions a starved scan
  but passes a well-split source through untouched (the 100 TB contract —
  no accidental full-corpus shuffle, guide §2.4/§2.5).
- ``caching.checkpoint_shared`` memoizes one truncated leaf per (name,
  sf_dir) per family visit and drops it with the tracked persists; a
  driver-side LocalRelation is memoized as it is, and the driver-loop
  outputs (connected-components labels, BPE vocabulary) ride that memo.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from big_data_analytics_mini_projects_spark.caching import (
    _CHECKPOINTED,
    checkpoint_shared,
    release_persisted,
)
from big_data_analytics_mini_projects_spark.plans import similarityq
from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
from big_data_analytics_mini_projects_spark.sources.readers import local_relation
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


@pytest.mark.parametrize("rows", [[(1, "a"), (2, "b")], []], ids=["rows", "empty"])
def test_checkpoint_shared_passes_local_relations_through(spark, rows):
    """A driver-side result is memoized as it is, not checkpointed into an
    RDD scan. The empty form of ``local_relation`` (a null row under LIMIT
    0, for which ``isLocal()`` is False) counts too."""
    release_persisted()
    calls = []

    def build():
        calls.append(1)
        return local_relation(
            spark, pd.DataFrame(rows, columns=["k", "v"]), "k long, v string"
        )

    a = checkpoint_shared("t.local", SF_DIR, build)
    b = checkpoint_shared("t.local", SF_DIR, build)
    assert a is b and len(calls) == 1
    plan = a._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    assert plan.nodeName() == "LocalRelation", plan.toString()
    assert sorted(tuple(r) for r in a.collect()) == rows

    release_persisted()
    assert ("t.local", SF_DIR) not in _CHECKPOINTED
    assert checkpoint_shared("t.local", SF_DIR, build) is not a and len(calls) == 2
    release_persisted()


def _group_jobs(sc, group: str, fn) -> int:
    """Spark jobs started while ``fn`` runs under job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_loop_outputs_memoized_per_family_visit(spark, sf_dir, monkeypatch):
    """Within one family visit the connected-components labels are computed
    once, whichever query asks first, and a repeated bpe_merge_curve build
    reads its vocabulary back without a Spark job. Entering another family
    drops both memos, so the next build computes again."""
    calls = []
    cc = similarityq.connected_components

    def counted(pairs):
        calls.append(1)
        return cc(pairs)

    monkeypatch.setattr(similarityq, "connected_components", counted)
    release_persisted()
    for name in ("dedup_clusters", "dedup_apply_canonical", "dedup_clusters"):
        QUERIES[name].build(spark, sf_dir)
    assert len(calls) == 1, "one family visit must share one CC labels frame"
    QUERIES["cluster_size_histogram"].build(spark, sf_dir)  # next family
    assert len(calls) == 2

    sc = spark.sparkContext
    bpe = QUERIES["bpe_merge_curve"]
    first = _group_jobs(sc, "t.bpe_first", lambda: bpe.build(spark, sf_dir))
    assert first >= 1, "a family's first build collects the vocabulary"
    repeat = _group_jobs(sc, "t.bpe_repeat", lambda: bpe.build(spark, sf_dir))
    assert repeat == 0, "a repeat must read the memoized vocabulary"
    QUERIES["wordcount_topk"].build(spark, sf_dir)  # another family
    again = _group_jobs(sc, "t.bpe_again", lambda: bpe.build(spark, sf_dir))
    assert again >= 1, "a new family visit must collect again"
    release_persisted()
