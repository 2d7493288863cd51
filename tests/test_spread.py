"""``sources.tables.spread``'s split estimate against what Spark really reads.

The estimate (``_split_estimate``) must never exceed the non-empty input
partitions Spark's file scan produces, so ``spread`` never skips a
rebalance a starved scan needs; and it must count a multi-row-group file's
byte-range splits, so a well-split source passes through with no
round-robin exchange. Layouts are written with pyarrow under lowered
``spark.sql.files.*`` split confs, so the files stay small.
"""

from __future__ import annotations

import contextlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame

from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
from big_data_analytics_mini_projects_spark.sources.tables import (
    TABLE_NAMES,
    _parse_size_bytes,
    _split_estimate,
    load_table,
    spread,
)

from .compare import assert_df_equal
from .conftest import SF_DIR

#: the reference testdata root, one directory per scale
TESTDATA = os.path.dirname(SF_DIR)


@contextlib.contextmanager
def split_confs(spark, max_partition_bytes: int, open_cost: int):
    """Set the two file-split confs for the block, then restore them."""
    keys = {
        "spark.sql.files.maxPartitionBytes": max_partition_bytes,
        "spark.sql.files.openCostInBytes": open_cost,
    }
    was_set = dict(spark.conf.getAll)
    try:
        for k, v in keys.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k in keys:
            if k in was_set:
                spark.conf.set(k, was_set[k])
            else:
                spark.conf.unset(k)


def _table(rows: int, seed: int) -> pa.Table:
    # random longs barely compress, so file sizes track row counts
    rng = np.random.default_rng(seed)
    return pa.table({"k": np.arange(rows), "v": rng.integers(0, 2**62, rows)})


def _write(path, rows: int, row_groups: int, seed: int = 0) -> str:
    pq.write_table(_table(rows, seed), path, row_group_size=-(-rows // row_groups))
    return str(path)


def _nonempty_partitions(df: DataFrame) -> int:
    return sum(1 for n in df.rdd.glom().map(len).collect() if n)


def _one_file_8_groups(d):
    _write(d / "a.parquet", 8000, 8)
    return str(d), 32 * 1024, 1024


def _one_group_many_ranges(d):
    _write(d / "a.parquet", 8000, 1)
    return str(d), 16 * 1024, 1024


def _16_tiny_files(d):
    for i in range(16):
        _write(d / f"part-{i:02d}.parquet", 20, 1, seed=i)
    return str(d), 32 * 1024, 1024


def _3_files_3_groups(d):
    for i in range(3):
        _write(d / f"part-{i}.parquet", 3000, 3, seed=i)
    return str(d), 32 * 1024, 1024


def _near_multiple(over: bool):
    """One 6-group file whose size is within a few bytes of 5 x
    maxSplitBytes: just under (5 ranges) or just over (a 6th, tiny range
    that holds no row-group midpoint)."""

    def layout(d):
        path = _write(d / "a.parquet", 6000, 6)
        size = os.path.getsize(path)
        return str(d), ((size - 1) // 5 if over else size // 5 + 1), 1024

    return layout


LAYOUTS = {
    "one_file_8_row_groups": _one_file_8_groups,
    "one_row_group_many_ranges": _one_group_many_ranges,
    "16_tiny_files": _16_tiny_files,
    "3_files_3_row_groups": _3_files_3_groups,
    "size_just_under_5_splits": _near_multiple(over=False),
    "size_just_over_5_splits": _near_multiple(over=True),
}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_estimate_never_exceeds_nonempty_partitions(spark, tmp_path, layout):
    path, max_bytes, open_cost = LAYOUTS[layout](tmp_path)
    with split_confs(spark, max_bytes, open_cost):
        df = spark.read.parquet(path)
        est = _split_estimate(spark, df.inputFiles())
        actual = _nonempty_partitions(df)
        assert 0 < est <= actual, f"{layout}: estimate {est} vs {actual} non-empty partitions"
        assert (spread(df, 4) is df) == (actual >= 4), (
            f"{layout}: {actual} non-empty partitions, estimate {est}"
        )


@pytest.mark.parametrize("probe", ["getsize", "footer"])
def test_spread_passes_through_when_probe_raises(spark, tmp_path, monkeypatch, probe):
    """A listing of >= n files is already >= n splits: a size or footer
    probe that raises after it must not cost a full shuffle."""
    path = str(tmp_path / "eight_files.parquet")
    spark.range(0, 8000).repartition(8).write.parquet(path)
    real_getsize = os.path.getsize

    def boom(*args, **kwargs):
        raise OSError("probe failed")

    def getsize(p):
        if str(tmp_path) in str(p):
            raise OSError("probe failed")
        return real_getsize(p)

    if probe == "getsize":
        monkeypatch.setattr(os.path, "getsize", getsize)
    else:
        monkeypatch.setattr(pq, "read_metadata", boom)
    # tiny splits, so every file spans several ranges and its footer is read
    with split_confs(spark, 1024, 64):
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) == 8
        assert spread(df, 4) is df


def test_spread_repartitions_when_listing_raises(spark, monkeypatch):
    df = spark.range(0, 100)

    def boom(self):
        raise RuntimeError("no listing")

    monkeypatch.setattr(DataFrame, "inputFiles", boom)
    out = spread(df, 4)
    assert out is not df
    assert out.rdd.getNumPartitions() == 4


def test_tpch_q1_multi_row_group_lineitem_has_no_round_robin(spark, tmp_path):
    """The claimed win, pinned: Q1 over a multi-row-group lineitem that Spark
    already reads as >= 4 non-empty splits runs with no round-robin
    exchange, and its rows still equal the DuckDB oracle."""
    src = f"{TESTDATA}/sf0.01/lineitem.parquet"
    if not os.path.exists(src):
        pytest.skip("sf0.01 testdata not present")
    table = pq.read_table(src)
    pq.write_table(table, tmp_path / "lineitem.parquet", row_group_size=-(-table.num_rows // 8))
    size = os.path.getsize(tmp_path / "lineitem.parquet")
    with split_confs(spark, size // 6, 1024):
        df = QUERIES["tpch_q1_pricing_summary"].build(spark, str(tmp_path))
        df.collect()
        plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
        assert "RoundRobinPartitioning" not in plan, plan
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{src}')")
            assert_df_equal(df, con, QUERIES["tpch_q1_pricing_summary"].oracle)
        finally:
            con.close()


def _capped_file_count(spark, df: DataFrame, n: int) -> int:
    """The estimate ``spread`` used before row-group counting: the file
    count, and only when that reached ``n``, capped by the ceiling of the
    open-cost-charged total over maxSplitBytes."""
    files = df.inputFiles()
    est = len(files)
    if est and est >= n:
        conf = spark.conf
        max_pb = _parse_size_bytes(conf.get("spark.sql.files.maxPartitionBytes"))
        open_cost = _parse_size_bytes(conf.get("spark.sql.files.openCostInBytes"))
        total = sum(os.path.getsize(f[len("file:"):]) for f in files) + len(files) * open_cost
        max_split = min(max_pb, max(open_cost, total // spark.sparkContext.defaultParallelism))
        est = min(est, -(-total // max_split))
    return est


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_testdata_decisions_unchanged(spark, scale):
    """Every reference table is one single-row-group file, so row-group
    counting changes no pass/repartition decision there and no tier-1 plan
    drifts."""
    sf_dir = f"{TESTDATA}/{scale}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{scale} testdata not present")
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        for n in (1, 2, 4, 8):
            assert (spread(df, n) is df) == (_capped_file_count(spark, df, n) >= n), (name, n)
