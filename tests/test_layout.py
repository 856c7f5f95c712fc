"""Tree-level small-file compaction: leaf discovery, row-multiset
preservation across the whole Hive tree, healthy-partition skip, and the
per-partition report shape. (The flat-dir kernel's own protocol —
snapshot read, concurrent-append safety — is covered in test_etl.py.)"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.operators.layout import (
    compact_partitions,
    compaction_report,
    partition_file_stats,
)


@pytest.fixture()
def lake(spark, tmp_path):
    path = str(tmp_path / "lake")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 7).alias("v"),
        F.when(F.col("id") % 2 == 0, "d1").otherwise("d2").alias("day"),
    )
    # d1 oversplit into 10 files; d2 healthy with 1
    df.filter("day = 'd1'").repartition(10).write.partitionBy("day").parquet(path)
    df.filter("day = 'd2'").coalesce(1).write.mode("append").partitionBy(
        "day"
    ).parquet(path)
    return path, df


def test_stats_report_counts_files_per_leaf(spark, lake):
    path, _ = lake
    stats = {s.partition: s.files_before for s in partition_file_stats(spark, path)}
    assert stats == {"day=d1": 10, "day=d2": 1}


def test_compact_preserves_rows_and_merges_files(spark, lake):
    path, df = lake
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    results = compact_partitions(spark, path, target_file_mb=1024)
    # only the oversplit partition is rewritten
    assert [r.partition for r in results] == ["day=d1"]
    assert results[0].files_before == 10 and results[0].files_after == 1
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    # kernel temp dir cleaned up; nothing reader-visible added
    assert not any("__compact_tmp__" in d for d in os.listdir(f"{path}/day=d1"))
    # idempotent: a second run finds nothing oversplit
    assert compact_partitions(spark, path, target_file_mb=1024) == []


def test_compact_splits_to_target_size(spark, lake):
    path, _ = lake
    # tiny target -> more than one output file, still fewer than 10
    results = compact_partitions(spark, path, target_file_mb=0.008)
    r = {x.partition: x for x in results}
    assert "day=d1" in r
    import math

    want = max(1, math.ceil(r["day=d1"].bytes / (0.008 * 1024 * 1024)))
    assert r["day=d1"].files_after == min(want, 10)
    assert 1 < r["day=d1"].files_after < 10


def test_flat_directory_is_a_single_unnamed_leaf(spark, tmp_path):
    path = str(tmp_path / "flat")
    spark.range(100).repartition(5).write.parquet(path)
    stats = partition_file_stats(spark, path)
    assert [s.partition for s in stats] == [""] and stats[0].files_before == 5
    results = compact_partitions(spark, path, target_file_mb=1024)
    assert results[0].partition == "" and results[0].files_after == 1


def test_compact_uri_root(spark, tmp_path):
    """A ``file://`` root is walked and compacted through the Hadoop
    FileSystem like the plain path."""
    path = str(tmp_path / "flat")
    spark.range(100).repartition(4).write.parquet(path)
    results = compact_partitions(spark, "file://" + path, target_file_mb=1024)
    assert [(r.partition, r.files_before, r.files_after) for r in results] == [
        ("", 4, 1)
    ]
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(100))


def test_report_dataframe_shape(spark, lake):
    path, _ = lake
    rep = compaction_report(
        spark, compact_partitions(spark, path, target_file_mb=1024)
    )
    row = rep.first()
    assert rep.columns == ["partition", "files_before", "files_after", "bytes"]
    assert row.partition == "day=d1" and row.files_after == 1


def test_bad_target_rejected(spark, lake):
    path, _ = lake
    with pytest.raises(ValueError):
        compact_partitions(spark, path, target_file_mb=0)


def test_staging_and_tmp_subtrees_are_never_leaves(spark, lake):
    """A concurrent writer's _temporary staging tree and a crashed
    compaction's *.__compact_tmp__ dir hold real part-*.parquet files but
    must never be treated as compactable leaves — compacting one would
    read and DELETE in-flight or stale data (r10 advice, medium)."""
    path, df = lake
    staging = os.path.join(path, "_temporary", "0", "task-1")
    os.makedirs(staging)
    df.limit(5).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(staging, "inner")
    )
    # tmp sibling of a partition that no longer exists (day=d9): nothing
    # will reclaim it, so it must be invisible to the walk AND untouched
    # (day=d1's own kernel legitimately reclaims day=d1.__compact_tmp__)
    crashed = os.path.join(path, "day=d9.__compact_tmp__")
    df.limit(5).coalesce(1).write.mode("overwrite").parquet(crashed)
    hidden = os.path.join(path, ".hidden")
    df.limit(5).coalesce(1).write.mode("overwrite").parquet(hidden)

    stats = {s.partition for s in partition_file_stats(spark, path)}
    assert stats == {"day=d1", "day=d2"}
    results = compact_partitions(spark, path, target_file_mb=128)
    assert {r.partition for r in results} == {"day=d1"}
    # the staged/stale files themselves were never touched
    assert any(f.endswith(".parquet") for f in os.listdir(os.path.join(staging, "inner")))
    assert any(f.endswith(".parquet") for f in os.listdir(crashed))
