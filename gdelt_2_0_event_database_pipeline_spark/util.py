"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def single_partition_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A local-rows DataFrame materialized as ONE partition.

    ``spark.createDataFrame(rows, schema)`` spreads even one row over
    ``defaultParallelism`` mostly-empty Python partitions; a later
    ``coalesce(1)`` (the natural move before writing a tiny metadata
    file) then iterates ALL of them inside a single task — each empty
    partition still pays a Python-runner round trip, ~4.5 s for a 1-row
    write at local[32] (measured; the ledger-commit hot path). Seeding
    from ``parallelize(rows, numSlices=1)`` gives the same frame as one
    partition: one task, one Python pass, ~0.2 s.

    For tiny metadata frames only — a single partition is the point.
    """
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def hadoop_fs(spark: SparkSession, path: str):
    """(jvm, Hadoop FileSystem, Path) for ``path`` — the one seam through
    which the package lists, renames, deletes and commit-marks at-rest
    state. Going through the session's Hadoop configuration keeps every
    such call scheme-agnostic (local, HDFS, object stores); Spark has no
    atomic-rename or marker API of its own."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs, hpath


def is_hidden(name: str) -> bool:
    """Spark's and Hadoop's hidden-name rule: a name starting with ``_`` or
    ``.`` is a marker, checksum, metadata or staging entry, never data."""
    return name.startswith(("_", "."))


def list_visible(spark: SparkSession, path: str) -> list:
    """Hadoop ``FileStatus`` of every child of ``path`` that is not
    :func:`hidden <is_hidden>` — ``os.listdir`` for any scheme the session
    reads, and like it, raises ``FileNotFoundError`` for a missing path."""
    _, fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    return [st for st in fs.listStatus(p) if not is_hidden(st.getPath().getName())]
