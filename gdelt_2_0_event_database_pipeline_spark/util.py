"""Small shared helpers."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession


def single_partition_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A local-rows DataFrame materialized as ONE partition.

    ``spark.createDataFrame(rows, schema)`` spreads even one row over
    ``defaultParallelism`` mostly-empty Python partitions; a later
    ``coalesce(1)`` (the natural move before writing a tiny table) then
    iterates ALL of them inside a single task — each empty partition
    still pays a Python-runner round trip, ~4.5 s for a 1-row write at
    local[32] (measured). Seeding from ``parallelize(rows, numSlices=1)``
    gives the same frame as one partition: one task, one Python pass,
    ~0.2 s. The callers are small parquet tables that stay Spark tables
    (``lake.mark_processed``'s manifest, the ANN drift sink); a small
    JSON artifact needs no job at all (:func:`write_json_rows`).

    For tiny frames only — a single partition is the point.
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


def write_json_rows(spark: SparkSession, path: str, rows, mode: str = "error") -> None:
    """Write ``rows`` (dicts) as ONE JSON Lines file, ``<path>/part-00000.json``
    — the at-rest form of the package's small artifacts (index and model
    metadata, oracle sidecars), written from the driver through
    :func:`hadoop_fs` instead of by a Spark job.

    The layout is what Spark's JSON writer leaves minus its sidecars, so
    ``spark.read.json(path)`` and DuckDB's ``read_json_auto('<path>/*.json')``
    read it unchanged. Keys keep the row's order; keys whose value is None
    are omitted (Spark's default). NaN/Inf have no JSON spelling and raise
    ``ValueError``. The bytes go to a hidden temp name inside ``path`` and
    reach the visible name by one checked rename, so a reader never sees a
    partial file. ``mode``: ``"error"`` raises ``FileExistsError`` if
    ``path`` exists; ``"overwrite"`` deletes it first."""
    if mode not in ("error", "overwrite"):
        raise ValueError(f"write_json_rows mode must be 'error' or 'overwrite', got {mode!r}")
    text = "".join(
        json.dumps({k: v for k, v in row.items() if v is not None},
                   allow_nan=False, ensure_ascii=False) + "\n"
        for row in rows
    )
    jvm, fs, root = hadoop_fs(spark, path)
    if fs.exists(root):
        if mode == "error":
            raise FileExistsError(f"path {path} already exists")
        if not fs.delete(root, True):
            raise IOError(f"could not delete {path} before overwriting it")
    Path = jvm.org.apache.hadoop.fs.Path
    tmp = Path(root, ".part-00000.json.tmp")
    stream = fs.create(tmp, False)
    try:
        stream.write(text.encode("utf-8"))
    finally:
        stream.close()
    dest = Path(root, "part-00000.json")
    if not fs.rename(tmp, dest):
        raise IOError(f"rename {tmp} -> {dest} returned false")


def read_json_rows(spark: SparkSession, path: str) -> list[dict]:
    """One dict per non-blank line of every visible, non-empty file under
    ``path``, in file-name order — the reader of :func:`write_json_rows`
    output and of directories Spark's JSON writer left (``_SUCCESS`` and
    ``.crc`` sidecars are hidden). Raises ``FileNotFoundError`` for a
    missing path and a ``ValueError`` naming ``path`` for a line that is
    not JSON. Lines split on ``\\n`` only, as Spark's reader does: a raw
    U+2028 inside a string value is data, not a line break."""
    jvm, fs, _ = hadoop_fs(spark, path)
    statuses = sorted(list_visible(spark, path), key=lambda st: st.getPath().getName())
    rows = []
    for st in statuses:
        if not st.isFile() or st.getLen() == 0:
            continue
        stream = fs.open(st.getPath())
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        for line in text.split("\n"):
            if not line.strip():
                continue
            try:
                rows.append(json.loads(line))
            except ValueError as e:
                raise ValueError(f"unparseable JSON at {path}: {e}") from e
    return rows
