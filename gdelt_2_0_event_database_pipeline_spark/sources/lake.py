"""Parquet-lake access: flat + Hive-partitioned union reads, the NULL-drop
filter stage, and idempotent incremental processing (SURVEY.md §2.1
S11–S13, §2.2 P1, §2.1 S10).

Reference behaviors re-expressed:
- flat/historical union (``filter.py:84-92``, ``samplers.py:300-316``) →
  a multi-path ``spark.read.parquet`` / ``unionByName``; reading the
  historical tree *as a partitioned directory* restores true directory-level
  partition pruning that the reference's flat-file-list scan forfeits
  (SURVEY.md §4);
- NULL-drop with missing-column tolerance + retention report
  (``filter.py:155-249``);
- ``.done``-marker idempotency (``converter.py:118-125``) → a processed-file
  manifest parquet, diffed against the input listing;
- ``.done``-marker crash safety → the package's one versioned-directory
  rule (``versioned_write``, ``operators.pq.refit_pq_index``): version N
  is ``<root>/v_%05d``, visible only once one atomic ``_COMMITTED`` marker
  creation succeeds, so a write that dies leaves debris no reader lists;
  new numbers skip debris; vacuum keeps the newest committed versions and
  deletes debris. One writer per root, vacuum included.

Every directory walk, rename and delete over at-rest lake data goes
through ``util.hadoop_fs`` (``util.list_visible`` for listings), so a
``file://``, HDFS or object-store root behaves like a plain local path.
"""

from __future__ import annotations

import dataclasses
import functools
import operator
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import hadoop_fs, list_visible, single_partition_df


def _historical_trees(spark: SparkSession, historical_dir: str) -> list[str]:
    """A historical root holds one Hive tree per source granularity
    (``yearly/Year=…``, ``monthly/Year=…/MonthYear=…`` — different partition
    depths can't share one root). A root whose children are already
    ``Col=val`` dirs is a single tree; a missing root holds none."""
    try:
        children = list_visible(spark, historical_dir)
    except FileNotFoundError:
        return []
    dirs = sorted(
        (st.getPath().getName(), st.getPath().toString())
        for st in children
        if st.isDirectory()
    )
    if not dirs or any("=" in name for name, _ in dirs):
        return [historical_dir]
    return [tree for _, tree in dirs]


def read_lake(
    spark: SparkSession,
    flat_dir: str | None = None,
    historical_dir: str | None = None,
) -> DataFrame:
    """One logical event table over the flat daily files and/or the
    Hive-partitioned historical tree. ``basePath`` handling is implicit:
    partition columns (Year=…/MonthYear=…) come back as real columns from the
    directory layout, so filters on them prune directories before any I/O."""
    dfs = []
    if flat_dir:
        dfs.append(spark.read.parquet(flat_dir))
    if historical_dir:
        for tree in _historical_trees(spark, historical_dir):
            dfs.append(spark.read.parquet(tree))
    if not dfs:
        raise ValueError("at least one of flat_dir/historical_dir is required")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------- null filter
@dataclasses.dataclass
class FilterReport:
    """Retention stats (reference filter.py:106-148)."""

    rows_before: int
    rows_after: int
    applied_columns: list[str]
    missing_columns: list[str]
    #: optional per-input-file (file, rows_before, rows_after, retention)
    #: breakdown — reference logs retention per file (filter.py:106-148)
    per_file: list[tuple[str, int, int, float]] | None = None

    @property
    def retention(self) -> float:
        return self.rows_after / self.rows_before if self.rows_before else 1.0


def all_not_null(columns: Sequence[str]) -> Column:
    """``c1 IS NOT NULL AND c2 IS NOT NULL …`` (TRUE for no columns).

    An explicit conjunction, not ``na.drop``: ``na.drop(subset)`` compiles
    to AtLeastNNonNulls, which parquet can't push down — the conjunction
    reaches the scan as PushedFilters and skips row groups via null
    counts. It also keeps NaN, which ``na.drop`` drops."""
    return functools.reduce(
        operator.and_, [F.col(c).isNotNull() for c in columns], F.lit(True)
    )


def filter_nulls(df: DataFrame, columns: Sequence[str]) -> tuple[DataFrame, FilterReport]:
    """Drop rows with NULL in any configured column — conjunctive
    ``IS NOT NULL`` (reference filter.py:176-208). Columns absent from the
    schema are skipped with a report entry (reference tolerates them,
    filter.py:176-187); no existing columns → no-op.

    One job computes both counts; the filter itself is pushdown-eligible
    (IS NOT NULL reaches the parquet scan).
    """
    existing = [c for c in columns if c in df.columns]
    missing = [c for c in columns if c not in df.columns]
    pred = all_not_null(existing)
    before, after = df.agg(F.count(F.lit(1)), F.count_if(pred)).first()
    return df.filter(pred), FilterReport(before, after, existing, missing)


def per_file_retention(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Per-source-file rows before/after the NULL-drop — the reference logs
    retention per input file (filter.py:106-148); this is its distributed
    twin. One pass: ``groupBy(input_file_name())`` with a conditional count,
    no second scan of the data. Returns (file, rows_before, rows_after,
    retention) ordered by file for stable logs."""
    pred = all_not_null([c for c in columns if c in df.columns])
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("rows_before"),
            F.count_if(pred).alias("rows_after"),
        )
        .withColumn(
            "retention",
            F.col("rows_after") / F.greatest(F.col("rows_before"), F.lit(1)),
        )
        .orderBy("file")
    )


def run_filter_stage(
    spark: SparkSession,
    flat_dir: str,
    out_dir: str,
    columns: Sequence[str],
    historical_dir: str | None = None,
    per_file: bool = False,
) -> FilterReport:
    """Whole filter stage: union read → null-drop → parquet write
    (reference ``run_filter``, filter.py:277-295, as one distributed job).
    With ``per_file=True`` the report also carries the reference's per-file
    before/after breakdown (filter.py:106-148)."""
    df = read_lake(spark, flat_dir, historical_dir)
    filtered, report = filter_nulls(df, columns)
    filtered.write.mode("overwrite").parquet(out_dir, compression="snappy")
    if per_file:
        report.per_file = [
            (r.file, r.rows_before, r.rows_after, r.retention)
            for r in per_file_retention(df, columns).collect()
        ]
    return report


# ---------------------------------------------------------------- idempotency
def processed_files(spark: SparkSession, manifest_path: str) -> set[str]:
    """Set of already-processed source files from the manifest parquet
    (replaces per-file ``.done`` sidecars, converter.py:118-125).

    Only a MISSING manifest (first run — AnalysisException) reads as
    empty; any other failure (transient IO, permissions, corrupt footer)
    propagates. Swallowing it would return an empty set and re-convert
    every source file, double-appending into the historical partitioned
    trees — the same silent-corruption class as the r9 streaming-rollup
    advice."""
    from pyspark.errors import AnalysisException

    try:
        return {r.file for r in spark.read.parquet(manifest_path).collect()}
    except AnalysisException:
        return set()


def mark_processed(spark: SparkSession, manifest_path: str, files: Sequence[str]) -> None:
    """Append ``files`` to the manifest as ONE parquet file per call, so
    the manifest grows by one file per run, not one per core."""
    if not files:
        return
    single_partition_df(spark, [(f,) for f in files], "file string").write.mode(
        "append"
    ).parquet(manifest_path)


def unprocessed(
    spark: SparkSession, candidates: Sequence[str], manifest_path: str
) -> list[str]:
    """``candidates`` absent from the manifest, compared in the Hadoop
    listing's spelling on both sides: a manifest written by the earlier
    local-glob listing holds plain paths (``/a/b``) where the listing now
    gives ``file:/a/b``, and those files must still count as processed."""
    done = {_as_listed(f) for f in processed_files(spark, manifest_path)}
    return [c for c in candidates if _as_listed(c) not in done]


def _as_listed(path: str) -> str:
    """A scheme-less path names a local file (``/a/b`` → ``file:/a/b``)."""
    import os
    from urllib.parse import urlparse

    return path if urlparse(path).scheme else "file:" + os.path.abspath(path)


# ---------------------------------------------------------------- compaction
def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: float = 128,
    min_files: int = 2,
) -> dict[str, int]:
    """Compact a flat parquet directory's small files into ~``target_file_mb``
    outputs (lake maintenance the reference never needs — its converter
    writes once — but any streaming/incremental ingest accumulates
    per-micro-batch files, and at cluster scale a directory of 10k tiny
    files costs a task per file plus footer overhead on every scan).

    Plan: size the directory from the file listing (driver-side metadata,
    no data read), read EXACTLY that snapshot of files, ``coalesce`` — not
    ``repartition``: compaction must not shuffle, it only concatenates — to
    ``ceil(bytes/target)`` outputs, write to a sibling temp dir, move the
    compacted parts in under a fresh uuid prefix, then delete only the
    snapshot files by name. Files appended concurrently (e.g. a streaming
    micro-batch landing mid-compaction) are neither read nor deleted — they
    simply survive untouched. Hive-partitioned trees compact leaf-by-leaf:
    call this per leaf directory (partition values live in the directory
    path, not the files, so a leaf is a flat dir).
    Returns {files_before, files_after, bytes}.
    No-op (0 writes) when the directory already has < ``min_files`` data
    files or is already at target size.

    Constraints (by design, stated here so operators don't learn them the
    hard way): at most ONE compactor per directory at a time (concurrent
    *appenders* are safe, concurrent *compactors* would double-delete); a
    crash between the move-in and the snapshot deletes leaves duplicate
    rows (never data loss) — re-running after such a crash is not safe to
    do blindly; check for a leftover ``.__compact_tmp__`` sibling first.
    The move-in is one FileSystem ``rename`` per output file, so on an
    object store (copy + delete) the window for that crash is longer.
    """
    import math
    import uuid

    jvm, fs, _ = hadoop_fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    root = path.rstrip("/")
    snapshot = parquet_files(list_visible(spark, path))
    total = sum(st.getLen() for st in snapshot)
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    report = {"files_before": len(snapshot), "files_after": len(snapshot), "bytes": total}
    if len(snapshot) < min_files or n_out >= len(snapshot):
        return report

    tmp = Path(root + ".__compact_tmp__")
    if fs.exists(tmp) and not fs.delete(tmp, True):
        raise IOError(f"compaction failed: could not clear {tmp}")
    # Read the snapshot by explicit file list, not the directory: files that
    # land after the listing must not be read (they won't be deleted either).
    spark.read.parquet(*[st.getPath().toString() for st in snapshot]).coalesce(
        n_out
    ).write.parquet(tmp.toString(), compression="snappy")
    prefix = f"compact-{uuid.uuid4().hex[:12]}"
    parts = sorted(
        st.getPath().toString()
        for st in parquet_files(list_visible(spark, tmp.toString()))
    )
    for i, part in enumerate(parts):
        dest = Path(f"{root}/{prefix}-{i:05d}.snappy.parquet")
        if not fs.rename(Path(part), dest):
            raise IOError(f"compaction failed: rename {part} -> {dest} returned false")
    for st in snapshot:
        if not fs.delete(st.getPath(), False):
            raise IOError(f"compaction failed: could not delete {st.getPath()}")
    if not fs.delete(tmp, True):
        raise IOError(f"compaction failed: could not delete {tmp}")
    report["files_after"] = len(parquet_files(list_visible(spark, path)))
    return report


def parquet_files(statuses: Sequence) -> list:
    """The data files among Hadoop ``FileStatus``es: ``.parquet`` files
    (hidden names are already gone from :func:`util.list_visible`)."""
    return [
        st for st in statuses
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    ]


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    num_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet write: ``repartitionByRange`` +
    ``sortWithinPartitions`` on ``cluster_cols`` so each output file covers
    a narrow, (near-)disjoint value range. Parquet then stores tight
    min/max stats per file/row-group, and any predicate on the cluster
    columns prunes whole files at scan time — the within-partition
    complement to Hive partitioning (partition by the coarse key like day,
    cluster by the fine one like ts/user: partitioning prunes directories,
    clustering prunes files inside them).

    The range exchange samples the data to pick boundaries — one extra
    shuffle at write time buys every future scan's pruning. Rows with NULL
    cluster keys sort first and land in the lowest file.
    """
    (
        df.repartitionByRange(num_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    *,
    shards: int,
    shard_key: str | None = None,
    compress: bool = True,
) -> DataFrame:
    """Export a curated corpus as ``shards`` JSON-Lines files — the
    interchange format training loaders consume (one JSON object per
    line, gzip optional). Returns the manifest DataFrame
    ``(shard, n_rows)`` (also written to ``path/_manifest``).

    Sharding is DETERMINISTIC: rows route by ``xxhash64(shard_key) %
    shards`` (or uniform hash of the whole row when no key is given), so
    re-running the export reproduces identical shard membership on any
    cluster size/partitioning — the property row-count-based splits
    (``df.randomSplit``, round-robin repartition) cannot give. A stable
    key also means incremental re-exports move only the rows that
    changed. One shuffle (the repartition on the shard id); each shard is
    exactly one output file, written in parallel.

    The reference has no export stage at all (its terminal artifact is
    sampled parquet, ``sampling/samplers.py``); JSONL is the extension
    surface every 100 TB curation pipeline ends with.
    """
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    key = (
        F.xxhash64(F.col(shard_key))
        if shard_key
        else F.xxhash64(*[F.col(c) for c in df.columns])
    )
    tagged = df.withColumn("__shard__", F.pmod(key, F.lit(shards)))
    writer = (
        tagged.repartition(shards, "__shard__")
        .write.mode("overwrite")
        .partitionBy("__shard__")
    )
    if compress:
        writer = writer.option("compression", "gzip")
    writer.json(path)
    spark = df.sparkSession
    manifest = (
        spark.read.json(path)
        .groupBy(F.col("__shard__").alias("shard"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/_manifest")
    return manifest


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read a JSONL export back (schema optional but recommended — without
    it Spark runs an extra inference pass over every file)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    return df.drop("__shard__") if "__shard__" in df.columns else df


def read_lake_evolved(
    spark: SparkSession,
    paths: Sequence[str],
    *,
    target_schema=None,
) -> DataFrame:
    """Read parquet written under EVOLVING schemas as one DataFrame:
    ``mergeSchema`` unions the field sets (older files yield NULL for
    columns they predate), then ``target_schema`` (optional) projects and
    casts to the canonical current shape — the read-side half of schema
    evolution, needed the first time a column is added to a live lake.

    Scale note: ``mergeSchema`` costs one footer read per file at plan
    time (driver-side, no data I/O); steady-state lakes should converge
    files to the current schema via ``compact_parquet`` and drop the flag.
    """
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    if target_schema is not None:
        cols = []
        have = set(df.columns)
        for field in target_schema.fields:
            if field.name in have:
                cols.append(F.col(field.name).cast(field.dataType))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        df = df.select(*cols)
    return df


def write_with_metrics(
    df: DataFrame,
    path: str,
    *,
    null_check_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> dict:
    """Write parquet and collect quality metrics IN THE SAME JOB via
    Spark's ``observe`` API — row count and per-column null counts ride
    the write's own pass over the data, so the post-write "how many rows
    landed / how dirty were they" report costs ZERO extra scans (the
    naive pattern is write + re-read + aggregate: three passes).

    Returns ``{"rows": n, "nulls": {col: n}}``.
    """
    from pyspark.sql import Observation

    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in null_check_cols:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls_{c}")
        )
    obs = Observation()
    observed = df.observe(obs, *aggs)
    observed.write.mode(mode).parquet(path)
    got = obs.get
    return {
        "rows": got["rows"],
        "nulls": {c: got[f"nulls_{c}"] for c in null_check_cols},
    }


# ------------------------------------------------------------- versioning
#: the versioned-directory rule of the module docstring
COMMIT_MARKER = "_COMMITTED"


def version_dir(root: str, n: int) -> str:
    return f"{root}/v_{n:05d}"


def _version_dirs(spark: SparkSession, root: str) -> list[tuple[int, bool]]:
    """Ascending ``(N, committed)`` of every ``v_%05d`` dir, debris too."""
    jvm, fs, hroot = hadoop_fs(spark, root)
    if not fs.exists(hroot):
        return []
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v_") and name[2:].isdigit():
            marker = jvm.org.apache.hadoop.fs.Path(f"{root}/{name}/{COMMIT_MARKER}")
            out.append((int(name[2:]), bool(fs.exists(marker))))
    return sorted(out)


def next_version(spark: SparkSession, root: str) -> int:
    """One past every version dir, debris included (never reuse a dead
    writer's directory)."""
    dirs = _version_dirs(spark, root)
    return dirs[-1][0] + 1 if dirs else 1


def commit_version(spark: SparkSession, vdir: str) -> None:
    """THE commit point: one atomic marker creation publishes ``vdir``."""
    _, fs, marker = hadoop_fs(spark, f"{vdir}/{COMMIT_MARKER}")
    if not fs.createNewFile(marker):
        raise IOError(f"commit failed: could not create {marker}")


def versioned_write(df: DataFrame, root: str) -> int:
    """Append-only snapshot versioning without a table format — the poor
    man's subset of Delta/Iceberg that plain parquet delivers safely:
    IMMUTABLE whole-version directories. Each write lands in a new
    ``root/v_%05d`` and gets its ``_COMMITTED`` marker only after the job
    succeeds, so readers of older versions are never disturbed, "time
    travel" is a directory choice, and a failed write is debris no reader
    lists (:func:`vacuum_versions` deletes it). Returns the new version.
    Single writer per root, vacuum included: two writers could pick the
    same N, and a vacuum deletes a write still in flight."""
    spark = df.sparkSession
    n = next_version(spark, root)
    vdir = version_dir(root, n)
    df.write.parquet(vdir)
    commit_version(spark, vdir)
    return n


def list_versions(spark: SparkSession, root: str) -> list[int]:
    """Committed snapshot versions under ``root`` (ascending)."""
    return [n for n, committed in _version_dirs(spark, root) if committed]


def read_versioned(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read snapshot ``version`` (default: latest committed)."""
    versions = list_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no versions under {root}")
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    return spark.read.parquet(version_dir(root, v))


def vacuum_versions(spark: SparkSession, root: str, keep_last: int) -> list[int]:
    """Keep the newest ``keep_last`` committed versions; delete older ones
    and all debris, whole ``v_%05d`` dirs only (never files of a live
    version). A version loses its marker before its files, so a crash
    mid-delete leaves debris, not a committed version with holes.
    Returns the committed versions removed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    dirs = _version_dirs(spark, root)
    keep = set([n for n, committed in dirs if committed][-keep_last:])
    jvm, fs, _ = hadoop_fs(spark, root)
    dropped = []
    for n, committed in dirs:
        if n in keep:
            continue
        vdir = version_dir(root, n)
        if committed:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{vdir}/{COMMIT_MARKER}"), False)
            dropped.append(n)
        fs.delete(jvm.org.apache.hadoop.fs.Path(vdir), True)
    return dropped
