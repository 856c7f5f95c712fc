"""CSV → Parquet ingest with the declared GDELT schema (SURVEY.md §2.1
S5–S10, reference ``conversion/converter.py``).

Reference behavior re-expressed Spark-first: one distributed ``spark.read.csv``
with the declared 58-name all-string schema (headerless, tab-separated —
``converter.py:212-233``), numeric coercion as casts (malformed → NULL, same
semantics as ``pd.to_numeric(errors='coerce')``, ``converter.py:225-227``),
then two routed writes — daily files to a flat parquet directory, yearly/
monthly files to a Hive-partitioned tree per configured rules
(``converter.py:238-313``). The reference's per-file loop, manual
``groupby(partition_cols)`` → mkdir → per-partition file dance, and its
Int64-vs-float64 schema-consistency cast all collapse into
``write.partitionBy`` on a typed DataFrame.
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import (
    DEFAULT_PARTITION_RULES,
    GDELT_COLUMNS,
    LONG_COLUMNS,
    NUMERIC_COLUMNS,
    gdelt_csv_schema,
)
from ..util import hadoop_fs, is_hidden, list_visible
from .lake import all_not_null, mark_processed, unprocessed
from .manifest import classify_filename


def extract_zips(zip_dir: str, out_dir: str) -> list[Path]:
    """Driver-side ZIP extraction (reference utils/io.py:16-49). Returns
    extracted paths; skips members that already exist."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    extracted: list[Path] = []
    for zp in sorted(Path(zip_dir).glob("*.zip")):
        with zipfile.ZipFile(zp) as zf:
            for member in zf.namelist():
                dest = out / os.path.basename(member)
                if not dest.exists():
                    with zf.open(member) as src, open(dest, "wb") as dst:
                        dst.write(src.read())
                extracted.append(dest)
    return extracted


def read_gdelt_csv(
    spark: SparkSession,
    paths: str | Sequence[str],
    corrupt_col: str | None = None,
) -> DataFrame:
    """Declared-schema read + numeric coercion; never infers (SURVEY §1.2).

    Adds ``_source_file`` (from ``input_file_name()``) so downstream routing
    and idempotency can reason per source file without a second listing.

    With ``corrupt_col``, malformed lines (token count ≠ 58) surface in that
    column instead of vanishing — PERMISSIVE mode's silent null-fill loses
    the observability the reference gets from ``on_bad_lines="warn"``
    (``conversion/converter.py:230``); callers count/log the column and drop
    it before writing.
    """
    if isinstance(paths, str):
        paths = [paths]
    schema = gdelt_csv_schema()
    if corrupt_col:
        from pyspark.sql import types as T

        schema = T.StructType(
            schema.fields + [T.StructField(corrupt_col, T.StringType())]
        )
    df = spark.read.csv(
        list(paths),
        sep="\t",
        header=False,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=corrupt_col or "_corrupt_record",
        encoding="UTF-8",
    )
    return coerce_gdelt_columns(df, corrupt_col=corrupt_col)


def coerce_gdelt_columns(df: DataFrame, corrupt_col: str | None = None) -> DataFrame:
    """Numeric coercion + source-file tagging over an all-string GDELT frame.

    ``try_cast`` ≡ ``pd.to_numeric(errors="coerce")``: malformed → NULL,
    never an ANSI runtime error; long-valued columns go string→double→long
    so float-formatted ints ("2.0") coerce like the reference's
    to_numeric-then-Int64 two-step (converter.py:225-227, :246-250).
    Shared by the batch reader and the streaming convert stage — pure
    column algebra, so it composes with either.
    """

    def _coerce(c: str):
        if c in LONG_COLUMNS:
            return F.col(c).try_cast("double").try_cast("long").alias(c)
        if c in NUMERIC_COLUMNS:
            return F.col(c).try_cast("double").alias(c)
        return F.col(c)

    return df.select(
        *[_coerce(c) for c in GDELT_COLUMNS],
        *([F.col(corrupt_col)] if corrupt_col else []),
        F.input_file_name().alias("_source_file"),
    )


def convert(
    spark: SparkSession,
    csv_dir: str,
    flat_dir: str,
    historical_dir: str | None = None,
    partition_rules: dict[str, list[str]] | None = None,
    manifest_path: str | None = None,
) -> dict[str, int]:
    """Route by source-file granularity (filename regex parity with
    ``converter.py:43-45``): daily → flat parquet; yearly/monthly → Hive
    partitioned per rules (default ``{'yearly': ['Year'], 'monthly':
    ['Year','MonthYear']}``, ``settings.example.yaml:143-149``). Rows with
    NULL partition values are dropped on the historical path (reference
    ``converter.py:291-295``). Returns row counts per route, plus
    ``corrupt`` = number of malformed input lines (token count ≠ 58) — the
    Spark analogue of the reference's ``on_bad_lines="warn"`` logging
    (``converter.py:230``); malformed lines are excluded from every write.

    Scale shape (r13): routing is PER FILE, so the file list is split
    driver-side (one Hadoop-FS listing of the visible files, with or
    without ``manifest_path``, so any scheme the session reads works) and
    each route reads ONLY its own files — every input byte is parsed
    exactly once, with the report counts riding the write pass itself via
    ``Observation`` accumulators. Daily is the route with no partition
    columns: every route runs the same observe → filter → append write,
    and a row is kept (and counted) iff it is well-formed and its
    partition columns are not NULL.
    The previous shape cached the full 58-column parse and re-scanned it
    per route; at a 20M-row drop the cache outgrew memory and the stage
    went ~1.8× superlinear (SCALE_PROBE ``etl_convert``). Files no route
    claims (and historical files when ``historical_dir`` is off) still get
    a count-only parse so ``corrupt`` keeps full-input semantics.

    Report-count caveat: ``Observation`` rides accumulator semantics, so a
    stage RETRY can double-count report rows (the writes themselves stay
    exactly-once via the commit protocol). The counts are observability,
    not a ledger — matching the reference's log-line counters
    (``converter.py:230``). A zero-row route (all lines corrupt, or all
    partition keys NULL) does not leave a ``_SUCCESS``-only parquet dir
    behind: freshly-created empty sinks are removed after the write
    (``_drop_empty_sink``) so later reads never hit 'unable to infer
    schema'.
    """
    rules = partition_rules or DEFAULT_PARTITION_RULES
    counts: dict[str, int] = {"daily": 0, "corrupt": 0, **{ft: 0 for ft in rules}}

    files = _list_input_files(spark, csv_dir)
    if manifest_path:
        # incremental re-run (reference .done markers, converter.py:118-125):
        # only files absent from the processed manifest are read at all
        files = unprocessed(spark, files, manifest_path)
        if not files:
            return counts

    routed: dict[str, list[str]] = {}
    for f in files:
        routed.setdefault(classify_filename(f) or "__none__", []).append(f)

    # route -> (sink, partition columns); daily is the unpartitioned route
    sinks = {"daily": (flat_dir, [])}
    if historical_dir is not None:
        sinks.update({ft: (f"{historical_dir}/{ft}", cols) for ft, cols in rules.items()})

    for route, (sink, cols) in sinks.items():
        if not routed.get(route):
            continue
        had_data = _data_files_exist(spark, sink)
        df = read_gdelt_csv(spark, routed[route], corrupt_col="_corrupt_record")
        keep = F.col("_corrupt_record").isNull() & all_not_null(cols)
        obs = Observation()
        (
            df.observe(
                obs,
                F.count("_corrupt_record").alias("bad"),
                F.count_if(keep).alias("kept"),
            )
            .filter(keep)
            .drop("_corrupt_record", "_source_file")
            .write.mode("append")
            .partitionBy(*cols)
            .parquet(sink, compression="snappy")
        )
        m = obs.get
        counts["corrupt"] += int(m["bad"])
        counts[route] = int(m["kept"])
        if counts[route] == 0:
            _drop_empty_sink(spark, sink, had_data)

    # count-only parse for files no write touches, preserving full-input
    # `corrupt` semantics: unrouted files, and historical files when the
    # historical sink is off
    leftover = [f for route, fs in routed.items() if route not in sinks for f in fs]
    if leftover:
        row = (
            read_gdelt_csv(spark, leftover, corrupt_col="_corrupt_record")
            .agg(F.count("_corrupt_record").alias("bad"))
            .collect()[0]
        )
        counts["corrupt"] += int(row["bad"])

    if manifest_path:
        mark_processed(spark, manifest_path, files)
    return counts


def _data_files_exist(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists and holds at least one non-marker file
    (recursively) — i.e. a read of it would infer a schema."""
    _, fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return False
    it = fs.listFiles(p, True)
    while it.hasNext():
        if not is_hidden(it.next().getPath().getName()):
            return True
    return False


def _drop_empty_sink(spark: SparkSession, path: str, pre_existed_with_data: bool) -> None:
    """Remove a sink dir that a zero-row write just created: partitioned
    writes of zero rows leave only ``_SUCCESS`` (later reads fail with
    'unable to infer schema'); non-partitioned ones leave a schema-only
    empty part file. Either way a freshly-created zero-row sink is
    clutter, so it goes. Appends into a sink that already held data are
    left untouched — zero new rows there is harmless."""
    if pre_existed_with_data:
        return
    _, fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def _list_input_files(spark: SparkSession, path: str) -> list[str]:
    """Visible files under ``path`` (or ``path`` itself if a file) via the
    Hadoop FileSystem API — works for any scheme the session can read."""
    _, fs, p = hadoop_fs(spark, path)
    if fs.exists(p) and fs.getFileStatus(p).isFile():
        return [path]
    return sorted(
        st.getPath().toString() for st in list_visible(spark, path) if st.isFile()
    )
