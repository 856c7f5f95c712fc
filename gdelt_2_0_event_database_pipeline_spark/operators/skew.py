"""Skew and co-location utilities for 100 TB operation.

AQE's skew-join splitting (on by default in our session) handles most skew at
runtime; these helpers cover the two cases it can't:

- ``salted_group_agg`` — aggregation skew (one hot GROUP BY key overwhelms a
  reducer). Two-phase: salt the key N ways → partial agg → final agg on the
  unsalted key. Works for any algebraic aggregate (sum/count/min/max) and,
  via (sum,count) pairs, averages.
- ``salted_join_skewed_left`` — join skew where the hot keys are known or
  discoverable: replicate the small side per salt, salt the big side
  randomly. AQE only splits *shuffle* partitions; a broadcast-ineligible
  hot-key join still needs explicit salting.
- ``write_bucketed`` / co-located join — repeated joins on the same key
  amortize their shuffle by bucketing both tables once (SortMergeJoin with
  no exchange afterwards).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import hadoop_fs


def salted_group_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    num_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output name → (source column, fn) with fn ∈
    {sum,count,min,max,avg}. Phase 1 groups on (key, salt) — hot keys spread
    over ``num_salts`` reducers; phase 2 merges partials on the key alone
    (merge of avg = sum-of-sums / sum-of-counts).
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    salt = (F.rand(seed=0) * num_salts).cast("int").alias("__salt__")

    phase1_aggs, phase2_aggs = [], []
    for out, (col, fn) in aggs.items():
        if fn == "avg":
            phase1_aggs += [
                F.sum(col).alias(f"__{out}_s__"),
                F.count(col).alias(f"__{out}_c__"),
            ]
            phase2_aggs.append(
                (F.sum(f"__{out}_s__") / F.sum(f"__{out}_c__")).alias(out)
            )
        elif fn == "count":
            phase1_aggs.append(F.count(col).alias(f"__{out}__"))
            phase2_aggs.append(F.sum(f"__{out}__").alias(out))
        elif fn in merge_fn:
            phase1_aggs.append(getattr(F, fn)(col).alias(f"__{out}__"))
            phase2_aggs.append(merge_fn[fn](f"__{out}__").alias(out))
        else:
            raise ValueError(f"unsupported agg fn {fn!r}")

    partial = df.withColumn("__salt__", salt).groupBy(*group_cols, "__salt__").agg(
        *phase1_aggs
    )
    return partial.groupBy(*group_cols).agg(*phase2_aggs)


def salted_join_skewed_left(
    left: DataFrame,
    right: DataFrame,
    on: str,
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: ``left`` (large, skewed on ``on``) gets a random
    salt; ``right`` (small-ish but broadcast-ineligible) is replicated once
    per salt value, so each (key, salt) pair meets exactly one replica.
    Right-side row count multiplies by ``num_salts`` — size accordingly."""
    salted_left = left.withColumn(
        "__salt__", (F.rand(seed=0) * num_salts).cast("int")
    )
    replicated_right = right.withColumn(
        "__salt__",
        F.explode(F.array(*[F.lit(i) for i in range(num_salts)])),
    )
    out = salted_left.join(replicated_right, on=[on, "__salt__"], how=how)
    return out.drop("__salt__")


def bucket_spec_matches(
    spark, table_name: str, bucket_cols: Sequence[str], num_buckets: int
) -> bool:
    """True iff ``table_name`` exists in the catalog AND is bucketed exactly
    (num_buckets, bucket_cols) — the precondition for reusing it instead of
    rewriting."""
    try:
        if not spark.catalog.tableExists(table_name):
            return False
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED `{table_name}`").collect()
    except Exception:
        return False
    info = {r.col_name.strip(): (r.data_type or "").strip() for r in rows}
    n = info.get("Num Buckets", "")
    cols = info.get("Bucket Columns", "")
    want_cols = "[" + ", ".join(f"`{c}`" for c in bucket_cols) + "]"
    return n == str(num_buckets) and cols == want_cols


def _looks_like_table_dir(names: Sequence[str]) -> bool:
    """Heuristic guard before deleting an orphaned table directory: a Spark
    table dir contains only part-files / _SUCCESS / hidden markers. Anything
    else (a lake root, user data) must NOT be silently deleted."""
    return all(
        n == "_SUCCESS" or n.startswith("part-") or n.startswith(".") or n == "_temporary"
        for n in names
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    reuse_existing: bool = False,
) -> bool:
    """Persist bucketed (and optionally sorted) by the join key: subsequent
    equi-joins between tables bucketed the same way run shuffle-free
    (Exchange elided on both sides). The lake-design answer to 'this join
    happens every day on the same key'. Returns True if the table was
    (re)written, False if an existing table was reused.

    With ``path``, the table is external at that location. ``path`` MUST be a
    dedicated per-table directory: stale contents are deleted before the
    write (guarded — if the directory holds anything other than part-files /
    _SUCCESS markers, this raises instead of deleting). Without ``path`` the
    table is managed in the session warehouse.

    With ``reuse_existing=True``, a catalog table already bucketed exactly
    (num_buckets, bucket_cols) is kept as-is — the memoization that keeps
    repeated plan builds (bench warm-up, plan audits) from paying the
    bucketing write more than once per session. Callers own the staleness
    question: reuse is only sound when the table's source data is immutable
    for the session (true for the test lakes; a daily pipeline would key the
    table name by snapshot date).

    Idempotent across sessions: drops any existing catalog entry AND clears
    an orphaned data directory — a fresh local metastore with a surviving
    table dir otherwise fails CREATE with LOCATION_ALREADY_EXISTS. Not safe
    for two concurrent sessions writing the same table name/path.
    """
    spark = df.sparkSession
    if reuse_existing and bucket_spec_matches(spark, table_name, bucket_cols, num_buckets):
        return False
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    orphan = path
    if orphan is None:
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        orphan = f"{wh.rstrip('/')}/{table_name.lower()}"
    _, fs, opath = hadoop_fs(spark, orphan)
    if fs.exists(opath) and fs.getFileStatus(opath).isDirectory():
        if not _looks_like_table_dir(
            [st.getPath().getName() for st in fs.listStatus(opath)]
        ):
            raise ValueError(
                f"refusing to clear {orphan!r}: directory does not look like a "
                "bucketed-table location (pass a dedicated per-table path)"
            )
        if not fs.delete(opath, True):
            raise IOError(f"could not clear orphaned table directory {orphan!r}")
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name, format="parquet")
    return True


def explain_shuffles(df: DataFrame) -> int:
    """Count *shuffle* Exchange operators in the executed plan (broadcast
    exchanges move dimension-sized data and don't count) — the number a
    reviewer should be able to justify line by line."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def skew_report(
    df: DataFrame, key_cols: Sequence[str], top_k: int = 10
) -> DataFrame:
    """Key-skew diagnosis before a join/agg: the ``top_k`` heaviest keys
    with their share of the table and a skew factor
    (``key_rows × n_keys / n_rows`` — 1.0 means perfectly uniform; the
    largest factor tells you how unbalanced the busiest shuffle task will
    be, and therefore what salting factor :func:`salted_group_agg` needs).

    One grouped count, one 1-row total broadcast back, one top-k
    (TakeOrdered, no global sort). Total order ties break on the key
    columns so the selected row set is engine-independent.
    """
    keys = list(key_cols)
    counts = df.groupBy(*[F.col(c) for c in keys]).agg(
        F.count(F.lit(1)).alias("key_rows")
    )
    tot = counts.agg(
        F.sum("key_rows").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(
        F.col("key_rows").desc(), *[F.col(c).asc() for c in keys]
    ).limit(top_k)
    return top.crossJoin(F.broadcast(tot)).select(
        *keys,
        "key_rows",
        "n_rows",
        "n_keys",
        (F.col("key_rows").cast("double") * F.col("n_keys") / F.col("n_rows"))
        .alias("skew_factor"),
    )
