"""Incremental aggregate rollup tables — generic additive partial state.

The 100 TB warehouse pattern the reference's daily-convert pipeline
implies but never builds (reference main.py re-derives every report from
raw rows; SURVEY.md §2.10 maintenance gap): persist ONE small state row
per (group, day) holding additive aggregate partials, then answer any
coarser grain (month × group, year, grand total) by merging partials —
kilobytes of state instead of re-scanning raw history. The HLL variant
(`sketches.hll_sketch_table`) covers distinct counts; this module covers
the algebraic family: count / sum / min / max / sum-of-squares, from
which merged avg and variance derive exactly.

Maintenance discipline: additive counters are NOT idempotent under
re-ingest (`+=` of a replayed day double-counts — the failure HLL unions
avoid by being exact over overlap). The safe refresh is therefore
REPLACE-BY-PARTITION: recompute a day's partials from its raw partition
and swap them in (`refresh_rollup` — anti-join out, union in; the batch
twin of `streaming/upsert.py`'s partition-scoped merge). Replay of the
same day converges to the same state, so backfills and late data are
safe.

Scale shape: ``build_rollup`` is one map-side-partial groupBy on
(group, day) — the same shuffle the report would need anyway, paid ONCE
at ingest; ``merge_rollup`` touches only state rows (|groups|×|days|,
~10⁴-10⁶ at 100 TB — a table that fits in one executor); ``refresh``
shuffles only the refreshed day. Sums kept in BIGINT stay exact and
associative at any scale when the measure is integer-valued (cents,
counts, quantities) — the q11 integer-cent discipline; for true doubles
the merged sum is order-dependent and consumers should round. Derived
avg/var over BIGINT states route their cross products (n·sumsq, sum²)
through decimal(38,0) — exact to 10³⁸, no silent int64 wrap (the
q_spearman precedent). The sumsq ACCUMULATION itself stays in the
measure's type: BIGINT holds to ~3·10⁹ rows of 4-digit measures — past
that, cast the measure to decimal(38,0) before ``build_rollup``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: suffix → (builder from the value column, merger from the state column)
_STATS = {
    "n": (lambda v: F.count(v), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "sumsq": (lambda v: F.sum(F.col(v) * F.col(v)), F.sum),
}


def build_rollup(
    df: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Partial-aggregate state at the (fine) ``group_cols`` grain: for each
    value column v, columns ``v_n / v_sum / v_min / v_max / v_sumsq``
    (NULL values excluded from all five, matching SQL aggregates). One
    shuffle on the group keys with map-side partials — the ingest-time
    pass whose output is the persisted rollup table."""
    if not group_cols or not value_cols:
        raise ValueError("need at least one group column and one value column")
    aggs = [
        _STATS[s][0](v).alias(f"{v}_{s}") for v in value_cols for s in _STATS
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def merge_rollup(
    state: DataFrame,
    merge_keys: Sequence[str],
    value_cols: Sequence[str],
    derived: bool = True,
) -> DataFrame:
    """Roll partial state up to the coarser ``merge_keys`` grain — sums of
    n/sum/sumsq, min of mins, max of maxs; NEVER touches raw rows. With
    ``derived=True`` adds ``v_avg`` (sum/n) and ``v_var`` (population
    variance via (n·sumsq − sum²)/n², the numerator exact when the state
    is integer-valued). ``merge_keys=[]`` yields the 1-row grand total."""
    aggs = [
        _STATS[s][1](f"{v}_{s}").alias(f"{v}_{s}")
        for v in value_cols
        for s in _STATS
    ]
    grouped = state.groupBy(*merge_keys) if merge_keys else state.groupBy()
    out = grouped.agg(*aggs)
    if derived:
        integral = {
            name
            for name, dtype in out.dtypes
            if dtype in ("tinyint", "smallint", "int", "bigint")
        }
        for v in value_cols:
            n = F.col(f"{v}_n")
            s = F.col(f"{v}_sum")
            ss = F.col(f"{v}_sumsq")
            if f"{v}_sum" in integral:
                # BIGINT states: n·sumsq and sum² overflow int64 at modest
                # group sizes (~1e7-cent values wrap past ~100-row groups)
                # and WRAP SILENTLY in non-ANSI mode. Compute the exact
                # integer numerator/denominator in decimal(38,0) — the
                # state frame is tiny, the cost is nil — then divide as
                # doubles (the best any double-typed result can carry).
                n_d = n.cast("decimal(38,0)")
                s_d = s.cast("decimal(38,0)")
                ss_d = ss.cast("decimal(38,0)")
                var = (n_d * ss_d - s_d * s_d).cast("double") / (
                    n_d * n_d
                ).cast("double")
            else:
                var = (n * ss - s * s) / (n * n)
            out = out.withColumn(
                f"{v}_avg", F.when(n > 0, s / n)
            ).withColumn(f"{v}_var", F.when(n > 0, var))
    return out


def refresh_rollup(
    state: DataFrame,
    fresh: DataFrame,
    partition_cols: Sequence[str],
) -> DataFrame:
    """Replace every state partition present in ``fresh`` (a
    ``build_rollup`` result for the re-processed days) and keep the rest —
    LEFT ANTI on the partition key + union. Idempotent: refreshing the
    same day twice converges, unlike additive ``+=`` ingest (module doc).
    The anti-join side carries partition keys only; broadcast when the
    refresh set is small (the common one-day case)."""
    if not partition_cols:
        raise ValueError("need at least one partition column")
    keys = fresh.select(*partition_cols).dropDuplicates()
    kept = state.join(F.broadcast(keys), list(partition_cols), "left_anti")
    return kept.unionByName(fresh)


def build_hist_rollup(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    num_buckets: int,
) -> DataFrame:
    """Mergeable histogram state — the rollup-table answer for QUANTILES,
    which have no algebraic partial like sum/min/max: per group, one
    ``(bucket, bucket_lo, n)`` row per OBSERVED fixed-width bucket of
    ``value_col`` over [lo, hi) (same clamp-to-edge floor arithmetic as
    ``profile.numeric_histogram``, so any engine reproduces the bucket
    ids). Tall rows are additive — merging grains is a grouped sum, so
    the state slots into ``refresh_rollup``'s replace-by-partition
    maintenance unchanged. State size ≤ |groups|·num_buckets rows.

    Accuracy is the histogram trade: estimates interpolate inside a
    bucket, so error ≤ one bucket width — choose num_buckets for the
    reporting tolerance (256–1024 for percentile dashboards)."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got ({lo}, {hi})")
    width = (hi - lo) / num_buckets
    v = F.col(value_col)
    bucket = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(num_buckets - 1),
    ).cast("long")
    return (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bucket_lo", F.lit(lo) + F.col("bucket") * F.lit(width))
        .select(*group_cols, "bucket", "bucket_lo", "n")
    )


def hist_quantile(
    state: DataFrame,
    merge_keys: Sequence[str],
    qs: Sequence[float],
    lo: float,
    hi: float,
    num_buckets: int,
) -> DataFrame:
    """Quantile estimates from merged histogram state: roll the tall bins
    up to ``merge_keys``, take the running count over ascending buckets,
    and linearly interpolate inside the bucket containing rank q·total —
    the textbook histogram-percentile read. Never touches raw rows; the
    windows run over ≤ num_buckets rows per group. Every arithmetic step
    is integers plus a fixed shape of IEEE ops, so an engine replaying
    the same expressions reproduces each estimate bit-identically.

    Output: (merge_keys..., q, quantile_est). ``q`` values must be in
    (0, 1]."""
    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError("qs must be non-empty, each in (0, 1]")
    width = (hi - lo) / num_buckets
    merged = state.groupBy(*merge_keys, "bucket", "bucket_lo").agg(
        F.sum("n").alias("n")
    )
    word = Window.partitionBy(*merge_keys).orderBy("bucket")
    wall = Window.partitionBy(*merge_keys)
    staged = (
        merged.withColumn("__cum__", F.sum("n").over(word))
        .withColumn("__prev__", F.col("__cum__") - F.col("n"))
        .withColumn("__total__", F.sum("n").over(wall))
        .withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
        .withColumn("__target__", F.col("q") * F.col("__total__"))
    )
    picked = staged.filter(
        (F.col("__prev__") < F.col("__target__"))
        & (F.col("__target__") <= F.col("__cum__"))
    )
    est = F.col("bucket_lo") + F.lit(width) * (
        (F.col("__target__") - F.col("__prev__")) / F.col("n")
    )
    return picked.select(
        *merge_keys, "q", est.alias("quantile_est")
    )
