"""Approximate sketches at scale (SURVEY.md §2.10 X5).

Thin, named wrappers over Spark's built-in sketch aggregates — the point is
the inventory surface (what a 100 TB pipeline reaches for instead of exact
global aggregates) plus documented error contracts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def approx_distinct(col: str, rsd: float = 0.05) -> Column:
    """HyperLogLog++ distinct count, relative standard deviation ``rsd``.
    One pass, O(1) memory per group — the 100 TB replacement for
    count(DISTINCT x), whose exact form forces a full shuffle on x."""
    return F.approx_count_distinct(col, rsd)


def percentile_approx(col: str, percentage: float, accuracy: int = 10000) -> Column:
    """t-digest-style approximate percentile aggregate (group-able)."""
    return F.percentile_approx(col, percentage, accuracy)


def frequent_items(df: DataFrame, cols: list[str], support: float = 0.01) -> DataFrame:
    """Karp et al. heavy hitters — one pass, no shuffle of raw values."""
    return df.freqItems(cols, support)


def hll_sketch_table(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group mergeable HLL sketch (Apache DataSketches binary) — the
    pre-aggregation a lake persists per partition/day so distinct counts
    over ANY coarser grouping come from unioning kilobyte sketches instead
    of re-scanning raw data. ~2^lg_k bytes per group; relative error
    ≈ 1.04/sqrt(2^lg_k) (~1.6% at the default lg_k=12)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll_sketch")
    )


def hll_rollup_estimate(
    sketches: DataFrame, merge_keys: list[str]
) -> DataFrame:
    """Union persisted per-group sketches up to ``merge_keys`` and estimate
    the distinct count — the incremental-maintenance read path: touching
    only the sketch table, never the raw events. Unlike additive counters,
    HLL unions are exact over overlap (re-processing a day twice does not
    double-count), which is what makes the sketch table idempotently
    maintainable."""
    grouped = (
        sketches.groupBy(*merge_keys)
        if merge_keys
        else sketches.groupBy()
    )
    return grouped.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias("distinct_est")
    )


def _cms_hashes(key, depth: int, width: int) -> "Column":
    """array<struct<d,w>> of a key's count-min buckets: h1/h2 are two
    40-bit hex windows of one md5 (the engine-portable Kirsch-Mitzenmacher
    family shared with MinHash — any engine replays it), bucket_i =
    (h1 + i*h2) mod width."""
    m = F.md5(key.cast("string"))
    h1 = F.conv(F.substring(m, 1, 10), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 11, 10), 16, 10).cast("long")
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                ((h1 + F.lit(i) * h2) % width).alias("w"),
            )
            for i in range(depth)
        ]
    )


def cms_sketch_table(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Mergeable count-min sketch state (Cormode & Muthukrishnan 2005) as
    TALL ADDITIVE rows — the rollup-table answer for per-key frequencies
    over unbounded key domains, where exact per-key counts would make the
    state table as large as the problem: per group, one
    ``(d, w, n)`` row per occupied cell of a depth×width counter matrix,
    ≤ depth·width rows per group regardless of how many distinct keys
    passed through. Merging grains is a grouped sum and the state slots
    into ``operators.rollup.refresh_rollup`` maintenance unchanged —
    exactly the `hll_sketch_table` discipline, but answering point
    frequency queries instead of distinct counts.

    One map-side-partial shuffle: each input row explodes to ``depth``
    (cell, 1) contributions that collapse into ≤ groups·depth·width
    partials before travelling. Estimate error: ≤ 2·N/width with
    probability 1 − (1/2)^depth (one-sided — never underestimates)."""
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got ({depth}, {width})")
    cell = F.explode(_cms_hashes(F.col(key_col), depth, width)).alias("__cell__")
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, cell)
        .groupBy(*group_cols, F.col("__cell__.d").alias("d"), F.col("__cell__.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    state: DataFrame,
    merge_keys: list[str],
    probes: DataFrame,
    probe_col: str,
    depth: int = 4,
    width: int = 1024,
    max_domain_rows: int = 2_000_000,
) -> DataFrame:
    """Point-frequency estimates from merged CMS state: roll the cells up
    to ``merge_keys`` (grouped sum — never raw rows), hash each probe key
    to its ``depth`` buckets, and take min over the matched counters (the
    count-min read; an absent bucket means frequency 0, expressed as
    matched-buckets < depth rather than densifying the matrix). The
    probe frame is bounded by construction and broadcasts into one
    equi-join on (d, w) — no cross join, no per-key scan of raw data.

    ``depth``/``width`` MUST match the values the state was built with —
    buckets are incomparable otherwise (the MinHash parameter contract).
    Output: (merge_keys..., probe_col, freq_est). Every probe appears in
    the output — a key none of whose buckets exist estimates 0 (the
    probe-side outer join; silently dropping unseen keys would make
    "how often did X occur" unanswerable for the answer 0).

    With ``merge_keys`` the probe domain is grains × probes; both sides
    are bounded by construction (state grains, hand-written probe lists)
    but nothing upstream ENFORCES that, so the product is counted (both
    counts are sketch-cheap: an agg over state cells, a count over the
    probe list) and a product above ``max_domain_rows`` raises instead
    of silently going quadratic — the ``pq._assert_size`` discipline."""
    merged = state.groupBy(*merge_keys, "d", "w").agg(F.sum("n").alias("n"))
    if merge_keys:
        n_grains = merged.select(*merge_keys).dropDuplicates().count()
        n_probes = probes.select(probe_col).count()
        if n_grains * n_probes > max_domain_rows:
            raise ValueError(
                f"cms_estimate probe domain is {n_grains} grains × "
                f"{n_probes} probes = {n_grains * n_probes} rows, above "
                f"max_domain_rows={max_domain_rows}; estimate fewer grains "
                "per call (filter state), shorten the probe list, or raise "
                "the cap explicitly if the product is genuinely intended"
            )
    pb = probes.select(
        F.col(probe_col),
        F.explode(_cms_hashes(F.col(probe_col), depth, width)).alias("__cell__"),
    ).select(
        probe_col,
        F.col("__cell__.d").alias("d"),
        F.col("__cell__.w").alias("w"),
    )
    if merge_keys:
        # bounded product: |groups in state| × |probes|·depth, both small
        # by construction (state grains and probe lists are bounded)
        domain = merged.select(*merge_keys).dropDuplicates().crossJoin(pb)
        joined = domain.join(merged, [*merge_keys, "d", "w"], "left")
    else:
        joined = pb.join(F.broadcast(merged), ["d", "w"], "left")
    return joined.groupBy(*merge_keys, probe_col).agg(
        F.when(F.count("n") == depth, F.min("n"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("freq_est")
    )
