"""Tests for the benchmark's statistics and its per-call Spark attribution.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import pytest

from perfbench.tracing import (
    Span,
    failed_ratio,
    latency_summary,
    percentile,
    self_time,
    tail_percentile,
)


def _beyond(values, pct):
    v = percentile(values, pct)
    return sum(x > v for x in values)


@pytest.mark.parametrize("n", [11, 12, 19, 20, 21, 26, 40, 57, 100, 1000])
def test_tail_percentile_is_highest_with_ten_beyond(n):
    values = [float(i) for i in range(n)]
    p = tail_percentile(n)
    assert _beyond(values, p) >= 10
    assert p == 100 or _beyond(values, p + 1) < 10


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_tail_percentile_needs_more_than_ten_samples(n):
    assert tail_percentile(n) is None
    s = latency_summary([1.0] * n)
    assert s["tail_pct"] == 100 and s["n"] == n


def test_latency_summary_tail_of_twenty():
    s = latency_summary([float(i) for i in range(1, 21)])
    assert s["tail_pct"] == 52 and s["p50"] == 10.5
    assert s["tail"] == pytest.approx(percentile([float(i) for i in range(1, 21)], 52))


def _span(sid, start, end, parent=None):
    return Span("s", start, end, parent, "run", sid)


def test_self_time_subtracts_child_coverage_once():
    parent = _span(0, 0.0, 10.0)
    spans = [
        parent,
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps child 1: [1, 5] covered once
        _span(3, 7.0, 8.0, parent=0),
        _span(4, 9.5, 12.0, parent=0),  # clipped to the parent's interval
        _span(5, 7.2, 7.8, parent=3),  # grandchild: already inside child 3
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert self_time(spans[3], spans) == pytest.approx(1.0 - 0.6)
    assert self_time(spans[1], spans) == pytest.approx(2.0)


def test_failed_ratio():
    assert failed_ratio(10, 0) == 0.0
    assert failed_ratio(8, 2) == 0.25
    with pytest.raises(ValueError):
        failed_ratio(0, 0)


@pytest.fixture(scope="module")
def spark():
    from gdelt_2_0_event_database_pipeline_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_job_group_counts_repeat_exactly(spark, tmp_path):
    """Two traced calls of one query_mix row over the same generated tables
    launch the same jobs, stages and tasks."""
    from gdelt_2_0_event_database_pipeline_spark.plans import QUERIES
    from perfbench.gen import star_tables
    from perfbench.tracing import Tracer

    data = str(tmp_path / "sf0.001")
    star_tables(data, seed=3, sf=0.001)
    fn = QUERIES["q05_local_supplier_volume"].fn
    fn(spark, data).write.format("noop").mode("overwrite").save()  # warm
    tracer = Tracer(spark, enabled=True)
    counts = []
    for _ in range(2):
        with tracer.span("operators.exec") as rec:
            fn(spark, data).write.format("noop").mode("overwrite").save()
        counts.append((rec["jobs"], rec["stages"], rec["tasks"]))
    assert counts[0] == counts[1]
    assert counts[0][0] >= 1 and counts[0][2] >= 1
    assert [s.name for s in tracer.spans] == ["operators.exec"] * 2


def test_after_write_time_covers_only_the_jobs_after_the_write(spark, tmp_path):
    """A write followed by a count: the count's jobs, not the write's, make
    up ``after_write_s``; a group that writes last has none."""
    from perfbench.tracing import Tracer

    tracer = Tracer(spark, enabled=True)
    out = str(tmp_path / "t")
    with tracer.span("write_then_count") as both:
        spark.range(1000).write.parquet(out)
        spark.read.parquet(out).count()
    with tracer.span("write_only") as write:
        spark.range(1000).write.mode("overwrite").parquet(out)
    assert 0.0 < both["after_write_s"] < both["wall_s"]
    assert write["after_write_s"] == 0.0 and write["jobs"] >= 1
