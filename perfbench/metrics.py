"""The benchmark's metric catalogue.

``END_TO_END`` metrics are what a user of the engine sees or pays for; each
run with ``--trace 0`` reports all of them. ``PER_LAYER`` metrics come from
the traced run (``--trace 1``); each row names the end-to-end metric and
workload it should move and where the prediction is no change. A layer a
workload never calls reads 0 there.

Apart from ``setup_s``, the gated end-to-end metrics count CPU seconds of the
whole process tree (driver, JVM, Python workers; ``tracing.cpu_seconds``),
not wall time. On a shared virtual machine wall time swings with the CPU time
other guests steal; the CPU seconds of a fixed amount of work vary far less.
The wall-clock figures (median and tail latency, throughput, batch time) are
still measured in every run, printed on the details line and reported by the
traced run as ``e2e.*``.

Per workload, the generic end-to-end names mean:

==================  =======================  ================================
metric              query_mix                write_path
==================  =======================  ================================
``op_cpu_s``        per light query call     per increment (lands → visible
                    (each light row's        in lake and rollup; median over
                    lowest over the passes,  the run's increments)
                    mean over the rows)
``work_per_cpu_s``  query calls per CPU      generated rows per CPU second
                    second of the timed      of the backfill
                    passes
``batch_cpu_s``     one timed pass (median)  one corpus-pipeline chain
``setup_s``         session start, median    session start, median input
                    table generation, warm   generation, the warm-up
                    pass with output checks  increments
==================  =======================  ================================

``e2e.op_p50_s`` (median over all operations), ``e2e.work_per_s`` and
``e2e.batch_s`` are the wall-clock counterparts.
"""

from __future__ import annotations

from .chain import STAGE_NAMES
from .query_mix import TARGETS

QM, WP = "query_mix", "write_path"
WORKLOADS = (QM, WP)

#: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
    "work_per_cpu_s": ("1/s", "higher"),
    "batch_cpu_s": ("s", "lower"),
}


def _row(unit, better, moves=None, on=None, no_change=None):
    return {"unit": unit, "better": better, "moves": moves, "on": on, "no_change": no_change}


_QM_OPS = dict(moves="op_cpu_s", on=QM, no_change=WP)
_QM_BATCH = dict(moves="batch_cpu_s", on=QM, no_change=WP)
_WP_BACKFILL = dict(moves="work_per_cpu_s", on=WP, no_change=QM)
_WP_INCR = dict(moves="op_cpu_s", on=WP, no_change=f"work_per_cpu_s on {WP}; {QM}")
_WP_CHAIN = dict(moves="batch_cpu_s", on=WP, no_change=QM)

PER_LAYER = {
    # the traced run's own end-to-end figures, including the wall-clock ones
    # (module doc); their difference to an untraced run is the tracing cost
    **{f"e2e.{k}": _row(u, b) for k, (u, b) in END_TO_END.items()},
    "e2e.op_p50_s": _row("s", "lower"),
    "e2e.op_tail_s": _row("s", "lower"),
    "e2e.op_tail_pct": _row("pct", "higher"),
    "e2e.op_n": _row("count", "higher"),
    "e2e.work_per_s": _row("1/s", "higher"),
    "e2e.batch_s": _row("s", "lower"),
    "failed_ratio": _row("ratio", "lower"),
    # the tracer's own cost
    "trace.overhead_s": _row("s", "lower"),
    "trace.overhead_ratio": _row("ratio", "lower"),
    # session
    "session.start_s": _row("s", "lower", moves="setup_s", on=f"{QM}, {WP}"),
    "session.peak_rss_mb": _row("MB", "lower"),
    "session.cached_rdds_after": _row("count", "lower", moves="session.peak_rss_mb",
                                      on=f"{QM}, {WP}"),
    "session.storage_mb_after": _row("MB", "lower", moves="session.peak_rss_mb",
                                     on=f"{QM}, {WP}"),
    # plans: time inside QUERIES[name].fn
    "plans.build_s_p50": _row("s", "lower", **_QM_OPS),
    "plans.build_s_sum": _row("s", "lower", **_QM_OPS),
    "plans.build_jobs": _row("count", "lower", **_QM_OPS),
    # operators: the noop sink
    "operators.exec_s_p50": _row("s", "lower", **_QM_OPS),
    "operators.exec_s_sum": _row("s", "lower", **_QM_BATCH),
    "operators.jobs": _row("count", "lower", **_QM_OPS),
    "operators.stages": _row("count", "lower", **_QM_OPS),
    "operators.tasks": _row("count", "lower", **_QM_OPS),
    "operators.shuffle_write_mb": _row("MB", "lower", **_QM_BATCH),
    "operators.shuffle_read_mb": _row("MB", "lower", **_QM_BATCH),
    "operators.spill_mb": _row("MB", "lower", **_QM_BATCH),
    "operators.task_busy_ratio": _row("ratio", "higher", **_QM_OPS),
    "operators.rows_in_per_row_out": _row("ratio", "lower", **_QM_BATCH),
    **{f"row.{q}.{p}_s": _row("s", "lower", **_QM_BATCH)
       for q in TARGETS for p in ("build", "exec")},
    # sources, sampling and the predicate DSL: the backfill
    **{f"{k}_s": _row("s", "lower", **_WP_BACKFILL) for k in (
        "sources.manifest", "sources.download_extract", "sources.convert",
        "sources.filter", "sampling.uniform", "sampling.daily",
        "sampling.per_group", "sampling.filtered")},
    "sources.convert_files_out": _row("count", "lower", **_WP_BACKFILL),
    "sources.convert_bytes_out_per_byte_in": _row("ratio", "lower", **_WP_BACKFILL),
    "sources.convert_jobs": _row("count", "lower", **_WP_BACKFILL),
    "functions.pruned_rows_read_ratio": _row("ratio", "lower", **_WP_BACKFILL),
    # streaming: the increments
    **{f"streaming.{k}_s_{q}": _row("s", "lower", **_WP_INCR)
       for k in ("parse", "upsert", "rollup") for q in ("p50", "tail")},
    "streaming.upsert_jobs": _row("count", "lower", **_WP_INCR),
    "streaming.rollup_jobs": _row("count", "lower", **_WP_INCR),
    "streaming.upsert_write_amp": _row("ratio", "lower", **_WP_INCR),
    "streaming.lake_files_after": _row("count", "lower", **_WP_INCR),
    # pipeline: one chain, stage by stage
    **{f"pipeline.{s}_{m}": _row(u, b, **_WP_CHAIN) for s in STAGE_NAMES for m, u, b in (
        ("s", "s", "lower"), ("rows_out", "count", "higher"),
        ("jobs", "count", "lower"), ("shuffle_mb", "MB", "lower"))},
    "pipeline.report_s": _row("s", "lower", **_WP_CHAIN),
}
