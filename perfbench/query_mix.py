"""``query_mix``: a seeded permutation of registry rows over generated tables.

Each call is ``QUERIES[name].fn`` (plan build, the ``plans`` layer) followed
by a noop sink (execution, the ``operators`` layer). Setup runs one untimed
pass that fills codegen, the Arrow worker pool and the plan-side artifact
memos, and checks every row against its DuckDB twin. The timed phase then
issues passes in a closed loop with one client until the run's seconds are
spent (at least ``MIN_PASSES``). Each pass issues every row once, in a
seeded order.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from .gen import star_tables
from .oracle import compare
from .tracing import e2e_values, percentile

#: scales of the generated star tables (sf=1 ~ 6M lineitem rows): light rows
#: read ``SF``, heavy rows the larger ``HEAVY_SF``, which gives their
#: operators more executor work per job
SF = 0.01
HEAVY_SF = 0.03

#: bound by driver plan-build and the per-job floor
LIGHT = (
    "q01_pricing_summary", "q03_shipping_priority", "q_dsl_nested", "q_null_drop",
    "q_sample_daily", "q_compression_ratio",
)
#: many jobs and far more executor work per call than the light rows
HEAVY = ("q_spearman_bucketed", "q_khop_reach")
#: rows whose own build and exec times are reported (ROADMAP targets)
TARGETS = ("q_compression_ratio", "q_spearman_bucketed", "q_khop_reach")
MIN_PASSES = 2


def _check(spark, qd, data_dir, duck) -> tuple[str | None, int]:
    """(None when the row's result matches its oracle or, without one, is
    non-empty, else the reason; result rows)."""
    got = qd.fn(spark, data_dir).toPandas()
    if qd.sql is None:
        return (None if len(got) else "no rows"), len(got)
    return compare(got, duck.execute(qd.sql).df()), len(got)


def run(ctx) -> dict:
    import duckdb

    from gdelt_2_0_event_database_pipeline_spark.plans import QUERIES
    from gdelt_2_0_event_database_pipeline_spark.plans.registry import TABLES

    spark, tracer = ctx.spark, ctx.tracer
    names = list(LIGHT + HEAVY)

    def make_tables(d: str) -> dict[str, str]:
        dirs = {"light": os.path.join(d, "light"), "heavy": os.path.join(d, "heavy")}
        star_tables(dirs["light"], ctx.seed, SF)
        star_tables(dirs["heavy"], ctx.seed, HEAVY_SF)
        return dirs

    dirs = ctx.repeat_setup(make_tables)
    data = {n: dirs["heavy" if n in HEAVY else "light"] for n in names}

    # untimed warm pass doubling as the output check, in a seeded order
    t0 = time.perf_counter()
    ducks = {}
    for d in dirs.values():
        ducks[d] = duckdb.connect()
        for t in TABLES:
            ducks[d].execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    bad: dict[str, str] = {}
    rows_out: dict[str, int] = {}
    warm_s: dict[str, float] = {}
    for name in random.Random(ctx.seed).sample(names, len(names)):
        t1 = time.perf_counter()
        try:
            reason, rows_out[name] = _check(spark, QUERIES[name], data[name], ducks[data[name]])
        except Exception as e:  # a failing row is reported, not fatal
            reason = f"{type(e).__name__}: {e}"[:300]
        if reason:
            bad[name] = reason
        warm_s[name] = time.perf_counter() - t1
    for duck in ducks.values():
        duck.close()
    ctx.add_setup(time.perf_counter() - t0)

    rng = random.Random(ctx.seed + 1)
    lat: list[float] = []
    passes: list[float] = []
    pass_cpu: list[float] = []
    per: dict[str, list[dict]] = {n: [] for n in names}
    failures: dict[str, str] = {}
    attempted = failed = 0
    t_start = time.perf_counter()
    while True:
        order = rng.sample(names, len(names))
        c_pass = tracer.cpu()
        t_pass = time.perf_counter()
        for name in order:
            attempted += 1
            try:
                with tracer.span("query", cpu=True, row=name) as q:
                    with tracer.span("plans.build") as b:
                        df = QUERIES[name].fn(spark, data[name])
                    with tracer.span("operators.exec") as x:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed += 1
                failures[name] = f"{type(e).__name__}: {e}"[:300]
                continue
            if name in bad:
                failed += 1
                failures[name] = bad[name]
                continue
            lat.append(q["wall_s"])
            per[name].append({"build": b, "exec": x, "cpu_s": q["cpu_s"]})
        passes.append(time.perf_counter() - t_pass)
        pass_cpu.append(tracer.cpu() - c_pass)
        if len(passes) >= MIN_PASSES and time.perf_counter() - t_start >= ctx.seconds:
            break

    out = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "e2e": e2e_values(
            lat, _light_call_cpu(per),
            work_per_s=attempted / sum(passes), batch_s=statistics.median(passes),
            work_per_cpu_s=attempted / sum(pass_cpu), batch_cpu_s=statistics.median(pass_cpu)),
        "details": {"pass_s": passes, "pass_cpu_s": pass_cpu, "sf": SF, "heavy_sf": HEAVY_SF,
                    "warm_s": warm_s,
                    "call_s": {n: [c["build"]["wall_s"] + c["exec"]["wall_s"] for c in v]
                               for n, v in per.items()},
                    "call_cpu_s": {n: [c["cpu_s"] for c in v] for n, v in per.items()}},
        "layers": {},
    }
    if tracer.enabled:
        out["layers"] = _layers(per, rows_out, ctx.cores)
        out["details"]["split"] = _split(per, ctx.cores)
    return out


def _light_call_cpu(per: dict[str, list[dict]]) -> float:
    """CPU seconds of a light call: each light row's lowest over the passes,
    averaged over the rows. A short call also carries CPU that other threads
    spend meanwhile (compiling code and collecting garbage of earlier calls),
    in lumps that land on one pass or another; the lowest leaves them out."""
    lows = [min(c["cpu_s"] for c in per[n]) for n in LIGHT if per[n]]
    return statistics.fmean(lows) if lows else 0.0


def _split(per: dict[str, list[dict]], cores: int) -> dict:
    """Per row, medians over its calls: plan-build and sink seconds, jobs,
    and executor busy time as a share of the call's wall time on all cores
    (near 0: bound by the driver or the job floor)."""
    out = {}
    for name, calls in per.items():
        wall = [c["build"]["wall_s"] + c["exec"]["wall_s"] for c in calls]
        busy = [(c["build"]["executor_run_s"] + c["exec"]["executor_run_s"]) / (w * cores)
                for c, w in zip(calls, wall)]
        out[name] = {
            "build_s": percentile([c["build"]["wall_s"] for c in calls], 50),
            "exec_s": percentile([c["exec"]["wall_s"] for c in calls], 50),
            "jobs": percentile([c["build"]["jobs"] + c["exec"]["jobs"] for c in calls], 50),
            "busy": percentile(busy, 50),
        }
    return out


def _layers(per: dict[str, list[dict]], rows_out, cores: int) -> dict:
    builds = [c["build"] for v in per.values() for c in v]
    execs = [c["exec"] for v in per.values() for c in v]
    wall = sum(c["wall_s"] for c in builds + execs)
    busy = sum(c["executor_run_s"] for c in builds + execs)
    rows_in = sum(c["input_rows"] for c in builds + execs)
    rows_res = sum(rows_out.get(n, 0) * len(v) for n, v in per.items())
    lay = {
        "plans.build_s_p50": percentile([c["wall_s"] for c in builds], 50),
        "plans.build_s_sum": sum(c["wall_s"] for c in builds),
        "plans.build_jobs": sum(c["jobs"] for c in builds),
        "operators.exec_s_p50": percentile([c["wall_s"] for c in execs], 50),
        "operators.exec_s_sum": sum(c["wall_s"] for c in execs),
        "operators.task_busy_ratio": busy / (wall * cores) if wall else 0.0,
        "operators.rows_in_per_row_out": rows_in / rows_res if rows_res else 0.0,
    }
    for k in ("jobs", "stages", "tasks"):
        lay[f"operators.{k}"] = sum(c[k] for c in execs)
    for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        lay[f"operators.{k}"] = sum(c[k] for c in builds + execs)
    for name in TARGETS:
        calls = per.get(name, [])
        lay[f"row.{name}.build_s"] = percentile([c["build"]["wall_s"] for c in calls], 50)
        lay[f"row.{name}.exec_s"] = percentile([c["exec"]["wall_s"] for c in calls], 50)
    return lay
