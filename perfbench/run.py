"""Benchmark entry point: one workload, one seed, one JSON result line.

Usage, from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads: ``query_mix`` and ``write_path`` (see ``BENCHMARK.json`` for
why each exists). The seed drives every generated
input. The run happens in this single process on ``local[<cores>]``, with
every file it writes under ``.perfbench_work/`` in the current directory.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, read from spans and Spark's status store around every layer call.
The line before it holds the run's details (failures by name, tail
percentile and sample count, per-pass times).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3


class Ctx:
    """What a workload gets: the session, the tracer, its seed and time
    budget, a private work directory, and setup-time accounting."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, cores: int):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.work, self.cores = seed, seconds, work, cores
        self.gen_s: list[float] = []
        self.setup_extra_s = 0.0

    def repeat_setup(self, make):
        """Generate the inputs ``SETUP_REPEATS`` times, each into a fresh
        directory, and keep the last; the median time enters ``setup_s``."""
        result = None
        for k in range(SETUP_REPEATS):
            d = os.path.join(self.work, f"inputs{k}")
            if k:
                shutil.rmtree(os.path.join(self.work, f"inputs{k - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            result = make(d)
            self.gen_s.append(time.perf_counter() - t0)
        return result

    def add_setup(self, seconds: float) -> None:
        self.setup_extra_s += seconds


def _reap(root: str) -> None:
    """Remove work directories left by runs whose process is gone."""
    for e in os.listdir(root) if os.path.isdir(root) else ():
        pid = e.split("-", 1)[0]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, e), ignore_errors=True)
        except PermissionError:
            pass


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    root = os.getcwd()
    sys.path[:0] = [root, os.path.dirname(HERE)]
    from perfbench.metrics import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(root, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    _reap(work_root)
    work = os.path.join(work_root, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    cores = len(os.sched_getaffinity(0))
    try:
        return _run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cores: int) -> int:
    import importlib

    from perfbench.metrics import END_TO_END, PER_LAYER

    t0 = time.perf_counter()
    from gdelt_2_0_event_database_pipeline_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        from perfbench.tracing import StatusStore, Tracer, failed_ratio

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, args.seconds, work, cores)
        mod = importlib.import_module(f"perfbench.{args.workload}")
        t_run = time.perf_counter()
        res = mod.run(ctx)
        run_s = time.perf_counter() - t_run
        cached, storage_mb = StatusStore(spark).storage()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = _rss_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        _stop(spark)

    e2e = {"setup_s": start_s + statistics.median(ctx.gen_s) + ctx.setup_extra_s,
           **res["e2e"]}
    if args.trace:
        timed_s = run_s - ctx.setup_extra_s - sum(ctx.gen_s)
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res["layers"])
        layers.update({
            **{f"e2e.{k}": v for k, v in e2e.items()},
            "failed_ratio": failed_ratio(res["attempted"], res["failed"]),
            "trace.overhead_s": tracer.overhead_s,
            "trace.overhead_ratio": tracer.overhead_s / timed_s,
            "session.start_s": start_s,
            "session.peak_rss_mb": rss,
            "session.cached_rdds_after": cached,
            "session.storage_mb_after": storage_mb,
        })
        tracer.dump(os.path.join(os.path.dirname(work),
                                 f"spans-{args.workload}-seed{args.seed}.jsonl"))
        metrics = {k: {"value": layers[k], "unit": m["unit"]} for k, m in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, (u, _) in END_TO_END.items()}

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "failures": res["failures"],
        "e2e": e2e, "setup_parts": {
            "session_start_s": start_s, "inputs_s": ctx.gen_s, "warm_s": ctx.setup_extra_s},
        **res["details"],
    }))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
