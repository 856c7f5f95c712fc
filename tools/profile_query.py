"""Per-query cost split: plan-build (registry fn call: py4j tree building,
artifact boot, driver collects) vs execution (noop sink), plus the classes
Janino compiled for the call and optional explain('formatted') capture — the
r15 optimization round's measurement harness (guide §1: measure first,
isolate with the noop sink).

Usage:
    python tools/profile_query.py q_opq_maintained q_khop_reach ...
    python tools/profile_query.py --explain-dir plans/r15 --suffix before q_x
    python tools/profile_query.py --repeat 2 q_x q_y  # walk the list twice
    python tools/profile_query.py --all               # whole registry

With --repeat N the whole list is walked N times in order, so a later walk
sees the codegen cache the other queries left behind, as a long-lived
session does. Prints, after the last walk, one line per query with each
run's fn_s+exec_s and its compiles/compile_ms (deltas of Spark's codegen
compile-time histogram), then one line with each walk's compile total. A
query whose generated classes stay cached shows 0 compiles from its second
run on. Explains (first run) are written to <explain-dir>/<query>_<suffix>.txt.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gdelt_2_0_event_database_pipeline_spark.plans import QUERIES  # noqa: E402
from gdelt_2_0_event_database_pipeline_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("queries", nargs="*")
    p.add_argument("--all", action="store_true")
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--repeat", type=int, default=1)
    p.add_argument("--explain-dir", default=None)
    p.add_argument("--suffix", default="before")
    args = p.parse_args()

    names = sorted(QUERIES) if args.all else args.queries
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        p.error(f"unknown queries: {unknown}")

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.explain_dir:
        os.makedirs(os.path.join(REPO, args.explain_dir), exist_ok=True)

    print(f"{'query':36s} per-run (fn_s+exec_s compiles/compile_ms)")
    runs = {name: [] for name in names}  # (fn_s, exec_s, compiles, ms) per run
    walks = max(1, args.repeat)
    for w in range(walks):
        for name in names:
            spark.sparkContext.setJobDescription(f"profile:{name}")
            n0, ms0 = codegen_compiles(spark)
            t0 = time.time()
            df = QUERIES[name].fn(spark, args.sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            n1, ms1 = codegen_compiles(spark)
            runs[name].append((t1 - t0, t2 - t1, n1 - n0, ms1 - ms0))
            if w == 0 and args.explain_dir:
                out = os.path.join(
                    REPO, args.explain_dir, f"{name}_{args.suffix}.txt")
                with open(out, "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            if w == walks - 1:
                print(
                    f"{name:36s} "
                    + "  ".join(f"{f_:.3f}+{e:.3f} {n}/{ms:.0f}"
                                for f_, e, n, ms in runs[name]),
                    flush=True,
                )
    walk_compiles = [sum(runs[name][w][2] for name in names) for w in range(walks)]
    print(f"{'walk compiles':36s} " + "  ".join(map(str, walk_compiles)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
