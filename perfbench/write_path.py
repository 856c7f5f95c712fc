"""``write_path``: the GDELT lake writers and the LLM-corpus pipeline.

Setup starts the session, generates the inputs and merges the first
``WARM_INCREMENTS`` export(s) into a scratch lake, so that the timed
increments run on compiled code, as a long-lived ingest service does. Then
one client, in order, each call issued after the previous one returns:

1. GDELT-2.0 15-minute increments merged into the event lake and the daily
   rollup (``lake.increment``), until the run's seconds are spent since the
   first one (at least ``MIN_INCREMENTS``). The first creates the lake and
   the rollup, every later one merges into them; the per-increment figure
   is their median;
2. the backfill of a seeded GDELT drop (``lake.backfill``) of ``DROP_ROWS``
   events in eight zipped daily, monthly and yearly files (a real daily
   export holds 100-200k events; this one is smaller so that a run fits its
   time budget). It runs after the increments, so the parsing and writing
   code it shares with them is compiled;
3. one corpus-pipeline chain over a seeded corpus (``chain.run_chain``).

Every output is checked against the generator; see ``lake`` and ``chain``.
"""

from __future__ import annotations

import os
import statistics
import time

from . import chain, lake
from .gen import corpus, gdelt_drop, increments
from .tracing import Tracer, e2e_values

DROP_ROWS = 5_000
WARM_INCREMENTS = 1
MIN_INCREMENTS = 6
MAX_INCREMENTS = 10
DOCS = 300


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer

    def make_inputs(d: str) -> dict:
        frames = increments(ctx.seed, MAX_INCREMENTS, lake.INCREMENT_ROWS, lake.REEMIT_SHARE,
                            first_id=10 * DROP_ROWS)
        return {
            "drop": gdelt_drop(os.path.join(d, "drop"), ctx.seed, DROP_ROWS, lake.FILTER_COLS),
            "frames": frames,
            "paths": lake.write_increments(frames, os.path.join(d, "increments")),
            "corpus": corpus(os.path.join(d, "corpus"), ctx.seed, DOCS),
        }

    inp = ctx.repeat_setup(make_inputs)
    ops = lake.Ops()

    t0, warm = time.perf_counter(), os.path.join(ctx.work, "warm")
    for b, path in enumerate(inp["paths"][:WARM_INCREMENTS]):
        lake.increment(spark, Tracer(spark, enabled=False), path, b,
                       os.path.join(warm, "lake"), os.path.join(warm, "rollup"))
    ctx.add_setup(time.perf_counter() - t0)

    etl = os.path.join(ctx.work, "etl")
    lake_dir, state_dir = os.path.join(etl, "lake"), os.path.join(etl, "rollup")
    incs: list[dict] = []
    t_start = time.perf_counter()
    for b, path in enumerate(inp["paths"]):
        if len(incs) >= MIN_INCREMENTS and time.perf_counter() - t_start >= ctx.seconds:
            break
        ops.attempted += 1
        try:
            incs.append(lake.increment(spark, tr, path, b, lake_dir, state_dir))
        except Exception as e:
            ops.failures[f"increment.{b}"] = f"{type(e).__name__}: {e}"[:300]
            break
    ok, why = lake.check_increments(spark, inp["frames"][:len(incs)], lake_dir, state_dir)
    if not ok:  # the final state vouches for every increment together
        for b in range(len(incs)):
            ops.failures[f"increment.{b}"] = why

    with tr.span("backfill", cpu=True) as bf_rec:
        bf = lake.backfill(spark, tr, inp["drop"], os.path.join(etl, "backfill"), ops)
    lake.check_samples(spark, bf, ops)

    ops.attempted += 1
    recs: list[dict] = []
    c = {"wall_s": 0.0, "cpu_s": 0.0}
    try:
        with tr.span("chain", cpu=True) as c:
            report, recs = chain.run_chain(spark, tr, inp["corpus"], os.path.join(ctx.work, "chain"))
        why = chain.check(spark, report, inp["corpus"])
        if why:
            ops.failures["chain"] = why
    except Exception as e:
        ops.failures["chain"] = f"{type(e).__name__}: {e}"[:300]

    ok_incs = [x for b, x in enumerate(incs) if f"increment.{b}" not in ops.failures]
    rows = inp["drop"]["rows"]
    inc_cpu = [x["cpu_s"] for x in ok_incs]
    out = {
        "attempted": ops.attempted,
        "failed": len(ops.failures),
        "failures": ops.failures,
        "e2e": e2e_values(
            [x["wall_s"] for x in ok_incs], statistics.median(inc_cpu) if inc_cpu else 0.0,
            work_per_s=rows / bf_rec["wall_s"], batch_s=c["wall_s"],
            work_per_cpu_s=rows / bf_rec["cpu_s"], batch_cpu_s=c["cpu_s"]),
        "details": {"backfill_s": bf_rec["wall_s"], "backfill_cpu_s": bf_rec["cpu_s"],
                    "increment_s": [x["wall_s"] for x in incs],
                    "increment_cpu_s": [x["cpu_s"] for x in incs],
                    "drop_rows": DROP_ROWS, "docs": inp["corpus"]["docs"]},
        "layers": {},
    }
    if tr.enabled:
        out["layers"] = {**lake.layers(bf, incs, lake_dir, rows),
                         **(chain.layers(recs) if recs else {})}
    return out
