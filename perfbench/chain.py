"""The LLM-corpus chain: ``pipeline.run_pipeline`` over a generated corpus.

The chain is normalize → dedup_exact → dedup_near → quality_gate →
decontaminate → expect → split → pack → export over a corpus with planted
exact duplicates, near duplicates and benchmark-contaminated documents.
Untraced, the chain is one ``run_pipeline`` call. Traced, it is driven one
stage at a time through the runner's resumable ``input`` hand-off, so every
stage is timed from outside.
"""

from __future__ import annotations

import os

SHARDS = 4
STAGE_NAMES = ("normalize", "dedup_exact", "dedup_near", "quality_gate", "decontaminate",
               "expect", "split", "pack", "export")


def stages(probes: str, export_dir: str) -> list[dict]:
    return [
        {"stage": "normalize", "text_col": "text"},
        {"stage": "dedup_exact", "key": "text", "id_col": "doc_id"},
        {"stage": "dedup_near", "text_col": "text", "id_col": "doc_id", "threshold": 0.8},
        {"stage": "quality_gate", "text_col": "text", "quantile": 0.1},
        {"stage": "decontaminate", "probes": probes, "n": 5},
        {"stage": "expect", "rules": [
            {"type": "not_null", "column": "doc_id"},
            {"type": "unique", "columns": ["doc_id"]},
        ]},
        {"stage": "split", "text_col": "text"},
        {"stage": "pack", "budget": 512, "id_col": "doc_id"},
        {"stage": "export", "out": export_dir, "shards": SHARDS, "shard_key": "doc_id"},
    ]


def run_chain(spark, tr, inp: dict, work: str) -> tuple[dict, list[dict]]:
    """One full chain. Returns the runner's report and, when tracing, one
    record per stage (its span counters)."""
    from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline

    st = stages(inp["probes"], os.path.join(work, "export"))
    if not tr.enabled:
        with tr.span("pipeline.chain"):
            report = run_pipeline(spark, {"pipeline": {
                "input": inp["input"], "workdir": work, "stages": st}})
        return report, []
    cur, recs, entries = inp["input"], [], []
    with tr.span("pipeline.chain"):
        for i, s in enumerate(st):
            s = dict(s)
            if s["stage"] not in ("expect", "export"):
                s["out"] = os.path.join(work, f"{i:02d}_{s['stage']}")
            with tr.span(f"pipeline.{s['stage']}") as rec:
                rep = run_pipeline(spark, {"pipeline": {"input": cur, "stages": [s]}})
            entry = rep["stages"][0]
            entries.append(entry)
            if s["stage"] != "export":
                cur = entry["out"]
            recs.append({"stage": s["stage"], "rows": entry["rows"], **rec})
    return {"input": inp["input"], "stages": entries, "final": cur}, recs


def check(spark, report: dict, inp: dict) -> str | None:
    from pyspark.sql import functions as F

    by = {s["stage"]: s for s in report["stages"]}
    final = spark.read.parquet(by["pack"]["out"])
    planted = inp["exact_dups"] + inp["contaminated"]
    left = final.filter(F.col("doc_id").isin(planted)).count()
    if left:
        return f"{left} planted duplicate/contaminated docs survived"
    if by["expect"].get("rules_failed"):
        return f"expect failed: {by['expect']['rules_failed']}"
    if by["export"]["rows"] != by["pack"]["rows"]:
        return f"export shards hold {by['export']['rows']} rows, pack wrote {by['pack']['rows']}"
    return None


def layers(recs: list[dict]) -> dict:
    """Per stage: time, rows out, jobs and shuffle MB; plus the runner's
    footer-count time summed over the stages. A stage that writes a new
    directory ends with the runner's footer count of it, so its count time
    is the duration of the jobs after its last writing job; ``expect`` and
    ``export`` write no stage directory and count nothing."""
    lay = {}
    for r in recs:
        name = r["stage"]
        lay[f"pipeline.{name}_s"] = r["wall_s"]
        lay[f"pipeline.{name}_rows_out"] = r["rows"]
        lay[f"pipeline.{name}_jobs"] = r["jobs"]
        lay[f"pipeline.{name}_shuffle_mb"] = r["shuffle_write_mb"] + r["shuffle_read_mb"]
    lay["pipeline.report_s"] = sum(r["after_write_s"] for r in recs
                                   if r["stage"] not in ("expect", "export"))
    return lay
