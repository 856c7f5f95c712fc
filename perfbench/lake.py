"""The GDELT lake writers: the reference's own backfill flow, then increments.

Backfill: ``sources.manifest`` (extract and prune the listing) → download
and unzip → ``gdelt_csv.convert`` (flat tree plus Hive tree) →
``lake.run_filter_stage`` → the exact-n samplers over a partition-pruned
``read_lake`` (``sample_filtered`` with a nested predicate-DSL filter).

Increments: 15-minute exports, each parsed once and merged with
``merge_upsert_batch`` into the event lake (keyed by ``GlobalEventID``,
partitioned by ``Day``) and with ``merge_rollup_batch`` into a daily rollup.
A seeded share of each increment re-emits existing keys, and each increment
spans several days.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

from .gen import write_gdelt_csv
from .tracing import latency_summary, percentile

INCREMENT_ROWS = 1_000
REEMIT_SHARE = 0.3
FILTER_COLS = ("Actor1Code", "ActionGeo_CountryCode", "QuadClass")
SAMPLE_N = 1_000
PER_DAY = 5
PER_GROUP = 200
ROLLUP_GROUP = "EventCode"
ROLLUP_VALUES = ("NumMentions", "NumArticles")
#: nested predicate DSL for ``sample_filtered`` (top level joins with AND)
FILTER = {
    "Actor1CountryCode": ["USA", "CHN", "BRA"],
    "OR": {
        "QuadClass": [3, 4],
        "GoldsteinScale": {"op": "gt", "value": 5.0},
        "AND": {"IsRootEvent": 1, "NumMentions": {"op": "between", "min": 10, "max": 60}},
    },
}
PRUNE_YEAR = 2016


def _dsl_mask(pdf: pd.DataFrame) -> pd.Series:
    """The generator-side twin of :data:`FILTER` (NULL never matches)."""
    inner_and = (pdf.IsRootEvent == 1) & pdf.NumMentions.between(10, 60)
    alt = pdf.QuadClass.isin([3, 4]) | (pdf.GoldsteinScale > 5.0) | inner_and
    return pdf.Actor1CountryCode.isin(["USA", "CHN", "BRA"]) & alt


def _files_and_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _fetcher(zips: str):
    def fetch(url: str, timeout: float) -> bytes:
        with open(os.path.join(zips, url.rsplit("/", 1)[-1]), "rb") as f:
            return f.read()
    return fetch


class Ops:
    """Failure accounting: every timed call is attempted; one that raises or
    fails its check is recorded by name."""

    def __init__(self):
        self.attempted = 0
        self.failures: dict[str, str] = {}

    def check(self, name: str, ok: bool, why: str) -> None:
        if not ok:
            self.failures[name] = why


def backfill(spark, tr, drop: dict, work: str, ops: Ops) -> dict:
    from gdelt_2_0_event_database_pipeline_spark.operators import sampling
    from gdelt_2_0_event_database_pipeline_spark.sources import gdelt_csv, lake, manifest

    spans: dict[str, dict] = {}
    pdf = drop["frame"]

    def step(name: str):
        ops.attempted += 1
        return tr.span(name)

    with step("sources.manifest") as spans["sources.manifest"]:
        links = manifest.extract_zip_links(drop["html"], "http://data.example.com/events")
        pruned = manifest.prune_manifest(
            manifest.manifest_df(spark, links), dt.date(2015, 1, 1), dt.date(2017, 12, 31)
        )
        urls = [r.url for r in pruned.collect()]
    ops.check("sources.manifest", len(urls) == 8, f"{len(urls)} urls kept, want 8")

    dl, csv_dir = os.path.join(work, "dl"), os.path.join(work, "csv")
    with step("sources.download_extract") as spans["sources.download_extract"]:
        got = manifest.download_files(urls, dl, fetcher=_fetcher(drop["zips"]))
        gdelt_csv.extract_zips(dl, csv_dir)
    ops.check("sources.download_extract", len(got["success"]) == 8, f"downloads {got}")

    flat, hist = os.path.join(work, "flat"), os.path.join(work, "hist")
    with step("sources.convert") as spans["sources.convert"]:
        counts = gdelt_csv.convert(spark, csv_dir, flat, historical_dir=hist)
    converted = sum(v for k, v in counts.items() if k != "corrupt")
    ops.check("sources.convert", converted == drop["rows"] and counts["corrupt"] == 0,
              f"converted {counts}, generated {drop['rows']}")

    filtered = os.path.join(work, "filtered")
    with step("sources.filter") as spans["sources.filter"]:
        report = lake.run_filter_stage(spark, flat, filtered, list(FILTER_COLS), historical_dir=hist)
    ops.check("sources.filter", report.rows_after == drop["no_null_rows"],
              f"filter kept {report.rows_after}, generator says {drop['no_null_rows']}")

    year = pdf[pdf.Year == PRUNE_YEAR]
    by_day = year.groupby("Day").size()
    by_quad = year.QuadClass.fillna(-1).value_counts()
    samplers = {
        "uniform": (lambda df: sampling.sample_uniform(df, SAMPLE_N, key_cols=["GlobalEventID"]),
                    min(SAMPLE_N, len(year))),
        "daily": (lambda df: sampling.sample_daily(df, PER_DAY, key_cols=["GlobalEventID"]),
                  int(np.minimum(by_day, PER_DAY).sum())),
        "per_group": (lambda df: sampling.sample_per_group(
                          df, "QuadClass", PER_GROUP, key_cols=["GlobalEventID"]),
                      int(np.minimum(by_quad, PER_GROUP).sum())),
        "filtered": (lambda df: sampling.sample_filtered(
                         df, FILTER, SAMPLE_N // 4, key_cols=["GlobalEventID"]),
                     min(SAMPLE_N // 4, int(_dsl_mask(year).sum()))),
    }
    samples = {}
    for name, (fn, want) in samplers.items():
        out = os.path.join(work, f"sample_{name}")
        with step(f"sampling.{name}") as spans[f"sampling.{name}"]:
            pruned_lake = lake.read_lake(spark, flat, hist).filter(f"Year = {PRUNE_YEAR}")
            fn(pruned_lake).write.mode("overwrite").parquet(out)
        samples[name] = (out, want)
    return {"spans": spans, "flat": flat, "hist": hist, "csv": csv_dir, "samples": samples}


def check_samples(spark, bf: dict, ops: Ops) -> None:
    """Each sampler wrote exactly the rows it was asked for."""
    for name, (out, want) in bf["samples"].items():
        n = spark.read.parquet(out).count()
        ops.check(f"sampling.{name}", n == want, f"sampled {n}, want exactly {want}")


def increment(spark, tr, path: str, b: int, lake_dir: str, state_dir: str) -> dict:
    from gdelt_2_0_event_database_pipeline_spark.sources.gdelt_csv import read_gdelt_csv
    from gdelt_2_0_event_database_pipeline_spark.streaming.rollup import merge_rollup_batch
    from gdelt_2_0_event_database_pipeline_spark.streaming.upsert import merge_upsert_batch

    with tr.span("increment", cpu=True, batch=b) as inc:
        with tr.span("streaming.parse") as parse:
            batch = read_gdelt_csv(spark, path).drop("_source_file").persist()
            batch.count()
        with tr.span("streaming.upsert") as up:
            merge_upsert_batch(spark, batch, lake_dir, ["GlobalEventID"], "Day")
        with tr.span("streaming.rollup") as roll:
            merge_rollup_batch(spark, batch, b, state_dir, [ROLLUP_GROUP], "Day",
                               list(ROLLUP_VALUES))
        batch.unpersist()
    return {"wall_s": inc["wall_s"], "cpu_s": inc["cpu_s"],
            "parse": parse, "upsert": up, "rollup": roll, "bytes_in": os.path.getsize(path)}


def write_increments(frames: list[pd.DataFrame], d: str) -> list[str]:
    os.makedirs(d)
    paths = []
    for b, pdf in enumerate(frames):
        # GDELT 2.0 names its 15-minute exports YYYYMMDDHHMMSS.export.CSV
        stamp = pd.Timestamp("2015-02-18") + pd.Timedelta(minutes=15 * b)
        p = os.path.join(d, stamp.strftime("%Y%m%d%H%M%S") + ".export.CSV")
        write_gdelt_csv(pdf, p)
        paths.append(p)
    return paths


def check_increments(spark, frames, lake_dir, state_dir) -> tuple[bool, str]:
    from pyspark.sql import functions as F

    allrows = pd.concat(frames, ignore_index=True)
    keys = allrows.GlobalEventID.nunique()
    n = spark.read.parquet(lake_dir).count()
    if n != keys:
        return False, f"lake holds {n} rows, {keys} distinct keys were emitted"
    want = allrows.groupby([ROLLUP_GROUP, "Day"])[list(ROLLUP_VALUES)].sum()
    got = (
        spark.read.parquet(f"{state_dir}/state")
        .groupBy(ROLLUP_GROUP, "Day")
        .agg(*[F.sum(f"{v}_sum").alias(v) for v in ROLLUP_VALUES])
        .toPandas().set_index([ROLLUP_GROUP, "Day"]).sort_index()
    )
    want = want.sort_index()
    if len(got) != len(want) or not (got.values == want.values).all():
        return False, "rollup sums differ from the generator's per-(group, day) sums"
    return True, ""


def layers(bf: dict, incs: list[dict], lake_dir: str, rows: int) -> dict:
    sp = bf["spans"]
    lay = {f"{k}_s": v["wall_s"] for k, v in sp.items()}
    files_out, bytes_out = (a + b for a, b in zip(_files_and_bytes(bf["flat"]),
                                                  _files_and_bytes(bf["hist"])))
    _, bytes_in = _files_and_bytes(bf["csv"], suffix="")
    lay["sources.convert_files_out"] = files_out
    lay["sources.convert_bytes_out_per_byte_in"] = bytes_out / bytes_in
    lay["sources.convert_jobs"] = sp["sources.convert"]["jobs"]
    lay["functions.pruned_rows_read_ratio"] = sp["sampling.filtered"]["input_rows"] / rows
    for k in ("parse", "upsert", "rollup"):
        s = latency_summary([x[k]["wall_s"] for x in incs])
        lay[f"streaming.{k}_s_p50"] = s["p50"]
        lay[f"streaming.{k}_s_tail"] = s["tail"]
    lay["streaming.upsert_jobs"] = percentile([x["upsert"]["jobs"] for x in incs], 50)
    lay["streaming.rollup_jobs"] = percentile([x["rollup"]["jobs"] for x in incs], 50)
    lay["streaming.upsert_write_amp"] = (
        sum(x["upsert"]["output_mb"] for x in incs) * 1e6 / sum(x["bytes_in"] for x in incs)
    )
    lay["streaming.lake_files_after"] = _files_and_bytes(lake_dir)[0]
    return lay
