"""ETL stage tests: CSV→Parquet ingest with routing + Hive partitioning,
partition pruning, null-filter stage with retention report, manifest
idempotency, scrape manifest parsing/pruning/downloads, and the CLI."""

from __future__ import annotations

import datetime as dt
import json
import zipfile

import pytest
from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.cli import main as cli_main
from gdelt_2_0_event_database_pipeline_spark.schema import GDELT_COLUMNS
from gdelt_2_0_event_database_pipeline_spark.sources import gdelt_csv, lake, manifest

from tests.conftest import make_gdelt_pdf


def _write_csvs(tmpdir) -> str:
    """Three source CSVs with the reference's naming conventions: one daily,
    one monthly, one yearly — rows drawn from the GDELT fixture."""
    pdf = make_gdelt_pdf(600)
    full = pdf.reindex(columns=list(GDELT_COLUMNS))  # missing cols → NaN
    d = tmpdir / "csv"
    d.mkdir()
    full.iloc[0:200].to_csv(d / "20150101.export.CSV", sep="\t", header=False, index=False)
    full.iloc[200:400].to_csv(d / "201502.csv", sep="\t", header=False, index=False)
    full.iloc[400:600].to_csv(d / "2016.csv", sep="\t", header=False, index=False)
    return str(d)


@pytest.fixture(scope="module")
def converted(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("etl")
    csv_dir = _write_csvs(tmp)
    flat, hist = str(tmp / "flat"), str(tmp / "hist")
    counts = gdelt_csv.convert(spark, csv_dir, flat, historical_dir=hist)
    return tmp, flat, hist, counts


def test_convert_routes_by_granularity(converted):
    _, _, _, counts = converted
    assert counts["daily"] == 200
    assert counts["monthly"] == 200
    assert counts["yearly"] == 200


def test_convert_types_and_schema(spark, converted):
    _, flat, _, _ = converted
    df = spark.read.parquet(flat)
    dtypes = dict(df.dtypes)
    assert dtypes["GlobalEventID"] == "bigint"
    assert dtypes["GoldsteinScale"] == "double"
    assert dtypes["Actor1Code"] == "string"
    assert len(df.columns) == 58


def test_historical_is_hive_partitioned(spark, converted):
    tmp, _, hist, _ = converted
    # yearly rule → yearly/Year=..., monthly rule → monthly/Year=.../MonthYear=...
    yearly = [p.name for p in (tmp / "hist" / "yearly").iterdir() if p.is_dir()]
    assert yearly and all(y.startswith("Year=") for y in yearly)
    monthly_months = list((tmp / "hist" / "monthly").glob("Year=*/MonthYear=*"))
    assert monthly_months
    df = lake.read_lake(spark, historical_dir=hist)
    assert df.count() == 400


def test_partition_pruning_reaches_plan(spark, converted):
    _, _, hist, _ = converted
    df = spark.read.parquet(f"{hist}/yearly").filter(F.col("Year") == 2016)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(Year" in plan or "Year#" in plan
    assert df.count() > 0
    assert df.select("Year").distinct().collect()[0][0] == 2016


def test_numeric_coercion_malformed_to_null(spark, tmp_path):
    row = ["1", "notanumber", "201501", "2015", "2015.04"] + [""] * 53
    p = tmp_path / "20150102.export.CSV"
    p.write_text("\t".join(row) + "\n")
    df = gdelt_csv.read_gdelt_csv(spark, str(p))
    r = df.first()
    assert r.GlobalEventID == 1
    assert r.Day is None          # coerced, malformed → NULL
    assert r.Year == 2015


def test_filter_nulls_report(spark, converted):
    _, flat, hist, _ = converted
    df = lake.read_lake(spark, flat, hist)
    filtered, report = lake.filter_nulls(df, ["Actor1Code", "ActionGeo_Lat"])
    assert report.rows_before == 600
    assert report.rows_after == filtered.count()
    assert report.rows_after < report.rows_before
    assert filtered.filter(
        F.col("Actor1Code").isNull() | F.col("ActionGeo_Lat").isNull()
    ).count() == 0


def test_per_file_retention_breakdown(spark, converted):
    # reference logs rows-before/after PER FILE (filter.py:106-148); the
    # distributed twin groups by input_file_name in one pass
    _, flat, hist, _ = converted
    df = lake.read_lake(spark, flat, hist)
    rows = lake.per_file_retention(df, ["Actor1Code", "ActionGeo_Lat"]).collect()
    assert len(rows) >= 3  # one flat + two historical trees, ≥1 file each
    total_before = sum(r.rows_before for r in rows)
    total_after = sum(r.rows_after for r in rows)
    _, report = lake.filter_nulls(df, ["Actor1Code", "ActionGeo_Lat"])
    assert total_before == report.rows_before == 600
    assert total_after == report.rows_after
    for r in rows:
        assert 0 <= r.rows_after <= r.rows_before
        assert r.retention == pytest.approx(
            r.rows_after / r.rows_before if r.rows_before else 1.0
        )


def test_run_filter_stage_per_file_report(spark, converted, tmp_path):
    tmp, flat, hist, _ = converted
    report = lake.run_filter_stage(
        spark, flat, str(tmp_path / "filtered"), ["Actor1Code"],
        historical_dir=hist, per_file=True,
    )
    assert report.per_file is not None and len(report.per_file) >= 3
    assert sum(b for _, b, _, _ in report.per_file) == report.rows_before


def test_filter_nulls_runs_one_aggregate(spark, converted):
    """Both report counts come from one aggregate: as many Spark jobs as a
    single ``count()`` of the frame (under AQE a global aggregate runs its
    map stage as a job of its own, so that is two jobs, not one)."""
    _, flat, hist, _ = converted
    df = lake.read_lake(spark, flat, hist)
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one_count = jobs("filter_nulls_one_count", df.count)
    assert one_count >= 1
    assert jobs(
        "filter_nulls_jobs",
        lambda: lake.filter_nulls(df, ["Actor1Code", "ActionGeo_Lat"]),
    ) == one_count


def test_read_lake_uri_historical_root(spark, converted):
    """A ``file://`` historical root lists its trees through the Hadoop
    FileSystem, so it reads the same rows as the plain path."""
    _, flat, hist, _ = converted
    plain = lake.read_lake(spark, flat, hist)
    uri = lake.read_lake(spark, flat, "file://" + hist)
    assert uri.count() == plain.count() == 600
    assert uri.exceptAll(plain).count() == 0 == plain.exceptAll(uri).count()


def test_filter_nulls_missing_columns_noop(spark, converted):
    _, flat, _, _ = converted
    df = lake.read_lake(spark, flat)
    filtered, report = lake.filter_nulls(df, ["NoSuchColumn"])
    assert report.missing_columns == ["NoSuchColumn"]
    assert report.rows_after == report.rows_before == 200


def test_convert_incremental_with_manifest(spark, tmp_path):
    csv_dir = _write_csvs(tmp_path)
    flat, hist, mani = str(tmp_path / "f"), str(tmp_path / "h"), str(tmp_path / "m")
    first = gdelt_csv.convert(spark, csv_dir, flat, historical_dir=hist, manifest_path=mani)
    assert first["daily"] == 200
    n1 = spark.read.parquet(flat).count()
    # second run: everything already in the manifest → zero work, no growth
    second = gdelt_csv.convert(spark, csv_dir, flat, historical_dir=hist, manifest_path=mani)
    assert second == {"daily": 0, "corrupt": 0, "yearly": 0, "monthly": 0}
    assert spark.read.parquet(flat).count() == n1


def test_convert_uri_csv_dir_with_manifest(spark, tmp_path):
    """With a manifest, a ``file://`` input dir converts like the plain
    path: one Hadoop-FS listing serves both modes."""
    csv_dir = _write_csvs(tmp_path)
    runs = {}
    for name, src in (("plain", csv_dir), ("uri", "file://" + csv_dir)):
        out = tmp_path / name
        runs[name] = gdelt_csv.convert(
            spark, src, str(out / "f"), historical_dir=str(out / "h"),
            manifest_path=str(out / "m"),
        )
    assert runs["uri"] == runs["plain"] == {
        "daily": 200, "corrupt": 0, "yearly": 200, "monthly": 200,
    }


def test_convert_manifest_with_plain_local_paths_marks_files_processed(
    spark, tmp_path
):
    """A manifest recorded with plain local paths (``/…/x.CSV``) still
    marks those files processed now that the listing yields ``file:/…``
    names; otherwise a re-run would append every file a second time."""
    import os

    csv_dir = _write_csvs(tmp_path)
    mani = str(tmp_path / "m")
    lake.mark_processed(
        spark, mani, sorted(os.path.join(csv_dir, f) for f in os.listdir(csv_dir))
    )
    flat = str(tmp_path / "f")
    counts = gdelt_csv.convert(
        spark, csv_dir, flat, historical_dir=str(tmp_path / "h"), manifest_path=mani
    )
    assert counts == {"daily": 0, "corrupt": 0, "yearly": 0, "monthly": 0}
    assert not os.path.exists(flat)


def test_manifest_idempotency(spark, tmp_path):
    mpath = str(tmp_path / "manifest")
    files = ["a.zip", "b.zip", "c.zip"]
    assert lake.unprocessed(spark, files, mpath) == files
    lake.mark_processed(spark, mpath, ["a.zip", "b.zip"])
    assert lake.unprocessed(spark, files, mpath) == ["c.zip"]


def test_mark_processed_writes_one_file_per_call(spark, tmp_path):
    """Each manifest append is one parquet file, whatever the session's
    parallelism, and every appended name reads back."""
    import glob

    mpath = str(tmp_path / "manifest")
    names = [f"{b}{i}.zip" for b in "abc" for i in range(5)]
    for b in "abc":
        lake.mark_processed(spark, mpath, [n for n in names if n.startswith(b)])
    assert len(glob.glob(f"{mpath}/*.parquet")) == 3
    assert lake.processed_files(spark, mpath) == set(names)


def test_manifest_corrupt_fails_loudly_missing_reads_empty(spark, tmp_path):
    """Only a MISSING manifest reads as 'nothing processed yet'; a corrupt
    one must propagate — swallowing it would silently re-convert (and
    double-append) every source file (r10 hardening, the r9
    streaming-rollup advice class)."""
    import os

    import pytest

    assert lake.processed_files(spark, str(tmp_path / "missing")) == set()
    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-000.parquet").write_bytes(b"PAR1garbage")
    with pytest.raises(Exception) as ei:
        lake.processed_files(spark, str(bad))
    assert "AnalysisException" not in type(ei.value).__name__


# ---------------------------------------------------------------- manifest
def test_parse_file_date():
    assert manifest.parse_file_date("20150131.export.CSV.zip") == (
        dt.date(2015, 1, 31), dt.date(2015, 1, 31))
    assert manifest.parse_file_date("201502.zip") == (
        dt.date(2015, 2, 1), dt.date(2015, 2, 28))
    assert manifest.parse_file_date("2016.zip") == (
        dt.date(2016, 1, 1), dt.date(2016, 12, 31))
    assert manifest.parse_file_date("README.txt") == (None, None)
    assert manifest.parse_file_date("999913.zip") == (None, None)  # bad month


def test_filter_urls_by_date_overlap_and_open_bounds():
    urls = [
        "http://x/20150101.export.CSV.zip",
        "http://x/201506.zip",
        "http://x/2016.zip",
        "http://x/misc.zip",
    ]
    got = manifest.filter_urls_by_date(urls, dt.date(2015, 6, 10), dt.date(2015, 12, 31))
    assert got == ["http://x/201506.zip", "http://x/misc.zip"]  # month overlaps; unparseable kept
    assert manifest.filter_urls_by_date(urls, None, dt.date(2015, 1, 1)) == [
        "http://x/20150101.export.CSV.zip", "http://x/misc.zip"]


def test_extract_zip_links():
    html = '<a href="20150101.export.CSV.zip">x</a> <a href="http://y/2016.zip">y</a> <a href="no.txt">z</a>'
    assert manifest.extract_zip_links(html, "http://base") == [
        "http://base/20150101.export.CSV.zip", "http://y/2016.zip"]


def test_prune_manifest_matches_pure_function(spark):
    urls = [f"http://x/{n}" for n in
            ["20150101.export.CSV.zip", "201506.zip", "2016.zip", "misc.zip"]]
    mdf = manifest.manifest_df(spark, urls)
    got = {r.url for r in manifest.prune_manifest(
        mdf, dt.date(2015, 6, 10), dt.date(2015, 12, 31)).collect()}
    assert got == set(manifest.filter_urls_by_date(urls, dt.date(2015, 6, 10), dt.date(2015, 12, 31)))


def test_download_files_idempotent(tmp_path):
    calls = []

    def fake_fetch(url, timeout):
        calls.append(url)
        if "bad" in url:
            raise IOError("boom")
        return b"data-" + url.encode()

    urls = ["http://x/a.zip", "http://x/bad.zip"]
    out = manifest.download_files(urls, str(tmp_path), retries=2, fetcher=fake_fetch)
    assert out["success"] == ["a.zip"] and out["failed"] == ["bad.zip"]
    assert calls.count("http://x/bad.zip") == 2  # retried
    out2 = manifest.download_files(urls, str(tmp_path), retries=2, fetcher=fake_fetch)
    assert out2["skipped"] == ["a.zip"]          # atomic + skip-existing
    assert (tmp_path / "a.zip").read_bytes() == b"data-http://x/a.zip"
    assert not (tmp_path / "bad.zip.tmp").exists()


def test_extract_zips(tmp_path):
    zdir = tmp_path / "z"; zdir.mkdir()
    with zipfile.ZipFile(zdir / "20150101.export.CSV.zip", "w") as zf:
        zf.writestr("20150101.export.CSV", "1\t2\n")
    out = gdelt_csv.extract_zips(str(zdir), str(tmp_path / "x"))
    assert [p.name for p in out] == ["20150101.export.CSV"]
    assert out[0].read_text() == "1\t2\n"


# ---------------------------------------------------------------- CLI
def test_cli_profile_and_dedup(converted, capsys):
    tmp, flat, hist, _ = converted
    rc = cli_main(["profile", "--in", flat, "--columns", "Actor1Code", "QuadClass"])
    assert rc == 0
    stats = {s["column"]: s for s in json.loads(capsys.readouterr().out.strip().splitlines()[-1])}
    assert stats["Actor1Code"]["n_rows"] == 200
    assert stats["Actor1Code"]["n_nulls"] > 0
    assert stats["QuadClass"]["n_distinct"] <= 5

    out_d = str(tmp / "dedup_out")
    rc = cli_main([
        "dedup", "--in", flat, "--out", out_d, "--mode", "exact",
        "--key", "Actor1CountryCode", "--order-by", "GlobalEventID",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_after"] < rep["rows_before"] == 200


def test_cli_filter_and_sample(tmp_path_factory, converted, capsys):
    tmp, flat, hist, _ = converted
    out_f = str(tmp / "filtered_out")
    rc = cli_main([
        "filter", "--in", flat, "--historical", hist, "--out", out_f,
        "--columns", "Actor1Code",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_before"] == 600 and rep["applied_columns"] == ["Actor1Code"]

    out_s = str(tmp / "sample_out")
    rc = cli_main([
        "sample", "--in", out_f, "--out", out_s, "--mode", "indexed",
        "-n", "50", "--seed", "7",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 50


def test_cli_filter_per_file_and_redact(converted, capsys, tmp_path):
    tmp, flat, hist, _ = converted
    out_f = str(tmp_path / "filtered_pf")
    rc = cli_main([
        "filter", "--in", flat, "--historical", hist, "--out", out_f,
        "--columns", "Actor1Code", "--per-file",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["per_file"]) >= 3
    assert sum(e["rows_before"] for e in rep["per_file"]) == rep["rows_before"]

    out_r = str(tmp_path / "redacted")
    rc = cli_main(["redact", "--in", flat, "--out", out_r, "--column", "SOURCEURL"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 200


def test_convert_reports_corrupt_lines(spark, tmp_path):
    """Bad-line observability (reference on_bad_lines="warn",
    converter.py:230): malformed lines are counted in the convert report and
    excluded from every write."""
    d = tmp_path / "csv"
    d.mkdir()
    pdf = make_gdelt_pdf(20).reindex(columns=list(GDELT_COLUMNS))
    p = d / "20150105.export.CSV"
    pdf.to_csv(p, sep="\t", header=False, index=False)
    with open(p, "a") as fh:
        fh.write("garbage line with\tonly three\tfields\n")
        fh.write("\t".join(["x"] * 60) + "\n")  # too many fields
    counts = gdelt_csv.convert(spark, str(d), str(tmp_path / "flat"))
    assert counts["corrupt"] == 2
    assert counts["daily"] == 20
    assert spark.read.parquet(str(tmp_path / "flat")).count() == 20


def test_convert_all_corrupt_route_leaves_no_empty_sink(spark, tmp_path):
    """r13 ADVICE: a route whose rows are ALL corrupt (or all dropped by
    the partition-null filter) must not leave a _SUCCESS-only parquet dir
    behind — a lake populated solely by such writes fails later reads
    with 'unable to infer schema'. A later good drop into the same sink
    still lands."""
    import os

    d = tmp_path / "csv"
    d.mkdir()
    with open(d / "20150106.export.CSV", "w") as fh:
        fh.write("garbage\tonly\tthree\n")
        fh.write("\t".join(["x"] * 60) + "\n")
    flat = str(tmp_path / "flat")
    hist = str(tmp_path / "hist")
    counts = gdelt_csv.convert(spark, str(d), flat, historical_dir=hist)
    assert counts == {"daily": 0, "corrupt": 2, "yearly": 0, "monthly": 0}
    assert not os.path.exists(flat)  # freshly-created empty sink removed

    # all partition keys NULL on the historical path → same cleanup
    pdf = make_gdelt_pdf(5).reindex(columns=list(GDELT_COLUMNS))
    pdf["Year"] = ""  # NULL after coercion → dropped by na.drop
    pdf.to_csv(d / "2016.csv", sep="\t", header=False, index=False)
    counts = gdelt_csv.convert(spark, str(d), flat, historical_dir=hist)
    assert counts["yearly"] == 0
    assert not os.path.exists(f"{hist}/yearly")

    # a good daily drop afterwards creates the flat sink normally
    good = make_gdelt_pdf(10).reindex(columns=list(GDELT_COLUMNS))
    good.to_csv(d / "20150107.export.CSV", sep="\t", header=False, index=False)
    counts = gdelt_csv.convert(spark, str(d), flat, historical_dir=hist)
    assert counts["daily"] == 10
    assert spark.read.parquet(flat).count() == 10


def test_real_gdelt_daily_file_end_to_end(spark, tmp_path):
    """Fidelity loop on the reference's actual daily-export shape (58-column
    headerless TSV, converter.py:212-233): a checked-in YYYYMMDD.export.CSV
    with realistic CAMEO/FIPS/geo values runs convert -> filter -> sample
    end-to-end."""
    import os
    import shutil

    from gdelt_2_0_event_database_pipeline_spark.operators.sampling import (
        sample_uniform,
    )

    fixture = os.path.join(os.path.dirname(__file__), "data", "20150218.export.CSV")
    d = tmp_path / "csv"
    d.mkdir()
    shutil.copy(fixture, d / "20150218.export.CSV")
    flat = str(tmp_path / "flat")
    counts = gdelt_csv.convert(spark, str(d), flat)
    assert counts["daily"] == 40 and counts["corrupt"] == 0

    df = spark.read.parquet(flat)
    assert len(df.columns) == 58
    row = df.filter(F.col("GlobalEventID") == 410479000).first()
    assert row.Day == 20150218 and row.Year == 2015 and row.MonthYear == 201502
    assert row.QuadClass in (1, 2, 3, 4)
    assert isinstance(row.GoldsteinScale, float)
    assert row.SOURCEURL.startswith("http")
    assert row.Actor1Geo_Lat is not None

    filtered, report = lake.filter_nulls(df, ["Actor1Code", "ActionGeo_Lat"])
    assert report.rows_before == 40
    assert report.rows_after == filtered.count() > 0

    s1 = sorted(
        r.GlobalEventID
        for r in sample_uniform(filtered, 10, key_cols=["GlobalEventID"]).collect()
    )
    s2 = sorted(
        r.GlobalEventID
        for r in sample_uniform(
            filtered.repartition(5), 10, key_cols=["GlobalEventID"]
        ).collect()
    )
    assert len(s1) == 10 and s1 == s2  # exact-n, partitioning-independent


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Lake maintenance: many small files -> few target-size files, rows and
    schema unchanged, and a second call is a no-op."""
    p = str(tmp_path / "lake")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(20).write.parquet(p)

    rep = lake.compact_parquet(spark, p, target_file_mb=128)
    assert rep["files_before"] == 20
    assert rep["files_after"] == 1

    out = spark.read.parquet(p)
    assert out.count() == 10_000
    assert dict(out.dtypes) == {"id": "bigint", "v": "bigint"}
    assert out.agg(F.sum("v")).first()[0] == 2 * sum(range(10_000))

    again = lake.compact_parquet(spark, p, target_file_mb=128)
    assert again["files_before"] == again["files_after"] == 1


def test_compact_parquet_spares_files_landing_mid_compaction(
    spark, tmp_path, monkeypatch
):
    """Concurrent-appender safety: a file that lands AFTER the snapshot
    listing (e.g. a streaming micro-batch) is neither read nor deleted — it
    survives the compaction alongside the compacted output."""
    p = str(tmp_path / "lake")
    spark.range(0, 1_000).repartition(10).write.parquet(p)

    real_list_visible = lake.list_visible
    fired = {"done": False}

    def list_visible_dropping_late_file(spark_, path):
        # simulate a micro-batch landing in the race window between the
        # file-listing snapshot and the deletes
        listed = real_list_visible(spark_, path)
        if not fired["done"]:
            fired["done"] = True
            spark.range(5_000, 5_100).coalesce(1).write.mode("append").parquet(p)
        return listed

    monkeypatch.setattr(lake, "list_visible", list_visible_dropping_late_file)
    rep = lake.compact_parquet(spark, p, target_file_mb=128)
    monkeypatch.undo()

    assert fired["done"]
    assert rep["files_before"] == 10
    out = spark.read.parquet(p)
    assert out.count() == 1_100  # 1000 compacted + 100 late, nothing lost
    ids = out.agg(F.min("id"), F.max("id")).first()
    assert (ids[0], ids[1]) == (0, 5_099)


def test_cli_compact_and_select(spark, tmp_path, capsys):
    # compact: 10 small files -> 1
    lakep = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, ("the quick brown fox jumps over the lazy dog " * (1 + i % 5)).strip())
         for i in range(200)],
        "doc_id long, text string",
    ).repartition(10).write.parquet(lakep)
    rc = cli_main(["compact", "--in", lakep, "--target-mb", "128"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # tree-level report: one entry per rewritten leaf ('' = flat dir)
    assert len(rep) == 1 and rep[0]["partition"] == ""
    assert rep[0]["files_before"] == 10 and rep[0]["files_after"] == 1

    # select: token-budget curation caps cumulative tokens
    out = str(tmp_path / "selected")
    rc = cli_main(["select", "--in", lakep, "--out", out, "--budget", "500"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < rep["tokens"] <= 500
    assert rep["rows"] == spark.read.parquet(out).count() > 0


def test_reference_demo_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """sample.example.sh replay (VERDICT r4 #7), scaled to fixture size:
    scrape(stubbed HTTP) -> convert -> filter -> the three sample workload
    shapes — indexed-n with seed reproducibility, Brazil OR-filtered with a
    slim column list, and QuadClass-stratified n-per-group with the
    reference's documented stratify-ignores-n semantics (README.md:333)."""
    import io

    # ---- the "remote" GDELT archive: one daily export zip + HTML listing
    pdf = make_gdelt_pdf(20_000)
    csv_bytes = (
        pdf.reindex(columns=list(GDELT_COLUMNS))
        .to_csv(sep="\t", header=False, index=False)
        .encode()
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("20150218.export.CSV", csv_bytes)
    zip_bytes = buf.getvalue()

    class _Resp:
        def __init__(self, data=None, text=""):
            self._data, self.text = data, text

        def raise_for_status(self):
            pass

        def iter_content(self, chunk_size):
            for i in range(0, len(self._data), chunk_size):
                yield self._data[i : i + chunk_size]

    def fake_get(url, **kw):
        if url.endswith(".zip"):
            return _Resp(data=zip_bytes)
        return _Resp(text='<a href="20150218.export.CSV.zip">daily</a>')

    monkeypatch.setattr("requests.get", fake_get)

    # ---- scrape -> extract -> convert -> filter (reference stage order)
    raw = str(tmp_path / "raw")
    assert cli_main(["scrape", "--url", "http://gdelt.example/events/", "--out", raw]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["success"] == [
        "20150218.export.CSV.zip"
    ]
    csv_dir = str(tmp_path / "csv")
    gdelt_csv.extract_zips(raw, csv_dir)
    flat = str(tmp_path / "flat")
    assert cli_main(["convert", "--in", csv_dir, "--flat", flat]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["daily"] == 20_000
    filt = str(tmp_path / "filtered")
    assert cli_main([
        "filter", "--in", flat, "--out", filt,
        "--columns", "Actor1CountryCode", "ActionGeo_CountryCode",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_before"] == 20_000 and 0 < rep["rows_after"] < 20_000
    fdf = spark.read.parquet(filt)
    n_filtered = rep["rows_after"]

    # ---- workload 1: indexed -n with seed (sample.example.sh reproducible
    # run, scaled 500k -> 2000): same seed twice = same rows
    s1, s1b = str(tmp_path / "s1"), str(tmp_path / "s1b")
    for out in (s1, s1b):
        assert cli_main([
            "sample", "--in", filt, "--out", out,
            "--mode", "indexed", "-n", "2000", "--seed", "42",
        ]) == 0
        assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 2000
    ids = lambda p: {r.GlobalEventID for r in spark.read.parquet(p).select("GlobalEventID").collect()}  # noqa: E731
    assert ids(s1) == ids(s1b)

    # ---- workload 2: Brazil OR-filter + slim columns (brazil_slim_100k,
    # scaled). Every output row matches the OR predicate; only the slim
    # columns survive.
    slim = ["GlobalEventID", "Year", "Day", "QuadClass", "AvgTone", "ActionGeo_CountryCode"]
    s2 = str(tmp_path / "s2")
    assert cli_main([
        "sample", "--in", filt, "--out", s2, "--mode", "filtered",
        "--filter", '{"OR": {"Actor1CountryCode": "BRA", "ActionGeo_CountryCode": "BRA"}}',
        "--columns", *slim, "-n", "500", "--seed", "42",
    ]) == 0
    out2 = spark.read.parquet(s2)
    assert out2.columns == slim
    assert out2.count() == 500
    n_brazil = fdf.filter(
        (F.col("Actor1CountryCode") == "BRA") | (F.col("ActionGeo_CountryCode") == "BRA")
    ).count()
    assert n_brazil >= 500  # the fixture really has enough BRA rows to draw from
    back = out2.join(fdf.select("GlobalEventID", "Actor1CountryCode"), "GlobalEventID")
    assert back.filter(
        (F.col("Actor1CountryCode") != "BRA") & (F.col("ActionGeo_CountryCode") != "BRA")
    ).count() == 0

    # ---- workload 3: QuadClass-stratified n-per-group; -n is a decoy the
    # reference documents as IGNORED when --stratify is set (README.md:333)
    s3 = str(tmp_path / "s3")
    assert cli_main([
        "sample", "--in", filt, "--out", s3, "--mode", "filtered",
        "--stratify", "QuadClass", "--n-per-group", "300",
        "-n", "7", "--seed", "42",
    ]) == 0
    out3 = spark.read.parquet(s3)
    got = {
        (str(r.QuadClass) if r.QuadClass is not None else "__NA__"): r.cnt
        for r in out3.groupBy("QuadClass").agg(F.count("*").alias("cnt")).collect()
    }
    expected = {
        (str(r.QuadClass) if r.QuadClass is not None else "__NA__"): min(r.cnt, 300)
        for r in fdf.groupBy("QuadClass").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == expected                      # exact n per stratum, NA included
    assert out3.count() == sum(expected.values()) != 7  # -n ignored


def test_cli_diff(spark, tmp_path, capsys):
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).write.parquet(old_p)
    spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "k long, v string"
    ).write.parquet(new_p)
    out = str(tmp_path / "diff")
    rc = cli_main(["diff", "--old", old_p, "--new", new_p, "--key", "k", "--out", out])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"added": 1, "removed": 1, "changed": 1}
    rows = {r.k: r.change_type for r in spark.read.parquet(out).collect()}
    assert rows == {1: "removed", 3: "changed", 4: "added"}


def test_write_clustered_yields_prunable_file_ranges(spark, tmp_path):
    """Each output file's parquet min/max stats cover a near-disjoint range
    of the cluster column, so a narrow predicate can prune whole files —
    verified directly from the parquet footers, and end-to-end by Spark
    scanning fewer rows' worth of files."""
    import glob as _glob

    import pyarrow.parquet as pq

    from gdelt_2_0_event_database_pipeline_spark.sources.lake import write_clustered

    out = str(tmp_path / "clustered")
    df = spark.range(0, 100_000).withColumn("v", F.col("id") % 997)
    write_clustered(df, out, ["id"], num_files=8)

    files = sorted(_glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 8
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # id is column 0
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # near-disjoint: every file's span is a small slice of the 100k domain
    for lo, hi in ranges:
        assert hi - lo < 100_000 / 8 * 1.5
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert lo2 >= hi1  # ordered, non-overlapping boundaries

    # a narrow filter touches exactly one file's range
    hit = spark.read.parquet(out).filter(
        (F.col("id") >= ranges[3][0] + 1) & (F.col("id") <= ranges[3][0] + 10)
    )
    assert hit.count() == 10


def test_cli_report_and_score(tmp_path, capsys, spark):
    import json as _json

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "excellent thorough analysis with careful clear evidence", "en", "web", 1),
            (2, "buy cheap pills casino bonus click now winner", "en", "spamnet", -1),
            (3, "bonjour le monde des donnees propres", "fr", "web", 1),
        ] * 10,
        "doc_id long, text string, lang string, source string, label int",
    ).write.mode("overwrite").parquet(docs)

    rc = cli_main(["report", "--in", docs])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == 30.0 and rep["n_langs"] == 2.0 and rep["n_sources"] == 2.0

    out = str(tmp_path / "scored")
    rc = cli_main(["score", "--in", docs, "--out", out, "--label-col", "label", "--dim", "32"])
    assert rc == 0
    sc = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sc["rows"] == 30 and 0.0 < sc["frac_positive"] < 1.0


# ---------------------------------------------------------------------------
# JSONL sharded export + schema-evolved lake read
# ---------------------------------------------------------------------------


def test_export_jsonl_shards_roundtrip_and_determinism(spark, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.sources.lake import (
        export_jsonl_shards,
        read_jsonl,
    )

    df = spark.createDataFrame(
        [(i, f"doc-{i}", i % 3) for i in range(200)], "doc_id long, text string, lang long"
    )
    out = str(tmp_path / "export")
    manifest = export_jsonl_shards(df, out, shards=4, shard_key="doc_id")
    m = {r.shard: r.n_rows for r in manifest.collect()}
    assert sum(m.values()) == 200 and set(m) <= {0, 1, 2, 3}
    back = read_jsonl(spark, out)
    assert back.count() == 200
    assert {r.doc_id for r in back.select("doc_id").collect()} == set(range(200))
    assert "__shard__" not in back.columns
    # deterministic: re-export yields identical shard membership
    out2 = str(tmp_path / "export2")
    export_jsonl_shards(df.repartition(13), out2, shards=4, shard_key="doc_id")
    s1 = {(r["doc_id"], r["__shard__"]) for r in spark.read.json(out).collect()}
    s2 = {(r["doc_id"], r["__shard__"]) for r in spark.read.json(out2).collect()}
    assert s1 == s2


def test_read_lake_evolved_merges_and_projects(spark, tmp_path):
    from pyspark.sql import types as T

    from gdelt_2_0_event_database_pipeline_spark.sources.lake import read_lake_evolved

    old = str(tmp_path / "v1")
    new = str(tmp_path / "v2")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(old)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(new)
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("added_later", T.StringType()),  # in neither file
        ]
    )
    df = read_lake_evolved(spark, [old, new], target_schema=target)
    rows = {r.id: (r.name, r.score, r.added_later) for r in df.collect()}
    assert rows == {1: ("a", None, None), 2: ("b", 9.5, None)}
    assert [f.name for f in df.schema.fields] == ["id", "name", "score", "added_later"]


def test_cli_export_jsonl(spark, tmp_path, capsys):
    lakep = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"text-{i}") for i in range(100)], "doc_id long, text string"
    ).write.parquet(lakep)
    out = str(tmp_path / "exported")
    rc = cli_main(
        ["export", "--in", lakep, "--out", out, "--shards", "3",
         "--shard-key", "doc_id"]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["total"] == 100 and set(map(int, rep["shards"])) <= {0, 1, 2}
    assert spark.read.json(out).count() == 100


def test_write_with_metrics_single_job(spark, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.sources.lake import write_with_metrics

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], "id long, name string"
    )
    out = str(tmp_path / "metrics_out")
    rep = write_with_metrics(df, out, null_check_cols=["name"])
    assert rep == {"rows": 4, "nulls": {"name": 2}}
    assert spark.read.parquet(out).count() == 4


def test_versioned_write_read_vacuum(spark, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.sources.lake import (
        list_versions,
        read_versioned,
        vacuum_versions,
        versioned_write,
    )

    root = str(tmp_path / "snapshots")
    v1 = versioned_write(spark.range(3), root)
    v2 = versioned_write(spark.range(10), root)
    v3 = versioned_write(spark.range(7), root)
    assert (v1, v2, v3) == (1, 2, 3)
    assert read_versioned(spark, root).count() == 7          # latest
    assert read_versioned(spark, root, 2).count() == 10      # time travel
    assert vacuum_versions(spark, root, keep_last=2) == [1]
    assert list_versions(spark, root) == [2, 3]
    # the surviving old version is intact, the vacuumed one is gone
    assert read_versioned(spark, root, 2).count() == 10
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_versioned(spark, root, 1)


def test_versioned_write_failed_job_leaves_no_version(spark, tmp_path):
    """A snapshot whose write job fails never becomes a version: it is not
    listed or read, vacuum deletes it without counting it, and the next
    write becomes the latest."""
    import os

    from gdelt_2_0_event_database_pipeline_spark.sources.lake import (
        list_versions,
        read_versioned,
        vacuum_versions,
        versioned_write,
    )

    root = str(tmp_path / "snapshots")
    assert versioned_write(spark.range(5), root) == 1
    failing = spark.range(3).select(
        F.raise_error(F.lit("boom")).cast("long").alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        versioned_write(failing, root)
    assert list_versions(spark, root) == [1]
    assert sorted(r.id for r in read_versioned(spark, root).collect()) == list(
        range(5)
    )
    assert vacuum_versions(spark, root, keep_last=1) == []
    assert sorted(os.listdir(root)) == ["v_00001"]
    v = versioned_write(spark.range(2), root)
    assert list_versions(spark, root) == [1, v]
    assert read_versioned(spark, root).count() == 2
