"""Structural guards: the package opens Hadoop FileSystems in one place,
walks at-rest lake data only through it, spells the hidden-name rule
once, and writes and reads small JSON artifacts through one codec.

Every listing, rename, delete and commit marker goes through
``util.hadoop_fs``; a second ``getFileSystem(`` call site is a second seam
to keep in step (configuration, scheme handling), so it fails here. A
local-disk call (``os.listdir``, ``glob``, …) on a lake path silently sees
nothing for a URI root, so the lake modules may not make one. Index and
model metadata and oracle sidecars go through ``util.write_json_rows`` /
``util.read_json_rows`` (a driver-side file read or write); a Spark JSON
job is for corpus data only.
"""

from __future__ import annotations

import ast
import math
import re
import struct
from pathlib import Path

import pytest

import gdelt_2_0_event_database_pipeline_spark as pkg
from gdelt_2_0_event_database_pipeline_spark.util import (
    read_json_rows,
    single_partition_df,
    write_json_rows,
)

ROOT = Path(pkg.__file__).parent

LAKE_MODULES = (
    "sources/lake.py",
    "sources/gdelt_csv.py",
    "operators/layout.py",
    "operators/skew.py",
)
#: local-disk work by design: unzipping downloads into a local staging dir
LOCAL_BY_DESIGN = {"extract_zips"}
LOCAL_FS_CALLS = (
    "os.listdir",
    "os.walk",
    "os.rename",
    "os.remove",
    "os.path.getsize",
    "os.path.isdir",
    "shutil.rmtree",
    "glob(",
)


def test_get_file_system_has_one_call_site():
    sites = sorted(
        str(p.relative_to(ROOT))
        for p in ROOT.rglob("*.py")
        if "getFileSystem(" in p.read_text(encoding="utf-8")
    )
    assert sites == ["util.py"], sites


def _source_outside(text: str, exempt: set[str]) -> str:
    lines = text.splitlines()
    for node in ast.parse(text).body:
        if isinstance(node, ast.FunctionDef) and node.name in exempt:
            lines[node.lineno - 1 : node.end_lineno] = [""] * (
                node.end_lineno - node.lineno + 1
            )
    return "\n".join(lines)


def test_lake_modules_walk_through_the_seam():
    offenders = {}
    for rel in LAKE_MODULES:
        text = _source_outside((ROOT / rel).read_text(encoding="utf-8"), LOCAL_BY_DESIGN)
        hits = [call for call in LOCAL_FS_CALLS if call in text]
        if hits:
            offenders[rel] = hits
    assert offenders == {}


def test_hidden_name_rule_has_one_definition():
    spelled = re.compile(
        r"""startswith\(\(\s*["'][_.]["']\s*,\s*["'][_.]["']\s*\)\)"""
        r"""|startswith\(\s*["']_["']\s*\)"""
    )
    sites = sorted(
        str(p.relative_to(ROOT))
        for p in ROOT.rglob("*.py")
        if spelled.search(p.read_text(encoding="utf-8"))
    )
    assert sites == ["util.py"], sites


#: corpus JSONL data paths: the only Spark JSON reads and writes
SPARK_JSON_BY_DESIGN = {"sources/lake.py": {"export_jsonl_shards", "read_jsonl"}}


def test_small_artifacts_use_the_json_codec():
    """No ``<DataFrameWriter|DataFrameReader>.json(`` outside the corpus
    JSONL paths: a small artifact written or read by a Spark job costs a
    scheduler round trip per call and forks the at-rest format."""
    offenders = {}
    for p in sorted(ROOT.rglob("*.py")):
        rel = str(p.relative_to(ROOT))
        text = _source_outside(
            p.read_text(encoding="utf-8"), SPARK_JSON_BY_DESIGN.get(rel, set())
        )
        lines = sorted(
            node.lineno
            for node in ast.walk(ast.parse(text))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "json"
        )
        if lines:
            offenders[rel] = lines
    assert offenders == {}


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


#: doubles whose shortest repr is long or unusual: subnormals, the normal
#: boundary, non-terminating binary fractions, large exact powers, −0.0
ADVERSARIAL = [
    5e-324, 2.2250738585072014e-308, 2.225073858507201e-308, 1 / 3, 2 / 3,
    0.1, 1e22, 1e23, 1.7976931348623157e308, -0.0, 0.0, -1 / 3, 123456.789e-5,
    math.pi, 2.0**-1074 * 3, 9007199254740993.0,
]


def test_json_codec_roundtrip_is_bit_exact(spark, tmp_path):
    import duckdb

    path = str(tmp_path / "meta")
    rows = [{"i": 0, "v": ADVERSARIAL, "vv": [ADVERSARIAL[:4], ADVERSARIAL[4:8]]}]
    write_json_rows(spark, path, rows)
    back = read_json_rows(spark, path)
    assert back == rows
    assert [_bits(x) for x in back[0]["v"]] == [_bits(x) for x in ADVERSARIAL]
    assert sorted(p.name for p in Path(path).iterdir() if not p.name.startswith((".", "_"))) == [
        "part-00000.json"
    ]
    # the other two readers of these artifacts see the same doubles
    sp = spark.read.json(path).collect()[0]
    assert [_bits(x) for x in sp["v"]] == [_bits(x) for x in ADVERSARIAL]
    assert [list(r) for r in sp["vv"]] == rows[0]["vv"]
    dv, dvv = duckdb.sql(f"SELECT v, vv FROM read_json_auto('{path}/*.json')").fetchone()
    assert [_bits(x) for x in dv] == [_bits(x) for x in ADVERSARIAL]
    assert dvv == rows[0]["vv"]


def test_json_codec_omits_none_and_rejects_non_finite(spark, tmp_path):
    path = str(tmp_path / "meta")
    write_json_rows(spark, path, [{"a": 1, "b": None, "c": "x"}])
    assert read_json_rows(spark, path) == [{"a": 1, "c": "x"}]
    assert (Path(path) / "part-00000.json").read_text(encoding="utf-8") == (
        '{"a": 1, "c": "x"}\n'
    )
    for bad in (math.nan, math.inf, -math.inf):
        with pytest.raises(ValueError, match="JSON compliant"):
            write_json_rows(spark, str(tmp_path / "bad"), [{"v": [1.0, bad]}])
    assert not (tmp_path / "bad").exists()  # nothing written on a rejected row


def test_json_codec_modes(spark, tmp_path):
    path = str(tmp_path / "meta")
    write_json_rows(spark, path, [{"n": 1}, {"n": 2}])
    with pytest.raises(FileExistsError, match="already exists"):
        write_json_rows(spark, path, [{"n": 3}])
    assert read_json_rows(spark, path) == [{"n": 1}, {"n": 2}]
    write_json_rows(spark, path, [{"n": 3}], mode="overwrite")
    assert read_json_rows(spark, path) == [{"n": 3}]
    with pytest.raises(ValueError, match="mode"):
        write_json_rows(spark, path, [{"n": 4}], mode="append")
    assert read_json_rows(spark, path) == [{"n": 3}]


def test_json_codec_reads_spark_written_directory(spark, tmp_path):
    """Artifacts written by Spark's JSON writer (``_SUCCESS``, ``.crc``
    sidecars, a ``part-…-c000.json`` name, NULL fields dropped) read as
    the same rows the codec writes."""
    rows = [
        {"merge_idx": 0, "left": "a", "right": "▁", "pair_count": 7,
         "v": [1 / 3, 1e22, 5e-324]},
        {"merge_idx": 1, "left": "ab", "right": None, "pair_count": 3, "v": None},
    ]
    spark_dir = str(tmp_path / "spark")
    single_partition_df(
        spark,
        [tuple(r.values()) for r in rows],
        "merge_idx long, left string, right string, pair_count long, v array<double>",
    ).write.json(spark_dir)
    assert any(p.name == "_SUCCESS" for p in Path(spark_dir).iterdir())
    codec_dir = str(tmp_path / "codec")
    write_json_rows(spark, codec_dir, rows)
    want = [{k: v for k, v in r.items() if v is not None} for r in rows]
    assert read_json_rows(spark, spark_dir) == want
    assert read_json_rows(spark, codec_dir) == want


def test_json_codec_uri_root_and_non_ascii(spark, tmp_path):
    """A ``file://`` root goes through the Hadoop seam like a bare path,
    and non-ASCII text — BPE's ``▁`` word marker, a raw U+2028 that
    ``str.splitlines`` would wrongly split on — survives as UTF-8."""
    rows = [{"left": "▁", "right": "é\u2028ü", "s": "日本語"}]
    path = tmp_path / "bpe"
    write_json_rows(spark, f"file://{path}", rows)
    assert read_json_rows(spark, str(path)) == rows
    assert read_json_rows(spark, f"file://{path}") == rows
    assert "▁" in (path / "part-00000.json").read_text(encoding="utf-8")
    assert [r.asDict() for r in spark.read.json(str(path)).collect()] == rows


def test_json_codec_read_errors(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_json_rows(spark, str(tmp_path / "missing"))
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.json").write_text('{"a": 1}\n{not json\n', encoding="utf-8")
    with pytest.raises(ValueError, match=f"unparseable JSON at {bad}"):
        read_json_rows(spark, str(bad))
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "part-00000.json").write_text("", encoding="utf-8")
    (empty / "part-00001.json").write_text('\n{"a": 2}\n\n', encoding="utf-8")
    assert read_json_rows(spark, str(empty)) == [{"a": 2}]


# --- artifacts an earlier build wrote with Spark's JSON writer still load ---


def test_pq_meta_reads_spark_written_codebooks(spark, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import read_pq_meta

    books = [[[1 / 3, 0.1], [1e22, -0.0]], [[5e-324, 2.0], [3.0, 4.0]]]
    cents = [[0.5, 1.5, 2.5, 3.5]]
    path = str(tmp_path / "idx")
    single_partition_df(
        spark,
        [(2, 2, 2, books, cents, True, None)],
        "m int, ncodes int, subdim int, "
        "codebooks array<array<array<double>>>, "
        "centroids array<array<double>>, residual boolean, "
        "rotation array<array<double>>",
    ).write.json(f"{path}/codebooks")
    got_books, got_cents, residual, rotation = read_pq_meta(spark, path)
    assert [_bits(x) for cb in got_books for c in cb for x in c] == [
        _bits(x) for cb in books for c in cb for x in c
    ]
    assert (got_cents, residual, rotation) == (cents, True, None)


def test_minhash_meta_reads_spark_written_meta(spark, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        read_minhash_index_meta,
    )

    path = str(tmp_path / "mh")
    single_partition_df(
        spark,
        [(64, 16, 3, "md5")],
        "num_hashes int, bands int, shingle_n int, hash_family string",
    ).write.json(f"{path}/meta")
    assert read_minhash_index_meta(spark, path) == {
        "num_hashes": 64, "bands": 16, "shingle_n": 3, "hash_family": "md5",
    }


def test_pca_model_reads_spark_written_model(spark, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        PCAModel,
        read_pca_model,
    )

    model = PCAModel(
        mean=[1 / 3, -0.0], components=[[0.6, 0.8], [-0.8, 0.6]],
        explained_variance=[2.5, 1e-300], explained_variance_ratio=[1.0, 4e-301],
        n_rows=12,
    )
    path = str(tmp_path / "pca")
    single_partition_df(
        spark,
        [(model.mean, model.components, model.explained_variance,
          model.explained_variance_ratio, model.n_rows)],
        "mean array<double>, components array<array<double>>, "
        "explained_variance array<double>, "
        "explained_variance_ratio array<double>, n_rows bigint",
    ).write.json(path)
    back = read_pca_model(spark, path)
    assert back == model
    assert _bits(back.mean[1]) == _bits(-0.0)
