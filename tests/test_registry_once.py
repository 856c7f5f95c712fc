"""The registry's one build-once rule (``plans.registry.once``): a name is
rebuilt exactly when the key it was built from changes, and a failed build
leaves nothing behind. The reuse cases run real registry rows over two
inputs whose directories share a basename."""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.plans import QUERIES
from gdelt_2_0_event_database_pipeline_spark.plans import registry as R

from tests.conftest import SF_DIR


def test_once_builds_per_key_and_keeps_nothing_on_failure(monkeypatch):
    monkeypatch.setattr(R, "_ONCE", {})
    calls = []

    def build(v):
        def f():
            calls.append(v)
            return v

        return f

    assert R.once("t", ("a", 1), build("x")) == "x"
    assert R.once("t", ("a", 1), build("y")) == "x"  # same key: no rebuild
    assert R.once("t", ("b", 1), build("y")) == "y"  # new key: rebuilt
    assert R.once("t", ("a", 1), build("z")) == "z"  # one slot per name
    assert R.once("u", ("a", 1), build("w")) == "w"  # names are independent
    assert calls == ["x", "y", "z", "w"]

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        R.once("v", 1, boom)
    assert "v" not in R._ONCE
    with pytest.raises(RuntimeError):
        R.once("t", ("c", 1), boom)  # a failed rebuild keeps the old entry
    assert R._ONCE["t"] == (("a", 1), "z")
    assert R.once("v", 1, build("ok")) == "ok"  # and the failed name retries


def _same_named_dir(parent: Path) -> Path:
    """``parent/<SF_DIR basename>``: every input built here shares one name."""
    sf = parent / SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    sf.mkdir(parents=True)
    return sf


def _docs_copy(parent: Path, dup_reference: bool) -> str:
    """A copy of the test corpus's documents; with ``dup_reference`` the
    reference docs 150-299 repeat docs 0-149."""
    sf = _same_named_dir(parent)
    src = f"{SF_DIR}/documents.parquet"
    if not dup_reference:
        shutil.copy(src, sf / "documents.parquet")
        return str(sf)
    t = pq.read_table(src)
    df = t.to_pandas()
    by_id = dict(zip(df["doc_id"], df["text"]))
    ref = df["doc_id"].between(150, 299)
    df.loc[ref, "text"] = [by_id[i - 150] for i in df.loc[ref, "doc_id"]]
    pq.write_table(
        pa.Table.from_pandas(df, schema=t.schema, preserve_index=False),
        sf / "documents.parquet",
    )
    return str(sf)


def _orders_copy(parent: Path, price_scale: float) -> str:
    """customer and orders, with every order's price scaled."""
    sf = _same_named_dir(parent)
    shutil.copy(f"{SF_DIR}/customer.parquet", sf / "customer.parquet")
    t = pq.read_table(f"{SF_DIR}/orders.parquet")
    i = t.schema.get_field_index("o_totalprice")
    t = t.set_column(i, t.schema.field(i), pc.multiply(t["o_totalprice"], price_scale))
    pq.write_table(t, sf / "orders.parquet")
    return str(sf)


def test_minhash_index_follows_its_input_across_same_named_dirs(spark, tmp_path):
    """A, then B, then A again, where A and B share a basename: the index
    at rest must be A's on the third call, so its keep-set matches the
    first call's (a basename-keyed index left B's there)."""
    a = _docs_copy(tmp_path / "a", dup_reference=False)
    b = _docs_copy(tmp_path / "b", dup_reference=True)
    fn = QUERIES["q_dedup_minhash_index"].fn
    kept = [fn(spark, d).count() for d in (a, b, a)]
    assert kept[0] > 0
    assert kept == [kept[0], 0, kept[0]]


def test_bucketed_join_tables_follow_their_input(spark, tmp_path):
    """q_bucketed_join reuses its bucketed tables within a process; the
    reuse must be keyed by the whole input path, so B (same basename as A,
    prices doubled) is not answered from A's tables."""
    a = _orders_copy(tmp_path / "a", 1.0)
    b = _orders_copy(tmp_path / "b", 2.0)
    fn = QUERIES["q_bucketed_join"].fn
    rev = [fn(spark, d).agg(F.sum("revenue")).first()[0] for d in (a, b, a)]
    assert rev[1] == pytest.approx(2 * rev[0])
    assert rev[2] == pytest.approx(rev[0])
