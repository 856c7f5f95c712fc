"""The literal-matrix fold (``ivf.fold_col``): OPQ rotation, PCA
projection, JL projection and the sign-LSH planes run one scalar Arrow
UDF, and each equals the SQL ``aggregate`` fold of
``tests/ann_reference.py`` bit for bit — on the sf0.01 and sf0.1
embeddings and on rows with a NULL vector, the wrong width, a NULL
element, NaN, ±inf and -0.0. NaN compares equal to NaN (the payload is
not part of the contract); -0.0 and 0.0 are told apart."""

from __future__ import annotations

import math
import os
import struct
from pathlib import Path

import numpy as np
import pytest

import gdelt_2_0_event_database_pipeline_spark as pkg
from gdelt_2_0_event_database_pipeline_spark.operators.opq import (
    _seeded_rotation,
    rotate_vectors,
)
from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
    PCAModel,
    fit_pca,
    jl_matrix,
    project_pca,
    random_projection,
)
from gdelt_2_0_event_database_pipeline_spark.operators.similarity import (
    lsh_signature,
    plane_weights,
)
from tests.ann_reference import reference_fold, reference_lsh_signature
from tests.conftest import SF_DIR

NAN, INF = float("nan"), float("inf")


def _edge_rows(d: int) -> list:
    return [
        (-1, None),
        (-2, [1.0, 2.0]),
        (-3, [1.0, None] + [0.5] * (d - 2)),
        (-4, [NAN] + [1.0] * (d - 1)),
        (-5, [INF, 0.0] + [1.0] * (d - 2)),
        (-6, [-INF] + [-1.0] * (d - 1)),
        (-7, [-0.0] * d),
    ]


@pytest.fixture(scope="module", params=["synthetic", "sf0.01", "sf0.1"])
def frame(request, spark):
    """(vectors with the edge rows, the well-formed part, width)."""
    if request.param == "synthetic":
        d = 8
        rng = np.random.default_rng(5)
        clean = spark.createDataFrame(
            [(i, [float(v) for v in rng.normal(size=d)]) for i in range(60)],
            "vec_id long, embedding array<double>",
        )
    else:
        d = 64
        sf_dir = os.path.join(os.path.dirname(SF_DIR), request.param)
        clean = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
    edges = spark.createDataFrame(_edge_rows(d), clean.schema)
    return clean.unionByName(edges), clean, d


def _bits(v):
    if v is None:
        return None
    if isinstance(v, (int, float)):
        return "nan" if math.isnan(v) else struct.pack(">d", v)
    return tuple(_bits(x) for x in v)


def _assert_equal_to_reference(out, col):
    rows = out.select("vec_id", col, "__ref__").collect()
    diff = [r["vec_id"] for r in rows if _bits(r[col]) != _bits(r["__ref__"])]
    assert diff == [] and len(rows) > 7


def test_rotate_vectors_equals_sql_fold(frame):
    df, _, d = frame
    r = _seeded_rotation(d, 3).tolist()
    _assert_equal_to_reference(
        reference_fold(rotate_vectors(df, r), "embedding", r), "rotated"
    )


@pytest.mark.parametrize("whiten", [False, True])
def test_project_pca_equals_sql_fold(frame, whiten):
    df, clean, _ = frame
    m = fit_pca(clean, k=6)
    rows = m.components
    if whiten:
        rows = [[x / ev**0.5 for x in w] for w, ev in zip(rows, m.explained_variance)]
    out = project_pca(df, m, whiten=whiten)
    _assert_equal_to_reference(
        reference_fold(out, "embedding", rows, center=m.mean), "pc"
    )


def test_random_projection_equals_sql_fold(frame):
    df, _, d = frame
    out = random_projection(df, 16, d)
    _assert_equal_to_reference(
        reference_fold(out, "embedding", jl_matrix(d, 16)), "rp"
    )


def test_lsh_signature_equals_sql_fold(frame):
    df, _, d = frame
    planes = plane_weights(8, d, 42)
    out = df.select(
        "vec_id",
        lsh_signature("embedding", 8, d, 42).alias("sig"),
        reference_lsh_signature("embedding", planes).alias("__ref__"),
    )
    _assert_equal_to_reference(out, "sig")


@pytest.mark.parametrize("bad", [NAN, INF, -INF])
def test_non_finite_matrix_or_center_raises(spark, bad):
    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<double>")
    rot = [[1.0, 0.0], [0.0, bad]]
    with pytest.raises(ValueError, match="non-finite matrix value"):
        rotate_vectors(df, rot)
    model = PCAModel(
        mean=[0.0, 0.0], components=[[1.0, bad]], explained_variance=[1.0],
        explained_variance_ratio=[1.0], n_rows=2,
    )
    with pytest.raises(ValueError, match="non-finite matrix value"):
        project_pca(df, model)
    centre = PCAModel(
        mean=[bad, 0.0], components=[[1.0, 0.0]], explained_variance=[1.0],
        explained_variance_ratio=[1.0], n_rows=2,
    )
    with pytest.raises(ValueError, match="non-finite matrix value"):
        project_pca(df, centre)


@pytest.mark.parametrize("name", ["a.b", "we`ird"])
def test_top_level_names_with_dot_or_backtick_project(spark, name):
    """The vector column is addressed by its literal top-level name: a dot
    does not reach into a struct, and a backtick needs no aliasing."""
    rng = np.random.default_rng(2)
    df = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=4)]) for i in range(10)],
        f"vec_id long, `{name.replace('`', '``')}` array<double>",
    )
    r = _seeded_rotation(4, 1).tolist()
    _assert_equal_to_reference(
        reference_fold(rotate_vectors(df, r, vec_col=name), name, r), "rotated"
    )
    out = random_projection(df, 3, 4, vec_col=name)
    _assert_equal_to_reference(
        reference_fold(out, name, jl_matrix(4, 3)), "rp"
    )


def test_no_package_source_spells_the_sql_fold():
    """The fold's SQL text lives only in tests/ann_reference.py: every
    literal-matrix product in the package runs ``ivf.fold_col``."""
    root = Path(pkg.__file__).parent
    hits = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "aggregate(zip_with(" in p.read_text(encoding="utf-8")
    )
    assert hits == []
