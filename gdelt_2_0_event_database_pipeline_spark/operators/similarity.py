"""Similarity search over embedding columns (SURVEY.md §2.10 X3).

Extension surface beyond the reference (no vector data there). Two tiers:

- ``cosine_topk``      — brute-force exact top-k: broadcast the (small) query
                         set against the corpus; per-row dot products are a
                         single higher-order-function fold (JVM, no UDF), and
                         top-k is a per-query ranked window. The corpus is
                         never shuffled — at 100 TB this is a map-only pass
                         plus a k·|Q| merge.
- ``cosine_topk_lsh``  — random-hyperplane LSH: b sign-bits per vector from
                         hash-derived pseudo-random planes (deterministic, no
                         stored model; the plane dots are one ``ivf.fold_col``
                         Arrow UDF), bucket-join query↔corpus on the bit
                         signature with multi-probe (Hamming ≤ 1), exact
                         rescoring inside buckets. Trades recall for pruning
                         the candidate set by ~2^b.

An IVF variant (k-means coarse quantizer) would slot in the same signature
but needs an iterative fit; LSH keeps round 1 deterministic and stateless.

Measured recall curves for BOTH tiers: SCALE.md "ANN recall curves"
(regenerate with ``tools/ann_recall.py``; artifact ``ANN_RECALL.json``) —
the num_planes × probe_hamming sweep quantifies the bucket-granularity vs
multi-probe-radius trade on the weak-similarity synthetic corpus (e.g.
4 planes/H=2 → 0.90 recall@5; 8 planes/H=2 → 0.38).
"""

from __future__ import annotations

import random
from itertools import combinations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def l2_norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: for every query row, the k most
    similar corpus rows (self-matches excluded). Returns
    (query_id, neighbor_id, cos_sim, rank), ranked with a deterministic
    neighbor-id tiebreak.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv__")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cv__")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("__qv__"), F.col("__cv__")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------- LSH tier
def plane_weights(num_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5) — generated
    driver-side once and embedded as plan literals. No stored model, identical
    on any cluster, and ~3× cheaper per row than recomputing hash-derived
    components inside the fold (num_planes·dim hash evals per row)."""
    rng = random.Random(seed)
    return [
        [rng.uniform(-0.5, 0.5) for _ in range(dim)] for _ in range(num_planes)
    ]


def lsh_signature(vec: str, num_planes: int, dim: int, seed: int = 42) -> Column:
    """Random-hyperplane signature of the array column named ``vec``: int
    with ``num_planes`` sign bits. Map-only — the plane dots are one
    ``ivf.fold_col`` Arrow UDF, and bit p is set where dot p is >= 0 (a
    NULL dot, from a NULL or wrong-width vector, leaves it clear)."""
    from .ivf import fold_col  # ivf imports this module

    dots = fold_col(vec, plane_weights(num_planes, dim, seed))
    return sum(
        (F.when(dots[p] >= 0, 1 << p).otherwise(0) for p in range(num_planes)),
        F.lit(0),
    ).cast("int")


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from one row (dims are table-constant; the
    lookup is a single-row scan at plan-build time)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row.d is None:
        raise ValueError(f"cannot infer dimension of {vec_col!r} from empty input")
    return row.d


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    seed: int = 42,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate cosine top-k: join query↔corpus only where LSH signatures
    match (multi-probe: all buckets within Hamming ``probe_hamming`` of the
    query signature), then exact-rescore within the candidate set.

    Recall math (random hyperplanes): a pair at angle θ disagrees on each
    bit with p = θ/π, so P(candidate) = Σ_{i≤H} C(b,i) (1-p)^(b-i) p^i.
    Defaults b=6, H=2 → ~90% recall at cos 0.8 while scoring ~⅓ of the
    corpus; tighten (more planes, lower H) when neighbors are near-identical
    (dedup regime), loosen for weak-similarity corpora. Rows per query may
    be < k when the probed buckets are thin — the documented recall trade.
    """
    dim = _infer_dim(corpus, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("__cv__"),
    ).withColumn("__sig__", lsh_signature("__cv__", num_planes, dim, seed))

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv__")
    ).withColumn("__qsig__", lsh_signature("__qv__", num_planes, dim, seed))

    if not 0 <= probe_hamming <= num_planes:
        raise ValueError(
            f"probe_hamming ({probe_hamming}) must be in [0, num_planes={num_planes}]"
        )
    masks = [
        sum(1 << p for p in bits)
        for h in range(probe_hamming + 1)
        for bits in combinations(range(num_planes), h)
    ]
    q = q.withColumn(
        "__probe__",
        F.explode(
            F.array(*[F.col("__qsig__").bitwiseXOR(F.lit(m)) for m in masks])
        ),
    )

    scored = (
        c.join(
            F.broadcast(q),
            (F.col("__sig__") == F.col("__probe__"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_sim", cosine(F.col("__qv__"), F.col("__cv__")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes_per_band: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold)
    via *banded* sign-LSH + exact rescoring — X1-for-vectors, with the same
    band structure as :func:`~..dedup.minhash_near_dup_pairs`.

    Each band hashes the vector against its own ``planes_per_band``
    hyperplanes (independent seeds); a pair becomes a candidate if it agrees
    on ALL bits of ANY band, then exact cosine removes false positives.
    Candidate probability at bit-disagreement p = θ/π is 1-(1-(1-p)^r)^b —
    defaults (b=4, r=8) give ~0.9 recall at cos 0.95 and rise fast toward
    1.0 for the near-identical vectors dedup targets.

    Scale shape: buckets per band = 2^r, so ``planes_per_band`` is the knob
    that keeps bucket-local self-joins from going quadratic on huge corpora
    (r=16 → 65k buckets/band; add bands to buy recall back). Vectors never
    travel through the band explode — bands carry only (id, band, key), and
    survivors rejoin their vectors by id for the rescore.
    """
    if planes_per_band > 31:
        raise ValueError("planes_per_band must be ≤ 31 (int signature)")
    dim = _infer_dim(df, vec_col)
    base = df.select(
        F.col(id_col).alias("__id__"), _as_double(vec_col).alias("__v__")
    )
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            lsh_signature(
                "__v__", planes_per_band, dim, seed + 7919 * i
            ).alias("key"),
        )
        for i in range(bands)
    ]
    banded = base.select(
        "__id__", F.explode(F.array(*band_structs)).alias("__b__")
    ).select(
        "__id__", F.col("__b__.band").alias("band"), F.col("__b__.key").alias("key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .select(
            F.col("a.__id__").alias("id_a"),
            F.col("b.__id__").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("__id__").alias("id_a"), F.col("__v__").alias("__va__"))
    vb = base.select(F.col("__id__").alias("id_b"), F.col("__v__").alias("__vb__"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", cosine(F.col("__va__"), F.col("__vb__")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# ---------------------------------------------------------------- SemDeDup tier
def exemplar_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic hash-ranked exemplar centroids: the ``k`` rows whose
    ``md5(cast(id as string))`` ranks smallest, as a (``__sd_cid__``,
    ``__sd_cv__``) frame. A content-keyed stand-in for a fitted k-means
    codebook (the iterative fit lives in ``operators.ivf``): identical on any
    engine and any partitioning, so the whole downstream clustering is
    replayable — the md5 rank is the same engine-portable device the
    sampling family uses. Plan shape: TakeOrderedAndProject (top-k by rank),
    never a full sort."""
    rk = F.md5(F.col(id_col).cast("string"))
    return (
        df.select(
            F.col(id_col).alias("__sd_cid__"), _as_double(vec_col).alias("__sd_cv__")
        )
        .orderBy(rk.asc(), F.col("__sd_cid__").asc())
        .limit(k)
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus around ``k`` centroids, then drop
    every row that has a semantic duplicate (cosine ≥ ``threshold``) with a
    smaller id *inside its cluster*. Returns the survivors as
    (id, cluster_id, cos_to_centroid).

    Deviations from the paper, chosen for determinism + set-based execution:

    - centroids default to hash-ranked exemplars (:func:`exemplar_centroids`)
      instead of a k-means fit — any (id, vector) frame can be passed in
      (e.g. ``ivf.fit_ivf_centroids`` output) when fit quality matters;
    - the keep rule is min-id dominance (a row is dropped iff a smaller-id
      near-duplicate shares its cluster), not the paper's greedy sweep over
      centroid-similarity order. One self-join instead of a sequential scan;
      survivors within a cluster are provably pairwise below ``threshold``.
      Transitive chains prune more aggressively than greedy — the
      chain-faithful variant is ``dedup.dedup_clusters`` (connected
      components).

    Scale shape: assignment is corpus × broadcast k-row centroid frame
    (map-side partial-aggregated argmax — the corpus never shuffles for
    assignment); the only O(c²) step is the within-cluster self-join, capped
    by the largest cluster — at 100 TB raise ``k`` (cluster size ~ n/k) or
    swap the pair step for :func:`embedding_near_dup_pairs` bucketing inside
    each cluster. L2 norms are computed once per ROW and reused by every
    pair, so each pair costs one dot fold, not three — the hoisting doesn't
    change the arithmetic (same ops, same order), so every cosine stays
    bit-identical to the unhoisted ratio the oracle computes.
    """
    cent = centroids if centroids is not None else exemplar_centroids(df, k, id_col, vec_col)
    cent = cent.withColumn("__sd_cn__", l2_norm(F.col("__sd_cv__")))
    base = df.select(
        F.col(id_col).alias("__id__"), _as_double(vec_col).alias("__v__")
    ).withColumn("__n__", l2_norm(F.col("__v__")))
    cos_c = dot(F.col("__v__"), F.col("__sd_cv__")) / (
        F.col("__n__") * F.col("__sd_cn__")
    )
    # argmax-cosine assignment: max(struct(cos, -cid)) == (best cos, min cid)
    best = F.max(
        F.struct(cos_c.alias("c"), (-F.col("__sd_cid__")).alias("negc"))
    ).alias("__best__")
    assigned = (
        base.crossJoin(F.broadcast(cent))
        .groupBy("__id__")
        .agg(best, F.first("__v__").alias("__v__"), F.first("__n__").alias("__n__"))
        .select(
            "__id__",
            (-F.col("__best__.negc")).alias("cluster_id"),
            F.col("__best__.c").alias("cos_to_centroid"),
            "__v__",
            "__n__",
        )
        # materialized once (lazy; the first consuming job runs it): the
        # frame feeds THREE consumers — both self-join sides and the
        # survivor anti-join — and without the cut Catalyst re-derives the
        # corpus×centroids argmax pass (and the centroid subtree inside it)
        # per consumer (guide §2.4; the triangle_count edge-list
        # precedent). The checkpoint is the SemDeDup working set
        # (id, cluster, vector, norm) — the same bytes every variant of the
        # algorithm keeps live for its pair step.
        .localCheckpoint(eager=False)
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pair_cos = dot(F.col("a.__v__"), F.col("b.__v__")) / (
        F.col("a.__n__") * F.col("b.__n__")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .filter(pair_cos >= threshold)
        .select(F.col("b.__id__").alias("__id__"))
        .distinct()
    )
    return (
        assigned.join(dropped, "__id__", "left_anti")
        .select(
            F.col("__id__").alias(id_col), "cluster_id", "cos_to_centroid"
        )
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor, the
    ``k`` corpus vectors MOST similar to it that carry a DIFFERENT label —
    the negatives that actually teach a metric model something (random
    negatives are trivially separable; the hard ones sit near the decision
    boundary by construction).

    Same plan shape as :func:`cosine_topk` (the anchors broadcast, the
    corpus never shuffles, one fold per pair, per-anchor ranked window with
    a deterministic neighbor-id tiebreak); the label-mismatch predicate
    rides the broadcast join. Returns
    ``(anchor_id, anchor_label, negative_id, negative_label, cos_sim, rank)``.
    """
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        _as_double(vec_col).alias("__av__"),
    )
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("negative_label"),
        _as_double(vec_col).alias("__cv__"),
    )
    scored = c.join(
        F.broadcast(a),
        (F.col("anchor_id") != F.col("negative_id"))
        & (F.col("anchor_label") != F.col("negative_label")),
    ).withColumn("cos_sim", cosine(F.col("__av__"), F.col("__cv__")))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            "cos_sim",
            "rank",
        )
    )
