"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.10 X1–X2).

Extension surface beyond the reference (whose only dedup-adjacent machinery is
file-level skip-existing, ``scraper.py:239-242``). Four tiers, each a
DataFrame→DataFrame transform designed around shuffle economics at 100 TB:

- exact          — hash shuffle on the dedup key only (no full-row compare);
- MinHash + LSH  — shingle → k minhashes → band → bucket member lists
                   (self-dedup) or bucket join (against a reference);
                   candidate pairs only ever meet inside a bucket, so the
                   quadratic blowup is confined to bucket-local pairs;
- SimHash        — 64-bit signature, banded into chunks; Hamming-verify on
                   candidates;
- n-gram Jaccard — exact verify kernel (used standalone on small sets or as
                   the verify stage after LSH).

All signature computation is built-in higher-order functions (JVM,
codegen-eligible). The only shuffles are the bucket groupBys/joins on
*short hash keys*, never on document text.
"""

from __future__ import annotations

import warnings
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..util import read_json_rows, write_json_rows
from .text import char_ngrams, simhash64, tokens


# ---------------------------------------------------------------- exact
def dedup_exact(
    df: DataFrame,
    subset: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Keep exactly one row per distinct ``subset`` key — the first under
    ``order_by`` (deterministic, unlike ``dropDuplicates`` which keeps an
    arbitrary row). One shuffle on the key columns; at scale this is the
    minimal-cost formulation (rank-within-group, map-side nothing to combine).
    """
    w = Window.partitionBy(*subset).orderBy(*order_by)
    rn = "__dd_rn__"
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) == 1).drop(rn)


def dedup_exact_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content-hash exact dedup: group on xxhash64(text) — shuffles 8-byte
    keys instead of document bodies; keeps the min id per hash. The standard
    100 TB formulation (hash collision odds ≪ data corruption odds)."""
    h = "__dd_h__"
    keep = "__dd_keep__"
    hashed = df.withColumn(h, F.xxhash64(F.col(text_col)))
    keepers = hashed.groupBy(h).agg(F.min(id_col).alias(keep))
    return (
        hashed.join(keepers, on=h)
        .filter(F.col(id_col) == F.col(keep))
        .drop(h, keep)
    )


def dedup_against(df: DataFrame, ref: DataFrame, text_col: str = "text") -> DataFrame:
    """Cross-corpus exact dedup: drop rows whose content already exists in a
    REFERENCE corpus — the incremental-ingest twin of ``dedup_exact_hash``
    (new crawl vs the previous training snapshot; eval-set exact-match
    removal is the n-gram variant, ``text.ngram_contamination``).

    Left-anti join on ``xxhash64(text)``: 8-byte keys shuffle, document
    bodies never travel, and the reference side reduces to its distinct
    hashes first (so a billion-row snapshot probes as at most
    |distinct contents| keys, broadcast when small). Same collision stance
    as ``dedup_exact_hash``.

    NULL text follows SQL equality semantics: NULL never equals anything
    (including another NULL), so NULL-text rows in ``df`` pass through
    unconditionally. (``xxhash64(NULL)`` would collapse them onto one
    non-null seed constant and a single NULL-text reference row would then
    drop them all — the hash key is therefore NULL'd out for NULL text,
    which an anti-join can never match.)
    """
    h = "__dd_h__"
    left = df.withColumn(
        h, F.when(F.col(text_col).isNotNull(), F.xxhash64(F.col(text_col)))
    )
    right = (
        ref.filter(F.col(text_col).isNotNull())
        .select(F.xxhash64(F.col(text_col)).alias(h))
        .distinct()
    )
    return left.join(right, on=h, how="left_anti").drop(h)


# ---------------------------------------------------------------- minhash/LSH
def jaccard(a: Column, b: Column) -> Column:
    """Exact set Jaccard of two string arrays (ratio of ints → cross-engine
    bit-identical)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.greatest(union, F.lit(1))


def _minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    hash_family: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front end: (banded, shingles) frames for one input.

    ``banded`` = (``__id__``, band, bucket) — one row per (doc, band), no
    payloads; ``shingles`` = (``__id__``, ``__sh__``) for the exact-Jaccard
    verify stage. Used by both the self-dedup (:func:`minhash_near_dup_pairs`)
    and the asymmetric corpus-vs-reference join
    (:func:`minhash_near_dup_against`); both sides of the asymmetric join
    MUST share (num_hashes, bands, shingle_n, hash_family) or buckets are
    incomparable — calling this from one place enforces that.
    """
    banded = _bands_from_sig(
        _minhash_sig_frame(
            df, id_col, text_col, num_hashes, shingle_n, hash_family
        ),
        num_hashes,
        bands,
        hash_family,
    )
    shingles = df.select(
        F.col(id_col).alias("__id__"),
        F.array_distinct(char_ngrams(F.col(text_col), shingle_n)).alias("__sh__"),
    )
    return banded, shingles


def _minhash_sig_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
    hash_family: str,
) -> DataFrame:
    """Wide signature frame (``__id__``, ``__h0__`` … ``__h{k-1}__``).

    Signature via explode + k min-aggregates: flat, codegen-eligible, with
    map-side partial aggregation — the shuffle carries k longs per doc, not
    shingle text (nested interpreted HOFs would be ~100× slower here).
    Shared verbatim by the join paths AND the persisted signature index so
    their hash arithmetic can never drift."""
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")
    if hash_family == "md5":
        # one md5 per shingle; h1/h2 = two 40-bit hex windows of the digest
        _m = F.md5(F.col("__s__"))
        base_h1 = F.conv(F.substring(_m, 1, 10), 16, 10).cast("long")
        base_h2 = F.conv(F.substring(_m, 11, 10), 16, 10).cast("long")
    else:
        base_h1 = F.shiftrightunsigned(F.xxhash64(F.col("__s__"), F.lit(0)), 24)
        base_h2 = F.shiftrightunsigned(F.xxhash64(F.col("__s__"), F.lit(1)), 24)
    exploded = df.select(
        F.col(id_col).alias("__id__"),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), shingle_n))).alias("__s__"),
    ).select("__id__", base_h1.alias("__b1__"), base_h2.alias("__b2__"))
    # k min-aggregates built as F.expr SQL strings: the chained-Column form
    # costs ~6 py4j round-trips per position (~0.4 s of driver time at
    # k=64) while Catalyst parses the IDENTICAL tree from text in
    # microseconds — the r15 rotate_vectors construction finding applied
    # to the signature aggregate (guide §4: the boundary cost is the
    # round-trips, not the execution). Differential-pinned byte-for-byte
    # against the Column spelling in tests/test_minhash_index.py.
    return exploded.groupBy("__id__").agg(
        *[
            F.expr(f"min(__b1__ + {i} * __b2__) AS __h{i}__")
            for i in range(num_hashes)
        ]
    )


def _bands_from_sig(
    sig: DataFrame, num_hashes: int, bands: int, hash_family: str
) -> DataFrame:
    """(``__id__``, band, bucket) from a wide signature frame. Bands travel
    WITHOUT the shingle arrays — duplicating document-sized payloads
    through the band explode (and the bucket shuffle) is the classic
    LSH-join mistake. Shingles rejoin by id for survivors only."""
    rows_per_band = num_hashes // bands

    # the whole bands×rows_per_band struct array is ONE F.expr parse — the
    # chained-Column spelling paid ~10 py4j round-trips per band (same
    # construction-cost rewrite as _minhash_sig_frame above; identical
    # parsed tree, pinned by the differential test)
    def band_bucket_sql(b: int) -> str:
        joined = "concat_ws(',', " + ", ".join(
            f"CAST(__h{b * rows_per_band + j}__ AS STRING)"
            for j in range(rows_per_band)
        ) + ")"
        if hash_family == "md5":
            return f"md5(concat_ws(',', {joined}, '{b}'))"
        return f"xxhash64({joined}, {b})"

    band_array = "array(" + ", ".join(
        f"named_struct('band', {b}, 'bucket', {band_bucket_sql(b)})"
        for b in range(bands)
    ) + ")"
    return sig.select(
        "__id__", F.expr(f"explode({band_array})").alias("__b__")
    ).select("__id__", F.col("__b__.band").alias("band"), F.col("__b__.bucket").alias("bucket"))


def _cap_buckets(
    banded: DataFrame,
    max_bucket_size: int | None,
    keys: tuple[str, str] = ("band", "bucket"),
) -> DataFrame:
    """Drop (band, bucket) cells with more than ``max_bucket_size`` members
    before candidate generation — the standard guard against bucket-local
    O(m²) blow-up on skewed corpora (boilerplate pages, empty documents,
    template spam all collapse into single buckets). Cost: one count over a
    window partitioned by the cell key, i.e. one shuffle on the key every
    candidate step then groups or joins on anyway, so that step reads it
    without another exchange. The window buffers a cell's rows in a
    spillable array, so an oversized cell costs disk, never one task's
    memory, and is dropped before any member list or pair forms. Pairs
    inside a capped bucket can still surface through the document's OTHER
    bands (that is why the cap composes with banding instead of destroying
    recall); pairs whose EVERY shared band is over the cap are the
    documented recall trade."""
    if max_bucket_size is None:
        return banded
    if max_bucket_size < 2:
        raise ValueError(f"max_bucket_size must be >= 2, got {max_bucket_size}")
    cell = Window.partitionBy(*keys)
    return (
        banded.withColumn("__bc__", F.count(F.lit(1)).over(cell))
        .filter(F.col("__bc__") <= max_bucket_size)
        .drop("__bc__")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    Plan: signature+bands in the scan stage → explode bands (rows × bands,
    each row only (id, band, bucket)) → ``max_bucket_size`` cap (the
    :func:`_cap_buckets` window count, skipped when uncapped) → one groupBy
    (band, bucket) that collects each bucket's member ids → every i<j pair
    of each member list → distinct candidate pairs → exact Jaccard ≥
    threshold. Candidates form only inside a bucket (bucket-local pair
    generation), and the member list makes that ONE shuffle on short keys:
    no bucket-count aggregate joined back, no self-join. The pairs come from
    two plain generators — member a at position i, then every member after
    i — so a bucket of m members streams the same m(m-1)/2 pairs the
    self-join did while no row holds more than its m-id list.
    With b bands of r rows the match probability is 1-(1-s^r)^b — at
    b=16, r=4: s=0.7 → ~0.97 recall; the verify stage removes false
    positives, so precision is exact.

    ``hash_family`` picks the base hash: ``"xxhash64"`` (default, the
    100 TB fast path) or ``"md5"`` — computed identically by any engine, so
    the ENTIRE LSH pipeline (signatures → bands → buckets → candidates →
    verified pairs) is replayable in an external oracle, not just the
    verify kernel. Same plan shape either way; only the base expressions
    differ. Both families derive the 64 h_i by Kirsch–Mitzenmacher double
    hashing — h_i(s) = h1(s) + i·h2(s) with h1, h2 two independent 40-bit
    base hashes — so each shingle is hashed ONCE (md5) or twice (xxhash64)
    instead of 64 times; the 40-bit halves keep ``h1 + 63·h2 < 2^46`` away
    from ANSI-mode overflow.

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b.
    """
    banded, shingles = _minhash_banded(
        df, id_col, text_col, num_hashes, bands, shingle_n, hash_family
    )
    members = (
        _cap_buckets(banded, max_bucket_size)
        .groupBy("band", "bucket")
        .agg(F.collect_list("__id__").alias("__m__"))
        .filter(F.size("__m__") >= 2)
    )
    cand = (
        members.select("__m__", F.posexplode("__m__").alias("__i__", "__a__"))
        .select(
            "__a__",
            F.explode(F.slice("__m__", F.col("__i__") + 2, F.size("__m__"))).alias("__b__"),
        )
        .select(
            F.least("__a__", "__b__").alias("id_a"),
            F.greatest("__a__", "__b__").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = shingles.select(
        F.col("__id__").alias("id_a"), F.col("__sh__").alias("sh_a")
    )
    sh_b = shingles.select(
        F.col("__id__").alias("id_b"), F.col("__sh__").alias("sh_b")
    )
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


# ---------------------------------------------------------------- simhash
def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature, banded into ``chunks``
    16-bit blocks (pigeonhole: distance ≤ 3 ⇒ at least one of 4 blocks
    identical), bucket-join per block, Hamming-verify candidates.

    ``hash_family`` follows :func:`~..operators.text.simhash64`: "md5"
    makes the signature — hence blocks, candidates, and verified pairs —
    engine-portable and oracle-checkable. ``max_bucket_size`` skips
    oversized (blk, key) cells before the candidate join — the MinHash
    :func:`_cap_buckets` skew guard on the block key, with the same recall
    trade on all-blocks-capped pairs.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if 64 % chunks != 0:
        raise ValueError(f"chunks must divide 64, got {chunks}")
    if max_hamming >= chunks:
        # pigeonhole guarantee needs distance < chunks: with d >= chunks every
        # block can absorb a differing bit, so true pairs silently drop out
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < chunks ({chunks}) for the "
            "banding to guarantee recall; raise chunks or lower max_hamming"
        )
    bits_per = 64 // chunks
    sig = df.select(
        F.col(id_col).alias("__id__"),
        simhash64(F.col(text_col), hash_family=hash_family).alias("__sim__"),
    )
    block_cols = [
        F.struct(
            F.lit(c).alias("blk"),
            F.shiftright(F.col("__sim__"), c * bits_per)
            .bitwiseAND(F.lit((1 << bits_per) - 1))
            .alias("key"),
        )
        for c in range(chunks)
    ]
    blocks = sig.select(
        "__id__", "__sim__", F.explode(F.array(*block_cols)).alias("__x__")
    ).select(
        "__id__",
        "__sim__",
        F.col("__x__.blk").alias("blk"),
        F.col("__x__.key").alias("key"),
    )
    blocks = _cap_buckets(blocks, max_bucket_size, ("blk", "key"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .select(
            F.col("a.__id__").alias("id_a"),
            F.col("b.__id__").alias("id_b"),
            F.col("a.__sim__").alias("sim_a"),
            F.col("b.__sim__").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", hamming64(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------- clustering
def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    two_hop: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id).

    Input: (id_a, id_b) edges from any near-dup stage. Label propagation:
    every node starts as its own label; each round every node adopts the
    minimum label in its neighborhood; converged when no label changes.
    cluster_id = the minimum member id of the component — deterministic.

    Each round is one join + one groupBy-min over the *edge list* (the
    node's own label rides along via a union instead of a second join),
    never the documents; rounds needed = graph diameter, and near-dup
    components are overwhelmingly tiny cliques (diameter ≤ 2), so this
    converges in 2-3 rounds in practice. Round 1 needs no label frame: with
    every label still the node's own id, it is ``least(src, min(dst))`` per
    edge source. An eager ``localCheckpoint`` after every round truncates
    lineage — without it each round's plan re-derives all previous rounds
    (and the upstream LSH pipeline), the classic iterative-algorithm trap.

    ``two_hop=True`` is the safety valve for adversarial chain-shaped
    duplicate graphs (diameter ≫ 2, e.g. a → a' → a'' … drift chains):
    after the neighbor-min step each round also shortcuts one pointer hop
    (new label = label of the label node — the pointer-doubling move from
    Kiveris et al.'s large-star/small-star family), so convergence is
    O(log diameter) rounds instead of O(diameter), at the cost of one extra
    self-join of the (id, label) frame per round. Identical fixpoint.

    ``stats`` (optional dict) receives ``{"rounds": k}`` — the number of
    propagation rounds actually executed, so tests can pin the
    O(log diameter) convergence claim instead of trusting the docstring.

    Convergence detection rides the checkpoint: labels only ever decrease
    (new = min(own, neighbors), and the shortcut only replaces a label with
    its component-minimum-so-far), so the global label sum is monotone and a
    fixpoint shows up as an unchanged sum. An ``Observation`` on the round's
    frame reads that sum from the job that materializes the eager
    checkpoint, so a round runs no separate aggregate job. The checkpoint
    must be eager: on a lazy one the observation reads zero rows and a NULL
    sum, which would end the loop after one round. Round 1 compares against
    the identity labels' sum, observed in the same pass as the sum of ids.
    """
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    # a duplicate edge cannot change a min, so the edges are not distinct'd
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()
    )

    def settle(step: DataFrame) -> tuple[DataFrame, dict]:
        """The two-hop shortcut (if on), then one eager checkpoint whose job
        also observes the label and id sums."""
        if two_hop:
            # pointer doubling: follow the label to ITS label. Every label is
            # a node id (min-merge over ids preserves that), so the lookup
            # side is the same frame; labels are monotone (a node's label ≤
            # its id), hence parent.label ≤ child.label and min() keeps the
            # invariant.
            parent = step.select(
                F.col("id").alias("__p_id__"), F.col("label").alias("__p_label__")
            )
            step = step.join(parent, step.label == F.col("__p_id__"), "left").select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("__p_label__"), F.col("label"))
                ).alias("label"),
            )
        # DECIMAL(38) sums: ids may be full-range 63-bit hashes, and an
        # ANSI-mode long overflow in the convergence check would kill the job
        obs = Observation()
        done = step.observe(
            obs,
            F.sum(F.col("label").cast("decimal(38,0)")).alias("label_sum"),
            F.sum(F.col("id").cast("decimal(38,0)")).alias("id_sum"),
        ).localCheckpoint()
        return done, obs.get

    labels, sums = settle(
        edges.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .withColumnRenamed("src", "id")
    )
    prev_sum = sums["id_sum"]
    rounds = 1
    while sums["label_sum"] != prev_sum:
        if rounds == max_iterations:
            # components with diameter > max_iterations would keep stale
            # labels, splitting one true cluster into several (recall
            # bound, not an error)
            warnings.warn(
                f"dedup_clusters hit max_iterations={max_iterations} before label "
                "propagation converged; labels may split large-diameter components",
                RuntimeWarning,
                stacklevel=2,
            )
            break
        prev_sum = sums["label_sum"]
        rounds += 1
        labels, sums = settle(
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), F.col("label"))
            .union(labels.select("id", "label"))
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """End-to-end near-dedup: given documents and their near-dup pairs, keep
    exactly one document per duplicate cluster (the minimum id — the
    cluster_id itself) plus every unpaired document. The 100 TB shape:
    clustering touches only the edge list; the wide document table is
    filtered with one broadcast-ineligible-safe anti-join."""
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("__loser__")
    )
    return df.join(
        losers, df[id_col] == F.col("__loser__"), "left_anti"
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_by: Sequence[Column],
) -> DataFrame:
    """Near-dedup keeping the *best* document per duplicate cluster (first
    under ``order_by``, e.g. ``[F.desc(n_tokens), F.asc(doc_id)]`` = keep the
    longest, min-id tiebreak) — real pipelines keep the most complete
    variant, not the smallest id.

    One formulation covers paired and unpaired docs: left-join cluster
    labels and rank within ``coalesce(cluster_id, own id)`` — unpaired docs
    form singleton partitions and always rank 1. Shuffle cost: the label
    join (labels are (id, cluster_id) pairs only) + one window over the
    cluster key.

    The label frame is aliased to reserved ``__dk_*__`` names before the
    join: Spark's ``drop`` removes ALL columns with a matching name, so
    dropping the bare ``id``/``cluster_id`` would silently eat same-named
    caller columns.
    """
    clusters = dedup_clusters(pairs).select(
        F.col("id").alias("__dk_id__"), F.col("cluster_id").alias("__dk_cid__")
    )
    joined = df.join(
        clusters, df[id_col] == F.col("__dk_id__"), "left"
    ).withColumn(
        "__ck__", F.coalesce(F.col("__dk_cid__"), df[id_col])
    )
    w = Window.partitionBy("__ck__").orderBy(*order_by)
    rn = "__kb_rn__"
    return (
        joined.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) == 1)
        .drop(rn, "__ck__", "__dk_id__", "__dk_cid__")
    )


# ---------------------------------------------------------------- jaccard (exact)
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    ngram_n: int = 1,
    use_words: bool = True,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard over the *whole* input — O(n²) compare,
    for small inputs or as a verify kernel. The scalable path is
    :func:`minhash_near_dup_pairs`; this one exists because its result is
    exactly SQL-expressible (the driver oracle runs the same join in DuckDB).
    """
    grams = (
        F.array_distinct(tokens(F.col(text_col)))
        if (use_words and ngram_n == 1)
        else F.array_distinct(char_ngrams(F.col(text_col), ngram_n))
    )
    g = df.select(F.col(id_col).alias("__id__"), grams.alias("__g__"))
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, F.col("a.__id__") < F.col("b.__id__"))
        .select(
            F.col("a.__id__").alias("id_a"),
            F.col("b.__id__").alias("id_b"),
            jaccard(F.col("a.__g__"), F.col("b.__g__")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def bloom_bitmap(
    ref: DataFrame, text_col: str, num_bits: int, num_hashes: int
) -> list[int]:
    """Bloom-filter bitmap of ``ref``'s non-null ``text_col`` contents as
    ``num_bits // 64`` words. Hash family = ``xxhash64(text, i)`` (the same
    seeded-second-argument family MinHash uses). One distributed aggregation
    (positions → per-word ``bit_or``) plus a bounded collect of the word
    table — at ~10 bits/element the bitmap for a billion-document reference
    is ~1.2 GB, at which point swap this driver-literal route for Spark's
    runtime bloom-filter join (spark.sql.optimizer.runtime.bloomFilter) or
    ship the bitmap as a broadcast variable; the knob is ``num_bits``.
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    text = F.col(text_col)
    positions = F.array(
        *[F.pmod(F.xxhash64(text, F.lit(i)), F.lit(num_bits)) for i in range(num_hashes)]
    )
    words = (
        ref.filter(text.isNotNull())
        .select(F.explode(positions).alias("__pos__"))
        .select(
            (F.col("__pos__") / 64).cast("long").alias("__w__"),
            F.expr("shiftleft(cast(1 as bigint), cast(__pos__ % 64 as int))").alias(
                "__m__"
            ),
        )
        .groupBy("__w__")
        .agg(F.bit_or("__m__").alias("__m__"))
        .collect()
    )
    bitmap = [0] * (num_bits // 64)
    for r in words:
        bitmap[r["__w__"]] = r["__m__"]
    return bitmap


def dedup_against_bloom(
    df: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    num_bits: int = 1 << 13,
    num_hashes: int = 5,
) -> DataFrame:
    """:func:`dedup_against` with a broadcast-bloom prefilter — identical
    result set, different shuffle economics: rows that fail ANY bloom probe
    provably have no match in ``ref`` and pass through in the map stage
    without ever shuffling; only bloom-positive candidates (true matches +
    ~``(1-e^{-kn/m})^k`` false positives) reach the exact hash anti-join.
    At 100 TB this is the standard shape for "new crawl vs previous
    snapshot": the crawl-side shuffle shrinks from |crawl| to ~|matches|.

    The bloom words are plan literals (one ``array<bigint>`` constant,
    folded once by Catalyst), so the probe is pure whole-stage-codegen
    column algebra — no UDF, no per-row Python. False positives are removed
    by the exact join; false negatives are impossible — so the output equals
    ``dedup_against`` exactly (pinned by a differential test and by sharing
    its oracle shape). NULL text passes through unconditionally, matching
    ``dedup_against``'s SQL-equality stance.
    """
    bitmap = bloom_bitmap(ref, text_col, num_bits, num_hashes)
    text = F.col(text_col)
    bw = F.array(*[F.lit(w).cast("long") for w in bitmap])
    probe = df.withColumn("__bw__", bw)
    for i in range(num_hashes):
        probe = probe.withColumn(
            f"__p{i}__", F.pmod(F.xxhash64(text, F.lit(i)), F.lit(num_bits))
        )
    hit_all = F.lit(True)
    for i in range(num_hashes):
        hit_all = hit_all & F.expr(
            f"((element_at(__bw__, cast(__p{i}__ div 64 as int) + 1) "
            f">> cast(__p{i}__ % 64 as int)) & 1) = 1"
        )
    aux = ["__bw__"] + [f"__p{i}__" for i in range(num_hashes)]
    probe = probe.withColumn("__maybe__", text.isNotNull() & hit_all).drop(*aux)
    clean = probe.filter(~F.col("__maybe__")).drop("__maybe__")
    candidates = probe.filter(F.col("__maybe__")).drop("__maybe__")
    return clean.unionByName(dedup_against(candidates, ref, text_col))


def minhash_near_dup_against(
    df: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Asymmetric MinHash+LSH: near-duplicate pairs between a NEW corpus and
    a REFERENCE corpus (new crawl vs the previous training snapshot) — the
    near-dup twin of :func:`dedup_against`, which only catches exact
    matches. Returns (id, ref_id, jaccard_sim): every verified pair with
    ``id`` from ``df`` and ``ref_id`` from ``ref``.

    Same banded front end on both sides (shared parameters enforced by
    construction), but the bucket join is df×ref instead of a self-join —
    candidates only form inside shared (band, bucket) cells, so the
    reference never meets the full crawl. At 100 TB the reference side's
    banded frame is computed once and persisted (it is pure signature rows,
    ~(8·bands) bytes/doc); each incremental batch joins against it.
    """
    banded_d, shingles_d = _minhash_banded(
        df, id_col, text_col, num_hashes, bands, shingle_n, hash_family
    )
    banded_r, shingles_r = _minhash_banded(
        ref, id_col, text_col, num_hashes, bands, shingle_n, hash_family
    )
    # cap each side independently: the blow-up is |A_bucket| x |B_bucket|
    banded_d = _cap_buckets(banded_d, max_bucket_size)
    banded_r = _cap_buckets(banded_r, max_bucket_size)
    cand = (
        banded_d.alias("a")
        .join(
            banded_r.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.__id__").alias("id"), F.col("b.__id__").alias("ref_id")
        )
        .dropDuplicates(["id", "ref_id"])
    )
    sh_d = shingles_d.select(F.col("__id__").alias("id"), F.col("__sh__").alias("sh_d"))
    sh_r = shingles_r.select(
        F.col("__id__").alias("ref_id"), F.col("__sh__").alias("sh_r")
    )
    return (
        cand.join(sh_d, "id")
        .join(sh_r, "ref_id")
        .withColumn("jaccard_sim", jaccard(F.col("sh_d"), F.col("sh_r")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id", "ref_id", "jaccard_sim")
    )


def dedup_near_against(
    df: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    **lsh_kwargs,
) -> DataFrame:
    """Keep only ``df`` rows with NO verified near-duplicate in ``ref`` —
    the incremental-ingest decision built on
    :func:`minhash_near_dup_against` (recall bounded by the LSH band
    parameters; matches the 1-(1-s^r)^b curve, so a high-similarity dup
    slipping through is the documented LSH tradeoff, not a bug)."""
    hits = minhash_near_dup_against(
        df, ref, id_col, text_col, threshold, **lsh_kwargs
    ).select(F.col("id").alias(id_col)).distinct()
    return df.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------- exact set-sim
def set_similarity_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT self set-similarity join: ALL pairs with Jaccard ≥ ``threshold``
    over an array column — prefix filtering (Chaudhuri et al. 2006 /
    PPJoin family), the lossless alternative to MinHash when missed pairs
    are not acceptable (compliance dedup, eval decontamination).

    Why it is exact: order every set by a global token order (ascending
    document frequency, then token — rare tokens first); two sets with
    J(a,b) ≥ t must share at least one token within each other's first
    ``|s| - ceil(t·|s|) + 1`` tokens, so exploding ONLY that prefix as the
    join key loses no qualifying pair, while pruning the candidate space
    by ~t/(1+t) per set and concentrating keys on rare tokens (small
    buckets). Exact Jaccard verifies candidates; no recall parameter to
    tune, no false negatives.

    Plan: one token-frequency aggregate, broadcast-joined back, and each
    row's tokens sorted by the (frequency, token) STRUCT directly — any
    total order satisfies the prefix lemma, so no global rank window (a
    ``row_number`` over the vocabulary would funnel it through one
    partition). Then prefix explode, self-join on the prefix token, exact
    verify. At 100 TB the frequency table is the only global state —
    persist it like the LSH reference frames.
    Returns (id_a, id_b, jaccard_sim).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    base = df.select(
        F.col(id_col).alias("__id__"),
        F.array_distinct(F.col(set_col)).alias("__set__"),
    )
    tok = base.select(F.explode("__set__").alias("__t__"))
    freq = tok.groupBy("__t__").agg(F.count(F.lit(1)).alias("__f__"))
    # per-row tokens sorted rare-first by the (freq, token) composite key
    ranked = (
        base.select("__id__", F.explode("__set__").alias("__t__"))
        .join(F.broadcast(freq), "__t__")
        .groupBy("__id__")
        .agg(
            F.array_sort(F.collect_list(F.struct("__f__", "__t__"))).alias("__rs__")
        )
        .select(
            "__id__",
            F.col("__rs__.__t__").alias("__sorted__"),
            F.size("__rs__").alias("__n__"),
        )
    )
    # prefix length |s| - ceil(t*|s|) + 1
    plen = F.col("__n__") - F.ceil(F.lit(threshold) * F.col("__n__")) + 1
    prefixed = ranked.select(
        "__id__", "__sorted__",
        F.explode(F.slice("__sorted__", 1, plen.cast("int"))).alias("__p__"),
    )
    a, b = prefixed.alias("a"), prefixed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__p__") == F.col("b.__p__"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .select(
            F.col("a.__id__").alias("id_a"),
            F.col("b.__id__").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = ranked.select(F.col("__id__").alias("id_a"), F.col("__sorted__").alias("__sa__"))
    sb = ranked.select(F.col("__id__").alias("id_b"), F.col("__sorted__").alias("__sb__"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("__sa__"), F.col("__sb__")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def containment_join(
    df: DataFrame,
    ref: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT asymmetric containment join: all (df row a, ref row b) pairs
    with ``|a ∩ b| / |a| ≥ threshold`` — "how much of a is inside b", the
    quote/subset/near-superset detector (eval-question-inside-training-doc,
    boilerplate-inside-page) that symmetric Jaccard under-scores when the
    two sets differ greatly in size.

    Prefix lemma, containment form: only ``a``'s first
    ``|a| - ceil(t·|a|) + 1`` tokens (rare-first by ``df``-side frequency)
    need to be probed — a qualifying pair must share one of them — while
    the ``ref`` side indexes ALL its tokens. Lossless; exact verify on
    candidates. Returns (id, ref_id, containment).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    a_base = df.select(
        F.col(id_col).alias("__id__"), F.array_distinct(F.col(set_col)).alias("__set__")
    )
    b_base = ref.select(
        F.col(id_col).alias("__rid__"), F.array_distinct(F.col(set_col)).alias("__rset__")
    )
    freq = (
        a_base.select(F.explode("__set__").alias("__t__"))
        .groupBy("__t__")
        .agg(F.count(F.lit(1)).alias("__f__"))
    )
    ranked = (
        a_base.select("__id__", F.explode("__set__").alias("__t__"))
        .join(F.broadcast(freq), "__t__")
        .groupBy("__id__")
        .agg(F.array_sort(F.collect_list(F.struct("__f__", "__t__"))).alias("__rs__"))
        .select(
            "__id__",
            F.col("__rs__.__t__").alias("__sorted__"),
            F.size("__rs__").alias("__n__"),
        )
    )
    plen = F.col("__n__") - F.ceil(F.lit(threshold) * F.col("__n__")) + 1
    probes = ranked.select(
        "__id__", F.explode(F.slice("__sorted__", 1, plen.cast("int"))).alias("__t__")
    )
    index = b_base.select("__rid__", F.explode("__rset__").alias("__t__"))
    cand = (
        probes.join(index, "__t__")
        .select(F.col("__id__").alias("id"), F.col("__rid__").alias("ref_id"))
        .dropDuplicates(["id", "ref_id"])
    )
    sa = ranked.select(F.col("__id__").alias("id"), F.col("__sorted__").alias("__sa__"))
    sb = b_base.select(F.col("__rid__").alias("ref_id"), F.col("__rset__").alias("__sb__"))
    containment = F.size(F.array_intersect(F.col("__sa__"), F.col("__sb__"))) / F.greatest(
        F.size("__sa__"), F.lit(1)
    )
    return (
        cand.join(sa, "id")
        .join(sb, "ref_id")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id", "ref_id", "containment")
    )


# ------------------------------------------------- duplicated-span removal
def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 20,
    min_count: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """ExactSubstr-style duplicated-span removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    ``window``-token span whose exact text occurs ``min_count``+ times
    corpus-wide (across documents or repeated within one) is cut from EVERY
    occurrence; the surviving tokens are re-joined in order. The aggressive
    drop-all-copies variant — boilerplate, licence blocks, and syndicated
    paragraphs vanish entirely instead of electing a canonical copy.

    Plan shape (100 TB): per-document token windows are md5-hashed INSIDE a
    higher-order ``transform`` before anything is exploded, so only
    (id, pos, 32-hex-hash) rows — never token arrays or span text — enter
    the explode and the two shuffles (hash-frequency groupBy on the 32-byte
    key; covered-position distinct on (id, pos)). The final reassembly is one
    groupBy per document over (pos, token) pairs. Suffix-automaton exactness
    over *arbitrary-length* spans is approximated by fixed-width windows:
    every duplicated run >= ``window`` tokens is fully covered by its
    duplicated sub-windows, shorter duplicates are ignored by design.

    ``keep_first=True`` switches to the canonical remove-all-but-one
    semantics: for each duplicated window, the occurrence with the lowest
    (id, pos) survives uncovered — one copy of a syndicated paragraph stays
    in the corpus. A surviving occurrence's tokens can still fall to a
    DIFFERENT duplicated window whose own first occurrence lies elsewhere
    (fixed-width approximation of arbitrary-length spans; same caveat as
    the aggressive mode, documented not hidden).

    Returns (id_col, clean_text, n_dropped_tokens).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks__"))
        .withColumn("__n__", F.size("__toks__"))
    )
    starts = F.when(
        F.col("__n__") >= window,
        F.sequence(F.lit(1), F.col("__n__") - window + 1),
    ).otherwise(F.array().cast("array<int>"))
    win_structs = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.concat_ws(" ", F.slice("__toks__", i, window))).alias("h"),
        ),
    )
    wins = base.select(
        F.col(id_col), F.explode(win_structs).alias("w")
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__cnt__"))
        .filter(F.col("__cnt__") >= min_count)
        .select("h")
    )
    dup_occ = wins.join(dup, "h", "semi")
    if keep_first:
        first = Window.partitionBy("h").orderBy(
            F.col(id_col).asc(), F.col("pos").asc()
        )
        dup_occ = dup_occ.withColumn(
            "__rn__", F.row_number().over(first)
        ).filter(F.col("__rn__") >= 2)
    covered = (
        dup_occ.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + window - 1)).alias("p"),
        )
        .distinct()
    )
    toks_pos = base.select(F.col(id_col), F.posexplode("__toks__")).select(
        id_col, (F.col("pos") + 1).alias("p"), F.col("col").alias("tok")
    )
    kept = toks_pos.join(covered, [id_col, "p"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__kept__"),
    )
    return (
        base.select(id_col, "__n__")
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("__n__") - F.coalesce("__kept__", F.lit(0)))
            .cast("long")
            .alias("n_dropped_tokens"),
        )
    )


# ----------------------------------------------------------- winnowing
def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    window: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): hash all character ``k``-grams, slide a ``window`` over the
    hash sequence, keep each window's minimum — guaranteeing any shared
    substring of length >= k + window - 1 contributes at least one common
    fingerprint, while storing only ~2/(window+1) of the grams.

    The third fingerprint family next to MinHash (set-level similarity) and
    SimHash (vector-level): winnowing is POSITIONAL — it finds shared
    *contiguous runs* (plagiarism, quotation, partial copies), which
    set-based signatures dilute on long documents.

    All selection happens inside higher-order functions before the explode,
    so only (id, 8-byte fingerprint) rows shuffle. ``"md5"`` family is the
    engine-portable oracle path; ``"xxhash64"`` the fast default.

    Returns exploded distinct (id_col, fp) rows.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    grams = char_ngrams(F.col(text_col), k)
    if hash_family == "md5":
        hashes = F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
        )
    elif hash_family == "xxhash64":
        hashes = F.transform(grams, lambda g: F.xxhash64(g, F.lit(0)))
    else:
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")
    base = df.select(F.col(id_col), hashes.alias("__hs__"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("__hs__") - (window - 1), F.lit(1))
            ),
            lambda i: F.array_min(F.slice("__hs__", i, window)),
        )
    )
    return base.select(F.col(id_col), F.explode(fps).alias("fp"))


def winnow_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    window: int = 4,
    min_shared: int = 3,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate copied-content pairs by shared winnowing fingerprints:
    self-join on the fingerprint key, count distinct shared prints per pair,
    keep pairs with >= ``min_shared``. ``overlap`` = shared / smaller
    fingerprint set — a containment-style score robust to length mismatch.

    ``max_bucket_size`` is the standard LSH skew guard: fingerprints shared
    by more than that many documents (boilerplate runs) are skipped before
    the pair join, bounding the quadratic bucket blowup.

    Returns (id_a, id_b, shared_fps, overlap).
    """
    fps = winnow_fingerprints(
        df, id_col, text_col, k=k, window=window, hash_family=hash_family
    )
    if max_bucket_size is not None:
        ok = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__bs__"))
            .filter(F.col("__bs__") <= max_bucket_size)
            .select("fp")
        )
        fps = fps.join(ok, "fp", "semi")
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nf__"))
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__nf__").alias("__na__"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__nf__").alias("__nb__"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "shared_fps",
            (F.col("shared_fps") / F.least("__na__", "__nb__")).alias("overlap"),
        )
    )


def plan_lsh_params(
    threshold: float,
    *,
    target_recall: float = 0.95,
    max_candidate_rate: float = 0.05,
    max_hashes: int = 256,
) -> dict:
    """Closed-form MinHash-LSH parameter planning: choose (bands, rows) so
    the S-curve ``P(candidate | sim=s) = 1 - (1 - s^r)^b`` reaches
    ``target_recall`` at the dedup ``threshold`` while keeping the
    false-candidate probability at ``threshold/2`` (the "how much junk
    reaches the exact verifier" number) under ``max_candidate_rate`` —
    minimizing total hashes among feasible settings. Without the junk
    constraint the cost optimum degenerates to rows_per_band=1, which
    candidates nearly everything; both sides of the precision/recall
    trade must bind.

    Pure arithmetic on the driver (no data touched); feed the result to
    :func:`minhash_near_dup_pairs`/:func:`minhash_near_dup_against` as
    ``num_hashes=bands*rows, bands=bands``.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    best = None
    for r in range(1, 33):
        for b in range(1, max_hashes + 1):
            if b * r > max_hashes:
                break
            recall = 1.0 - (1.0 - threshold**r) ** b
            if recall < target_recall:
                continue
            junk = 1.0 - (1.0 - (threshold / 2.0) ** r) ** b
            if junk > max_candidate_rate:
                break  # larger b at this r only raises the junk rate
            cost = b * r
            if best is None or cost < best["num_hashes"] or (
                cost == best["num_hashes"]
                and recall > best["recall_at_threshold"]
            ):
                best = {
                    "bands": b,
                    "rows_per_band": r,
                    "num_hashes": cost,
                    "recall_at_threshold": recall,
                    "candidate_rate_at_half_threshold": junk,
                }
            break  # larger b only costs more at this r
    if best is None:
        raise ValueError(
            f"no (bands, rows) within {max_hashes} hashes reaches recall "
            f"{target_recall} at threshold {threshold} with candidate rate "
            f"<= {max_candidate_rate}"
        )
    return best


def fuzzy_join_blocked(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    block_len: int = 10,
    prefix_len: int = 30,
    max_dist: int = 8,
) -> DataFrame:
    """Blocked fuzzy self-join: candidate pairs share an exact ``block_len``-
    char prefix block, then verify with ``levenshtein`` over the
    ``prefix_len``-char prefix — the entity-resolution pattern that makes
    edit-distance matching feasible at scale (the all-pairs kernel in
    ``q_levenshtein`` is O(n^2) and exists as the capped verification twin;
    this is the production shape: an equi-join on block keys bounds
    candidates to block-local pairs, and the expensive distance runs only
    on survivors of the cheap exact-prefix filter).

    Blocking recall caveat (standard): a typo INSIDE the first
    ``block_len`` chars moves a record to a different block — production
    pipelines union several complementary blockers (prefix, phonetic,
    length-band); the operator takes any precomputed block via
    ``block_len`` on the text prefix here to stay oracle-expressible.
    Returns ``(id_a, id_b, edit_dist)`` with ``id_a < id_b``.
    """
    d = df.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, prefix_len).alias("prefix"),
        F.substring(F.col(text_col), 1, block_len).alias("blk"),
    )
    a = d.select(
        F.col("id").alias("id_a"), F.col("prefix").alias("pa"), "blk"
    )
    b = d.select(
        F.col("id").alias("id_b"), F.col("prefix").alias("pb"), "blk"
    )
    return (
        a.join(b, ["blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein(F.col("pa"), F.col("pb")))
        .filter(F.col("edit_dist") <= max_dist)
        .select("id_a", "id_b", "edit_dist")
    )


# ---------------------------------------------------- persisted LSH index
def _independent_minhash_sig(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
    hash_family: str,
) -> DataFrame:
    """(``__id__``, sig array<long>) with a per-position INDEPENDENT hash
    family — h_i(s) = xxhash64(s, seed=i) (or a salted md5 window for the
    oracle-replayable family). The banding kernel's affine
    h_i = b1 + i·b2 (Kirsch-Mitzenmacher) gives usable bucket collision
    behavior at the measured default operating point (MINHASH_ERROR.json:
    recall 0.82/0.91 in the J 0.5–0.6/0.6–0.7 buckets at (64,16), vs
    independent-family theory 0.79/0.96 — but with a MUTED bands knob;
    see write_minhash_index), yet positions are correlated — one shared
    shingle with a small b2 wins EVERY position, so signature agreement
    grossly overestimates Jaccard (measured mean |est−J| ≈ 0.46 on the
    documents fixture).
    The match-time estimator therefore hashes independently per position;
    unbiasedness is pinned in test_minhash_index.py against exact
    shingle Jaccard."""
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")
    exploded = df.select(
        F.col(id_col).alias("__id__"),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), shingle_n))).alias("__s__"),
    )
    # per-position hash + min aggregate as F.expr SQL strings — the
    # chained-Column spelling cost ~8 py4j round-trips per position
    # (~0.6 s of driver time at k=64 per signature frame); Catalyst
    # parses the identical tree from text (r15 rotate_vectors finding,
    # guide §4). Byte-for-byte differential vs the Column spelling is
    # pinned in tests/test_minhash_index.py.
    if hash_family == "md5":
        def h_sql(i: int) -> str:
            return (
                "CAST(conv(substring(md5(concat(__s__, "
                f"'|{i}')), 1, 15), 16, 10) AS BIGINT)"
            )
    else:
        def h_sql(i: int) -> str:
            return f"xxhash64(__s__, {i})"
    agg = exploded.groupBy("__id__").agg(
        *[F.expr(f"min({h_sql(i)}) AS __m{i}__") for i in range(num_hashes)]
    )
    return agg.select(
        "__id__",
        F.expr(
            "array(" + ", ".join(f"__m{i}__" for i in range(num_hashes)) + ")"
        ).alias("sig"),
    )


def write_minhash_index(
    ref: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    partition_col: str | None = None,
    mode: str = "error",
) -> None:
    """Persist a MinHash signature index over the reference corpus — the
    durable form of the asymmetric-LSH reference side that
    :func:`minhash_near_dup_against`'s docstring promises ("the reference
    side's banded frame is computed once and persisted"). Layout:

    - ``<path>/bands``: (ref_id, band, bucket) — what candidate joins
      shuffle on; ~(8·bands) bytes/doc. Same affine-family kernel as the
      join paths (collision curve validated there).
    - ``<path>/sigs``: (ref_id, sig array<long>) — k INDEPENDENT-family
      minhashes (see :func:`_independent_minhash_sig` for why the
      banding family cannot estimate similarity) for the match-time
      Jaccard estimate (~8k bytes/doc). The reference TEXT is never
      stored: a 100 TB snapshot indexes into ~(8·(k+bands))/doc, and
      matching never reads it again.
    - ``<path>/meta``: one-row JSON of (num_hashes, bands, shingle_n,
      hash_family) — the share-or-incomparable parameter set made
      durable; every reader validates against it.

    With ``partition_col`` (e.g. ingest day, carried on ``ref`` rows)
    both tables are Hive-partitioned by it, which is what lets
    :func:`append_minhash_index` maintain the index at O(touched
    partitions) per batch.

    Parameter choice is MEASURED (``tools/minhash_error_probe.py`` →
    MINHASH_ERROR.json, sf0.01 documents fixture):

    - ``num_hashes`` sets the estimator error: mean |est − J| tracks the
      √(J(1−J)/k) law — 0.097 at k=16, 0.055 at k=64, 0.037 at k=128 —
      while at-rest size is 8k B/doc. k=64 (512 B/doc) is the knee:
      halving the error again doubles the index.
    - ``bands`` at the default (64, 16) measures candidate recall 0.82 /
      0.91 in the J 0.5–0.6 / 0.6–0.7 buckets, bracketing the
      independent-family theory curve (0.79 / 0.96) at the operating
      thresholds. CAVEAT: under the Kirsch-Mitzenmacher banding family
      the ``bands`` knob is MUTED — consecutive positions correlate, so
      sweeping bands 8→32 moves aggregate recall barely (0.838→0.841
      where independent-family theory spans 0.03→1.0). Tune dedup
      precision with the ``threshold`` on the (independent-family)
      estimated Jaccard, not by re-banding; tune recall with
      ``shingle_n``/``threshold``."""
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    spark = ref.sparkSession
    sig_wide = _minhash_sig_frame(
        ref, id_col, text_col, num_hashes, shingle_n, hash_family
    )
    sigs = _independent_minhash_sig(
        ref, id_col, text_col, num_hashes, shingle_n, hash_family
    ).select(F.col("__id__").alias("ref_id"), "sig")
    bands_df = _bands_from_sig(sig_wide, num_hashes, bands, hash_family).select(
        F.col("__id__").alias("ref_id"), "band", "bucket"
    )
    if partition_col is not None:
        part = ref.select(F.col(id_col).alias("ref_id"), partition_col)
        sigs = sigs.join(part, "ref_id")
        bands_df = bands_df.join(part, "ref_id")
    for name, frame in (("sigs", sigs), ("bands", bands_df)):
        w = frame.write.mode(mode)
        if partition_col is not None:
            w = w.partitionBy(partition_col)
        w.parquet(f"{path}/{name}")
    meta = dict(
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_family=hash_family,
    )
    write_json_rows(spark, f"{path}/meta", [meta], mode=mode)


def read_minhash_index_meta(spark, path: str) -> dict:
    """The index's LSH parameter set (validated): every batch MUST hash
    with exactly these or its buckets are incomparable.

    Read on the driver (``util.read_json_rows``), not by a Spark job: the
    meta is a one-row KB-sized file read on EVERY match/append call, and
    a distributed job to read 80 bytes costs a scheduler round trip
    (~0.3 s) for nothing. Exactly one row; missing fields read as None
    and are rejected below."""
    rows = read_json_rows(spark, f"{path}/meta")
    if len(rows) != 1:
        raise ValueError(f"expected exactly one meta row at {path}/meta, got {len(rows)}")
    m = {
        k: rows[0].get(k)
        for k in ("num_hashes", "bands", "shingle_n", "hash_family")
    }
    # NULL-check every field BEFORE arithmetic: a partially-written or
    # hand-edited meta row must raise the intended ValueError (with the
    # path), not a bare TypeError from '%' on NoneType.
    missing = [k for k in ("num_hashes", "bands", "shingle_n", "hash_family") if m[k] is None]
    if missing:
        raise ValueError(f"corrupt meta at {path}: null/missing fields {missing} in {m}")
    if m["hash_family"] not in ("xxhash64", "md5"):
        raise ValueError(
            f"corrupt meta at {path}: unknown hash_family {m['hash_family']!r} "
            "(expected 'xxhash64' or 'md5')"
        )
    if m["num_hashes"] % m["bands"]:
        raise ValueError(f"corrupt meta at {path}: {m}")
    return m


def append_minhash_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_col: str = "ingest_day",
) -> None:
    """Incremental index maintenance: signature the new batch with the
    PERSISTED parameters and merge into ``<path>/sigs`` + ``<path>/bands``
    via the partition-scoped upsert — re-ingested ids replace their rows
    within their partition, new ids append, untouched partitions are
    never read or written. Signatures are deterministic expressions of
    (text, params), so replays converge without a ledger — the same
    idempotence argument as ``streaming/ann.py``."""
    from ..streaming.upsert import merge_upsert_batch

    if partition_col not in new_docs.columns:
        raise ValueError(f"new_docs must carry partition column {partition_col!r}")
    m = read_minhash_index_meta(spark, path)
    sig_wide = _minhash_sig_frame(
        new_docs, id_col, text_col, m["num_hashes"], m["shingle_n"], m["hash_family"]
    )
    part = new_docs.select(F.col(id_col).alias("ref_id"), partition_col)
    sigs = _independent_minhash_sig(
        new_docs, id_col, text_col, m["num_hashes"], m["shingle_n"], m["hash_family"]
    ).select(F.col("__id__").alias("ref_id"), "sig").join(part, "ref_id")
    bands_df = (
        _bands_from_sig(sig_wide, m["num_hashes"], m["bands"], m["hash_family"])
        .select(F.col("__id__").alias("ref_id"), "band", "bucket")
        .join(part, "ref_id")
    )
    merge_upsert_batch(spark, sigs, f"{path}/sigs", ["ref_id"], partition_col)
    merge_upsert_batch(
        spark, bands_df, f"{path}/bands", ["ref_id", "band"], partition_col
    )


def minhash_match_index(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Match a new batch against the persisted index WITHOUT touching the
    reference corpus: batch bands equi-join index bands on (band, bucket)
    for candidates, then similarity is the SIGNATURE-ESTIMATED Jaccard —
    the fraction of agreeing minhash positions, the standard unbiased
    k-sample estimator (std ≈ sqrt(J(1−J)/k): ±0.06 at k=64 around the
    usual 0.7-0.8 thresholds). That is the deliberate trade vs
    :func:`minhash_near_dup_against`'s exact-Jaccard verify: the index
    holds ~8k bytes/doc of signatures instead of documents, so a crawl
    batch dedups against a 100 TB snapshot while reading none of it.

    Returns (id, ref_id, est_jaccard) pairs with est_jaccard ≥ threshold.
    ``max_bucket_size`` caps candidate cells on BOTH sides (boilerplate
    buckets, the usual skew guard)."""
    m = read_minhash_index_meta(spark, path)
    k = m["num_hashes"]
    sig_wide = _minhash_sig_frame(
        df, id_col, text_col, k, m["shingle_n"], m["hash_family"]
    )
    batch_bands = _bands_from_sig(sig_wide, k, m["bands"], m["hash_family"])
    batch_bands = _cap_buckets(batch_bands, max_bucket_size)
    idx_bands = spark.read.parquet(f"{path}/bands").select("ref_id", "band", "bucket")
    idx_bands = _cap_buckets(
        idx_bands.withColumnRenamed("ref_id", "__id__"), max_bucket_size
    ).withColumnRenamed("__id__", "ref_id")
    cand = (
        batch_bands.join(idx_bands, ["band", "bucket"])
        .select(F.col("__id__").alias("id"), "ref_id")
        .dropDuplicates(["id", "ref_id"])
    )
    batch_sigs = _independent_minhash_sig(
        df, id_col, text_col, k, m["shingle_n"], m["hash_family"]
    ).select(F.col("__id__").alias("id"), F.col("sig").alias("sig_a"))
    idx_sigs = spark.read.parquet(f"{path}/sigs").select(
        "ref_id", F.col("sig").alias("sig_b")
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda v: v
        )
    ) / F.lit(float(k))
    return (
        cand.join(batch_sigs, "id")
        .join(idx_sigs, "ref_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id", "ref_id", "est_jaccard")
    )


def dedup_against_minhash_index(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Keep only ``df`` rows with NO index match at ``threshold`` — the
    crawl-ingest decision over the persisted snapshot index (recall
    bounded by the shared band parameters, precision by the estimator
    variance; both documented on :func:`minhash_match_index`)."""
    hits = (
        minhash_match_index(
            spark, path, df, id_col, text_col, threshold, max_bucket_size
        )
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")
