"""Dedup operator tests: planted near-duplicates must be found; the exact
verify stage guarantees precision; determinism throughout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_hash,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind distant mountains and rivers flow gently through green valleys "
    "carrying stories of ancient forests toward the endless patient sea"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("quick", "swift")),          # near-dup of 0
        (2, BASE.replace("mountains", "hills") + " tonight"),  # near-dup of 0
        (3, "completely different text about database engines and query optimizers"),
        (4, "another unrelated snippet mentioning spark dataframes and shuffles"),
        (5, BASE),                                    # exact dup of 0
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 5), (3, "j", 1)], ["id", "key", "ord"]
    )
    out = dedup_exact(df, subset=["key"], order_by=["ord", "id"])
    got = {(r.id, r.key) for r in out.collect()}
    assert got == {(2, "k"), (3, "j")}


def test_dedup_exact_hash_keeps_min_id(docs):
    out = dedup_exact_hash(docs, "text", "doc_id")
    ids = {r.doc_id for r in out.collect()}
    assert 5 not in ids and 0 in ids
    assert len(ids) == 5


def test_minhash_finds_planted_dups(docs):
    pairs = minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 5) in got          # identical
    assert (0, 1) in got          # one-word swap
    assert (0, 2) in got
    # precision is exact: no unrelated pair can pass the jaccard verify
    for a, b in got:
        assert {a, b} <= {0, 1, 2, 5}


def test_minhash_exact_pair_has_sim_1(docs):
    pairs = minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.6)
    sim = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs.collect()}
    assert sim[(0, 5)] == 1.0


def test_simhash_identical_distance_zero(docs):
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((0, 5)) == 0


def test_simhash_rejects_unsound_banding(docs):
    # pigeonhole guarantee needs max_hamming < chunks and chunks | 64
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=4, chunks=4)
    with pytest.raises(ValueError, match="divide 64"):
        simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=2, chunks=5)


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")], ["doc_id", "text"]
    )
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.0)
    sim = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs.collect()}
    assert sim[(1, 2)] == pytest.approx(3 / 5)  # {a,b,c} / {a,b,c,d,e}
    assert sim[(1, 3)] == 0.0


def test_dedup_clusters_components(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_clusters

    # two components: {1,2,3,4} (a chain — diameter 3) and {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keep_canonical_end_to_end(docs):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        dedup_keep_canonical,
    )

    pairs = minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.6)
    kept = dedup_keep_canonical(docs, pairs, "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    # cluster {0,1,2,5} collapses to 0; singletons 3,4 survive
    assert ids == [0, 3, 4]


def test_minhash_determinism(docs):
    a = sorted(tuple(r) for r in minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5).collect())
    b = sorted(tuple(r) for r in minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5).collect())
    assert a == b


def test_dedup_keep_best_longest(spark):
    from pyspark.sql import functions as F

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_keep_best
    from gdelt_2_0_event_database_pipeline_spark.operators.text import tokens

    docs = spark.createDataFrame(
        [
            (1, "a b c"),          # cluster {1,2}: doc 2 is longer -> kept
            (2, "a b c d e"),
            (3, "x y"),            # unpaired -> kept
            (10, "p q r s"),       # cluster {10,11}: tie on length -> min id kept
            (11, "p q r t"),
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (10, 11)], "id_a long, id_b long")
    kept = {
        r.doc_id
        for r in dedup_keep_best(
            docs, pairs, "doc_id",
            order_by=[F.desc(F.size(tokens("text"))), F.asc("doc_id")],
        ).collect()
    }
    assert kept == {2, 3, 10}


def test_dedup_clusters_warns_on_iteration_cap(spark):
    import warnings as W

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_clusters

    # a 6-node path has diameter 5: one round of min-label propagation
    # cannot converge, so the cap warning must fire
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a long, id_b long"
    )
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        dedup_clusters(pairs, max_iterations=1).collect()
    assert any("max_iterations" in str(w.message) for w in caught)


def test_dedup_clusters_matches_union_find_on_random_graphs(spark):
    # differential check against an independent union-find implementation
    # over seeded random graphs (chains, cliques, and sparse noise mixed)
    import random

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_clusters

    for seed in (3, 17, 99):
        rng = random.Random(seed)
        nodes = list(range(60))
        edges = {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
            )
            if a != b
        }
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {
            n: find(n) for n in nodes
            if any(n in e for e in edges)  # dedup_clusters only sees edge endpoints
        }
        pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
        got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
        assert got == expected, f"seed {seed}"


def test_dedup_clusters_huge_hash_ids_no_overflow(spark):
    # full-range 63-bit ids (content hashes): the convergence sum must not
    # overflow ANSI-mode long arithmetic
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_clusters

    big = (1 << 62) + 7
    pairs = spark.createDataFrame(
        [(big, big + 1), (big + 2, big + 3), (big + 1, big + 4)],
        "id_a long, id_b long",
    )
    got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got[big + 4] == big and got[big + 3] == big + 2


def test_dedup_clusters_two_hop_chain_converges_fast(spark):
    import warnings

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_clusters

    # adversarial 50-link chain: diameter 50, plain label-prop needs ~50
    # rounds; pointer doubling must finish within 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = dedup_clusters(pairs, max_iterations=12, two_hop=True).collect()
    assert len(out) == 51
    assert {r.cluster_id for r in out} == {0}


def test_dedup_clusters_two_hop_same_fixpoint(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    plain = {(r.id, r.cluster_id) for r in dedup_clusters(pairs).collect()}
    fast = {(r.id, r.cluster_id) for r in dedup_clusters(pairs, two_hop=True).collect()}
    assert plain == fast


def test_dedup_keep_best_preserves_caller_id_cluster_id_columns(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_keep_best

    # caller columns literally named 'id' and 'cluster_id' must survive
    docs = spark.createDataFrame(
        [(1, "a", 100), (2, "bb", 200), (3, "c", 300)],
        "id long, text string, cluster_id long",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup_keep_best(docs, pairs, "id", [F.desc(F.length("text")), F.asc("id")])
    assert set(out.columns) == {"id", "text", "cluster_id"}
    rows = {r.id: r.cluster_id for r in out.collect()}
    assert rows == {2: 200, 3: 300}


def test_dedup_against_reference_corpus(spark):
    """Rows whose content exists in the reference are dropped — including
    duplicates of reference content living under other ids — and nothing
    else is."""
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_against

    corpus = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "alpha"), (5, "delta")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame([(91, "alpha"), (92, "epsilon")], "doc_id long, text string")
    kept = {r.doc_id for r in dedup_against(corpus, ref).collect()}
    assert kept == {2, 3, 5}  # both 'alpha' copies dropped; rest kept


def test_dedup_against_null_text_passes_through(spark):
    """SQL equality semantics: NULL never equals anything, so NULL-text rows
    survive even when the reference corpus also contains NULL text (they must
    not collapse onto the xxhash64 seed constant and anti-join away)."""
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_against

    corpus = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, None), (4, "beta")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(91, "alpha"), (92, None)], "doc_id long, text string"
    )
    kept = {r.doc_id for r in dedup_against(corpus, ref).collect()}
    assert kept == {2, 3, 4}  # only the real content match is dropped


def test_dedup_clusters_two_hop_rounds_logarithmic(spark):
    """The O(log diameter) convergence claim, pinned on a 256-link drift
    chain via the stats hook: ceil(log2(256)) = 8 propagation-plus-doubling
    rounds, plus small constant slack for the initial neighbor-min warmup
    and the final no-change detection round."""
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(256)], "id_a long, id_b long"
    )
    stats = {}
    out = dedup_clusters(pairs, max_iterations=20, two_hop=True, stats=stats).collect()
    assert len(out) == 257 and {r.cluster_id for r in out} == {0}
    assert stats["rounds"] <= 13, f"chain-256 took {stats['rounds']} rounds"


def test_dedup_against_bloom_matches_plain(spark):
    """Differential: the bloom-prefiltered path returns EXACTLY the plain
    anti-join's rows (false positives die in the verify join; false
    negatives are impossible), including the NULL-text pass-through."""
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        dedup_against,
        dedup_against_bloom,
    )

    corpus = spark.createDataFrame(
        [(i, f"doc-{i % 37}") for i in range(200)] + [(900, None), (901, None)],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(9000 + i, f"doc-{i}") for i in range(15)] + [(9900, None)],
        "doc_id long, text string",
    )
    plain = {tuple(r) for r in dedup_against(corpus, ref).collect()}
    bloom = {
        tuple(r)
        for r in dedup_against_bloom(corpus, ref, num_bits=1 << 10, num_hashes=4).collect()
    }
    assert bloom == plain
    # sanity: the filter actually removed reference content
    assert all(r != (900, None) or True for r in bloom)
    assert len(bloom) < 202


def test_bloom_prefilter_passes_all_reference_content(spark):
    """No false negatives: every reference text is bloom-positive (all its
    probe bits are set in the bitmap built from the same corpus)."""
    from pyspark.sql import functions as F

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        dedup_against_bloom,
    )

    ref = spark.createDataFrame(
        [(i, f"snapshot-doc-{i}") for i in range(50)], "doc_id long, text string"
    )
    # dedup of ref against itself must drop everything (every row matches)
    out = dedup_against_bloom(ref, ref, num_bits=1 << 10, num_hashes=4)
    assert out.count() == 0


def test_bloom_bitmap_rejects_unaligned_bits(spark):
    import pytest as _pytest

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import bloom_bitmap

    ref = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bloom_bitmap(ref, "text", num_bits=100, num_hashes=3)


def test_near_dup_against_finds_cross_corpus_dups(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        dedup_near_against,
        minhash_near_dup_against,
    )

    base = "the quick brown fox jumps over the lazy dog again and again %d"
    new = spark.createDataFrame(
        [(1, base % 1), (2, "completely unrelated text about spark plans"),
         (3, base % 3)],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(91, base % 1), (92, "another unrelated reference document body")],
        "doc_id long, text string",
    )
    pairs = minhash_near_dup_against(new, ref, "doc_id", "text", threshold=0.6)
    got = {(r.id, r.ref_id) for r in pairs.collect()}
    assert (1, 91) in got          # exact twin found
    assert (3, 91) in got          # near twin (one digit differs) found
    assert all(i != 2 for i, _ in got)  # unrelated doc never pairs

    survivors = {r.doc_id for r in dedup_near_against(new, ref, "doc_id", "text", threshold=0.6).collect()}
    assert survivors == {2}


def test_near_dup_against_no_self_pairs_semantics(spark):
    """Unlike the self-join variant there is no id_a < id_b constraint —
    equal ids on the two sides are distinct corpora and must still pair."""
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        minhash_near_dup_against,
    )

    text = "same content either side of the corpus boundary here"
    new = spark.createDataFrame([(7, text)], "doc_id long, text string")
    ref = spark.createDataFrame([(7, text)], "doc_id long, text string")
    got = [(r.id, r.ref_id, r.jaccard_sim) for r in minhash_near_dup_against(
        new, ref, "doc_id", "text", threshold=0.9).collect()]
    assert got == [(7, 7, 1.0)]


def test_minhash_bucket_cap_bounds_skew(spark):
    """A 60-identical-doc template cluster: uncapped, every band bucket holds
    all 60 → ~1.8k pairs; capped at 10, those buckets are skipped entirely
    (every shared band is over cap) while normal planted near-dups living in
    small buckets are unaffected."""
    import pytest as _pytest

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        bloom_bitmap,  # noqa: F401 (keeps import grouping stable)
        minhash_near_dup_pairs,
    )

    template = [(i, "identical boilerplate page body repeated verbatim") for i in range(60)]
    normal = [
        (100, "a genuinely unique document about spark shuffle economics"),
        (101, "a genuinely unique document about spark shuffle economic"),  # near-dup
    ]
    docs = spark.createDataFrame(template + normal, "doc_id long, text string")

    uncapped = minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.6)
    assert uncapped.filter("id_a < 60 and id_b < 60").count() == 60 * 59 // 2

    capped = minhash_near_dup_pairs(
        docs, "doc_id", "text", threshold=0.6, max_bucket_size=10
    )
    rows = capped.collect()
    assert all(not (r.id_a < 60 and r.id_b < 60) for r in rows)
    assert any((r.id_a, r.id_b) == (100, 101) for r in rows)

    with _pytest.raises(ValueError):
        minhash_near_dup_pairs(docs, "doc_id", "text", max_bucket_size=1)


def test_simhash_bucket_cap_bounds_skew(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    template = [(i, "identical boilerplate page body repeated verbatim") for i in range(40)]
    docs = spark.createDataFrame(template, "doc_id long, text string")
    assert simhash_near_dup_pairs(docs, "doc_id", "text").count() == 40 * 39 // 2
    assert (
        simhash_near_dup_pairs(docs, "doc_id", "text", max_bucket_size=10).count() == 0
    )


def test_set_similarity_join_exact_vs_bruteforce(spark):
    """Prefix filtering must return EXACTLY the brute-force pair set (it is
    lossless by the prefix lemma) while generating fewer candidates."""
    import itertools

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        set_similarity_join,
    )

    rows = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b", "c", "e"]),       # J=3/5 with 1
        (3, ["x", "y", "z"]),            # disjoint
        (4, ["a", "b", "c", "d"]),       # exact dup of 1
        (5, ["b", "c", "d", "e", "f"]),
        (6, []),                         # empty set never pairs
    ]
    df = spark.createDataFrame(rows, "id long, s array<string>")
    got = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in set_similarity_join(df, "id", "s", threshold=0.6).collect()
    }
    sets = {i: set(s) for i, s in rows}
    expected = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        u = sets[a] | sets[b]
        j = len(sets[a] & sets[b]) / len(u) if u else 0.0
        if j >= 0.6:
            expected[(a, b)] = j
    assert got == expected
    assert (1, 4) in got and got[(1, 4)] == 1.0
    assert all(6 not in pair for pair in got)

    import pytest

    with pytest.raises(ValueError):
        set_similarity_join(df, "id", "s", threshold=0.0)


def test_set_similarity_prefix_prunes_candidates(spark):
    """With a high threshold the prefix is short and rare-token-first, so
    sets sharing only COMMON tokens never become candidates — count the
    exploded prefix rows to prove the pruning."""
    from pyspark.sql import functions as F

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        set_similarity_join,
    )

    # 30 sets sharing one universal token 'common' plus 4 unique tokens each
    rows = [
        (i, ["common"] + [f"u{i}_{j}" for j in range(4)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, s array<string>")
    out = set_similarity_join(df, "id", "s", threshold=0.9)
    # no pair qualifies (J = 1/9 between any two) AND none should even be
    # verified: at t=0.9 the prefix is 1 token = each set's rarest (unique)
    # token, so candidate generation finds zero shared prefix tokens
    assert out.count() == 0


def test_containment_join_detects_subsets(spark):
    import itertools

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        containment_join,
    )

    probes = [
        (1, ["q1", "q2", "q3"]),              # fully inside ref 91
        (2, ["q1", "q2", "zz"]),              # 2/3 inside ref 91
        (3, ["aa", "bb", "cc"]),              # nowhere
    ]
    refs = [
        (91, ["q1", "q2", "q3", "r1", "r2", "r3", "r4"]),
        (92, ["aa", "r9"]),
    ]
    a = spark.createDataFrame(probes, "id long, s array<string>")
    b = spark.createDataFrame(refs, "id long, s array<string>")
    got = {
        (r.id, r.ref_id): r.containment
        for r in containment_join(a, b, "id", "s", threshold=0.6).collect()
    }
    # brute-force reference
    expected = {}
    for (i, sa), (j, sb) in itertools.product(probes, refs):
        c = len(set(sa) & set(sb)) / len(set(sa))
        if c >= 0.6:
            expected[(i, j)] = c
    assert got == expected
    assert got[(1, 91)] == 1.0 and (2, 91) in got and (3, 92) not in got


def test_remove_duplicate_spans_semantics(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    span = "alpha beta gamma delta"  # 4 tokens, window=4 → one exact window
    rows = [
        (1, f"unique one {span} tail one"),        # shares span with doc 2
        (2, f"other words {span} closing bits"),
        (3, "totally unique text with nothing repeated here"),
        (4, "tiny doc"),                            # shorter than window
        (5, f"{span} middle filler {span}"),        # within-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_dropped_tokens)
        for r in remove_duplicate_spans(df, "doc_id", "text", window=4).collect()
    }
    # the shared span vanishes from every copy, surrounding text survives
    assert out[1] == ("unique one tail one", 4)
    assert out[2] == ("other words closing bits", 4)
    assert out[3][1] == 0 and out[3][0].startswith("totally unique")
    assert out[4] == ("tiny doc", 0)               # no window → untouched
    # within-doc repetition counts toward min_count and both copies go
    assert out[5] == ("middle filler", 8)


def test_remove_duplicate_spans_long_run_fully_covered(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    # a 9-token duplicated run with window=4: every 4-window inside the run
    # duplicates across docs, so ALL 9 tokens are covered in both docs
    run = "t1 t2 t3 t4 t5 t6 t7 t8 t9"
    df = spark.createDataFrame(
        [(1, f"left {run} right"), (2, f"start {run} end")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_dropped_tokens)
        for r in remove_duplicate_spans(df, "doc_id", "text", window=4).collect()
    }
    assert out[1] == ("left right", 9)
    assert out[2] == ("start end", 9)


def test_winnowing_guarantee_and_pair_detection(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_similarity_join,
    )

    shared = "zqxwvj kplmnb ytrfde"  # 20-char distinctive run, no English grams
    rows = [
        (1, f"aaa bbb ccc {shared} ddd eee"),
        (2, f"fff ggg {shared} hhh iii jjj"),
        (3, "kkk lll mmm nnn ooo ppp qqq rrr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # guarantee: any shared run >= k + window - 1 = 8 chars leaves >= 1
    # common fingerprint between docs 1 and 2
    f1 = {r.fp for r in winnow_fingerprints(df.filter("doc_id=1"), "doc_id", "text", k=5, window=4).collect()}
    f2 = {r.fp for r in winnow_fingerprints(df.filter("doc_id=2"), "doc_id", "text", k=5, window=4).collect()}
    assert f1 & f2

    pairs = winnow_similarity_join(
        df, "doc_id", "text", k=5, window=4, min_shared=2
    ).collect()
    got = {(r.id_a, r.id_b): r for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)
    r = got[(1, 2)]
    assert r.shared_fps >= 2 and 0 < r.overlap <= 1.0


def test_winnowing_bucket_cap_prunes_boilerplate(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        winnow_similarity_join,
    )

    # the same text in 6 docs: every fingerprint bucket has 6 members;
    # capping at 5 suppresses ALL pairs from that boilerplate
    rows = [(i, "wwqqzzxx rrttyyuu ooppllkk") for i in range(6)]
    rows += [(10, "aabbccdd eeffgghh unique one"), (11, "aabbccdd eeffgghh unique two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = winnow_similarity_join(
        df, "doc_id", "text", k=5, window=4, min_shared=2, max_bucket_size=5
    ).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    assert (10, 11) in got
    assert all(a >= 10 for a, _ in got), got


def test_plan_lsh_params_curve_properties():
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        plan_lsh_params,
    )

    p = plan_lsh_params(0.7)
    assert p["recall_at_threshold"] >= 0.95
    assert p["candidate_rate_at_half_threshold"] <= 0.05
    assert p["num_hashes"] == p["bands"] * p["rows_per_band"] <= 256
    # easier thresholds cost fewer hashes
    assert plan_lsh_params(0.9)["num_hashes"] < p["num_hashes"]
    # the verbatim S-curve re-check
    b, r = p["bands"], p["rows_per_band"]
    assert abs((1 - (1 - 0.7**r) ** b) - p["recall_at_threshold"]) < 1e-12

    import pytest

    with pytest.raises(ValueError):
        plan_lsh_params(0.5)          # infeasible at the default junk cap
    with pytest.raises(ValueError):
        plan_lsh_params(1.5)


def test_remove_duplicate_spans_keep_first(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    span = "alpha beta gamma delta"
    rows = [
        (1, f"one uno {span} stays"),
        (2, f"two duo {span} goes"),
        (3, f"tri tres {span} gone too"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_dropped_tokens)
           for r in remove_duplicate_spans(df, "doc_id", "text", window=4, keep_first=True).collect()}
    # lowest (doc, pos) occurrence survives; later copies are cut
    assert out[1] == (f"one uno {span} stays", 0)
    assert out[2] == ("two duo goes", 4)
    assert out[3] == ("tri tres gone too", 4)


def test_fuzzy_join_blocked_matches_and_blocks(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import fuzzy_join_blocked

    rows = [
        (1, "the quick brown fox jumps over it"),
        (2, "the quick brown fax jumps over it"),   # 1 edit, same block
        (3, "the quick brXwn fox jumps over it"),   # 1 edit inside prefix, same block
        (4, "a totally different sentence here"),   # different block
        (5, "the quicX brown fox jumps over it"),   # edit INSIDE block -> blocked away
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in fuzzy_join_blocked(df, block_len=10, prefix_len=30, max_dist=5).collect()
    }
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(2, 3)] == 2
    # the blocking caveat is real: doc 5 is 1 edit from doc 1 but unblocked
    assert not any(5 in pair for pair in got)


def test_minhash_bucket_candidates_match_bruteforce(spark):
    """Candidate generation against a brute-force reference: a pair is a
    candidate iff the two docs share a (band, bucket) cell holding at most
    ``max_bucket_size`` rows. The reference checks every doc pair against
    the banded rows; threshold 0.0 makes the output the whole candidate
    set, each with its exact shingle Jaccard. Template clusters of exactly
    ``cap`` members (every pair kept) and ``cap + 1`` members (every
    bucket over the cap, no pair) pin both edges of the cap."""
    import itertools
    import random
    from collections import Counter

    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        _minhash_banded,
    )

    cap = 5
    rng = random.Random(11)
    words = [f"w{i}" for i in range(30)]
    bases = [" ".join(rng.choice(words) for _ in range(12)) for _ in range(6)]
    rows = []
    for i in range(50):
        toks = rng.choice(bases).split()
        for _ in range(rng.randint(0, 3)):
            toks[rng.randrange(len(toks))] = rng.choice(words)
        rows.append((i, " ".join(toks)))
    rows += [(100 + i, "template body held by exactly cap members") for i in range(cap)]
    rows += [(200 + i, "template body held by one member over the cap") for i in range(cap + 1)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    text = dict(rows)

    def shingles(t):
        t = t.lower()
        return {t[i:i + 3] for i in range(max(len(t) - 2, 1))}

    for family in ("xxhash64", "md5"):
        banded, _ = _minhash_banded(docs, "doc_id", "text", 64, 16, 3, family)
        cells = [(r["__id__"], r.band, r.bucket) for r in banded.collect()]
        size = Counter((b, k) for _, b, k in cells)
        for limit in (None, cap):
            ok: dict = {}
            for i, b, k in cells:
                if limit is None or size[(b, k)] <= limit:
                    ok.setdefault(i, set()).add((b, k))
            want = {}
            for a, b in itertools.combinations(sorted(text), 2):
                if ok.get(a, set()) & ok.get(b, set()):
                    sa, sb = shingles(text[a]), shingles(text[b])
                    want[(a, b)] = len(sa & sb) / len(sa | sb)
            got = {
                (r.id_a, r.id_b): r.jaccard_sim
                for r in minhash_near_dup_pairs(
                    docs, "doc_id", "text", threshold=0.0,
                    hash_family=family, max_bucket_size=limit,
                ).collect()
            }
            assert got == want, (family, limit)
            held = {p for p in got if p[0] >= 100 and p[1] < 200}
            over = {p for p in got if p[0] >= 200}
            assert len(held) == cap * (cap - 1) // 2, (family, limit)
            assert len(over) == (0 if limit else (cap + 1) * cap // 2), (family, limit)


def test_dedup_clusters_rounds_pinned(spark):
    """``stats["rounds"]`` on the chain and clique fixtures above and on an
    empty pair set, both propagation modes: the round count is part of the
    convergence contract, so a change to the loop must not move it."""
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import dedup_clusters

    fixtures = {
        "chain": ([(1, 2), (2, 3), (3, 4), (10, 11)], 4, 3),
        "clique": ([(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)], 3, 2),
        "empty": ([], 1, 1),
    }
    for name, (edges, plain, fast) in fixtures.items():
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        for two_hop, want in ((False, plain), (True, fast)):
            stats: dict = {}
            out = dedup_clusters(pairs, two_hop=two_hop, stats=stats).collect()
            assert stats["rounds"] == want, (name, two_hop, stats)
            assert len(out) == len({n for e in edges for n in e})


def test_minhash_uncapped_large_bucket_streams_pairs(spark):
    """An uncapped bucket of 2,000 identical documents (the empty or
    boilerplate page case) emits all m(m-1)/2 pairs. Pairs are generated
    per member, so no row carries more than the bucket's id list; a single
    array of every pair in the bucket would hold ~2M structs here and hit
    the array size limit near 65k members."""
    from gdelt_2_0_event_database_pipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    m = 2000
    docs = spark.range(m).selectExpr("id AS doc_id", "'same boilerplate page body' AS text")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", threshold=0.9, num_hashes=4, bands=2
    )
    got = pairs.selectExpr(
        "count(*) AS n", "count_if(id_a < id_b) AS ordered", "min(jaccard_sim) AS j"
    ).first()
    assert (got.n, got.ordered, got.j) == (m * (m - 1) // 2, m * (m - 1) // 2, 1.0)
