"""Text-analysis operator tests: tokenization, quality signals, lang-id,
fingerprint, simhash."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.operators import text as X


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (1, "The quick brown fox, and the lazy dog!"),
        (2, "el perro y el gato en la casa de la abuela"),
        (3, "le chat est dans la maison et le jardin pour une heure"),
        (4, "der hund ist nicht mit der katze und das haus von einem mann"),
        (5, "12345 67890 !!!"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def _one(df, col, id_):
    return df.filter(F.col("id") == id_).select(col).first()[0]


def test_tokens_and_count(tdf):
    out = tdf.select("id", X.tokens("text").alias("t"), X.token_count("text").alias("n"))
    r1 = out.filter("id = 1").first()
    assert r1.t[:4] == ["the", "quick", "brown", "fox"]
    assert r1.n == 8
    assert out.filter("id = 6").first().n == 0


def test_quality_signals(tdf):
    out = tdf.select(
        "id",
        X.punct_ratio("text").alias("punct"),
        X.digit_ratio("text").alias("digit"),
        X.stopword_ratio("text").alias("stop"),
        X.quality_score("text").alias("q"),
    )
    r1 = out.filter("id = 1").first()
    r5 = out.filter("id = 5").first()
    assert 0 < r1.punct < 0.2
    assert r1.stop > 0.3          # the/and/the
    assert r5.digit > 0.5
    assert r1.q > r5.q            # prose beats digit noise


def test_lang_id(tdf):
    got = {r.id: r.lang for r in tdf.select("id", X.lang_id("text").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "fr"
    assert got[4] == "de"
    assert got[6] == "und"


def test_fingerprint_deterministic_and_discriminative(tdf):
    a = tdf.select("id", X.fingerprint("text").alias("fp")).collect()
    b = tdf.select("id", X.fingerprint("text").alias("fp")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    fps = [r.fp for r in a if r.id != 6]
    assert len(set(fps)) == len(fps)


def test_fingerprint_known_value(spark):
    # "ab" → ((0*31+97)%M *31 + 98)%M = 97*31+98 = 3105
    df = spark.createDataFrame([("ab",)], ["text"])
    assert df.select(X.fingerprint("text").alias("fp")).first().fp == 3105


def test_char_and_word_ngrams(spark):
    df = spark.createDataFrame([("abcd",), ], ["text"])
    grams = df.select(X.char_ngrams("text", 3).alias("g")).first().g
    assert grams == ["abc", "bcd"]
    df2 = spark.createDataFrame([("a b c d",)], ["text"])
    wg = df2.select(X.word_ngrams("text", 2).alias("g")).first().g
    assert wg == ["a b", "b c", "c d"]


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "spark dataframe engine with catalyst optimizer and tungsten"),
         (2, "spark dataframe engine with catalyst optimizer and tungsten"),
         (3, "entirely different words about gardens and rivers and stars")],
        ["id", "text"],
    )
    out = {r.id: r.sh for r in df.select("id", X.simhash64("text").alias("sh")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    # hamming between unrelated docs should be substantial
    ham = bin((out[1] ^ out[3]) & ((1 << 64) - 1)).count("1")
    assert ham > 10


def test_redact_pii_all_pattern_classes(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-y.co or (555) 123-4567 or 555.123.4567 ip 10.0.0.1 end")],
        ["id", "text"],
    )
    out = df.select(X.redact_pii("text").alias("t")).first().t
    assert "<EMAIL>" in out
    assert out.count("<PHONE>") == 2
    assert "<IP>" in out
    assert "@" not in out and "10.0.0.1" not in out
    assert out.endswith("end")


def test_redact_pii_leaves_clean_text_alone(spark):
    df = spark.createDataFrame([(1, "just ordinary prose, version 2.0 here")], ["id", "text"])
    assert df.select(X.redact_pii("text").alias("t")).first().t == (
        "just ordinary prose, version 2.0 here"
    )


def test_ngram_contamination_counts(spark):
    probe = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "he said the quick brown fox jumps high today"),  # shares 1 probe 5-gram
            (2, "completely unrelated words in this sentence friend"),
            (3, "the quick brown fox jumps over the lazy dog"),  # identical: all 5 grams
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.n_hits for r in X.ngram_contamination(corpus, probe).collect()}
    assert got[3] == 5          # 9 tokens -> 5 distinct 5-grams, all shared
    assert got.get(1) == 1      # only "the quick brown fox jumps" overlaps
    assert 2 not in got         # zero-overlap docs are absent


def test_token_count_bpe_injected_encoder_path(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import token_count_bpe

    class _FakeBPE:
        """Stand-in for a real encoder: deterministic char-pair chunking.
        Defined in function scope so cloudpickle ships it by value to the
        Python workers (tests/ is not importable there)."""

        def encode(self, s):
            return [s[i : i + 2] for i in range(0, len(s), 2)]

    df = spark.createDataFrame(
        [(1, "abcdef"), (2, "abc"), (3, None)], "id long, text string"
    )
    out = {r.id: r.n for r in df.select("id", token_count_bpe("text", encoder=_FakeBPE()).alias("n")).collect()}
    assert out == {1: 3, 2: 2, 3: None}


def test_token_count_bpe_regex_fallback_path(spark):
    import re

    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        BPE_PRETOKEN_RE,
        token_count_bpe,
    )

    texts = [
        "I've seen 42 things, honestly!",
        "hello world",
        "   ",
        "",
        "don't stop-me now... 3.14",
        "a  b   c",  # multi-space runs: count matches GPT-2's lookahead variant
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {r.id: r.n for r in df.select("id", token_count_bpe("text").alias("n")).collect()}
    want = {i: len(re.findall(BPE_PRETOKEN_RE, t)) for i, t in enumerate(texts)}
    assert got == want

    # on single-space prose (the documents-table shape) the lookahead-free
    # pattern counts identically to GPT-2's `\s+(?!\S)` variant; divergence
    # is confined to exotic whitespace runs (documented on BPE_PRETOKEN_RE)
    gpt2 = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+(?!\S)|\s+"
    for t in texts:
        if "\t" not in t and "\n" not in t:
            assert len(re.findall(BPE_PRETOKEN_RE, t)) == len(re.findall(gpt2, t)), repr(t)


def test_token_count_bpe_is_arrow_batched_not_row_udf(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import token_count_bpe

    df = spark.createDataFrame([(1, "abc")], "id long, text string")
    plan = (
        df.select(token_count_bpe("text").alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_quality_quantile_filter_exact_vs_approx(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        quality_quantile_filter,
        quality_score,
    )

    rows = [
        (i, ("the quick brown fox " * ((i % 17) + 1))[: 40 + (i * 13) % 400], f"g{i % 3}")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exact = quality_quantile_filter(df, "lang", quality_score("text"), 0.5)
    approx = quality_quantile_filter(
        df, "lang", quality_score("text"), 0.5, exact=False
    )
    e = {r.doc_id for r in exact.collect()}
    a = {r.doc_id for r in approx.collect()}
    # approx keeps roughly the same half; overlap must dominate
    assert len(e & a) / max(len(e), 1) > 0.8
    # both keep ~keep_frac per group (exact is precise up to rank ties)
    n = df.count()
    assert abs(len(e) - n / 2) <= 6
    assert abs(len(a) - n / 2) <= n * 0.15


def test_quality_quantile_filter_rejects_bad_frac(spark):
    import pytest

    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        quality_quantile_filter,
        quality_score,
    )

    df = spark.createDataFrame([(1, "t", "g")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="keep_frac"):
        quality_quantile_filter(df, "lang", quality_score("text"), 0.0)


def test_frequent_items_contains_planted_hitter(spark):
    """freqItems guarantees a SUPERSET of items above the support threshold:
    a planted 60%-frequency value must always surface; the long uniform tail
    (each ~0.4%) stays clear of the 25% support gate."""
    from gdelt_2_0_event_database_pipeline_spark.operators.sketches import (
        frequent_items,
    )

    rows = [("hot",)] * 600 + [(f"cold{i % 100}",) for i in range(400)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    [items] = frequent_items(df, ["k"], support=0.25).first()
    assert "hot" in items


def test_normalize_url_collapses_syndication_variants(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import normalize_url

    rows = [
        (1, "http://www.Example.com/News/Story-1?utm_source=x"),
        (2, "https://example.com/News/Story-1#comments"),
        (3, "example.com/News/Story-1/"),
        (4, "https://example.com/News/story-1"),   # path case differs: distinct
        (5, "https://other.com/News/Story-1"),
        (6, None),
        (7, "HTTPS://WWW.EXAMPLE.COM/News/Story-1/"),  # shouty host still collapses
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r.u for r in df.select("id", normalize_url("url").alias("u")).collect()}
    assert got[1] == got[2] == got[3] == got[7] == "example.com/News/Story-1"
    assert got[4] == "example.com/News/story-1" != got[1]
    assert got[5].startswith("other.com/")
    assert got[6] is None


def test_url_domain_normalizations(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import url_domain

    cases = [
        ("https://www.Example.COM/path", "example.com"),
        ("http://user:pw@news.site.org:8080/x?q=1", "news.site.org"),
        ("ftp://WWW.files.net", "files.net"),
        ("example.com/no-scheme", "example.com"),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.d for r in df.select(url_domain("url").alias("d")).collect()]
    assert got == [e for _, e in cases]


def test_url_domain_registered_only(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import url_domain

    df = spark.createDataFrame(
        [("https://a.b.c.example.co",), ("https://example.co",)], "url string"
    )
    got = [
        r.d for r in df.select(url_domain("url", registered_only=True).alias("d")).collect()
    ]
    assert got == ["example.co", "example.co"]


def test_tfidf_ranking_matches_log_idf(spark):
    """The rational idf induces the same per-doc ranking as the log idf
    (both strictly decrease in df for fixed N), so top-k sets agree with a
    numpy log-idf reference on a corpus with distinctive terms."""
    import math

    from gdelt_2_0_event_database_pipeline_spark.operators.text import tfidf_top_terms

    rows = [
        (1, "apple banana apple cherry common common"),
        (2, "banana durian durian common common"),
        (3, "cherry elderberry common common common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.rank): r.term
        for r in tfidf_top_terms(df, k=2).collect()
    }
    # reference: tf * ((N - df + .5)/(df + .5)) vs tf * log version — both
    # rank rare repeated terms first
    from collections import Counter

    texts = {i: t.split() for i, t in rows}
    dfc = Counter(t for toks in texts.values() for t in set(toks))
    for doc_id, toks in texts.items():
        tf = Counter(toks)
        n = len(texts)
        scored = sorted(
            tf,
            key=lambda t: (-tf[t] * math.log((n + 1) / (dfc[t] + 0.5)), t),
        )[:2]
        assert [got[(doc_id, r)] for r in (1, 2)] == scored


def test_tfidf_deterministic_tiebreak(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import tfidf_top_terms

    # two terms with identical tf and df → identical score → term-asc order
    df = spark.createDataFrame(
        [(1, "zeta alpha"), (2, "gamma gamma")], "doc_id long, text string"
    )
    got = [
        (r.term, r.rank)
        for r in tfidf_top_terms(df, k=2).filter("doc_id = 1").collect()
    ]
    assert got == [("alpha", 1), ("zeta", 2)]


def test_hashed_feature_vector_properties(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        hashed_feature_vector,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),
            (2, "alpha beta alpha"),       # identical text → identical vector
            (3, "gamma delta epsilon"),    # disjoint tokens
            (4, ""),                       # no tokens → no row
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.vector for r in hashed_feature_vector(df, dim=16).collect()}
    assert 4 not in out                      # empty docs produce no vector row
    assert out[1] == out[2]                  # content-determined
    assert out[1] != out[3]
    # signed counts: the repeated token contributes ±2, the other ±1
    assert sorted(abs(v) for v in out[1] if v != 0) == [1.0, 2.0]
    # family mismatch raises
    import pytest

    with pytest.raises(ValueError):
        hashed_feature_vector(df, hash_family="sha1")


def test_hashed_vectors_feed_semantic_dedup(spark):
    """The composition: near-identical texts land in one cluster and the
    larger id drops; unrelated text survives."""
    from pyspark.sql import functions as F

    from gdelt_2_0_event_database_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        hashed_feature_vector,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [(1, base), (2, base + " today"), (3, "completely different subject matter entirely unrelated")],
        "doc_id long, text string",
    )
    vec = hashed_feature_vector(df, dim=32).filter(F.exists("vector", lambda x: x != 0))
    out = semantic_dedup(vec, k=1, threshold=0.9, id_col="doc_id", vec_col="vector")
    survivors = {r.doc_id for r in out.collect()}
    assert survivors == {1, 3}


def test_drop_boilerplate_lines(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        drop_boilerplate_lines,
    )

    hdr = "COMMON HEADER"
    docs = [
        (1, f"{hdr}\nunique body one\n\nmore text"),
        (2, f"{hdr}\nunique body two"),
        (3, f"{hdr}\nunique body three"),
        (4, "no header here at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in drop_boilerplate_lines(df, min_docs=3).collect()}
    # header dropped everywhere; blank line and unique bodies survive
    assert out[1].clean_text == "unique body one\n\nmore text"
    assert out[1].n_dropped_lines == 1
    assert out[2].clean_text == "unique body two"
    assert out[4].clean_text == "no header here at all"
    assert out[4].n_dropped_lines == 0

    # blank lines never count as boilerplate even when in every doc
    df2 = spark.createDataFrame(
        [(i, f"a{i}\n\nb{i}") for i in range(5)], "doc_id long, text string"
    )
    out2 = drop_boilerplate_lines(df2, min_docs=2).collect()
    assert all("\n\n" in r.clean_text for r in out2)

    import pytest

    with pytest.raises(ValueError):
        drop_boilerplate_lines(df, min_docs=1)


def test_collocations_finds_planted_phrase(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import collocations

    # "neural network" always adjacent; filler words common but unattached
    docs = [
        (i, f"the neural network model {i} processes the data quickly")
        for i in range(10)
    ] + [(100 + i, "the data and the model and the results") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = collocations(df, min_count=5, k=5).collect()
    top = (out[0].w1, out[0].w2)
    pairs = {(r.w1, r.w2) for r in out}
    assert ("neural", "network") in pairs
    # the planted phrase outranks generic the-X pairs
    assert top in {("neural", "network"), ("network", "model"), ("processes", "the")} or \
        out[0].lift >= max(r.lift for r in out if r.w1 == "the")
    # single-token docs don't break the pair explode
    df2 = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    assert collocations(df2, min_count=1, k=3).count() == 0


def test_familiarity_score_semantics(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        familiarity_score,
    )

    df = spark.createDataFrame(
        [
            (1, "common common common"),   # 'common' appears 4x corpus-wide
            (2, "common rare"),            # (4 + 1) / 2
            (3, ""),                       # tokenless
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.familiarity)
           for r in familiarity_score(df).collect()}
    assert got[1] == (3, 4.0)
    assert got[2] == (2, 2.5)
    assert got[3] == (0, None)


def test_corpus_report_values(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import corpus_report

    df = spark.createDataFrame(
        [
            (1, "one two three", "en", "web"),
            (2, "quatre cinq", "fr", "web"),
            (3, "six", "en", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.metric: r.value for r in corpus_report(df).collect()}
    assert got["n_docs"] == 3.0 and got["n_tokens"] == 6.0
    assert got["mean_tokens_per_doc"] == 2.0
    assert got["frac_en"] == 2.0 / 3.0
    assert got["n_langs"] == 2.0 and got["n_sources"] == 2.0


def test_compression_ratio_separates_repetitive_text(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        compression_ratio,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "жirafes discuss quantum botany near a velvet harpsichord factory"
    )
    df = spark.createDataFrame(
        [(1, prose * 2), (2, "ab " * 200), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.z for r in df.select("doc_id", compression_ratio("text").alias("z")).collect()}
    assert got[3] is None and got[4] is None
    assert got[2] < 0.15              # pure repetition compresses away
    assert got[1] > got[2] and got[1] > 0.4
    # deterministic
    again = {r.doc_id: r.z for r in df.select("doc_id", compression_ratio("text").alias("z")).collect()}
    assert got == again


def test_compression_ratio_is_arrow_batched(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        compression_ratio,
    )

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    plan = df.select(compression_ratio("text"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_normalize_text_folds_and_cleans(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        normalize_text,
    )

    rows = [
        (1, "ﬁne ＴＥＸＴ"),          # ligature + nbsp + full-width
        (2, "a\x00b\x07c   d\t\te"),       # control chars + ws runs
        (3, None),
        (4, "  already clean  "),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: r.n for r in df.select("id", normalize_text("t").alias("n")).collect()}
    assert got[1] == "fine TEXT"
    assert got[2] == "abc d e"
    assert got[3] is None
    assert got[4] == "already clean"

    import pytest

    with pytest.raises(ValueError):
        normalize_text("t", form="XXX")


def test_normalize_text_forms_match_unicodedata(spark):
    """All four forms equal Python's ``unicodedata`` on every code point
    assigned in its Unicode table (U+0020-U+2FFFF, packed 256 to a row, so
    combining marks also reorder and compose across neighbours), on a few
    combining sequences, and NULL stays NULL. Unassigned code points are
    left out: the JVM side may follow a newer Unicode version."""
    import unicodedata

    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        normalize_text,
    )

    assigned = [
        chr(c) for c in range(0x20, 0x30000)
        if unicodedata.category(chr(c)) not in ("Cn", "Cs")
    ]
    texts = ["".join(assigned[i:i + 256]) for i in range(0, len(assigned), 256)]
    texts += ["é", "각", "ą́", "ÅΩ"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)],
        "id long, t string",
    )
    forms = ("NFC", "NFKC", "NFD", "NFKD")
    got = df.select(
        "id", *[normalize_text("t", form=f).alias(f) for f in forms]
    ).collect()
    assert len(got) == len(texts) + 1
    for r in got:
        for f in forms:
            if r.id == len(texts):
                assert r[f] is None
                continue
            want = unicodedata.normalize(f, texts[r.id])
            # the JVM regex \s and trim() are ASCII-only
            want = re.sub(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]", "", want)
            want = re.sub(r"[ \t\n\x0B\f\r]+", " ", want).strip(" ")
            assert r[f] == want, (f, hex(ord(texts[r.id][0])))


def test_bm25_ranking_semantics(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.text import bm25_topk

    rows = [
        (1, "spark shuffle spark shuffle spark"),        # both terms, high tf
        (2, "spark " + "filler " * 50),                  # one term, long doc
        (3, "spark shuffle"),                            # both terms, short doc
        (4, "nothing relevant here at all"),             # no terms -> excluded
        (5, "shuffle"),                                  # rare-term only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, ["spark", "shuffle"], k=10).collect()
    ids = [r.doc_id for r in out]
    assert 4 not in ids and set(ids) == {1, 2, 3, 5}
    # short doc with both terms outranks the long doc with one diluted term
    assert ids.index(3) < ids.index(2)
    # repeated matches outrank single short match
    assert ids[0] == 1
    # scores strictly ordered, all positive
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True) and min(scores) > 0

    import pytest

    with pytest.raises(ValueError):
        bm25_topk(df, [], k=5)


def test_compressed_size_consistent_with_ratio(spark):
    """compressed_size is the exact-integer numerator of compression_ratio:
    clen / octet_length == ratio bit-for-bit; NULL/empty -> NULL both."""
    from gdelt_2_0_event_database_pipeline_spark.operators.text import (
        compressed_size,
        compression_ratio,
    )

    df = spark.createDataFrame(
        [(0, "the quick brown fox " * 30), (1, "spam " * 100), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id",
        compressed_size("text").alias("clen"),
        compression_ratio("text").alias("ratio"),
        F.octet_length("text").alias("raw"),
    ).collect()
    by = {r.doc_id: r for r in rows}
    for i in (0, 1):
        assert by[i].clen is not None
        assert by[i].ratio == by[i].clen / by[i].raw  # same division, bit-equal
    assert by[2].clen is None and by[2].ratio is None
    assert by[3].clen is None and by[3].ratio is None
