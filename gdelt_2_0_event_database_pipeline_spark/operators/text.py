"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.10 X4).

Extension surface beyond the reference (which has no text functions — its
scalar surface is ingest-boundary only, SURVEY.md §2.7). Everything here is a
pure ``Column`` expression built from Spark higher-order functions — JVM-side,
whole-stage-codegen-eligible, no Python UDFs on the hot path — so at 100 TB
these run inside the scan/project stage with zero extra shuffles.
"""

from __future__ import annotations

import pandas as pd  # Arrow-batched pandas_udf type hints resolve at module scope
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deterministic, dependency-free; a production system would swap in
# a fastText-style model behind the same column signature.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "bu4", "ren2"),
}

STOPWORDS_EN: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "was", "for", "on", "with", "as", "at", "by", "be", "this",
)

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace/punctuation tokenizer → array<string> without empties."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"[^\p{L}\p{N}]+"), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the BPE-ish proxy: tokens ≈ words here; the
    real-tokenizer seam with the same signature is :func:`token_count_bpe`)."""
    return F.size(tokens(col))


#: GPT-2-flavored pre-tokenizer (ASCII subset — contractions, letter runs,
#: digit runs, punctuation runs, whitespace runs). Deliberately drops GPT-2's
#: `\s+(?!\S)` lookahead so the pattern stays inside the Python-re ∩ RE2
#: subset and the DuckDB oracle can run the LITERAL same expression (counts
#: can differ from true GPT-2 only on multi-char whitespace runs ending in
#: non-space-before-punctuation — irrelevant for a length proxy, and the
#: real-tokenizer branch bypasses the regex entirely).
BPE_PRETOKEN_RE = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def token_count_bpe(col: Column | str, encoding: str = "cl100k_base", encoder=None) -> Column:
    """Real-tokenizer token count: Arrow-batched ``pandas_udf`` (never a
    row-at-a-time UDF) with the same ``Column -> Column`` signature as
    :func:`token_count`.

    Tokenizer resolution: an injected ``encoder`` (any object with
    ``encode(str) -> sequence``) wins; else ``tiktoken`` if importable
    (not in this container — gated behind a try-import); else a
    deterministic GPT-2-style pre-tokenizer regex counted with vectorized
    ``pandas`` string ops. All three paths ship the same Arrow batch
    plumbing, so swapping in the real BPE is a dependency change, not a
    code change. NULL text → NULL count on every path.
    """
    from pyspark.sql.functions import pandas_udf

    if encoder is None:
        try:  # pragma: no cover - tiktoken absent in the test container
            import tiktoken

            encoder = tiktoken.get_encoding(encoding)
        except Exception:
            encoder = None

    if encoder is not None:
        enc = encoder

        @pandas_udf("long")
        def _count(s: pd.Series) -> pd.Series:
            return pd.Series(
                [len(enc.encode(x)) if x is not None else None for x in s],
                dtype="Int64",
            )

    else:

        @pandas_udf("long")
        def _count(s: pd.Series) -> pd.Series:
            return s.str.count(BPE_PRETOKEN_RE).astype("Int64")

    c = F.col(col) if isinstance(col, str) else col
    return _count(c)


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Character n-gram shingles (for MinHash); array<string>, may repeat."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(n)),
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles over the tokenizer output."""
    toks = tokens(col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


# ---------------------------------------------------------------- quality
def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    punct = F.length(F.regexp_replace(c, r"[^\p{Punct}]", ""))
    return punct / F.greatest(F.length(c), F.lit(1))


def digit_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[^0-9]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_word_len(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: long-enough, low punctuation/digit
    noise, some stopword mass (prose-likeness). Weights are arbitrary but
    fixed; the value is the *pipeline stage* (score → threshold → filter)."""
    c = F.col(col) if isinstance(col, str) else col
    length_term = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    return (
        F.lit(0.4) * length_term
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0)))
        + F.lit(0.2) * (F.lit(1.0) - F.least(digit_ratio(c) * 4, F.lit(1.0)))
        + F.lit(0.2) * F.least(stopword_ratio(c) * 5, F.lit(1.0))
    )


def quality_quantile_filter(
    df: DataFrame,
    group_col: str,
    score: Column,
    keep_frac: float = 0.5,
    exact: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``keep_frac`` of rows per group by ``score`` — the
    corpus-pruning stage ("keep the best half per language").

    ``exact=True``: ``percent_rank`` over a (group, score desc, id) window —
    deterministic and SQL-oracle-able, but each group is one sort partition,
    so only for bounded-cardinality groups at scale. ``exact=False`` is the
    100 TB path: one tiny ``approx_percentile`` aggregate per group, the
    (group, threshold) table broadcast back, and a map-side ``score >=
    threshold`` filter — no window, no per-group sort, at the cost of the
    quantile being approximate at the boundary."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0,1], got {keep_frac}")
    scored = df.withColumn("__q__", score)
    if exact:
        from pyspark.sql import Window

        w = Window.partitionBy(group_col).orderBy(
            F.desc("__q__"), F.asc(id_col)
        )
        return (
            scored.withColumn("__pr__", F.percent_rank().over(w))
            .filter(F.col("__pr__") <= keep_frac)
            .drop("__pr__", "__q__")
        )
    thresholds = scored.groupBy(group_col).agg(
        F.percentile_approx("__q__", 1.0 - keep_frac).alias("__thr__")
    )
    return (
        scored.join(F.broadcast(thresholds), group_col)
        .filter(F.col("__q__") >= F.col("__thr__"))
        .drop("__thr__", "__q__")
    )


# ---------------------------------------------------------------- lang id
def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-lexicon hit count per language (distinct-token ∩ lexicon)."""
    toks = F.array_distinct(tokens(col))
    return {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in markers]))
        )
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column | str, default: str = "und") -> Column:
    """Argmax over lang_scores with deterministic tie order (lexicon order);
    'und' when nothing matches."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    out = F.lit(default)
    # fold in reverse so earlier languages win ties
    for lang in reversed(list(scores)):
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


# ---------------------------------------------------------------- fingerprint
def fingerprint(col: Column | str, base: int = FINGERPRINT_BASE, mod: int = FINGERPRINT_MOD) -> Column:
    """Polynomial rolling hash over the full character sequence — a
    deterministic document fingerprint reproducible in ANSI SQL
    (DuckDB ``list_reduce`` twin), unlike xxhash64."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % mod,
    )


# ---------------------------------------------------------------- redaction
#: (pattern, replacement) pairs applied in order. Patterns stick to the
#: regex subset Java and RE2 interpret identically so the DuckDB oracle can
#: run the literal same expressions.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\(\d{3}\) ?\d{3}[-.]\d{4}", "<PHONE>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace emails / phone numbers / IPv4 addresses with typed
    placeholders — the standard pre-training scrub stage. A chain of native
    ``regexp_replace`` calls: codegen-eligible, zero shuffles, runs inside
    the scan stage at any scale."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


# ---------------------------------------------------------------- contamination
def ngram_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, how many
    distinct word ``n``-grams it shares with the (small) probe set —
    eval-set decontamination for training data.

    Scale shape: the probe gram set is broadcast (benchmark suites are
    tiny), so the corpus is scanned once map-side, the only shuffle is the
    per-doc count aggregation, and corpus text never travels — only
    (id, matched gram) pairs. Returns (id, n_hits, hit_grams) for docs with
    at least one hit.

    Corpus grams are built by posexplode + window ``lead`` (flat,
    codegen-eligible) instead of the interpreted ``word_ngrams`` HOF —
    per-element lambda evaluation costs ~2 µs, which at hundreds of grams
    per document dominates the whole query (measured 4× on the bench).
    Output is identical: trailing short grams and the shorter-than-n
    single-gram case match ``word_ngrams``'s slice-truncation semantics.
    """
    from pyspark.sql import Window

    toks = corpus.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos__", "__tok__"),
    )
    w = Window.partitionBy("__id__").orderBy("__pos__")
    leads = [F.col("__tok__")] + [
        F.lead("__tok__", i).over(w) for i in range(1, n)
    ]
    grams = (
        toks.withColumn("__n__", F.count(F.lit(1)).over(Window.partitionBy("__id__")))
        .withColumn("__g__", F.concat_ws(" ", *leads))
        # same gram positions as word_ngrams: 1..max(size-(n-1), 1)
        .filter(F.col("__pos__") < F.greatest(F.col("__n__") - (n - 1), F.lit(1)))
        .select("__id__", "__g__")
        .distinct()
    )
    probe_grams = probes.select(
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("__g__")
    ).distinct()
    return (
        grams.join(F.broadcast(probe_grams), "__g__")
        .groupBy("__id__")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.array_sort(F.collect_list("__g__")).alias("hit_grams"),
        )
        .select(F.col("__id__").alias(id_col), "n_hits", "hit_grams")
    )


# ---------------------------------------------------------------- simhash
def simhash64(col: Column | str, hash_family: str = "xxhash64") -> Column:
    """64-bit SimHash over tokens, entirely with built-in higher-order
    functions: per-token hash → per-bit ±1 votes → sign → bit pack.

    One pass over the token array per row, no shuffle; near-dup detection
    then bands the 64 bits (see ``operators.dedup.simhash_near_dup_pairs``).

    ``hash_family="md5"`` derives bit i of a token from its single md5
    digest — bit (i mod 4) of hex digit (i div 4) — which any engine
    computes identically, making the signature (and everything downstream)
    oracle-replayable. One md5 per token either way; xxhash64 stays the
    default (cheaper, same plan shape).
    """
    toks = tokens(col)
    if hash_family == "md5":

        def tok_bits(h: Column) -> Column:
            # h is the (already-evaluated) md5 hex lambda var; digit d_k =
            # int(hexchar k), bit i = (d_{i//4} >> (i%4)) & 1
            return F.array(
                *[
                    F.when(
                        F.shiftright(
                            F.conv(F.substring(h, i // 4 + 1, 1), 16, 10).cast("int"),
                            i % 4,
                        ).bitwiseAND(F.lit(1))
                        == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for i in range(64)
                ]
            )

        votes = F.aggregate(
            F.transform(toks, lambda t: F.md5(t)),
            F.array_repeat(F.lit(0), 64),
            lambda acc, h: F.zip_with(acc, tok_bits(h), lambda a, b: a + b),
        )
        return _pack_votes(votes)
    if hash_family != "xxhash64":
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")
    # bit positions must be Python ints (shiftright/shiftleft take literal
    # counts), so build the 64-wide vote vector as an explicit array expr
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for i in range(64)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    return _pack_votes(votes)


def _pack_votes(votes: Column) -> Column:
    """Sign the 64-wide vote vector and pack it into one long.

    Horner fold (MSB-first) over bits 0..62, then add MIN_LONG when
    bit 63 is set — a plain ``acc*2+bit`` over all 64 bits would overflow
    under ANSI mode. Wrapping ``votes`` in a 1-element array and aggregating
    binds it to a lambda variable so it's evaluated exactly once.
    """
    return F.aggregate(
        F.array(votes),
        F.lit(0).cast("long"),
        lambda _, v: F.aggregate(
            F.reverse(F.slice(v, 1, 63)),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2 + F.when(b > 0, F.lit(1)).otherwise(F.lit(0)),
        )
        + F.when(F.element_at(v, 64) > 0, F.lit(-(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )


def normalize_url(col: Column | str) -> Column:
    """Canonicalize a URL for dedup keying: drop the scheme, a leading
    ``www.``, the query string, the fragment, and any trailing slash;
    lower-case the host (path case is preserved — it is significant on most
    servers). The GDELT use case: the same article syndicated under
    ``http://``/``https://``, with/without ``www.``, or with tracking query
    params must collapse to one key before a ``SOURCEURL`` exact dedup
    (``dedup_exact(subset=[normalized])``). Pure column algebra — composes
    into the scan stage like every other text function. NULL in → NULL out.
    """
    c = F.col(col) if isinstance(col, str) else col
    no_scheme = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    no_query = F.regexp_replace(no_scheme, r"[?#].*$", "")
    no_slash = F.regexp_replace(no_query, r"/+$", "")
    # lower the host BEFORE stripping www. so `WWW.Example.com` collapses too
    host = F.regexp_replace(
        F.lower(F.regexp_extract(no_slash, r"^([^/]*)", 1)), r"^www\.", ""
    )
    path = F.regexp_replace(no_slash, r"^[^/]*", "")
    return F.concat(host, path)


def url_domain(col: Column | str, registered_only: bool = False) -> Column:
    """Extract the host's domain from a URL (or from a
    :func:`normalize_url` key): scheme/userinfo/port-insensitive,
    lower-cased, leading ``www.`` stripped. With ``registered_only`` keep
    just the last two labels (``news.site.example.com`` → ``example.com``) —
    a pragmatic registered-domain cut that ignores public-suffix
    multi-label TLDs (a full PSL lookup is a broadcast-join against the
    suffix list, not a regex). Pure column algebra. NULL in → NULL out.

    Domain-level curation is a first-class 100 TB pipeline stage: per-domain
    quality priors, crawl budgets, and blocklists all key on this column
    (see ``plans.llm.q_domain_stats``).
    """
    c = F.col(col) if isinstance(col, str) else col
    no_scheme = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(no_scheme, r"^([^/?#]*)", 1))
    host = F.regexp_replace(host, r"^[^@]*@", "")  # userinfo
    host = F.regexp_replace(host, r":\d+$", "")  # port
    host = F.regexp_replace(host, r"^www\.", "")
    if registered_only:
        host = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return host


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` keywords per document by tf·idf with a *rational* idf,
    ``idf(t) = (N - df_t + 0.5) / (df_t + 0.5)`` (the BM25 idf without the
    log). Dropping the log changes only the score's scale, not the per-
    document ranking it induces for fixed N — and makes every operation
    (+, −, ×, ÷ on exact integers-plus-halves) IEEE-bit-identical across
    engines, so the score column itself is oracle-hashable; ``ln`` has no
    such cross-engine guarantee.

    Plan shape: explode → (doc, term) counts → term df by a second
    aggregation → shuffle join on the term key → broadcast the one-row
    corpus count → per-doc top-k window (deterministic term tiebreak).
    Both aggregations partial-aggregate map-side; document text never
    travels past the explode.
    """
    toks = df.select(
        F.col(id_col).alias("__id__"), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy("__id__", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_cnt"))
    n_docs = df.select(F.col(id_col)).agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.col("n_docs") - F.col("df_cnt") + F.lit(0.5))
            / (F.col("df_cnt") + F.lit(0.5)),
        )
    )
    w = Window.partitionBy("__id__").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__id__").alias(id_col), "term", "tfidf", "rank"
        )
    )


def hashed_feature_vector(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Hashing-trick document vectors (Weinberger et al. 2009): each token
    hashes to a dimension and a ±1 sign; a document's vector is its signed
    token counts — ``(id, vector array<double>)``. No model, no vocabulary,
    deterministic on any engine — the featurizer that lets the embedding
    operators (:mod:`..operators.similarity`, ``semantic_dedup``, ANN) run
    on raw text tables that ship no embeddings.

    Deliberately UN-normalized: the downstream cosine is scale-invariant,
    and signed integer counts stay exactly representable as doubles, so an
    external oracle recomputes bit-identical vectors (``"md5"`` family;
    ``"xxhash64"`` is the fast default). Collisions fold rare tokens
    together — the standard hashing-trick trade, shrinking with ``dim``.

    Plan: explode → per-(id, bucket) signed count (map-side partials) →
    one map+sequence assembly into the dense array. Token text never
    travels past the explode; the shuffle carries (id, bucket, ±count).
    """
    if hash_family == "md5":
        m = F.md5(F.col("__t__"))
        bucket = F.pmod(F.conv(F.substring(m, 1, 10), 16, 10).cast("long"), F.lit(dim))
        sign = F.when(
            F.conv(F.substring(m, 11, 1), 16, 10).cast("int") % 2 == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))
    elif hash_family == "xxhash64":
        bucket = F.pmod(F.xxhash64(F.col("__t__"), F.lit(0)), F.lit(dim))
        sign = F.when(
            F.pmod(F.xxhash64(F.col("__t__"), F.lit(1)), F.lit(2)) == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))
    else:
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")
    ex = df.select(
        F.col(id_col).alias("__id__"), F.explode(tokens(text_col)).alias("__t__")
    ).select("__id__", bucket.alias("__b__"), sign.alias("__s__"))
    bw = ex.groupBy("__id__", "__b__").agg(F.sum("__s__").alias("__w__"))
    assembled = (
        bw.groupBy("__id__")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__b__"), F.col("__w__")))
            ).alias("__m__")
        )
        .select(
            F.col("__id__").alias(id_col),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("__m__"), i.cast("long")), F.lit(0.0)
                ),
            ).alias("vector"),
        )
    )
    return assembled


def drop_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate line removal (the CCNet/RefinedWeb line-dedup
    stage): any non-blank line appearing in ≥ ``min_docs`` DISTINCT
    documents (site headers, cookie banners, copyright footers) is deleted
    from every document. Returns (id, clean_text, n_dropped_lines).

    Plan: position-tagged line explode → distinct-doc count per line (the
    shuffle key at scale is the 8-byte line hash, same economics as
    ``dedup_exact_hash``; text equality is the semantics) → anti-join →
    order-preserving reassembly via one ``array_sort`` over collected
    (pos, line) structs. Blank lines are never counted as boilerplate and
    always survive, so paragraph structure is preserved.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    lines = df.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos__", "__ln__"),
    )
    common = (
        lines.filter(F.trim("__ln__") != "")
        .groupBy("__ln__")
        .agg(F.count_distinct("__id__").alias("__nd__"))
        .filter(F.col("__nd__") >= min_docs)
        .select("__ln__")
    )
    kept = lines.join(common, "__ln__", "left_anti")
    n_lines = lines.groupBy("__id__").agg(F.count(F.lit(1)).alias("__tot__"))
    return (
        kept.groupBy("__id__")
        .agg(
            F.array_sort(F.collect_list(F.struct("__pos__", "__ln__"))).alias("__ls__"),
            F.count(F.lit(1)).alias("__kept__"),
        )
        .join(n_lines, "__id__")
        .select(
            F.col("__id__").alias(id_col),
            F.array_join(F.col("__ls__.__ln__"), "\n").alias("clean_text"),
            (F.col("__tot__") - F.col("__kept__")).alias("n_dropped_lines"),
        )
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` two-word collocations by lift —
    ``P(w1 w2) / (P(w1)·P(w2))`` computed as
    ``(c_pair · T · T) / (B · c_1 · c_2)`` with explicit double casts, so
    the score is a fixed sequence of IEEE ops any engine reproduces
    bit-identically (the log in classical PMI is monotone over lift, so
    the RANKING is PMI's; the log itself has no cross-engine guarantee).
    Phrase mining for corpus exploration / tokenizer-merge candidates.

    Plan: adjacent-pair explode (guarded expression, no self-join), two
    counting aggregates with map-side partials, a join on each word, two
    broadcast one-row totals, ranked top-k with deterministic tiebreak.
    Returns (w1, w2, pair_count, lift, rank).
    """
    # materialize the token array ONCE per row: referencing the raw
    # tokens() expression inside the pair lambda would re-run the whole
    # tokenize chain per index (measured 10 s → 1 s at sf0.1)
    tokd = df.select(tokens(text_col).alias("__toks__"))
    toks = F.col("__toks__")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pair_rows = tokd.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    uni_rows = tokd.select(F.explode(toks).alias("w"))
    pair_cnt = pair_rows.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    uni_cnt = uni_rows.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    totals = uni_rows.agg(F.count(F.lit(1)).alias("t_uni")).crossJoin(
        pair_rows.agg(F.count(F.lit(1)).alias("t_pair"))
    )
    scored = (
        pair_cnt.filter(F.col("pair_count") >= min_count)
        .join(uni_cnt.withColumnRenamed("w", "w1").withColumnRenamed("wc", "c1"), "w1")
        .join(uni_cnt.withColumnRenamed("w", "w2").withColumnRenamed("wc", "c2"), "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lift",
            (
                F.col("pair_count").cast("double")
                * F.col("t_uni")
                * F.col("t_uni")
            )
            / (F.col("t_pair").cast("double") * F.col("c1") * F.col("c2")),
        )
    )
    w = Window.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("w1", "w2", "pair_count", "lift", "rank")
    )


def familiarity_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-familiarity scoring: how common are a document's tokens in the
    corpus it lives in? ``familiarity = Σ corpus_count(token) / n_tokens`` —
    an n-gram-LM-lite signal that surfaces OCR garbage, non-language blobs,
    and boilerplate-heavy outliers (very high scores) without training a
    model. Token *instances* count, so a doc repeating one common word
    scores high, mirroring unigram perplexity's behaviour.

    Integer sums + ONE final division keep every double engine-portable
    (no log arithmetic — ln() implementations differ across engines).

    Plan: one token explode, one vocabulary-sized grouped count, one
    (token)-keyed join back (vocabulary ≪ corpus at scale), one per-doc
    aggregate. Tokenless documents return n_tokens = 0 and NULL familiarity.

    Returns (id_col, n_tokens, familiarity).
    """
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks__"))
    ex = base.select(F.col(id_col), F.explode("__toks__").alias("__t__"))
    vocab = ex.groupBy("__t__").agg(F.count(F.lit(1)).alias("__cf__"))
    per_doc = (
        ex.join(vocab, "__t__")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("__cf__") / F.count(F.lit(1))).alias("familiarity"),
        )
    )
    return (
        base.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "familiarity",
        )
    )


def corpus_report(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    lang_col: str = "lang", source_col: str = "source",
) -> DataFrame:
    """One-pass corpus card: the summary a dataset release ships with
    (docs, token volume, mean length, language/source concentration) as a
    tall (metric, value) frame — every value a count or a single ratio of
    counts, so any engine reproduces it exactly.

    Single aggregation job (map-side partials); distinct counts are exact
    (the approx twin for 100 TB is ``sketches.approx_distinct``).
    """
    agg = df.select(
        token_count(F.col(text_col)).alias("__n__"),
        F.col(lang_col).alias("__lang__"),
        F.col(source_col).alias("__src__"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n__").cast("double").alias("n_tokens"),
        (F.sum("__n__") / F.count(F.lit(1))).alias("mean_tokens_per_doc"),
        (
            F.count(F.when(F.col("__lang__") == "en", 1))
            / F.count(F.lit(1))
        ).alias("frac_en"),
        F.countDistinct("__lang__").cast("double").alias("n_langs"),
        F.countDistinct("__src__").cast("double").alias("n_sources"),
    )
    cols = [
        "n_tokens", "mean_tokens_per_doc", "frac_en", "n_langs", "n_sources",
    ]
    stacked = agg.select(
        F.col("n_docs").cast("double").alias("n_docs"), *cols
    ).unpivot([], ["n_docs"] + cols, "metric", "value")
    return stacked


def compression_ratio(col: Column | str, *, level: int = 6) -> Column:
    """zlib compression ratio (compressed bytes / raw bytes) — the Gopher /
    RefinedWeb repetitiousness signal: heavily templated or repeated text
    compresses far below normal prose (~0.4-0.6 for English), machine noise
    compresses barely at all (~1.0).

    Arrow-batched ``pandas_udf`` (§2.8 discipline — zlib has no Column
    equivalent, and a DEFLATE reimplementation in expressions would be
    absurd). Deterministic for a fixed zlib version and level; rows-only
    at the driver (no SQL twin), invariants pinned in ``test_text.py``.
    Empty and NULL text → NULL.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def r(x):
            if x is None:
                return None
            b = x.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, level)) / len(b)

        return s.map(r, na_action="ignore").astype("float64")

    c = F.col(col) if isinstance(col, str) else col
    return _ratio(c)


def compressed_size(col: Column | str, *, level: int = 6) -> Column:
    """zlib-compressed byte length (the numerator of
    :func:`compression_ratio`, kept as an exact integer): persisting THIS
    instead of the float ratio makes the repetitiousness signal
    oracle-able — the DEFLATE byte count is engine-specific data at rest,
    while ratio = compressed/raw is one exact-in-doubles integer division
    any engine reproduces bit-identically (raw = octet_length both sides).
    Empty and NULL text → NULL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _clen(s: pd.Series) -> pd.Series:
        import zlib

        def r(x):
            if x is None:
                return None
            b = x.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, level))

        return s.map(r, na_action="ignore").astype("Int64")

    c = F.col(col) if isinstance(col, str) else col
    return _clen(c)


def normalize_text(col: Column | str, *, form: str = "NFKC") -> Column:
    """Unicode normalization + whitespace hygiene — the preprocessing stage
    before any hashing/fingerprinting dedup (two visually identical strings
    with different codepoint sequences otherwise hash apart): NFKC-fold
    (full-width forms, ligatures, compatibility chars), strip C0/C1 control
    chars, collapse whitespace runs to single spaces, trim.

    The normalization step runs in the JVM: ``reflect`` calls ICU4J's
    ``Normalizer.compose`` (NFC / NFKC) or ``decompose`` (NFD / NFKD), which
    ships in Spark's own jars, so no row crosses into Python. ``reflect``
    throws on NULL, hence the ``when`` guard. ICU follows a newer Unicode
    version than Python's ``unicodedata`` may, so code points unassigned in
    the older table can normalize differently; assigned ones agree
    (``test_text.py``). ``reflect`` is nondeterministic to Catalyst, so
    filters do not push below this projection. The regex hygiene stays in
    JVM expressions around it. Rows-only surface (DuckDB ships no NFKC
    either); round-trip invariants in ``test_text.py``. NULL → NULL.
    """
    methods = {"NFC": ("compose", False), "NFKC": ("compose", True),
               "NFD": ("decompose", False), "NFKD": ("decompose", True)}
    if form not in methods:
        raise ValueError(f"unknown normalization form {form!r}")
    method, compat = methods[form]
    c = F.col(col) if isinstance(col, str) else col
    folded = F.when(
        c.isNotNull(),
        F.reflect(F.lit("com.ibm.icu.text.Normalizer"), F.lit(method), c, F.lit(compat)),
    )
    no_ctrl = F.regexp_replace(folded, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]", "")
    return F.trim(F.regexp_replace(no_ctrl, r"\s+", " "))


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval over the corpus for a literal term list — full-text
    search as ONE aggregation plus a map-side score pass, no index build.

    Engine-exactness by construction: per-term tf and doc length are
    integers from the same tokenizer both engines share; corpus stats
    (N, total length, per-term document frequencies) come from a single
    1-row aggregate broadcast back; the idf uses the RATIONAL BM25 form
    ``(N - df + 0.5) / (df + 0.5)`` (the log is monotone per term but not
    over the sum — documented variant, same spirit as ``tfidf_top_terms``);
    and the final score adds the per-term contributions in literal term
    order, so the float ops mirror exactly in SQL. Top-k totally ordered
    (score desc, id asc).

    Returns (id_col, score) — the k best matching documents.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks__")
    ).select(
        id_col,
        F.size("__toks__").alias("__len__"),
        # NB: a two-arg lambda would bind Spark's (element, index) HOF form,
        # so the term must be captured via a factory, not a default arg
        *[
            F.size(
                F.filter("__toks__", (lambda term: lambda x: x == F.lit(term))(t))
            ).alias(f"__tf_{i}__")
            for i, t in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__N__"),
        F.sum("__len__").alias("__TL__"),
        *[
            F.sum((F.col(f"__tf_{i}__") > 0).cast("long")).alias(f"__df_{i}__")
            for i in range(len(terms))
        ],
    )
    joined = base.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}__").cast("double")
        dfreq = F.col(f"__df_{i}__")
        idf = (F.col("__N__") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        # len/avgdl as (len * N) / TL: integer product, one division
        rel_len = (F.col("__len__") * F.col("__N__")).cast("double") / F.col(
            "__TL__"
        )
        denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * rel_len)
        s = idf * (tf * F.lit(k1 + 1.0)) / denom
        score = s if score is None else score + s
    return (
        joined.select(F.col(id_col), score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk_batch(
    df: DataFrame,
    queries: Mapping[Any, Sequence[str]],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval for N queries IN ONE JOB — the batch-pipeline shape
    of ``bm25_topk``. The corpus is tokenized ONCE, per-doc tf columns are
    computed for the UNION of all queries' distinct terms in one map pass,
    corpus stats (N, TL, per-term df) come from ONE 1-row aggregate
    broadcast back, and each query's score is a map-side expression over
    its own terms (added in that query's literal term order, mirroring the
    single-query float-op sequence exactly). Scores then unpivot to
    (query_id, id, score) — n_docs × n_queries rows, immediately filtered
    to matches — and rank via a window PARTITIONED by query_id: never a
    global sort, per-partition state ≤ one query's match set.

    At 100 TB the costs that matter scale with the corpus exactly once
    (tokenize + tf), not once per query — the point of batching.

    Returns (query_id, id_col, score, rank), rank ≤ k per query; queries
    with zero matching documents contribute no rows (same convention as
    ``bm25_topk``'s score > 0 filter)."""
    if not queries:
        raise ValueError("queries must be non-empty")
    per_q = {qid: [t.lower() for t in ts] for qid, ts in queries.items()}
    if any(not ts for ts in per_q.values()):
        raise ValueError("every query needs at least one term")
    union_terms: list[str] = []
    for ts in per_q.values():
        for t in ts:
            if t not in union_terms:
                union_terms.append(t)
    idx = {t: i for i, t in enumerate(union_terms)}
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks__")
    ).select(
        id_col,
        F.size("__toks__").alias("__len__"),
        *[
            F.size(
                F.filter("__toks__", (lambda term: lambda x: x == F.lit(term))(t))
            ).alias(f"__tf_{i}__")
            for i, t in enumerate(union_terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__N__"),
        F.sum("__len__").alias("__TL__"),
        *[
            F.sum((F.col(f"__tf_{i}__") > 0).cast("long")).alias(f"__df_{i}__")
            for i in range(len(union_terms))
        ],
    )
    joined = base.crossJoin(F.broadcast(stats))

    def contrib(i: int):
        tf = F.col(f"__tf_{i}__").cast("double")
        dfreq = F.col(f"__df_{i}__")
        idf = (F.col("__N__") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        rel_len = (F.col("__len__") * F.col("__N__")).cast("double") / F.col(
            "__TL__"
        )
        denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * rel_len)
        return idf * (tf * F.lit(k1 + 1.0)) / denom

    def q_score(ts: Sequence[str]):
        s = None
        for t in ts:
            c = contrib(idx[t])
            s = c if s is None else s + c
        return s

    scored = joined.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).alias("query_id"),
                        q_score(ts).alias("score"),
                    )
                    for qid, ts in per_q.items()
                ]
            )
        ).alias("__qs__"),
    ).select(F.col("__qs__.query_id"), id_col, F.col("__qs__.score"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.filter(F.col("score") > 0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )
