"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pandas/pyarrow: inputs are generated before
any timed region, and the same seed always yields byte-identical inputs.

- :func:`star_tables` writes the ten registry tables (TPC-H-shaped star
  schema plus ``events``, ``documents`` and ``embeddings``) with the column
  names, types and value domains the registry queries and their DuckDB twins
  are written against.
- :func:`gdelt_frame`, :func:`gdelt_drop` and :func:`increments` produce GDELT
  event rows, a zipped daily/monthly/yearly drop with a directory listing,
  and GDELT-2.0-style 15-minute exports that re-emit existing keys.
- :func:`corpus` builds an LLM-data corpus with planted exact duplicates,
  near duplicates and benchmark-contaminated documents.
"""

from __future__ import annotations

import os
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
PART_WORDS = (
    ["red", "blue", "green", "black", "white", "small", "large", "shiny"],
    ["widget", "bolt", "ring", "anvil", "gear", "spring", "valve", "nut"],
)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
COUNTRIES = np.array(["USA", "BRA", "CHN", "RUS", "FRA", "IND"])
EVENT_CODES = np.array(["010", "020", "042", "043", "190"])

#: the probe text the contaminated corpus documents embed (words outside VOCAB)
PROBE_TEXT = "alpha beta gamma delta epsilon zeta eta theta"


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    us = days_since_epoch.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return table.num_rows


def star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for the ten registry tables at scale ``sf``
    (sf=1 ~ 6M lineitem rows). Returns row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = max(int(6_000_000 * sf), 2_000)
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 200)
    epoch_1995 = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(int)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    rows: dict[str, int] = {}

    rows["region"] = _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), p("region"))
    rows["nation"] = _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), p("nation"))
    rows["customer"] = _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    }), p("customer"))
    rows["supplier"] = _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), p("supplier"))
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_WORDS[0] for b in PART_WORDS[1]])
    rows["part"] = _write(pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }), p("part"))
    rows["orders"] = _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(epoch_1995 + rng.integers(0, 2405, n_ord)),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    }), p("orders"))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    rows["lineitem"] = _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(epoch_1995 + 1 + rng.integers(0, 2499, n_li)),
    }), p("lineitem"))
    ev_epoch = (np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(int)
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + ev_epoch * 86_400_000_000
    rows["events"] = _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), p("events"))
    texts = _texts(rng, n_docs)
    # a few near-duplicate documents so the dedup rows have work to find
    for i in range(0, n_docs, 97):
        src = int(rng.integers(0, n_docs))
        texts[i] = texts[src] + " dup"
    rows["documents"] = _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), p("documents"))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    rows["embeddings"] = _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }), p("embeddings"))
    return rows


# --------------------------------------------------------------------- GDELT
def gdelt_frame(
    rng: np.random.Generator, ids: np.ndarray, days: np.ndarray
) -> pd.DataFrame:
    """GDELT event rows for the given keys and ``Day`` values (YYYYMMDD),
    every column of the declared 58-column schema present (the unused ones
    empty). NULLs are planted in the null-drop filter columns."""
    from gdelt_2_0_event_database_pipeline_spark.schema import GDELT_COLUMNS

    n = len(ids)
    countries = COUNTRIES[rng.integers(0, len(COUNTRIES), n)].astype(object)
    countries[rng.random(n) < 0.05] = None
    actor1 = np.char.add("ACT", (ids % 50).astype(str)).astype(object)
    actor1[rng.random(n) < 0.1] = None
    quad = rng.choice([1.0, 2.0, 3.0, 4.0], n, p=[0.7, 0.2, 0.07, 0.03])
    quad[rng.random(n) < 0.02] = np.nan
    years = days // 10000
    months = (days // 100) % 100
    return pd.DataFrame({
        "GlobalEventID": ids.astype(np.int64),
        "Day": days.astype(np.int64),
        "MonthYear": (days // 100).astype(np.int64),
        "Year": years.astype(np.int64),
        "FractionDate": np.round(years + (months - 1) / 12.0, 4),
        "Actor1Code": actor1,
        "Actor1CountryCode": countries,
        "IsRootEvent": rng.integers(0, 2, n).astype(np.int64),
        "EventCode": EVENT_CODES[rng.integers(0, len(EVENT_CODES), n)],
        "QuadClass": quad,
        "GoldsteinScale": rng.uniform(-10, 10, n).round(1),
        "NumMentions": rng.integers(1, 100, n).astype(np.int64),
        "NumArticles": rng.integers(1, 50, n).astype(np.int64),
        "AvgTone": rng.uniform(-100, 100, n).round(2),
        "ActionGeo_CountryCode": countries.copy(),
        "ActionGeo_Lat": rng.uniform(-60, 60, n).round(4),
    }).reindex(columns=list(GDELT_COLUMNS))


def write_gdelt_csv(pdf: pd.DataFrame, path: str) -> int:
    """Headerless tab-separated export, the GDELT CSV layout. Returns bytes."""
    pdf.to_csv(path, sep="\t", header=False, index=False)
    return os.path.getsize(path)


#: drop file names: daily exports go to the flat tree, monthly and yearly
#: files to the Hive tree; the day/month/year each file covers
DROP_FILES = (
    ("20150101.export.CSV", 20150101, 20150101),
    ("20150102.export.CSV", 20150102, 20150102),
    ("20160301.export.CSV", 20160301, 20160301),
    ("20170501.export.CSV", 20170501, 20170501),
    ("201502.csv", 20150201, 20150228),
    ("201603.csv", 20160301, 20160331),
    ("2015.csv", 20150101, 20151228),
    ("2016.csv", 20160101, 20161228),
)


def _days_between(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    d0 = pd.Timestamp(str(lo))
    span = (pd.Timestamp(str(hi)) - d0).days + 1
    picked = d0 + pd.to_timedelta(rng.integers(0, span, n), unit="D")
    return (picked.year * 10000 + picked.month * 100 + picked.day).to_numpy(np.int64)


def gdelt_drop(work: str, seed: int, n_rows: int, filter_cols) -> dict:
    """A zipped GDELT drop of ``n_rows`` events split over :data:`DROP_FILES`
    plus the directory-listing HTML (with ~3k decoy links outside the prune
    window). Returns the paths and the generator-side expectations."""
    rng = np.random.default_rng(seed)
    zips = os.path.join(work, "zips")
    os.makedirs(zips)
    per = n_rows // len(DROP_FILES)
    frames, start = [], 1
    for i, (name, lo, hi) in enumerate(DROP_FILES):
        k = per if i < len(DROP_FILES) - 1 else n_rows - per * i
        pdf = gdelt_frame(rng, np.arange(start, start + k), _days_between(rng, lo, hi, k))
        start += k
        frames.append(pdf)
        csv = os.path.join(work, name)
        write_gdelt_csv(pdf, csv)
        with zipfile.ZipFile(os.path.join(zips, name + ".zip"), "w", zipfile.ZIP_DEFLATED) as zf:
            zf.write(csv, arcname=name)
        os.remove(csv)
    links = [f'<a href="{name}.zip">{name}.zip</a>' for name, _, _ in DROP_FILES]
    links += [
        f'<a href="{2018 + (i % 7)}{1 + i % 12:02d}{1 + i % 28:02d}.export.CSV.zip">x</a>'
        for i in range(3000)
    ]
    order = rng.permutation(len(links))
    html = "<html><body>" + "\n".join(links[j] for j in order) + "</body></html>"
    allrows = pd.concat(frames, ignore_index=True)
    return {
        "zips": zips,
        "html": html,
        "rows": n_rows,
        "no_null_rows": int(allrows[list(filter_cols)].notna().all(axis=1).sum()),
        "frame": allrows,
    }


def increments(
    seed: int, n_batches: int, rows_per: int, reemit_share: float, first_id: int
) -> list[pd.DataFrame]:
    """GDELT-2.0-style 15-minute exports. Each batch holds fresh keys spread
    over three consecutive days plus a ``reemit_share`` of keys emitted by an
    earlier batch; a re-emitted key keeps its ``Day`` (keys are stable within
    their day partition) and gets new measure values."""
    rng = np.random.default_rng(seed + 7919)
    out: list[pd.DataFrame] = []
    seen_ids = np.empty(0, dtype=np.int64)
    seen_days = np.empty(0, dtype=np.int64)
    next_id = first_id
    base = pd.Timestamp("2015-02-18")
    for b in range(n_batches):
        n_re = int(rows_per * reemit_share) if len(seen_ids) else 0
        n_new = rows_per - n_re
        ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        d = base + pd.to_timedelta(b // 4 + rng.integers(0, 3, n_new), unit="D")
        days = (d.year * 10000 + d.month * 100 + d.day).to_numpy(np.int64)
        if n_re:
            pick = rng.choice(len(seen_ids), n_re, replace=False)
            ids = np.concatenate([ids, seen_ids[pick]])
            days = np.concatenate([days, seen_days[pick]])
        out.append(gdelt_frame(rng, ids, days))
        seen_ids = np.concatenate([seen_ids, ids[:n_new]])
        seen_days = np.concatenate([seen_days, days[:n_new]])
    return out


# -------------------------------------------------------------------- corpus
def corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write the corpus parquet (``doc_id, text, lang, source, n_chars``) and
    the benchmark-probe parquet. Planted: exact duplicates (case/whitespace
    variants that normalize to an earlier document), near duplicates (one
    word appended) and contaminated documents embedding the probe text.
    Returns paths plus the planted id sets the output check uses."""
    rng = np.random.default_rng(seed + 104729)
    n_plant = max(n_docs // 100, 3)
    n_base = n_docs - 3 * n_plant
    texts = _texts(rng, n_base, 20, 100)
    exact, near, contaminated = [], [], []
    for _ in range(n_plant):
        src = int(rng.integers(0, n_base))
        exact.append(len(texts))
        texts.append("  " + texts[src].upper().replace(" ", "   ") + " ")
    for _ in range(n_plant):
        src = int(rng.integers(0, n_base))
        near.append(len(texts))
        texts.append(texts[src] + " " + str(VOCAB[int(rng.integers(0, len(VOCAB)))]))
    for _ in range(n_plant):
        contaminated.append(len(texts))
        words = _texts(rng, 1, 20, 60)[0].split()
        cut = int(rng.integers(0, len(words)))
        texts.append(" ".join(words[:cut] + PROBE_TEXT.split() + words[cut:]))
    ids = np.arange(len(texts), dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    docs = os.path.join(out_dir, "corpus")
    probes = os.path.join(out_dir, "probes")
    os.makedirs(docs)
    os.makedirs(probes)
    pq.write_table(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(5, len(texts), p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(docs, "part-0.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array([1], pa.int64()), "text": [PROBE_TEXT],
    }), os.path.join(probes, "part-0.parquet"))
    return {
        "input": docs,
        "probes": probes,
        "docs": len(texts),
        "exact_dups": exact,
        "near_dups": near,
        "contaminated": contaminated,
    }
