"""Seeded generator for the benchmark's input tables.

Writes the ten engine tables (FIXTURES.md schemas and value domains)
into one directory: ``events.ts`` is timestamp[ns], the order and ship
dates timestamp[ms], as in the fixtures. The same seed and sizes give
byte-identical parquet files; nothing is read from outside the
benchmark.

Every table exists because the DuckDB oracle registers all ten as
views, but only the ones a workload scans are sized for it (see
``SIZES`` in run.py); the rest stay at their sf0.01 row counts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture corpus uses one 31-word vocabulary in every language,
# with "dup" reserved for planted duplicates.
VOCAB = (
    "small data table vector filter value order window customer merge "
    "column slow stream big batch query agg part row spark scan the line "
    "group join a sort hash fast key"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_WEIGHTS = (0.14, 0.44, 0.14, 0.14, 0.14)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = ("small", "red", "blue", "large", "steel")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "plate")
PART_TYPES = ("ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE")


def _ts(year: int, month: int, day: int) -> float:
    return dt.datetime(year, month, day, tzinfo=dt.timezone.utc).timestamp()


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _dates(rng, n: int, lo: float, hi: float) -> pa.Array:
    days = rng.integers(0, int((hi - lo) // 86400) + 1, n)
    return pa.array(((lo + days * 86400) * 1e3).astype("int64"), pa.timestamp("ms"))


def documents(rng, n: int, near_dup_frac: float, exact_dup_frac: float) -> dict:
    """Zipf-weighted bag-of-words docs of 10-99 words. The last
    ``near_dup_frac`` of rows are ~5%-edited copies of earlier docs
    (same lang and source, so they share a dedup block); a further
    ``exact_dup_frac`` are verbatim copies."""
    langs = rng.choice(LANGS, size=n, p=LANG_WEIGHTS)
    sources = np.array([f"src{i}" for i in rng.integers(0, 20, n)])
    perm = {lang: rng.permutation(len(VOCAB)) for lang in LANGS}
    weights = 1.0 / (np.arange(len(VOCAB)) + 3)
    weights /= weights.sum()
    texts = []
    for lang in langs:
        words = np.asarray(VOCAB)[perm[lang]]
        texts.append(" ".join(rng.choice(words, size=int(rng.integers(10, 100)), p=weights)))
    n_near = int(n * near_dup_frac)
    n_exact = int(n * exact_dup_frac)
    first_copy = n - n_near - n_exact
    for j in range(first_copy, n):
        src = int(rng.integers(0, first_copy))
        if j < n - n_exact:
            toks = texts[src].split(" ")
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = "dup"
            texts[j] = " ".join(toks)
        else:
            texts[j] = texts[src]
        langs[j], sources[j] = langs[src], sources[src]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(sources.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng, n: int, near_dup_frac: float) -> dict:
    """Isotropic unit vectors (the fixture geometry), 64-dim float32,
    with a planted near-duplicate tail."""
    vecs = rng.normal(0.0, 1.0, size=(n, 64))
    labels = rng.integers(0, 10, n)
    n_dup = int(n * near_dup_frac)
    for j in range(n - n_dup, n):
        src = int(rng.integers(0, n - n_dup))
        vecs[j] = vecs[src] + rng.normal(0.0, 0.05, 64)
        labels[j] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def events(rng, n: int, n_users: int) -> dict:
    lo, hi = _ts(2024, 1, 1), _ts(2024, 1, 31)
    ts = np.sort(rng.uniform(lo, hi, n)) * 1e9
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("int64"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.02, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def generate(out_dir: str, seed: int, sizes: dict) -> None:
    """Write all ten tables. ``sizes`` holds the row counts
    (``events``, ``documents``, ``embeddings``, ``customer``,
    ``orders``) and the planted duplicate shares."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord = sizes["customer"], sizes["orders"]
    n_part, n_supp = 2000, 100
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([
            f"{PART_WORDS[a]} {PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 5, n_part), rng.integers(0, 5, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _dates(rng, n_ord, _ts(1995, 1, 1), _ts(2001, 8, 1)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
    })
    n_li = 4 * n_ord
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li).tolist()),
        "l_shipdate": _dates(rng, n_li, _ts(1995, 1, 2), _ts(2001, 11, 4)),
    })
    _write(out_dir, "events", events(rng, sizes["events"], sizes["users"]))
    _write(out_dir, "documents", documents(
        rng, sizes["documents"], sizes["near_dup_frac"], sizes["exact_dup_frac"]
    ))
    _write(out_dir, "embeddings", embeddings(rng, sizes["embeddings"], sizes["near_dup_frac"]))
