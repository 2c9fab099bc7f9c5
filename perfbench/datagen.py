"""Seeded synthetic inputs for the benchmark.

Writes the TPC-H-like star schema plus the corpus tables (`events`,
`documents`, `embeddings`) as one parquet file per table. Column names,
parquet physical types, row counts and value distributions follow
measurements of the repository's sf0.01 and sf0.1 test data (TESTDATA.md);
README.md, Inputs, lists the measured values. The same (seed, scale)
always gives byte-identical tables.

Row counts at `scale` (the test data's scale factor): orders = 1.5M x
scale, lineitem = 4 x orders, customer = 150k x scale, part = 200k x
scale, supplier = 10k x scale, events = 1M x scale over 15k x scale
users, documents = max(500, 50k x scale), embeddings = max(500, 20k x
scale). Exactly 5% of documents are near-duplicates: a copy of another
document with " dup" appended. Where the test data draws an amount at
random (document word counts, embedding label sizes), the generator
spreads the same range evenly, so every seed gives the corpus operators
the same amount of work; the seed places values, not amounts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the test data's 30-word vocabulary (plus the "dup" marker)
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "filter big stream group vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]  # measured: en 41%, others 14-15%
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
TS = pa.timestamp("us")  # the test data stores every timestamp, events.ts too, as TIMESTAMP(MICROS)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _tpch(rng: np.random.Generator, out: str, scale: float) -> None:
    n_cust = max(100, int(150_000 * scale))
    n_ord = max(1000, int(1_500_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })

    # measured: order dates uniform over days 0..2404 from 1995-01-01;
    # lineitems pick their order uniformly (some orders get none) and
    # ship dates, line numbers and prices independently of the order
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(EPOCH_1995_US + rng.integers(0, 2405, n_ord) * DAY_US, type=TS),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    n_line = 4 * n_ord
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(1, 2500, n_line) * DAY_US, type=TS),
    })


def _corpus(rng: np.random.Generator, out: str, scale: float) -> None:
    # measured: events ordered by time over 30 days from 2024-01-01 at
    # every scale, with exponential gaps (mean 25.9 s, median 17.8 s at
    # sf0.1); users, event types and the 100 props values uniform; value
    # exponential, mean 50
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(10, int(15_000 * scale))
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64) + 1
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024_US + np.cumsum(gaps), type=TS),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    # measured: 10..100 words per document from the vocabulary, languages
    # en 40% and 15% each for the rest, source src<doc_id % 20>; 5% of
    # documents replaced by another document's text plus " dup"
    n_doc = max(500, int(50_000 * scale))
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.permutation(np.resize(np.arange(10, 101), n_doc))
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(n))]) for n in lengths]
    for i in rng.choice(n_doc, n_doc // 20, replace=False).tolist():
        j = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    # measured: unit-length 64-d vectors in random directions (the mean of
    # each label's vectors is as short as for random vectors), labels 0..9
    n_vec, dim, n_lab = max(500, int(20_000 * scale)), 64, 10
    vecs = rng.normal(0.0, 1.0, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.permutation(np.arange(n_vec) % n_lab).astype(np.int32)),
    })


def generate(out_dir: str, seed: int, scale: float, corpus: bool) -> str:
    """Write the tables for `seed` at `scale` into `out_dir`; the corpus
    tables only when `corpus` is set. Returns `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _tpch(rng, out_dir, scale)
    if corpus:
        _corpus(rng, out_dir, scale)
    return out_dir
