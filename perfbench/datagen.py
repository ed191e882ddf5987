"""Seeded synthetic corpus with the schema the registered queries read.

Ten parquet tables (TPC-H-like star schema, an ``events`` stream, a text
corpus and an embedding table), one file and one row group each, written
with pyarrow so the physical types match what the queries expect
(microsecond timestamps not adjusted to UTC, int32 small keys, float32
embeddings). Row counts scale with ``sf``: sf 0.1 gives 600 000
``lineitem`` rows in about 17 MB.

``lineitem`` keys ``(l_orderkey, l_linenumber)`` are unique, as in
TPC-H, so a last-write-wins merge over versions of this table has no
timestamp ties to break.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx], type=pa.string())


def _lineitem_keys(rng: np.random.Generator, n_orders: int, n_rows: int):
    """(orderkey, linenumber) for exactly ``n_rows`` rows: 1-7 lines per
    order, nudged until the counts sum to ``n_rows``."""
    counts = rng.integers(1, 8, n_orders)
    diff = n_rows - int(counts.sum())
    while diff != 0:
        room = np.flatnonzero(counts < 7) if diff > 0 else np.flatnonzero(counts > 1)
        step = min(abs(diff), len(room))
        counts[rng.choice(room, step, replace=False)] += 1 if diff > 0 else -1
        diff += -step if diff > 0 else step
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), counts)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)
    return orderkey, linenumber


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # one in twenty documents is a near-duplicate of an earlier one and a
    # handful are exact copies, so the dedup queries find real pairs
    for i in range(11, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=min(8, n - 1), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    vecs = centroids[label] + 0.8 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label),
        }
    )


def corpus_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, round(10_000 * sf))
    n_cust = max(150, round(150_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_orders = max(1_500, round(1_500_000 * sf))
    n_line = 4 * n_orders
    n_events = max(1_000, round(1_000_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(
                rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust
            ),
        }
    )
    adjectives = ("red", "blue", "hot", "cold", "new", "old", "small", "large")
    nouns = ("bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pipe")
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(
                rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_orders)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_orders) * _DAY_US),
            "o_orderpriority": _pick(
                rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_orders
            ),
        }
    )
    orderkey, linenumber = _lineitem_keys(rng, n_orders, n_line)
    perm = rng.permutation(n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey[perm]),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(linenumber[perm]),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US),
        }
    )
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 1_500, n_events, dtype=np.int64)),
            "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), n_events),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_corpus(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in corpus_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows
