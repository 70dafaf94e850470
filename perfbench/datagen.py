"""Seeded input tables for the benchmark.

The tables are the engine's test fixtures (TESTDATA.md, FIXTURES.md
F4-F7) made again from their recipe: a TPC-H-like star schema, an
``events`` stream table, a text ``documents`` corpus with planted near
duplicates, and unit ``embeddings``. At sf 0.001, 0.01 and 0.1 the
star schema and ``events`` come out row for row equal to the fixture
tables. ``documents`` and ``embeddings`` follow the fixtures' recipe
but not their exact draws: at sf0.1 the fixture corpus gives 107,612
MinHash-LSH candidate pairs, 238 verified pairs and 232 clusters in
``dedup_clusters``, and this one gives 108,525, 240 and 230.

The *contents* come from a fixed base seed, so every run sees the same
multiset of rows and the same oracle answers; the run's ``--seed``
only permutes the row order of every table (and, in ``run.py``, the
order queries are submitted in). A seed that makes an output differ
therefore points at an order-dependence defect in the engine, not at
different data.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
    " embeddings"
).split()

_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float) -> dict[str, pd.DataFrame]:
    """Every table at scale factor ``sf``, in generation order."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pd.DataFrame] = {}

    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # Uniform arrival times over 30 days, sorted, truncated to µs.
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + (
            (secs * 1e9).astype(np.int64) // 1000
        ).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Bag-of-words documents of 10-100 tokens over a 30-word
    vocabulary. Exactly 5 % of them, picked at random and rewritten in
    doc_id order, become a copy of a random other document with the
    token ``dup`` appended: the near duplicates of the minhash /
    simhash / jaccard tiers. Rewriting in place lets a copy's source
    be an earlier copy (a chain) or be rewritten after it, and two
    copies of one source are exact duplicates of each other."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), lengths.sum())
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + length]))
        pos += length
    copies = np.sort(rng.choice(n, n // 20, replace=False))
    sources = rng.integers(0, n - 1, len(copies))
    for i, j in zip(copies, sources + (sources >= copies)):
        texts[i] = texts[j] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _arrow(name: str, df: pd.DataFrame) -> pa.Table:
    if name == "embeddings":
        return pa.table({
            "vec_id": pa.array(df["vec_id"]),
            "embedding": pa.array(
                [v.tolist() for v in df["embedding"]], pa.list_(pa.float32())
            ),
            "label": pa.array(df["label"]),
        })
    return pa.Table.from_pandas(df, preserve_index=False)


def content_key(tables: dict[str, pd.DataFrame]) -> str:
    """Order-insensitive digest of every table's row multiset, so the
    oracle cache is shared by all seeds of one scale factor."""
    h = hashlib.sha256()
    for name in sorted(tables):
        df = tables[name]
        if name == "embeddings":
            df = df.assign(embedding=[v.tobytes() for v in df["embedding"]])
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
        h.update(f"{name}:{len(rows)}:{list(df.columns)}:".encode())
        h.update(np.sort(rows).tobytes())
    return h.hexdigest()[:24]


def write_inputs(out_dir: str, sf: float, seed: int) -> str:
    """Write every table, rows permuted by ``seed``, as
    ``<out_dir>/<table>.parquet``; returns the content key."""
    tables = base_tables(sf)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        perm = rng.permutation(len(df))
        shuffled = df.iloc[perm].reset_index(drop=True)
        pq.write_table(_arrow(name, shuffled), os.path.join(out_dir, f"{name}.parquet"))
    return content_key(tables)
