"""Seeded generator of the registry's ten input tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
physical types and value distributions of the synthetic star schema the
registry queries are written against, at the size of the sf0.01 test
data: 60,000 lineitem rows.

Everything is drawn from one ``numpy.random.Generator`` seeded with
``seed``, in a fixed order, so the same seed always writes the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "bright"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents; about one in twenty repeats an earlier
    document, either verbatim with a trailing ``dup`` token or with its
    last words redrawn, so the dedup and LSH queries find pairs."""
    lengths = rng.integers(10, 100, n)
    words = np.asarray(WORDS)
    texts: list[str] = []
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            if kinds[i] < 0.025:
                toks = src + ["dup"]
            else:
                keep = max(len(src) - 3, 1)
                toks = src[:keep] + list(words[rng.integers(0, len(words), 3)])
        else:
            toks = list(words[rng.integers(0, len(words), lengths[i])])
        texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            offsets, pa.array(vecs.ravel(), pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


N_CUST, N_SUPP, N_PART = 1500, 100, 2000
N_ORD, N_LINE, N_EVT = 15000, 60000, 10000
N_USERS, N_DOCS, N_VECS = 150, 500, 500


def generate(seed: int) -> dict[str, pa.Table]:
    """The ten tables for ``seed``."""
    rng = np.random.default_rng(seed)
    cols: dict[str, dict] = {}
    cols["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }
    cols["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }
    cols["customer"] = {
        "c_custkey": pa.array(np.arange(N_CUST, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", N_CUST)),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUST)),
        "c_mktsegment": pa.array(np.asarray(SEGMENTS)[rng.integers(0, 5, N_CUST)]),
    }
    cols["supplier"] = {
        "s_suppkey": pa.array(np.arange(N_SUPP, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", N_SUPP)),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPP)),
    }
    adj = np.asarray(PART_ADJ)[rng.integers(0, 8, N_PART)]
    noun = np.asarray(PART_NOUN)[rng.integers(0, 8, N_PART)]
    cols["part"] = {
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(np.asarray(PART_TYPES)[rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 1)),
    }
    cols["orders"] = {
        "o_orderkey": pa.array(np.arange(N_ORD, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD)),
        "o_orderstatus": pa.array(np.asarray(["F", "O", "P"])[rng.integers(0, 3, N_ORD)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORD)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, N_ORD) * _DAY_US),
        "o_orderpriority": pa.array(np.asarray(PRIORITIES)[rng.integers(0, 5, N_ORD)]),
    }
    cols["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE)),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINE).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, N_LINE)),
        "l_discount": pa.array(_money(rng, 0.0, 0.1, N_LINE)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, N_LINE)),
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[rng.integers(0, 3, N_LINE)]),
        "l_linestatus": pa.array(np.asarray(["F", "O"])[rng.integers(0, 2, N_LINE)]),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, N_LINE)) * _DAY_US),
    }
    cols["events"] = {
        "event_id": pa.array(np.arange(N_EVT, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, N_EVT))),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVT)),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, N_EVT)]),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, N_EVT), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVT)]),
    }
    cols["documents"] = _documents(rng, N_DOCS)
    cols["embeddings"] = _embeddings(rng, N_VECS)
    return {name: pa.table(cols[name]) for name in TABLES}


def write(seed: int, out_dir: str) -> str:
    """Write the tables under ``out_dir`` (created) and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
