"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables the engine's ``Catalog`` reads (a TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``) with the
shapes, value domains and row counts of the sf0.1 fixture set: 600,000
lineitem rows, 150,000 orders, 100,000 events, 5,000 documents of which
5% are near-duplicates (a copy of another document plus one token), and
2,000 unit-norm 64-d embeddings. Every column is drawn from one numpy
generator seeded with ``DATA_SEED``, so the same code always writes the
same bytes of data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generator's output changes so cached copies are rebuilt.
DATA_VERSION = "1"

SCALE = 0.1  # TPC-H scale factor of the generated set
N_CUSTOMER = int(150_000 * SCALE)
N_SUPPLIER = int(10_000 * SCALE)
N_PART = int(200_000 * SCALE)
N_ORDERS = int(1_500_000 * SCALE)
N_LINEITEM = int(6_000_000 * SCALE)
N_EVENTS = int(1_000_000 * SCALE)
N_USERS = int(15_000 * SCALE)
N_DOCUMENTS = max(500, int(50_000 * SCALE))
N_NEAR_DUPS = N_DOCUMENTS // 20
N_EMBEDDINGS = max(500, int(20_000 * SCALE))
EMBEDDING_DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)

_US_PER_DAY = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    partkey = np.arange(N_PART, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), N_PART)
    noun = rng.integers(0, len(PART_NOUN), N_PART)
    out["part"] = pa.table(
        {
            "p_partkey": partkey,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": _pick(rng, PART_TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _ts(
                "1995-01-01", rng.integers(0, 2404, N_ORDERS) * _US_PER_DAY
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
            "l_returnflag": _pick(rng, ("A", "N", "R"), N_LINEITEM),
            "l_linestatus": _pick(rng, ("F", "O"), N_LINEITEM),
            "l_shipdate": _ts(
                "1995-01-02", rng.integers(0, 2498, N_LINEITEM) * _US_PER_DAY
            ),
        }
    )
    offsets = np.sort(rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))
    out["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": _ts("2024-01-01", offsets),
            "user_id": rng.integers(0, N_USERS, N_EVENTS),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = [
        " ".join(np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), n)])
        for n in rng.integers(10, 100, N_DOCUMENTS)
    ]
    dup_rows = rng.choice(N_DOCUMENTS, N_NEAR_DUPS, replace=False)
    for row in dup_rows:
        src = int(rng.integers(0, N_DOCUMENTS))
        while src == row or src in dup_rows:
            src = int(rng.integers(0, N_DOCUMENTS))
        texts[row] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, N_DOCUMENTS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
        }
    )
    return out


def ensure_tables(out_dir: str) -> str:
    """Write the tables under ``out_dir`` unless an identical set is there.

    The set is written to a sibling directory and renamed into place, so
    an interrupted write never leaves a half-populated table directory."""
    marker = os.path.join(out_dir, f".complete-v{DATA_VERSION}")
    if os.path.exists(marker):
        return out_dir
    staging = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(staging, f"{name}.parquet"))
    open(os.path.join(staging, os.path.basename(marker)), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(os.path.abspath(out_dir)), exist_ok=True)
    os.rename(staging, out_dir)
    return out_dir

