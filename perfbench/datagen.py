"""Deterministic fixture tables for the benchmark.

Writes the ten tables the engine reads (``tables.TABLE_NAMES``) as
single-row-group parquet files with the same column names, types and
value domains as the engine's sf fixtures (see FIXTURES.md): a
TPC-H-shaped star schema with independent uniform columns, an events
log with µs timestamps over January 2024, a small-vocabulary document
table with ~5% near-duplicates (a copy of an earlier text plus
``" dup"``) and unit-norm 64-d embeddings.

The tables depend only on ``sf`` and :data:`DATA_SEED`; the benchmark's
``--seed`` does not reach them.  Row counts follow the fixtures':
``lineitem`` has 6M·sf rows, ``documents`` max(500, 50k·sf) and
``embeddings`` max(500, 20k·sf).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_SHARE = 0.05
EMBED_DIM = 64


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> pa.Array:
    base = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - base) / np.timedelta64(1, "D"))
    days = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf``, keyed by table name."""
    rngs = {
        name: np.random.default_rng([DATA_SEED, i])
        for i, name in enumerate(
            ["customer", "supplier", "part", "orders", "lineitem",
             "events", "documents", "embeddings"]
        )
    }
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_line = round(6_000_000 * sf)
    n_ev = round(1_000_000 * sf)
    n_users = round(15_000 * sf)
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rngs["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = rngs["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = rngs["part"]
    adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n_part) / 10, 1),
    })

    r = rngs["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, r),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = rngs["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, r),
    })

    r = rngs["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    ts = t0 + np.sort(r.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = rngs["documents"]
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and r.random() < DUP_SHARE:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[r.integers(0, len(VOCAB), r.integers(10, 100))]
            texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = rngs["embeddings"]
    vecs = r.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    })
    return tables


def _fingerprint(sf: float) -> str:
    with open(os.path.abspath(__file__), "rb") as fh:
        src = fh.read()
    return hashlib.sha256(src + repr(sf).encode()).hexdigest()[:12]


def ensure_tables(base: str, sf: float) -> str:
    """Write the tables under ``base`` once; return their directory.

    The directory name carries a hash of this file and ``sf``, so an
    edited generator writes a fresh set instead of reusing stale files.
    """
    out = os.path.join(base, f"sf{sf:g}-{_fingerprint(sf)}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(sf).items():
        pq.write_table(
            table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30
        )
    os.replace(tmp, out)
    return out

