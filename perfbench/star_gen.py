"""Seeded generator of the star-schema tables the ``queries()`` entries read.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names and
types the entries expect. Row counts scale with ``sf`` (``sf=0.01`` gives
60k lineitems). The same (seed, sf) gives the same tables.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10
DUP_SHARE = 0.05  # documents that are a near-copy of an earlier one

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 20)
    n_docs = int(50_000 * sf)
    n_vec = int(50_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + DAY_US + rng.integers(0, 2500, n_line) * DAY_US),
    })
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, n_words)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, n_vec)
    x = centers[label] + rng.normal(0.0, 0.8, (n_vec, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })
    return t


def generate(out_dir: str | Path, seed: int, sf: float) -> str:
    """Write every table as ``out_dir/<name>.parquet``; returns ``out_dir``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in _tables(np.random.default_rng(seed), sf).items():
        pq.write_table(table, out / f"{name}.parquet")
    return str(out)
