"""Synthetic input tables for the catalog workloads.

Writes the ten tables the catalog queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas and value domains of the engine's synthetic
star schema at scale factor 0.001. The tables come from one fixed data
seed, so the per-query result pins in ``pins.json`` hold on every run;
the benchmark's ``--seed`` varies the query order and the crawled site.

Usage: ``python3 perfbench/datagen.py OUT_DIR``
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.001
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "events": 1000, "documents": 500, "embeddings": 500}
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["cold", "hot", "large", "small", "old", "new", "red", "blue"]
_NOUN = ["widget", "bolt", "anvil", "ring", "plate", "gear", "rod", "gizmo"]
_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
          "line sort window spark order data column join small customer query "
          "big stream group filter dup").split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _ts(days: np.ndarray) -> np.ndarray:
    return _EPOCH_1995 + days.astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p, n_o = (ROWS[k] for k in ("customer", "supplier", "part", "orders"))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_p), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": [_TYPES[i] for i in rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_p) * 0.1, 2),
    })
    odays = rng.integers(0, 2405, n_o)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": pa.array(_ts(odays), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
    })
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    okey = np.repeat(np.arange(n_o), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_l).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(_ts(odays[okey] + rng.integers(1, 122, n_l)), pa.timestamp("us")),
    })
    n_e = ROWS["events"]
    gaps = rng.integers(1, 5_000_000_000, n_e)  # µs between events
    out["events"] = pa.table({
        "event_id": pa.array(range(n_e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps // 2).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_e), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    n_d = ROWS["documents"]
    texts = [" ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), k))
             for k in rng.integers(8, 100, n_d)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_d), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_d, p=_LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_v = ROWS["embeddings"]
    vec = rng.normal(size=(n_v, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_v), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
    })
    return out


def write(out_dir: str) -> str:
    """Write every table once; later calls reuse the files."""
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out_dir, exist_ok=True)
        for name, tbl in tables().items():
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        with open(done, "w") as f:
            f.write(f"seed={DATA_SEED} sf={SF}\n")
    return out_dir


if __name__ == "__main__":
    print(write(sys.argv[1]))
