"""Deterministic synthetic source tables for the benchmark.

Writes the ten flat parquet tables the catalog entries read
(``region nation customer supplier part orders lineitem events documents
embeddings``) with the same schemas and value domains as the driver's
testdata, from a fixed data seed. The database is fixed; the run seed only
draws the op parameters (see ``workloads.py``), so every run of every seed
scans the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The database never depends on the run seed.
DATA_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "green"]
_P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = np.array(["en"] * 3 + ["de", "es", "fr", "zh"])
_VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, corpus_sf: float | None = None) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem = 6,000,000 x sf);
    documents and embeddings at ``corpus_sf`` if given."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    corpus_sf = sf if corpus_sf is None else corpus_sf
    n_doc, n_emb = max(int(50_000 * corpus_sf), 500), max(int(20_000 * corpus_sf), 500)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
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
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {n}" for a in _P_ADJ for n in _P_NOUN])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
            "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    order_days = rng.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    _, first = np.unique(l_order, return_index=True)
    linenumber = np.arange(n_line) - np.repeat(first, np.diff(np.append(first, n_line))) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    flag_status = rng.integers(0, 6, n_line)
    ship = order_days[l_order] + rng.integers(1, 122, n_line)
    perm = rng.permutation(n_line)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order[perm],
            "l_partkey": partkey[perm],
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64)[perm],
            "l_linenumber": np.minimum(linenumber, 7).astype(np.int32)[perm],
            "l_quantity": qty[perm],
            "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.95, 1.05, n_line), 2)[perm],
            "l_discount": (rng.integers(0, 11, n_line) / 100.0)[perm],
            "l_tax": (rng.integers(0, 9, n_line) / 100.0)[perm],
            "l_returnflag": np.array(["A", "A", "N", "N", "R", "R"])[flag_status][perm],
            "l_linestatus": np.array(["F", "O", "F", "O", "F", "O"])[flag_status][perm],
            "l_shipdate": _ts(_EPOCH_1995 + ship[perm] * _DAY_US),
        }
    )
    evt_us = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(np.datetime64("2024-01-01", "us") + evt_us),
            "user_id": rng.integers(0, max(n_evt // 66, 150), n_evt).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(np.maximum(rng.exponential(50.0, n_evt), 0.01), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    lengths = rng.integers(10, 100, n_doc)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_doc)]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": text,
            "lang": _LANGS[rng.integers(0, len(_LANGS), n_doc)],
            "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64))
    vecs = centers[labels] + 1.5 * rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write(out_dir: str, sf: float, corpus_sf: float | None = None) -> dict[str, int]:
    """Write every table as ``OUT_DIR/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(sf, corpus_sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
