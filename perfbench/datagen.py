"""Seeded generator for the ten fixture tables the engine reads.

The tables follow the schemas and value domains in FIXTURES.md (TPC-H-like
star schema, an events stream, documents and embeddings), so every declared
query and its DuckDB oracle run on them unchanged. The same seed and scale
give byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "large", "red", "blue", "cold", "hot", "green", "shiny"]
_NOUN = ["widget", "bolt", "ring", "gear", "plate", "gizmo", "nut", "screw"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()

_DAY_MS = 86_400_000
_ORDER_EPOCH_MS = 788_918_400_000  # 1995-01-01
_ORDER_DAYS = 2404  # through 2001-08-01
_EVENTS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform money values with two decimals (exact in both engines)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _ts_ms(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype("datetime64[ms]"), type=pa.timestamp("ms"))


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """Return every fixture table at scale ``sf`` for ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1000, int(1_000_000 * sf))
    n_docs, n_vecs = 500, 500

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
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    order_day = rng.integers(0, _ORDER_DAYS, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_ms(_ORDER_EPOCH_MS + order_day * _DAY_MS),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    ship_day = np.clip(order_day[l_order] + rng.integers(1, 122, n_line), 0, 2500)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_line) - run_start + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_ms(_ORDER_EPOCH_MS + ship_day * _DAY_MS),
    })
    steps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_events, n_events)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(
            (_EVENTS_EPOCH_US + np.cumsum(steps)).astype("datetime64[us]"),
            type=pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, max(15, n_events // 67), n_events), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": _cents(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for k in rng.integers(10, 100, n_docs)
    ]
    # a few exact and near duplicates, so the dedup operators find work
    for i in range(0, n_docs, 50):
        texts[i + 1] = texts[i]
        texts[i + 2] = texts[i] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
