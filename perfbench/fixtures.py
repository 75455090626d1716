"""Seeded generator of the benchmark's input tables.

The tables have the schemas of the library's fixture set (a TPC-H-like
star schema plus ``documents``, ``embeddings`` and ``events``) and the
same value shapes: uniform keys, a 31-word vocabulary for documents with
5% near-duplicates (a copy of an earlier document plus a ``dup`` marker),
unit 64-d vectors weakly clustered by label, and 30 days of events. Row
counts follow the scale factor ``sf`` the way the library's fixtures do
(lineitem = 6M x sf). One parquet file per table, one row group, snappy,
so the scan layout matches what the library was tuned against.

The same ``(sf, seed)`` always writes the same bytes.
"""

from __future__ import annotations

from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings", "events",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "documents": max(20, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
            continue
        body = " ".join(words[rng.integers(0, len(words), 110)])
        texts.append(body[: int(rng.integers(48, 554))].rstrip())
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vec = rng.standard_normal((n, dim)) + 1.13 * centers[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vec.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(label, pa.int32()),
    })


def _build(name: str, rng: np.random.Generator, n: dict[str, int], sf: float) -> pa.Table:
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    k = n[name]
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": _pick(rng, _SEGMENTS, k),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        })
    if name == "part":
        return pa.table({
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": pa.array([f"{_P_ADJ[i % 8]} {_P_NOUN[i // 8]}" for i in rng.integers(0, 64, k)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)]),
            "p_type": _pick(rng, _P_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10, 1),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, k), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, k) * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, k),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["F", "O"], k),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, k)) * _DAY_US),
        })
    if name == "documents":
        return _documents(rng, k)
    if name == "embeddings":
        return _embeddings(rng, k)
    if name == "events":
        return pa.table({
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, k))),
            "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), k), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, k),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        })
    raise ValueError(f"unknown table {name!r}")


def generate_table(name: str, sf: float, seed: int) -> pa.Table:
    """One table; each table draws from its own stream of ``seed``."""
    rng = np.random.default_rng([seed, round(sf * 1_000_000), TABLES.index(name)])
    return _build(name, rng, row_counts(sf), sf)


def write_fixture(out_dir: Path, sf: float, seed: int, tables=TABLES) -> dict[str, int]:
    """Write ``tables`` of one scale factor as ``<out_dir>/<table>.parquet``
    (the layout ``sources.readers.read_testdata`` reads). Returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name in tables:
        table = generate_table(name, sf, seed)
        pq.write_table(table, out_dir / f"{name}.parquet", compression="snappy")
        counts[name] = table.num_rows
    return counts
