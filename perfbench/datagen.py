"""Seeded synthetic inputs for the benchmark.

Writes the ten source tables the engine and the registry gates read
(``region nation customer supplier part orders lineitem events
documents embeddings``), one parquet file each, with the column names,
types and value shapes of the repository's TPC-H-like test data. Row
counts scale with ``sf`` the way that data does (lineitem ~6M x sf);
the seed fixes every value and the row order of every table, so one
seed always gives byte-identical inputs.

Lineitem's ``(l_orderkey, l_linenumber)`` is unique, so the benchmark's
``line_fact`` rule can key on it.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "shiny", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]

_DAY_US = 86_400 * 1_000_000


def _us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    idx = rng.choice(len(values), size=n, p=p)
    return [values[i] for i in idx]


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
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
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    partkeys = np.arange(n_part, dtype="int64")
    retail = np.round(900.0 + (partkeys % 1000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": partkeys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": retail,
    })

    lo_day = _us(dt.datetime(1995, 1, 1)) // _DAY_US
    hi_day = _us(dt.datetime(2001, 8, 1)) // _DAY_US
    order_day = rng.integers(lo_day, hi_day + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(order_day * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })

    # 0..7 lines per order (mean ~4); line numbers 1..k keep
    # (l_orderkey, l_linenumber) unique
    lines = rng.integers(0, 8, n_ord) + (rng.random(n_ord) < 0.14)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype("int32")
    l_part = rng.integers(0, n_part, n_li).astype("int64")
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(
            (order_day[l_order] + rng.integers(1, 122, n_li)) * _DAY_US
        ),
    })

    ev_start = _us(dt.datetime(2024, 1, 1))
    ev_ts = np.sort(ev_start + rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    # ~5% of documents copy an earlier document and append " dup": the
    # near-duplicate structure the dedup and containment gates look for
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })

    centroids = rng.standard_normal((10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = 0.15 * centroids[labels] + rng.standard_normal((n_vecs, 64)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return t


def generate(out_dir: str | Path, sf: float, seed: int) -> dict[str, dict[str, int]]:
    """Write ``<out_dir>/<table>.parquet`` for every table and return
    ``{table: {"rows": n, "bytes": file size}}``. Each table's rows are
    written in an order permuted by the seed."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    stats: dict[str, dict[str, int]] = {}
    for name, table in _tables(sf, rng).items():
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        path = out / f"{name}.parquet"
        pq.write_table(table, path)
        stats[name] = {"rows": table.num_rows, "bytes": path.stat().st_size}
    return stats
