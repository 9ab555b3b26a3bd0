"""Seeded generator for the engine's catalog tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the schemas and value
domains ``olap_db_spark.catalog`` reads: a TPC-H-shaped star schema, an
event stream with microsecond timestamps, a text corpus in which one
document in twenty is another document plus a trailing ``" dup"``, and
unit-norm 64-dimensional embeddings clustered by ``label``.

The same ``(seed, scale)`` always yields byte-identical tables. Row counts
follow TPC-H scale factors (``scale=0.01`` gives 60,000 lineitem rows).
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

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod")
_PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order group filter stream vector"
).split()
_LANGS = ("en", "es", "fr", "de", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_DIM = 64
_LABELS = 10

_ORDER_EPOCH = dt.datetime(1995, 1, 1)
_EVENT_EPOCH = dt.datetime(2024, 1, 1)


def _us(epoch: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(epoch: dt.datetime, days: np.ndarray) -> pa.Array:
    return _us(epoch, days.astype(np.int64) * 86_400 * 1_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x0DB])
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_events = max(1_000, int(1_000_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], n_part),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    order_days = (dt.datetime(2001, 8, 1) - _ORDER_EPOCH).days
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(_ORDER_EPOCH, rng.integers(0, order_days + 1, n_ord)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    ship_days = (dt.datetime(2001, 11, 4) - _ORDER_EPOCH).days
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(_ORDER_EPOCH, rng.integers(1, ship_days + 1, n_line)),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _us(_EVENT_EPOCH, np.sort(rng.integers(0, span_us, n_events))),
            "user_id": rng.integers(0, max(15, n_events // 67), n_events),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": np.round(np.maximum(rng.exponential(50.0, n_events), 0.01), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = [
        " ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), w)])
        for w in rng.integers(8, 101, n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n_docs - 1)) % n_docs] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
            "source": [f"src{k % 20}" for k in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(0.0, 1.0, (_LABELS, _DIM))
    labels = rng.integers(0, _LABELS, n_vecs)
    vecs = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n_vecs, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write_tables(out_dir: Path, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in _tables(seed, scale).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


def row_count(out_dir: Path, name: str) -> int:
    return pq.ParquetFile(out_dir / f"{name}.parquet").metadata.num_rows
