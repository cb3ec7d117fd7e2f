"""Seeded generator for the engine's ten input tables.

The registered queries read ``region nation customer supplier part orders
lineitem events documents embeddings`` as one parquet file each under a
scale-factor directory. This module writes that layout from a seed alone,
with the schemas (pyarrow types, microsecond timestamps, float32
embedding lists) and the marginal distributions the engine's oracles were
written against:

* relational tables are TPC-H-shaped with dense keys ``0..n-1`` and
  independent uniform value columns;
* ``events`` spans 30 days from 2024-01-01 with ``event_id`` in time
  order, exponential ``value`` (mean 50) and five event types;
* ``documents`` draw 10-99 words from a 30-word vocabulary; 5% are
  near-duplicates (an earlier document's text plus ``" dup"``), which is
  what the dedup and pair-similarity queries find;
* ``embeddings`` are unit float32 vectors in 64 dimensions, pulled
  towards one of ten label centroids.

The same ``(seed, sf)`` always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_FLAGS = ("A", "N", "R")
_LINESTATUS = ("F", "O")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("de", "en", "es", "fr", "zh")
_LANG_P = (0.14, 0.44, 0.14, 0.14, 0.14)
_DIM = 64
_LABELS = 10

_EPOCH_US = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table)])


def _days(rng, n: int, lo: str, hi: str) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "users": max(15, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(50_000 * sf)),
    }


def events_table(seed: int, sf: float) -> pa.Table:
    """The ``events`` table alone (also the tick stream's source)."""
    n = sizes(sf)
    rng = _rng(seed, "events")
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n["events"])) + _EPOCH_US
    value = np.maximum(0.01, np.round(rng.exponential(50.0, n["events"]), 2))
    return pa.table({
        "event_id": pa.array(np.arange(n["events"]), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], n["events"]), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n["events"]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
                          pa.string()),
    })


def _documents(seed: int, n_docs: int) -> pa.Table:
    rng = _rng(seed, "documents")
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n_docs, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed: int, n_vec: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    cents = rng.standard_normal((_LABELS, _DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, _LABELS, n_vec)
    v = rng.standard_normal((n_vec, _DIM)) + 0.56 * cents[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table, keyed by name."""
    n = sizes(sf)
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    rng = _rng(seed, "customer")
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99), pa.float64()),
        "c_mktsegment": _pick(rng, _SEGMENTS, c),
    })
    rng = _rng(seed, "supplier")
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99), pa.float64()),
    })
    rng = _rng(seed, "part")
    p = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, _PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
                                  pa.float64()),
    })
    rng = _rng(seed, "orders")
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, _STATUSES, o),
        "o_totalprice": pa.array(_money(rng, o, 1000.0, 500000.0), pa.float64()),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, o),
    })
    rng = _rng(seed, "lineitem")
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, m, 900.0, 105000.0), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0, pa.float64()),
        "l_returnflag": _pick(rng, _FLAGS, m),
        "l_linestatus": _pick(rng, _LINESTATUS, m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    out["events"] = events_table(seed, sf)
    out["documents"] = _documents(seed, n["documents"])
    out["embeddings"] = _embeddings(seed, n["embeddings"])
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> int:
    """Write every table to ``out_dir/<name>.parquet``; returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows


def write_event_slices(seed: int, sf: float, out_dir: str, n_slices: int) -> None:
    """Split ``events`` into ``n_slices`` contiguous time slices, one
    parquet file each, with seed-chosen boundaries."""
    events = events_table(seed, sf)
    rng = np.random.default_rng([seed, len(TABLES)])
    n = events.num_rows
    # jittered equal-width cuts: every slice is non-empty and 0.5-1.5x
    # the mean slice size
    width = n / n_slices
    cuts = np.arange(1, n_slices) * width + rng.uniform(-0.25, 0.25, n_slices - 1) * width
    bounds = [0, *np.round(cuts).astype(int).tolist(), n]
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_slices):
        part = events.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"slice_{i:04d}.parquet"))
