"""Seeded synthetic fixture tables for the benchmark.

Writes the ten tables the engine's queries read (``region`` … ``embeddings``,
one parquet file each) with the schemas pinned in the repository's
``FIXTURES.md`` and value distributions close to the reference fixtures:
uniform foreign keys, a 1995-01-01 → 2001-08-01 order calendar, 30 days of
time-ordered events, a 30-word document vocabulary with ~5% near-duplicate
documents (an earlier text plus a trailing ``dup`` token) and a few exact
copies, and random 64-dim unit embeddings.

The generator is pure numpy/pyarrow, so a fixture set costs about a second
to build and is identical for the same ``(sf, seed)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.15, 0.41, 0.15, 0.15, 0.14)

_US_PER_DAY = 86_400_000_000
_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_DAY0).astype(int)) + 1
EVENT_DAY0 = np.datetime64("2024-01-01", "D")
EVENT_DAYS = 30


def _ts(days: np.ndarray, base: np.datetime64) -> pa.Array:
    """Day offsets (float or int) from ``base`` as timestamp[us]."""
    us = base.astype("datetime64[us]").astype(np.int64) + (
        np.asarray(days, dtype=np.float64) * _US_PER_DAY
    ).astype(np.int64)
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list:
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(7, 101))
            texts.append(" ".join(_pick(rng, VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def events_table(rng: np.random.Generator, n: int, first_id: int = 0,
                 n_users: int | None = None) -> pa.Table:
    """``n`` time-ordered events spread over the 30-day event calendar."""
    n_users = n_users or max(15, int(n * 0.015))
    days = np.sort(rng.random(n) * EVENT_DAYS)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(days, EVENT_DAY0),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def build(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    part = np.arange(n_part)
    order_day = rng.integers(0, _ORDER_DAYS, n_ord)
    li_order = rng.integers(0, n_ord, n_li)
    li_qty = rng.integers(1, 51, n_li).astype(np.float64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(cust, pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in cust], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(supp, pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in supp], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(part, pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part),
                                            _pick(rng, PART_NOUN, n_part))],
                pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                                pa.string()),
            "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (part % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ("F", "O", "P"), n_ord), pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
            "o_orderdate": _ts(order_day, _ORDER_DAY0),
            "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(li_qty),
            "l_extendedprice": pa.array(
                np.round(li_qty * rng.uniform(900.0, 2100.0, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), n_li), pa.string()),
            "l_linestatus": pa.array(_pick(rng, ("F", "O"), n_li), pa.string()),
            "l_shipdate": _ts(order_day[li_order] + rng.integers(1, 96, n_li),
                              _ORDER_DAY0),
        }),
        "events": events_table(rng, int(1_000_000 * sf)),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }


def ensure(root: str, sf: float, seed: int) -> str:
    """Write the fixture set for ``(sf, seed)`` under ``root`` once and
    return its directory. A completed set is marked by a ``_SUCCESS``
    file, so an interrupted build is redone, not reused."""
    out = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build(sf, seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out
