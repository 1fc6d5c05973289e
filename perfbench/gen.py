"""Seeded input generator for the engine benchmark.

Builds a TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables with the same schemas, value ranges and planted
near-duplicates as the engine's reference test data, but drawn from the
benchmark's ``--seed``.  Row counts depend only on the scale factor, so
every seed gives the same amount of work and only the values move.

It also cuts the claims-ETL tick inputs: ``orders``/``lineitem`` in arrival
(order-date) order into K batches, where each tick re-extracts a seeded
share of the previous batch (the reference's 30-minute overlap), and
``events`` into K time-ordered files that re-deliver a seeded share of the
previous file's last 30 minutes.

Every file is one parquet row group written by pyarrow from numpy arrays,
so the same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_US_PER_DAY = 86_400_000_000
_OVERLAP_US = 30 * 60 * 1_000_000  # the reference's 30-minute re-extract
_OVERLAP_SHARE = 0.1  # share of the previous tick's orders re-extracted
_REDELIVERY_SHARE = 0.5  # share of the previous events file's tail re-delivered


def _day(iso: str) -> int:
    """Days since 1970-01-01."""
    return (dt.date.fromisoformat(iso) - dt.date(1970, 1, 1)).days


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, values).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at scale factor ``sf``."""
    rngs = {
        name: np.random.default_rng([seed, i])
        for i, name in enumerate(
            ("customer", "supplier", "part", "orders", "lineitem",
             "events", "documents", "embeddings")
        )
    }
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
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

    r = rngs["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })

    r = rngs["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = rngs["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })

    r = rngs["orders"]
    lo, hi = _day("1995-01-01"), _day("2001-08-01")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(r.integers(lo, hi + 1, n_ord) * _US_PER_DAY),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = rngs["lineitem"]
    lo, hi = _day("1995-01-02"), _day("2001-11-04")
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _ts(r.integers(lo, hi + 1, n_line) * _US_PER_DAY),
    })

    r = rngs["events"]
    lo = _day("2024-01-01")
    ts = np.sort(r.integers(lo * _US_PER_DAY, (lo + 30) * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": r.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = rngs["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = r.choice(len(WORDS), size=int(r.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    r = rngs["embeddings"]
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 0.07, (10, 64))
    vecs = r.normal(0.0, 1.0 / 8.0, (n_emb, 64)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_table(table: pa.Table, path: str) -> dict:
    """One row group per file; returns the file's rows and bytes."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def split_ticks(tables: dict[str, pa.Table], seed: int, ticks: int
                ) -> list[dict[str, pa.Table]]:
    """Cut orders/lineitem/events into ``ticks`` arrival-ordered batches.

    Orders arrive in (o_orderdate, o_orderkey) order and each line item
    travels with its order; tick k re-extracts a seeded ``_OVERLAP_SHARE``
    of tick k-1's orders.  Events are already in time order; file k
    re-delivers a seeded ``_REDELIVERY_SHARE`` of file k-1's last 30
    minutes, which the stream's 30-minute watermark dedup must drop.
    """
    rng = np.random.default_rng([seed, 100])
    orders, lines, events = tables["orders"], tables["lineitem"], tables["events"]
    arrival = pc.sort_indices(
        orders, [("o_orderdate", "ascending"), ("o_orderkey", "ascending")]
    ).to_numpy()
    fresh = np.array_split(arrival, ticks)
    order_batches = [fresh[0]] + [
        np.concatenate([fresh[k - 1][rng.random(len(fresh[k - 1])) < _OVERLAP_SHARE],
                        fresh[k]])
        for k in range(1, ticks)
    ]
    # o_orderkey is the row number, so an order mask indexes by key
    line_order = lines["l_orderkey"].to_numpy()
    line_batches = []
    for idx in order_batches:
        in_tick = np.zeros(orders.num_rows, dtype=bool)
        in_tick[idx] = True
        line_batches.append(np.flatnonzero(in_tick[line_order]))

    ts = events["ts"].cast(pa.int64()).to_numpy()
    ev_fresh = np.array_split(np.arange(events.num_rows), ticks)
    ev_batches = [ev_fresh[0]]
    for k in range(1, ticks):
        prev = ev_fresh[k - 1]
        tail = prev[ts[prev] > ts[prev[-1]] - _OVERLAP_US]
        ev_batches.append(np.concatenate([tail[rng.random(len(tail)) < _REDELIVERY_SHARE],
                                          ev_fresh[k]]))

    return [
        {
            "orders": orders.take(order_batches[k]),
            "lineitem": lines.take(line_batches[k]),
            "events": events.take(ev_batches[k]),
        }
        for k in range(ticks)
    ]
