"""Deterministic synthetic inputs for the benchmark.

Writes the tables the benchmark's workloads read (``orders``,
``lineitem``, ``events``, ``documents``; one parquet file each) with the
column names, types and value ranges of the engine's test data, so the
suite queries run on them unchanged. The same sizes and seed always
write the same bytes.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
TABLES = ("orders", "lineitem", "events", "documents")

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words texts; about one in twenty is a near copy of an
    earlier one (one word swapped, ``dup`` appended) so the dedup and
    decontamination queries have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def _sizes(scale: float, docs_scale: float) -> dict[str, int]:
    n_ord = max(1500, int(1_500_000 * scale))
    return {
        # key ranges of the dimension tables the generated facts refer to
        "customer": max(150, int(150_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "orders": n_ord,
        "lineitem": 4 * n_ord,
        "events": max(1000, int(1_000_000 * scale)),
        "users": max(15, int(15_000 * scale)),
        "documents": max(50, int(50_000 * docs_scale)),
    }


def _rng(seed: int, table: str) -> np.random.Generator:
    """One random stream per table, so a table's bytes do not depend on
    which other tables are written."""
    return np.random.default_rng([seed, TABLES.index(table)])


def _order_days(seed: int, n_ord: int) -> np.ndarray:
    # shared by orders and lineitem (ship date follows the order date)
    return np.random.default_rng([seed, len(TABLES)]).integers(0, 2400, n_ord)


def _orders(n: dict, seed: int) -> dict:
    rng, n_ord = _rng(seed, "orders"), n["orders"]
    return {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + _order_days(seed, n_ord) * _DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }


def _lineitem(n: dict, seed: int) -> dict:
    rng, n_line = _rng(seed, "lineitem"), n["lineitem"]
    l_order = rng.integers(0, n["orders"], n_line)
    order_days = _order_days(seed, n["orders"])
    return {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n["part"], n_line),
        "l_suppkey": rng.integers(0, n["supplier"], n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995 + (order_days[l_order] + rng.integers(1, 122, n_line)) * _DAY_US),
    }


def _events(n: dict, seed: int) -> dict:
    rng, n_ev = _rng(seed, "events"), n["events"]
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    return {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + offsets),
        "user_id": rng.integers(0, n["users"], n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }


def _documents(n: dict, seed: int) -> dict:
    rng, n_docs = _rng(seed, "documents"), n["documents"]
    texts = _texts(rng, n_docs)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


_GENERATORS = {"orders": _orders, "lineitem": _lineitem, "events": _events,
               "documents": _documents}


def write_tables(out_dir: str, names, scale: float, seed: int,
                 docs_scale: float) -> dict[str, int]:
    """Write the named tables under ``out_dir``; return the row count of
    each. ``docs_scale`` sizes the documents table, ``scale`` the others."""
    os.makedirs(out_dir, exist_ok=True)
    n = _sizes(scale, docs_scale)
    counts: dict[str, int] = {}
    for name in names:
        cols = _GENERATORS[name](n, seed)
        _write(out_dir, name, cols)
        counts[name] = len(next(iter(cols.values())))
    return counts


def tile_xy(lon: float, lat: float, z: int) -> tuple[int, int]:
    """Web-Mercator XYZ tile of a point: the DFL's tileX/tileY."""
    n = 2 ** z
    rad = math.radians(lat)
    return (
        math.floor((lon + 180.0) / 360.0 * n),
        math.floor((1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi) / 2.0 * n),
    )


def write_points(path: str, events_path: str) -> int:
    """Derive the serving layer's points (id, lon, lat, event_type, value)
    from the events table, placing each point the way the suite's
    geo queries do (lon from event_id, lat from user_id): lon in
    [-180, 180) and lat in [-85, 85), inside the Web-Mercator range."""
    ev = pq.read_table(events_path, columns=["event_id", "user_id", "event_type", "value"])
    eid = ev.column("event_id").to_numpy()
    uid = ev.column("user_id").to_numpy()
    pq.write_table(pa.table({
        "id": eid,
        "lon": (eid % 3600) / 10.0 - 180.0,
        "lat": (uid * 11 % 1700) / 10.0 - 85.0,
        "event_type": ev.column("event_type"),
        "value": ev.column("value"),
    }), path)
    return len(eid)
