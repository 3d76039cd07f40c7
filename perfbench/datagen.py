"""Benchmark inputs, generated from a seed and nothing else.

Two generators:

- :func:`write_fixture_tables` writes the ten fixture tables the query
  registry reads (``{dir}/{table}.parquet``), with the schemas and value
  vocabularies of the engine's TPC-H-ish fixtures at about sf0.01. The
  pipeline sweep always uses :data:`FIXTURE_SEED`, so the committed
  expected outputs in ``expected/`` stay valid; the run seed only picks
  the query rotation of each pass.
- :func:`candle_grid` builds a 1-minute random-walk OHLCV grid per symbol
  for the ingest workload. It depends on the run seed; the workload
  derives every expected value from the grid itself.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20261017

# sf0.01-sized row counts: the sweep is bound by Spark scheduling, not by
# data volume, so a small scale keeps a run short without changing
# which layers the queries exercise.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _ts_us(start: dt.datetime, offsets_s: np.ndarray) -> pa.Array:
    base = int((start - _EPOCH).total_seconds() * 1_000_000)
    return pa.array(base + (offsets_s * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: dt.datetime, span_days: int) -> pa.Array:
    return _ts_us(start, rng.integers(0, span_days, n).astype(np.int64) * 86400)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    """The ten fixture tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    parts = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": parts,
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (parts % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, n["orders"], dt.datetime(1995, 1, 1), 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    quantity = rng.integers(1, 51, m).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, m, dt.datetime(1995, 1, 2), 2498),
        }
    )
    e = n["events"]
    gaps = rng.exponential(30 * 86400 / e, e)
    t["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts_us(dt.datetime(2024, 1, 1), np.round(np.cumsum(gaps), 6)),
            "user_id": rng.integers(0, 150, e).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.maximum(0.01, np.round(rng.lognormal(3.5, 1.0, e), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup and
            # containment queries need true positives to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, d),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centroids = rng.normal(0.0, 0.14 / 8.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.123, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_fixture_tables(out_dir: str, seed: int = FIXTURE_SEED) -> dict[str, int]:
    """Write every fixture table as ``{out_dir}/{name}.parquet``; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


GRID_START_MS = 1_700_000_000_000 - 1_700_000_000_000 % 60_000
MINUTE_MS = 60_000


def candle_grid(seed: int, symbols: list[str], n_rows: int) -> dict[str, list[list]]:
    """Per symbol, ``n_rows`` contiguous 1-minute candles
    ``[ts, open, high, low, close, volume]`` from a seeded random walk."""
    rng = np.random.default_rng(seed)
    grid = {}
    for sym in symbols:
        close = 100.0 * np.exp(np.cumsum(rng.normal(0.0, 0.002, n_rows)))
        open_ = np.concatenate([[close[0]], close[:-1]])
        spread = np.abs(rng.normal(0.0, 0.001, n_rows)) * close
        high = np.maximum(open_, close) + spread
        low = np.minimum(open_, close) - spread
        volume = rng.gamma(2.0, 5.0, n_rows)
        ts = GRID_START_MS + MINUTE_MS * np.arange(n_rows, dtype=np.int64)
        grid[sym] = [
            [int(t), round(float(o), 6), round(float(h), 6), round(float(lo), 6),
             round(float(c), 6), round(float(v), 6)]
            for t, o, h, lo, c, v in zip(ts, open_, high, low, close, volume)
        ]
    return grid
