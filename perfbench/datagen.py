"""Seeded input generation for the benchmark.

Two namespaces, both written with pyarrow (no Spark), so generation is
cheap and kept out of every timed region:

- `write_tpch(dir, sf, seed)`: the registry's star schema (region ..
  lineitem, events, documents, embeddings), one single-row-group parquet
  file per table, with the column names, types and value domains the
  registry entries and their DuckDB oracles expect.
- `write_replay_namespace(dir, ...)`: many multi-file lineitem-shaped
  tables for the hot-set replay. Quantity is an integer and price a
  decimal, so replay aggregates compare exactly against DuckDB.

The same (seed, size) always yields byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days_lo: int, days: np.ndarray) -> pa.Array:
    us = (days_lo + days).astype(np.int64) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier doc, lightly edited, tagged "dup"
            base = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(base)))
            base[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(base[:-1] + ["dup"]))
        elif i > 10 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    x = rng.normal(0.0, 1.0, (n, dim)) + 0.6 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tpch(out_dir: str, sf: float, seed: int) -> None:
    """Write the registry's ten tables at scale factor `sf`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = 5000 if sf >= 0.1 else 500
    n_vecs = 2000 if sf >= 0.1 else 500
    n_users = max(150, int(15_000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           os.path.join(out_dir, "nation.parquet"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    }), os.path.join(out_dir, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), os.path.join(out_dir, "supplier.parquet"))
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), os.path.join(out_dir, "part.parquet"))
    d0 = (dt.datetime(1995, 1, 1) - _EPOCH).days
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(d0, rng.integers(0, 2405, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    }), os.path.join(out_dir, "orders.parquet"))
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _ts(d0 + 1, rng.integers(0, 2498, n_line)),
    }), os.path.join(out_dir, "lineitem.parquet"))
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), os.path.join(out_dir, "events.parquet"))
    _write(_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    _write(_embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))


# ------------------------------------------------------------- replay namespace
def _codes(rng: np.random.Generator, values: list, n: int) -> pa.DictionaryArray:
    """`n` draws from `values`, dictionary-encoded (cheap to make and write)."""
    idx = rng.integers(0, len(values), n, dtype=np.int8)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values))


MEASURES = 13  # m00..m12


def lineitem_batch(rng: np.random.Generator, n: int, key0: int) -> pa.Table:
    """`n` lineitem-shaped rows with order keys from `key0`.

    The measure columns hold uniform random doubles, which neither
    parquet nor Spark's cache compresses: they set a table's cached size,
    while the aggregates never read them, so they add nothing to the
    cost of an uncached read."""
    cents = rng.integers(90_000, 10_500_000, n).astype("<i8")
    # decimal128 storage is the unscaled value as a 16-byte little-endian int
    unscaled = np.stack([cents, np.zeros_like(cents)], axis=1)
    price = pa.Array.from_buffers(
        pa.decimal128(12, 2), n, [None, pa.py_buffer(unscaled.tobytes())]
    )
    cols = {
        "l_orderkey": pa.array(key0 + np.arange(n), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, n), pa.int64()),
        "l_extendedprice": price,
        "l_returnflag": _codes(rng, ["A", "N", "R"], n),
        "l_linestatus": _codes(rng, ["F", "O"], n),
        "l_shipdate": pa.array(rng.integers(9131, 11627, n).astype(np.int32), pa.date32()),
    }
    for i in range(MEASURES):
        cols[f"m{i:02d}"] = pa.array(rng.random(n), pa.float64())
    return pa.table(cols)


def write_replay_namespace(
    out_dir: str, seed: int, n_tables: int, files_per_table: int, rows_per_file: int
) -> dict[str, int]:
    """Write tables `t00..` as `<name>/v0000/part-*.parquet`; returns each
    table's row count. Writes publish a new version directory."""
    rng = np.random.default_rng([seed, 2])
    rows = {}
    for t in range(n_tables):
        name = f"t{t:02d}"
        tdir = os.path.join(out_dir, name, "v0000")
        os.makedirs(tdir, exist_ok=True)
        for f in range(files_per_table):
            batch = lineitem_batch(rng, rows_per_file, f * rows_per_file)
            _write(batch, os.path.join(tdir, f"part-{f:05d}.parquet"))
        rows[name] = files_per_table * rows_per_file
    return rows
