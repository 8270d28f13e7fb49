"""Seeded synthetic tables in the layout every registry query reads.

The registry (``riptable_spark.queries*``) reads ten parquet tables from
one directory: a TPC-H-like star schema (region, nation, customer,
supplier, part, orders, lineitem), an ``events`` click stream, a
``documents`` corpus and an ``embeddings`` table.  This module writes
them at a scale factor ``sf`` with the same column names, types and
value distributions, so the benchmark needs nothing outside its
checkout:

- row counts scale like TPC-H (lineitem 6M x sf, orders 1.5M x sf, ...);
  ``documents`` and ``embeddings`` have floors of 500 rows;
- ``events`` keeps ~67 events per user over 30 days of microsecond
  timestamps, values exponential with mean 50;
- 5% of documents are an earlier document plus the token ``dup``, so the
  near-duplicate and similarity queries find pairs;
- every file is written in row groups of ROW_GROUP_SIZE rows, so a scan
  of a fact table over that size runs as several tasks.

    python3 perfbench/datagen.py OUT_DIR SF [SEED]

writes the tables into OUT_DIR and checks their row counts.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

# the fixed cardinalities behind every table size at sf=1
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
FLOORS = {"documents": 500, "embeddings": 500}
ROW_GROUP_SIZE = 100_000


def table_rows(sf: float) -> dict[str, int]:
    return {
        t: max(FLOORS.get(t, 1), int(round(n * sf))) for t, n in BASE_ROWS.items()
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    rows = table_rows(sf)
    out: dict[str, pa.Table] = {}
    i32 = pa.int32()

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )

    n = rows["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )

    n = rows["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )

    n = rows["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )

    n_orders = rows["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, rows["customer"], n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_orders),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )

    n = rows["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, rows["part"], n),
            "l_suppkey": rng.integers(0, rows["supplier"], n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n),
        }
    )

    n = rows["events"]
    span_us = 30 * 86400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, (n * 3) // 200), n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )

    n = rows["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    n = rows["embeddings"]
    vecs = rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), i32),
        }
    )
    return out


def write_dataset(out_dir: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet`` (zstd). Returns
    the row count per table. Writes to a temporary name first so a killed
    run never leaves a half-written dataset behind."""
    tmp = out_dir + ".partial"
    os.makedirs(tmp, exist_ok=True)
    counts = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       compression="zstd", row_group_size=ROW_GROUP_SIZE)
        counts[name] = table.num_rows
    os.rename(tmp, out_dir)
    return counts


def main(argv: list[str]) -> int:
    out_dir, sf = argv[0], float(argv[1])
    seed = int(argv[2]) if len(argv) > 2 else 42
    counts = write_dataset(out_dir, sf, seed)
    expected = table_rows(sf)
    for table, n in counts.items():
        on_disk = pq.ParquetFile(os.path.join(out_dir, f"{table}.parquet")).metadata.num_rows
        if on_disk != n or n != expected.get(table, n):
            print(f"generated {table} has {on_disk} rows, expected {expected.get(table, n)}",
                  file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
