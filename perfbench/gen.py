"""Seeded input generator for the benchmark.

Writes the ten tables the registry queries read (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the schemas and value distributions of the repository's
TPC-H-ish test data, and the CSV shards the ``etl_pipeline`` workload
pulls. The same ``(seed, scale)`` always writes byte-identical files; no
Spark is involved, so generation stays outside every timed region and
costs well under a second at the scales the benchmark uses.

``scale`` follows the test data's scale factor: at ``scale=0.001``
lineitem has 6,000 rows, orders 1,500, customer 150.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "red", "small", "big", "green", "hot", "fast"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400_000_000


def _rows(base: int, scale: float, floor: int) -> int:
    return max(floor, int(round(base * scale)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, n_days, n) * _DAY_US).astype("timedelta64[us]")


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _documents(rng, n: int) -> pd.DataFrame:
    lens = rng.integers(10, 101, n)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # one doc in twenty is a near-duplicate: an earlier doc plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n: int) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(0.0, 0.018, (10, 64))
    x = rng.normal(0.0, 0.125, (n, 64)) + centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype("float32")
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(x),
        "label": labels,
    })


def make_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = _rows(150_000, scale, 150)
    n_supp = _rows(10_000, scale, 10)
    n_part = _rows(200_000, scale, 200)
    n_ord = _rows(1_500_000, scale, 1_500)
    n_li = _rows(6_000_000, scale, 6_000)
    n_ev = _rows(1_000_000, scale, 1_000)
    n_users = _rows(150_000, scale, 15)
    n_docs = _rows(50_000, scale, 500)
    n_emb = _rows(20_000, scale, 500)

    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS,
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    for name, df in t.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in t.items()}


def make_csv_shards(
    out_dir: str, seed: int, n_shards: int, lineitem_rows: int
) -> dict[str, object]:
    """Write ``n_shards`` lineitem CSV shards and one orders CSV.

    Every cell is text, as a pulled CSV is: numbers in plain notation,
    dates as ``YYYY-MM-DD``. Returns the file paths and row counts.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_ord = max(1, lineitem_rows // 4)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, max(1, n_ord // 10), n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        "o_orderdate": pd.to_datetime(_days(rng, "1995-01-01", 2400, n_ord)).strftime("%Y-%m-%d"),
    })
    orders_path = os.path.join(out_dir, "orders.csv")
    orders.to_csv(orders_path, index=False, quoting=csv.QUOTE_MINIMAL)
    shards = []
    for s in range(n_shards):
        n = lineitem_rows
        li = pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n),
            "l_linenumber": rng.integers(1, 8, n),
            "l_quantity": rng.integers(1, 51, n),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_shipdate": pd.to_datetime(_days(rng, "1995-01-02", 2499, n)).strftime("%Y-%m-%d"),
        })
        path = os.path.join(out_dir, f"lineitem_{s:02d}.csv")
        li.to_csv(path, index=False, float_format="%.2f")
        shards.append(path)
    return {
        "orders": orders_path,
        "orders_rows": n_ord,
        "lineitem": shards,
        "lineitem_rows": lineitem_rows,
    }
