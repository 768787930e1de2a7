"""Seeded synthetic inputs in the schema of the repository's star-schema
test tables: the ones the benchmark reads (region nation customer
supplier orders lineitem events documents), one parquet file each.

The same ``(seed, sf)`` always writes byte-identical tables. Row counts
scale with ``sf`` the way the reference tables do (lineitem = 6 M x sf).
Distributions follow the reference tables closely enough that every
benchmark query returns a non-trivial result: uniform keys, Poisson
line counts per order, exponential event gaps and values, a 30-word
document vocabulary with a share of near-duplicate documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "fr", "de", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), choices).cast(pa.string())


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 50)
    n_users = max(int(15_000 * sf), 10)

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
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, span_days, n_ord) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    n_li = 4 * n_ord
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 50), n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, span_days + 95, n_li) * DAY_US),
        }
    )
    gaps = rng.exponential(26e6, n_ev).astype("int64") + 1
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_doc):
        if len(originals) > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier original, one marker word added.
            # Never a copy of a copy: every cluster is a star, so the
            # number of connected-components rounds does not vary by seed.
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group
    each, like the reference tables) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return out_dir
