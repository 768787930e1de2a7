"""Randomized-content cross-engine fuzz (tenth robustness family).

The other sweeps perturb one axis each (NULLs, unicode, extremes, skew,
layout...).  This one generates WHOLE random star schemas — same table
schemas and value domains as the driver testdata, content drawn from a
seeded RNG with ~4% NULLs in every nullable column, malformed/missing
JSON props, FK orphans, negative balances, boundary prices — and runs
every oracle-paired query cross-engine on each.  Random composition
catches interaction classes no crafted fixture anticipates.

Strings stay ASCII and vectors stay uniform-dim/finite on purpose: the
unicode and embeddings sweeps own those axes, and their two documented
engine-LIBRARY divergences (utf8proc case folding, byte-vs-codepoint
levenshtein) would otherwise re-report here as noise.

Usage: PYTHONPATH=. python tools/fuzz_sweep.py [n_seeds]  (default 2)
"""

from __future__ import annotations

import datetime
import os
import shutil
import sys
import tempfile

sys.path.insert(0, ".")
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sanctum_spark.session import get_spark
from tools.verify_local import sweep

WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spell event topic state store shuffle broadcast filter "
    "agg group limit rank dense row count sum min max avg data code plan"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]
DIM = 64


def _maybe_null(rng, vals, rate=0.04):
    return [None if rng.random() < rate else v for v in vals]


def _text(rng, lo=3, hi=60):
    return " ".join(rng.choice(WORDS) for _ in range(rng.integers(lo, hi)))


def build_tables(dst: str, seed: int) -> None:
    rng = np.random.default_rng(seed)

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array([f"REGION_{i}" for i in range(5)], pa.string()),
    }), f"{dst}/region.parquet")

    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    }), f"{dst}/nation.parquet")

    nc = 120
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(1, nc + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, nc + 1)], pa.string()),
        # a few orphan nationkeys (25..27) — q136 counts them identically
        "c_nationkey": pa.array(rng.integers(0, 28, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)], pa.string()),
    }), f"{dst}/customer.parquet")

    ns = 10
    pq.write_table(pa.table({
        "s_suppkey": pa.array(range(1, ns + 1), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, ns + 1)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2), pa.float64()),
    }), f"{dst}/supplier.parquet")

    npart = 150
    pq.write_table(pa.table({
        "p_partkey": pa.array(range(1, npart + 1), pa.int64()),
        "p_name": pa.array([_text(rng, 2, 5) for _ in range(npart)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 6, npart)], pa.string()),
        "p_type": pa.array([f"TYPE {i}" for i in rng.integers(0, 8, npart)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        # include sub-1 prices: the Benford gate's inclusive >=1 boundary
        "p_retailprice": pa.array(np.round(rng.uniform(0.5, 2000, npart), 2), pa.float64()),
    }), f"{dst}/part.parquet")

    no = 1000
    odates = [
        datetime.datetime(1996, 1, 1) + datetime.timedelta(days=int(d))
        for d in rng.integers(0, 900, no)
    ]
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(1, no + 1), pa.int64()),
        # orphans beyond nc — identical on both engines
        "o_custkey": pa.array(rng.integers(1, nc + 8, no), pa.int64()),
        "o_orderstatus": pa.array([["O", "F", "P"][i] for i in rng.integers(0, 3, no)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1, 400000, no), 2), pa.float64()),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)], pa.string()),
    }), f"{dst}/orders.parquet")

    nl = 4000
    sdates = [
        datetime.datetime(1996, 1, 1) + datetime.timedelta(days=int(d))
        for d in rng.integers(0, 1000, nl)
    ]
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(1, no + 1, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, npart + 1, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, ns + 1, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64"), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(1, 100000, nl), 2), pa.float64()),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2), pa.float64()),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, nl)], pa.string()),
        "l_linestatus": pa.array([["O", "F"][i] for i in rng.integers(0, 2, nl)], pa.string()),
        "l_shipdate": pa.array(sdates, pa.timestamp("us")),
    }), f"{dst}/lineitem.parquet")

    ne = 2500
    base = datetime.datetime(2024, 1, 1)
    tss = sorted(base + datetime.timedelta(microseconds=int(u))
                 for u in rng.integers(0, 30 * 86400 * 1_000_000, ne))
    props = []
    for _ in range(ne):
        r = rng.random()
        if r < 0.05:
            props.append(None)
        elif r < 0.08:
            props.append("{not json")          # malformed
        elif r < 0.11:
            props.append('{"k": "txt"}')       # non-numeric k
        elif r < 0.13:
            props.append('{"other": 1}')       # missing k
        elif r < 0.16:
            # QUOTED integer string: Spark try_cast parses it, so the
            # oracle must too (r7, sql_json_int VARCHAR arm)
            props.append('{"k": "%d"}' % rng.integers(0, 100))
        elif r < 0.18:
            # negative k: n = k%3+1 can be 0 or -1 (q84 zero fan-out)
            props.append('{"k": %d}' % rng.integers(-10, 0))
        elif r < 0.20:
            # quoted decimal / padded quoted int: NULL vs trim parity
            props.append(
                rng.choice(['{"k": "3.7"}', '{"k": " 5 "}', '{"k": "+7"}'])
            )
        else:
            props.append('{"k": %d}' % rng.integers(0, 100))
    pq.write_table(pa.table({
        "event_id": pa.array(range(1, ne + 1), pa.int64()),
        "ts": pa.array(tss, pa.timestamp("us")),
        "user_id": pa.array(_maybe_null(rng, [int(u) for u in rng.integers(1, 60, ne)]), pa.int64()),
        "event_type": pa.array(_maybe_null(rng, [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)], 0.02), pa.string()),
        "value": pa.array(_maybe_null(rng, [float(v) for v in np.round(rng.uniform(-50, 150, ne), 3)]), pa.float64()),
        "props": pa.array(props, pa.string()),
    }), f"{dst}/events.parquet")

    nd = 300
    texts = _maybe_null(rng, [_text(rng, 3, 80) for _ in range(nd)], 0.03)
    # duplicate clusters so the dedup family has real work
    for i in range(0, nd, 11):
        if i + 1 < nd and texts[i] is not None:
            texts[i + 1] = texts[i]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(1, nd + 1), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, nd)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)], pa.string()),
        "n_chars": pa.array([len(t) if t is not None else None for t in texts], pa.int64()),
    }), f"{dst}/documents.parquet")

    nv = 300
    vecs = rng.normal(0, 1, (nv, DIM)).astype("float32")
    vecs[7] = 0.0  # one zero vector: pinned NULL-cosine semantics
    pq.write_table(pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    }), f"{dst}/embeddings.parquet")


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("fuzz_sweep")
    any_bad = False
    for seed in range(1, n_seeds + 1):
        sf = tempfile.mkdtemp(prefix=f"sf_fuzz_{seed}_")
        build_tables(sf, seed=20260814 + seed)
        print(f"=== fuzz seed {seed} -> {sf}")
        any_bad = bool(sweep(spark, sf)) or any_bad
        shutil.rmtree(sf, ignore_errors=True)
    return 1 if any_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
