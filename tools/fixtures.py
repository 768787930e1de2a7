"""Catalogue of robustness inputs for tools/sweep.py and
tests/test_fixture_matrix.py.

Each fixture is one builder ``(src, dst)`` that reads the source tables
under ``src`` and writes under ``dst`` only the tables it changes, which
it declares in ``Fixture.tables``; ``materialize`` copies the rest, so
the result is a complete table directory every registered query can
read.  Every table written keeps its source schema.

The nine crafted fixtures (``CRAFTED``):

- empty: zero-row copies of every table;
- duplicate: 400 documents sharing two texts (80% one, 20% the other):
  giant dedup clusters, saturated shingle sets, constant digests;
- embeddings: NULL / empty / ragged-dimension / NaN / Inf vectors and a
  NULL label appended;
- relational_nulls: NULL join keys, amounts, dates, names and flags
  appended to the TPC-H tables;
- extreme: events at ±1e12..1e15 values, pre-epoch and year-2262
  timestamps;
- unicode: CJK without spaces, ZWJ emoji, combining marks, Turkish I
  forms, NBSP / ideographic space and RTL Arabic documents;
- hotkey: one user owns 80% of events (those rows one event_type), one
  customer 80% of orders, one supplier 80% of lineitem;
- degenerate: NULL / empty / whitespace text, NULL user_id, event_type
  and value, NULL and malformed JSON props, non-numeric, fractional,
  quoted and negative ``$.k`` values;
- null_keys: documents with a NULL doc_id (one repeating an existing
  document's text, one with NULL text) and one doc_id held by a second
  row whose text is a near-duplicate of its first.

Beyond them: ``fuzz`` and ``fuzz2``, two seeded random star schemas
(~4% NULLs in every nullable column, malformed or missing JSON props,
FK orphans, negative balances, boundary prices; ASCII text and finite
uniform-dimension vectors, which unicode and embeddings own), and
``layout``, every table row-permuted and rewritten in small row groups
for the layout invariance axis.

``Fixture.diverges`` lists the queries whose oracle compare is known to
fail on the fixture, for the reason in ``Fixture.why``; every other
problem is a defect.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
from dataclasses import dataclass
from functools import partial
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sanctum_spark.io import TABLES


@dataclass(frozen=True)
class Fixture:
    build: Callable[[str, str], None]
    tables: tuple[str, ...]
    diverges: frozenset[str] = frozenset()
    why: str = ""


def _path(d: str, table: str) -> str:
    return os.path.join(d, f"{table}.parquet")


def _write(dst: str, table: str, tbl: pa.Table, **kw) -> None:
    pq.write_table(tbl.replace_schema_metadata(None), _path(dst, table), **kw)


def from_columns(schema: pa.Schema, cols: dict[str, list]) -> pa.Table:
    """The rows in ``cols`` ({column: values}) in ``schema``; a column
    left out is NULL."""
    n = len(next(iter(cols.values()), []))
    return pa.Table.from_arrays(
        [pa.array(cols.get(f.name, [None] * n), f.type) for f in schema],
        schema=schema,
    )


def _append(src: str, dst: str, table: str, cols: dict[str, list]) -> None:
    """``table`` from ``src`` plus the rows in ``cols``, in the source
    schema (``from_columns``)."""
    tbl = pq.read_table(_path(src, table))
    extra = from_columns(tbl.schema, cols)
    _write(dst, table, pa.concat_tables([tbl, extra]))


def _remap(tbl: pa.Table, col: str, hot) -> pa.Table:
    """Point ``col`` at ``hot`` on 4 of every 5 rows (row i % 5 == 0
    keeps its value)."""
    vals = [v if i % 5 == 0 else hot
            for i, v in enumerate(tbl[col].to_pylist())]
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, tbl.schema.field(i),
                          pa.array(vals, tbl[col].type))


def empty(src: str, dst: str) -> None:
    for t in TABLES:
        _write(dst, t, pq.read_schema(_path(src, t)).empty_table())


def duplicate(src: str, dst: str) -> None:
    text_a = " ".join(f"alpha{i % 7} beta{i % 5}" for i in range(30))
    text_b = " ".join(f"gamma{i % 6} delta{i % 4}" for i in range(25))
    texts = [text_a if i % 5 else text_b for i in range(400)]
    schema = pq.read_schema(_path(src, "documents"))
    _write(dst, "documents", pa.table({
        "doc_id": list(range(1, len(texts) + 1)),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["s1" if i % 3 else "s2" for i in range(len(texts))],
        "n_chars": [len(t) for t in texts],
    }, schema=schema))


def embeddings(src: str, dst: str) -> None:
    dim = len(pq.read_table(_path(src, "embeddings"))["embedding"][0])
    _append(src, dst, "embeddings", {
        "vec_id": [920001, 920002, 920003, 920004, 920005, 920006],
        "embedding": [None, [], [1.0, 2.0],              # NULL, empty, ragged
                      [float("nan")] * dim, [float("inf")] * dim,
                      [0.5] * dim],
        "label": [0, 0, 0, 1, 1, None],
    })


def relational_nulls(src: str, dst: str) -> None:
    d = datetime.datetime(2024, 1, 1)
    _append(src, dst, "customer", {
        "c_custkey": [980001, 980002], "c_acctbal": [None, 5.0],
        "c_nationkey": [None, 1], "c_mktsegment": [None, "BUILDING"],
        "c_name": ["NullCo", None]})
    _append(src, dst, "orders", {
        "o_orderkey": [970001, 970002], "o_custkey": [980001, None],
        "o_totalprice": [None, 10.0], "o_orderdate": [None, d],
        "o_orderstatus": [None, "O"], "o_orderpriority": [None, "1-URGENT"]})
    _append(src, dst, "lineitem", {
        "l_orderkey": [970001, None], "l_partkey": [None, 1],
        "l_suppkey": [None, 1], "l_linenumber": [None, 1],
        "l_quantity": [None, 1.0], "l_extendedprice": [None, 2.0],
        "l_discount": [None, 0.1], "l_tax": [None, 0.0],
        "l_returnflag": [None, "N"], "l_linestatus": [None, "O"],
        "l_shipdate": [None, d]})
    _append(src, dst, "part", {"p_partkey": [960001]})
    _append(src, dst, "supplier", {"s_suppkey": [950001]})


def extreme(src: str, dst: str) -> None:
    ts = datetime.datetime
    rows = [
        (9910001, ts(2024, 1, 1), 991001, "view", -5.5),
        (9910002, ts(2024, 1, 1), 991001, "view", -1e12),
        (9910003, ts(2024, 1, 1), 991002, "purchase", 1e15),
        (9910004, ts(2262, 1, 1), 991003, "view", 1.0),
        (9910005, ts(1969, 12, 30), 991004, "click", 2.0),
        (9910006, ts(1901, 6, 15), 991004, "view", 3.0),
        # pre-epoch purchases: negative epoch-week arithmetic through q112
        # (integer // and DIV both truncate toward zero)
        (9910007, ts(1969, 12, 28), 991005, "purchase", 1.0),
        (9910008, ts(1969, 1, 5), 991005, "purchase", 1.0),
    ]
    _append(src, dst, "events", {
        **dict(zip(("event_id", "ts", "user_id", "event_type", "value"),
                   map(list, zip(*rows)))),
        "props": ["{}"] * len(rows),
    })


def unicode(src: str, dst: str) -> None:
    texts = [
        "漢字テキストに空白なし続くテキスト",
        "emoji 👨‍👩‍👧‍👦 text 🎉 done",
        "café résumé naive",
        "İstanbul DİYARBAKIR ılık IŞIK",   # the documented lower() divergence
        "nbsp\u00a0bound\u00a0tokens here",
        "wide　ideographic　space",
        "نص عربي من اليمين إلى اليسار",
        "Mixed 漢字 and عربي and 🎉 and ascii",
    ]
    _append(src, dst, "documents", {
        "doc_id": list(range(910001, 910001 + len(texts))),
        "text": texts,
        "lang": ["xx"] * len(texts),
        "source": ["uni"] * len(texts),
        "n_chars": [len(t) for t in texts],
    })


def hotkey(src: str, dst: str) -> None:
    ev = pq.read_table(_path(src, "events"))
    ev = _remap(ev, "user_id", ev["user_id"][0].as_py())
    _write(dst, "events", _remap(ev, "event_type", "click"))
    for table, col in (("orders", "o_custkey"), ("lineitem", "l_suppkey")):
        tbl = pq.read_table(_path(src, table))
        _write(dst, table, _remap(tbl, col, tbl[col][0].as_py()))


def degenerate(src: str, dst: str) -> None:
    _append(src, dst, "documents", {
        "doc_id": [900001, 900002, 900003],
        "text": [None, "", "   "],
        "lang": ["en", None, "xx"],
        "source": ["s_null", "s_empty", None],
        "n_chars": [0, 0, 3],
    })
    k = lambda v: json.dumps({"k": v})  # noqa: E731
    rows = [
        # (event_id, user_id, event_type, value, props)
        (9900001, 990001, None, None, None),
        (9900002, None, "view", 1.0, "not json"),
        (9900003, 990002, "view", None, k(4)),      # NULL value, valid k
        (9900004, 990002, "view", 2.0, k("abc")),   # non-numeric k
        (9900005, 990002, "view", 3.0, k(3.7)),     # fractional k
        (9900006, 990003, "view", 4.0, k("5")),     # quoted int: try_cast -> 5
        (9900007, 990003, "view", 5.0, k("3.7")),   # quoted decimal: NULL
        (9900008, 990003, "view", 6.0, k(" 5 ")),   # quoted padded int -> 5
        (9900009, 990003, "view", 7.0, k(-1)),      # k%3+1 == 0: q84 fan-out 0
        (9900010, 990003, "view", 8.0, k("-2")),    # quoted negative: n == -1
    ]
    _append(src, dst, "events", {
        **dict(zip(("event_id", "user_id", "event_type", "value", "props"),
                   map(list, zip(*rows)))),
        "ts": [datetime.datetime(2023, 11, 14, 22, 13, 20)] * len(rows),
    })


def null_keys(src: str, dst: str) -> None:
    docs = pq.read_table(_path(src, "documents"))
    texts = docs["text"].to_pylist()
    i = next(k for k, t in enumerate(texts) if t and t.strip())
    doc_id, text = docs["doc_id"][i].as_py(), texts[i]
    near = text + " appended"
    _append(src, dst, "documents", {
        "doc_id": [None, None, doc_id],
        "text": [text, None, near],
        "lang": ["en", "en", "en"],
        "source": ["s_null_id", "s_null_id", "s_repeat"],
        "n_chars": [len(text), None, len(near)],
    })


WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spell event topic state store shuffle broadcast filter "
    "agg group limit rank dense row count sum min max avg data code plan"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]


def fuzz(src: str, dst: str, seed: int) -> None:
    """A whole random star schema from ``seed``, in the source schemas;
    ``src`` supplies only the schemas."""
    rng = np.random.default_rng(seed)

    def null(vals, rate=0.04):
        return [None if rng.random() < rate else v for v in vals]

    def text(lo=3, hi=60):
        return " ".join(rng.choice(WORDS) for _ in range(rng.integers(lo, hi)))

    def write(table, cols):
        schema = pq.read_schema(_path(src, table))
        _write(dst, table, pa.table(cols, schema=schema))

    def days(start, n, span):
        return [start + datetime.timedelta(days=int(d))
                for d in rng.integers(0, span, n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": range(5),
                     "r_name": [f"REGION_{i}" for i in range(5)]})
    write("nation", {"n_nationkey": range(25),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": rng.integers(0, 5, 25)})
    nc = 120
    write("customer", {
        "c_custkey": range(1, nc + 1),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        # a few orphan nationkeys (25..27)
        "c_nationkey": rng.integers(0, 28, nc),
        "c_acctbal": money(-999, 9999, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = 10
    write("supplier", {
        "s_suppkey": range(1, ns + 1),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": rng.integers(0, 25, ns),
        "s_acctbal": money(-999, 9999, ns),
    })
    npart = 150
    write("part", {
        "p_partkey": range(1, npart + 1),
        "p_name": [text(2, 5) for _ in range(npart)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 6, npart)],
        "p_type": [f"TYPE {i}" for i in rng.integers(0, 8, npart)],
        "p_size": rng.integers(1, 51, npart),
        # sub-1 prices: the Benford gate's inclusive >=1 boundary
        "p_retailprice": money(0.5, 2000, npart),
    })
    no = 1000
    start = datetime.datetime(1996, 1, 1)
    odates = days(start, no, 900)
    write("orders", {
        "o_orderkey": range(1, no + 1),
        "o_custkey": rng.integers(1, nc + 8, no),  # orphans beyond nc
        "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(1, 400000, no),
        "o_orderdate": odates,
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = 4000
    sdates = days(start, nl, 1000)
    write("lineitem", {
        "l_orderkey": rng.integers(1, no + 1, nl),
        "l_partkey": rng.integers(1, npart + 1, nl),
        "l_suppkey": rng.integers(1, ns + 1, nl),
        "l_linenumber": rng.integers(1, 8, nl),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": money(1, 100000, nl),
        "l_discount": money(0, 0.1, nl),
        "l_tax": money(0, 0.08, nl),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": sdates,
    })
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
            # quoted integer string: Spark try_cast parses it, so the
            # oracle must too (sql_json_int VARCHAR arm)
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
    write("events", {
        "event_id": range(1, ne + 1),
        "ts": tss,
        "user_id": null([int(u) for u in rng.integers(1, 60, ne)]),
        "event_type": null([EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
                           0.02),
        "value": null([float(v)
                       for v in np.round(rng.uniform(-50, 150, ne), 3)]),
        "props": props,
    })
    nd = 300
    texts = null([text(3, 80) for _ in range(nd)], 0.03)
    # duplicate clusters so the dedup family has real work
    for i in range(0, nd, 11):
        if i + 1 < nd and texts[i] is not None:
            texts[i + 1] = texts[i]
    write("documents", {
        "doc_id": range(1, nd + 1),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": [len(t) if t is not None else None for t in texts],
    })
    nv, dim = 300, 64
    vecs = rng.normal(0, 1, (nv, dim)).astype("float32")
    vecs[7] = 0.0  # one zero vector: pinned NULL-cosine semantics
    write("embeddings", {
        "vec_id": range(nv),
        "embedding": [v.tolist() for v in vecs],
        "label": rng.integers(0, 10, nv),
    })


def layout(src: str, dst: str) -> None:
    """Every table row-permuted (seeded) and rewritten in many small row
    groups, so a small maxPartitionBytes gives many scan splits."""
    rng = np.random.RandomState(20260814)
    for t in TABLES:
        tbl = pq.read_table(_path(src, t))
        _write(dst, t, tbl.take(rng.permutation(len(tbl))),
               row_group_size=max(16, len(tbl) // 8))


CRAFTED = ("empty", "duplicate", "embeddings", "relational_nulls",
           "extreme", "unicode", "hotkey", "degenerate", "null_keys")

FIXTURES: dict[str, Fixture] = {
    "empty": Fixture(
        empty, TABLES, frozenset({"q30_rollup", "q31_cube",
                                  "q32_grouping_sets"}),
        "the () grouping set: DuckDB emits the standard grand-total row "
        "(COUNT 0) on an empty table, Spark emits none; pinned from both "
        "sides by tests/test_empty_input.py::"
        "test_rollup_grand_total_divergence_documented"),
    "duplicate": Fixture(duplicate, ("documents",)),
    "embeddings": Fixture(embeddings, ("embeddings",)),
    "relational_nulls": Fixture(
        relational_nulls, ("customer", "orders", "lineitem", "part",
                           "supplier")),
    "extreme": Fixture(
        extreme, ("events",),
        frozenset({"q89_dispersion", "q100_hypertable_rollup",
                   "q153_dtw_similarity"}),
        "pin-domain limits, not semantic divergences: q153's fixed-point "
        "DTW oracle needs |x|*10^s < 2^63, and q89/q100's decimal pins "
        "lose meaning once one ulp exceeds the decimal grain (the DOMAIN "
        "note in sanctum_spark/queries/util.py)"),
    "unicode": Fixture(
        unicode, ("documents",),
        frozenset({"q77_text_profile", "q106_tfidf_terms",
                   "q110_context_chunks", "q114_textrank_keywords",
                   "q122_lm_score"}),
        "lower('İ') (U+0130): the JVM's full case mapping vs DuckDB's "
        "utf8proc simple folding; pinned from both sides by tests/"
        "test_edge_invariants_b10.py::"
        "test_documented_case_and_levenshtein_divergences"),
    "hotkey": Fixture(hotkey, ("events", "orders", "lineitem")),
    "degenerate": Fixture(degenerate, ("documents", "events")),
    "null_keys": Fixture(null_keys, ("documents",)),
    "fuzz": Fixture(partial(fuzz, seed=20260815), TABLES),
    "fuzz2": Fixture(partial(fuzz, seed=20260816), TABLES),
    "layout": Fixture(layout, TABLES),
}


def materialize(name: str, src: str, dst: str) -> str:
    """Build fixture ``name`` from ``src`` into directory ``dst``,
    copying the tables it does not change; returns ``dst``."""
    fx = FIXTURES[name]
    os.makedirs(dst, exist_ok=True)
    fx.build(src, dst)
    for t in TABLES:
        if t not in fx.tables:
            shutil.copy(_path(src, t), _path(dst, t))
    return dst
