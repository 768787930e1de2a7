"""Cross-engine invariants, batch 15: least()/greatest() null-skip vs
the null-propagation guard pattern (found by the r8 fuzz sweep).

Spark's ``least``/``greatest`` return the least/greatest NON-NULL
argument — they SKIP nulls instead of propagating them.  The
branch-free short-input guards in this repo (shingle_tokens,
char_ngrams, hashed_word_windows) rely on NULL input PROPAGATING
through the window-count arithmetic so the final coalesce turns it
into an empty array.  ``hashed_word_windows``'s cap clamp broke that
chain: ``least(n, lit(cap))`` resurrected ``n = cap`` on NULL text, so
a NULL document emitted ``cap`` copies of ``xxhash64(NULL) = 42`` — a
phantom shingle shared by EVERY source containing one NULL doc, which
the fuzz sweep surfaced as a q142 containment-matrix divergence
(Spark 106 rows vs oracle 52 on the seed-1 fuzz schema).  The fix
anchors the cap null-propagatingly (``size(t)*0 + cap``).
"""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import functions as F

from test_edge_invariants import _both


def test_hashed_word_windows_null_text_with_cap(spark):
    """NULL/empty/short text yields an EMPTY window array even when a
    cap is set (the null-skip trap fired only on the capped path)."""
    from sanctum_spark.operators.dedup import hashed_word_windows

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c"), (4, "a b c d e f")],
        ["id", "text"],
    )
    for cap in (None, 199, 1):
        rows = {
            r["id"]: r["w"]
            for r in df.select(
                "id", hashed_word_windows("text", k=5, cap=cap).alias("w")
            ).collect()
        }
        assert rows[1] == [], (cap, rows[1][:3])
        assert rows[2] == [] and rows[3] == []
        # 6 tokens, k=5 -> 2 windows; cap=1 clamps to the first
        assert len(rows[4]) == (2 if cap != 1 else 1) and 42 not in rows[4]


def test_q142_no_phantom_pair_from_null_docs(spark, tmp_path):
    """Two sources sharing NOTHING but a NULL doc each must produce an
    empty overlap matrix — the q142 shape of the phantom-shingle bug."""
    import sanctum_spark.queries as qreg

    qreg.load_all_modules()
    docs = spark.createDataFrame(
        [
            (1, None, "en", "sA", 0),
            (2, "alpha beta gamma delta epsilon zeta", "en", "sA", 36),
            (3, None, "en", "sB", 0),
            (4, "one two three four five six seven", "en", "sB", 33),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    out = qreg.REGISTRY["q142_cross_source_overlap"].fn(spark, sf).collect()
    assert out == [], [tuple(r) for r in out]


def test_round_half_boundary_and_signed_zero(spark, tmp_path):
    """The second r8 fuzz class: bare ROUND(float, 2) diverges
    cross-engine at half boundaries — Spark rounds the SHORTEST DECIMAL
    REPR of the double (BigDecimal.valueOf, so a binary value just
    below .xx5 that prints as '.xx5' rounds UP, and -0.0 normalizes to
    +0.0) where DuckDB rounds the true binary expansion and keeps IEEE
    signed zero.  q60/q50 moved to money_round (5e-7 eps, both sides)
    and q148/sql_money_round gained `+ 0.0` zero-sign normalization;
    these fixtures land exactly on the boundaries that diverged
    (545.835 sums, x.xx5 price products, a ~-0.005 day)."""
    import sanctum_spark.queries as qreg

    qreg.load_all_modules()
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path)
    ts = datetime.datetime(2024, 1, 15, 12, 0, 0)
    # q60/q148: one user's clicks sum to 545.835; another day sums to
    # -0.005 (the signed-zero row); a third user sums to -545.835.
    rows = [
        (1, 47, 545.0), (2, 47, 0.835),
        (3, 4, -40.299), (4, 4, 40.294),
        (5, 9, -545.0), (6, 9, -0.835),
    ]
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([ts] * len(rows), pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array(["click"] * len(rows), pa.string()),
        "value": pa.array([r[2] for r in rows], pa.float64()),
        "props": pa.array([None] * len(rows), pa.string()),
    }), f"{sf}/events.parquet")
    for name in ("q60_topic_routing", "q148_trailing_range_frame"):
        got, want = _both(spark, sf, name)
        pd.testing.assert_frame_equal(got, want)

    # q50: 2-decimal retail prices whose x1.1 product prints as .xx5
    pq.write_table(pa.table({
        "p_partkey": pa.array([1, 2], pa.int64()),
        "p_name": pa.array(["p one", "p two"], pa.string()),
        "p_brand": pa.array(["Brand#1", "Brand#2"], pa.string()),
        "p_type": pa.array(["TYPE 1", "TYPE 2"], pa.string()),
        "p_size": pa.array([5, 30], pa.int32()),
        "p_retailprice": pa.array([1148.85, 104.05], pa.float64()),
    }), f"{sf}/part.parquet")
    got, want = _both(spark, sf, "q50_scalar_functions")
    pd.testing.assert_frame_equal(got, want)
