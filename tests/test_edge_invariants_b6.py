"""Cross-engine threshold-edge invariants, batch 6: top-k cutoffs and
tie-breaks (q73 cosine, q101 vocab top-100, q106 TF-IDF top-3, q113
lateral top-3, q158 quality keeper), strict funnel ordering (q95),
histogram bin edges (q118), and FK orphan semantics incl. NULL keys
(q136).

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from test_edge_invariants import (
    DOCS,
    EMBEDDINGS,
    EVENTS,
    ORDERS,
    US,
    _both,
    _cols,
    _write,
)


def test_q73_topk_tie_at_cutoff(spark, tmp_path):
    """Cosine top-10 with a 9-way tie at cos 1.0: scaled copies of the
    query all score exactly 1.0 and order by vec_id; the 10th slot goes
    to the next-best cosine and the LIMIT cuts before the orthogonal
    (0.0) and opposite (-1.0) vectors."""
    rows = [(0, [1.0, 0.0], 0)]
    for vid in (1, 2, 3, 4):
        rows.append((vid, [2.0, 0.0], 0))   # cos exactly 1.0
    for vid in (8, 9, 10, 11, 12):
        rows.append((vid, [3.0, 0.0], 0))   # cos exactly 1.0
    rows += [(5, [1.0, 1.0], 1), (6, [0.0, 1.0], 1), (7, [-1.0, 0.0], 1)]
    # zero-norm candidate: NULL cosine on both engines (ranked last by
    # DESC), never an ANSI DIVIDE_BY_ZERO — the raw-`/` crash fixed in r6
    rows.append((13, [0.0, 0.0], 1))
    sf = _write(tmp_path, "embeddings", **_cols(EMBEDDINGS, rows))
    got, want = _both(spark, sf, "q73_cosine_topk")
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 10
    ids = set(got["vec_id"])
    assert ids == {"1", "2", "3", "4", "8", "9", "10", "11", "12", "5"}
    by_id = dict(zip(got["vec_id"], got["cos_sim"]))
    assert by_id["1"] == "1.0" and by_id["5"] == "0.70711"


def test_q95_strict_funnel_ordering(spark, tmp_path):
    """Funnel steps are STRICTLY ordered: a click at the exact view
    instant does not convert, a purchase at the exact click instant
    does not convert, and the funnel anchors at the FIRST view."""
    t = 1_700_000_000 * US
    s = US  # one second
    rows = [
        # u1: click at exactly t_view -> no conversion
        (1, t, 1, "view", 1.0), (2, t, 1, "click", 1.0),
        # u2: purchase at exactly t_click -> no conversion
        (3, t, 2, "view", 1.0), (4, t + s, 2, "click", 1.0),
        (5, t + s, 2, "purchase", 1.0),
        # u3: proper strict chain
        (6, t, 3, "view", 1.0), (7, t + s, 3, "click", 1.0),
        (8, t + 2 * s, 3, "purchase", 1.0),
        # u4: purchase without a click after the view
        (9, t, 4, "view", 1.0), (10, t + s, 4, "purchase", 1.0),
        # u5: a LATER second view must not re-anchor the funnel
        (11, t, 5, "view", 1.0), (12, t + 5 * s, 5, "view", 1.0),
        (13, t + 2 * s, 5, "click", 1.0), (14, t + 3 * s, 5, "purchase", 1.0),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q95_funnel")
    pd.testing.assert_frame_equal(got, want)
    by_user = {r["user_id"]: r for _, r in got.iterrows()}
    assert set(by_user) == {"3", "5"}
    assert by_user["5"][["t_view_us", "t_click_us", "t_purchase_us"]].tolist() == [str(t), str(t + 2 * s), str(t + 3 * s)]


def test_q101_top100_cutoff_tie(spark, tmp_path):
    """Vocab top-100 at the cutoff: 149 count-1 bigrams tie behind one
    count-2 bigram, so slots 2..100 are decided purely by the bigram ASC
    total order — the 99th smallest survives, the 100th does not."""
    toks = [f"w{i:03d}" for i in range(1, 151)]
    doc1 = " ".join(toks)                       # 149 distinct bigrams
    doc2 = "w001 w002"                          # lifts one bigram to 2
    rows = [(1, doc1, "en", "s", len(doc1)), (2, doc2, "en", "s", len(doc2))]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q101_vocab_bigrams")
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 100
    bigrams = set(got["bigram"])
    assert "w001 w002" in bigrams
    assert "w100 w101" in bigrams       # the 99th count-1 bigram: last in
    assert "w101 w102" not in bigrams   # the 100th: first out
    counts = dict(zip(got["bigram"], got["n"]))
    assert counts["w001 w002"] == "2"


def test_q106_idf_zero_and_term_ties(spark, tmp_path):
    """TF-IDF edges: a term in EVERY doc has idf exactly 0 (high tf
    cannot rescue it); equal-tfidf terms rank by term ASC; a 4-way tie
    at the rk<=3 cutoff drops exactly the lexicographically largest."""
    rows = [
        (1, "common common common u1 u2", "en", "s", 27),
        (2, "common x1", "en", "s", 9),
        (3, "common y1 y2 y3", "en", "s", 15),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q106_tfidf_terms")
    pd.testing.assert_frame_equal(got, want)
    ln3 = f"{round(math.log(3) + 1e-9, 6)}"
    d1 = {r["rk"]: (r["term"], r["tfidf"]) for _, r in got.iterrows() if r["doc_id"] == "1"}
    assert d1 == {"1": ("u1", ln3), "2": ("u2", ln3), "3": ("common", "0.0")}
    d3 = {r["rk"]: r["term"] for _, r in got.iterrows() if r["doc_id"] == "3"}
    assert d3 == {"1": "y1", "2": "y2", "3": "y3"}  # common (idf 0) cut


def test_q113_lateral_top3_tie(spark, tmp_path):
    """Correlated top-3 orders per customer: a 3-way price tie at the
    cutoff resolves by o_orderkey ASC, exactly-3 and single-order
    customers pass through whole, and order-less customers vanish
    (inner lateral)."""
    d = pd.Timestamp("2024-01-01").value // 1000
    # q113's Spark side registers ALL table views; satisfy the unused
    # ones from the smallest generated fixture set.
    import shutil

    from conftest import SF_DIR

    for t in ("region", "nation", "supplier", "part", "lineitem",
              "events", "documents", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path)
    keys = [1, 2, 3, 4]
    _write(tmp_path, "customer", c_custkey=keys, c_nationkey=[0] * 4,
           c_name=[f"Customer#{k}" for k in keys])
    _write(
        tmp_path, "orders",
        **_cols(ORDERS, [
            (101, 1, "O", 10.0, d), (102, 1, "O", 9.0, d),
            (103, 1, "O", 9.0, d), (104, 1, "O", 9.0, d),  # tie: 104 out
            (201, 2, "O", 5.0, d), (202, 2, "O", 4.0, d), (203, 2, "O", 3.0, d),
            (301, 3, "O", 1.0, d),
        ]),
    )
    got, want = _both(spark, str(tmp_path), "q113_lateral_topk")
    pd.testing.assert_frame_equal(got, want)
    per_cust = got.groupby("c_custkey")["o_orderkey"].apply(set).to_dict()
    assert per_cust == {
        "1": {"101", "102", "103"},
        "2": {"201", "202", "203"},
        "3": {"301"},
    }


def test_q118_bin_edges_and_constant_group(spark, tmp_path):
    """Equi-width histogram edges: interior bin boundaries are
    closed-left, the max value folds into the last bin (floor gives 10,
    clamped to 9), and a constant group collapses to bin 9 — the NULLIF
    guard yields a NULL bin expression, and LEAST(NULL, 9) skips the
    NULL on BOTH engines (never a divide error)."""
    t = 1_700_000_000 * US
    rows = [
        (1, t, 1, "r", 0.0),    # lo -> bin 0
        (2, t, 1, "r", 1.0),    # exact bin edge -> bin 1
        (3, t, 1, "r", 5.0),    # -> bin 5
        (4, t, 1, "r", 10.0),   # hi -> floor 10 -> clamp 9
        (5, t, 2, "c", 7.0), (6, t, 2, "c", 7.0), (7, t, 2, "c", 7.0),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q118_histogram")
    pd.testing.assert_frame_equal(got, want)
    bins = {(r["event_type"], r["bin"]): r["n"] for _, r in got.iterrows()}
    assert bins == {
        ("r", "0"): "1", ("r", "1"): "1", ("r", "5"): "1", ("r", "9"): "1",
        ("c", "9"): "3",
    }


def test_q136_orphans_including_null_fk(spark, tmp_path):
    """FK validation: a NULL foreign key can never satisfy EXISTS, so it
    counts as an orphan on both engines — alongside ordinary dangling
    keys on all four constraint edges."""
    d = pd.Timestamp("2024-01-01").value // 1000
    _write(tmp_path, "nation", n_nationkey=[1, 2])
    _write(tmp_path, "customer", c_custkey=[1, 2, 3], c_nationkey=[1, 99, None])
    _write(
        tmp_path, "orders",
        **_cols(ORDERS, [(10, 1, "O", 1.0, d), (11, 42, "O", 1.0, d),
                         (12, None, "O", 1.0, d)]),
    )
    _write(tmp_path, "lineitem", l_orderkey=[10, 10, 99])
    _write(tmp_path, "supplier", s_suppkey=[1, 2], s_nationkey=[1, 77])
    got, want = _both(spark, str(tmp_path), "q136_referential_integrity")
    pd.testing.assert_frame_equal(got, want)
    orphans = dict(zip(got["fk"], got["n_orphans"]))
    assert orphans == {
        "lineitem->orders": "1",
        "orders->customer": "2",   # dangling 42 + NULL
        "customer->nation": "2",   # dangling 99 + NULL
        "supplier->nation": "1",
    }


def test_q158_keeper_quality_beats_doc_id(spark, tmp_path):
    """Quality-keeper selection: within a near-dup cluster the HIGHER
    quality doc wins even with a higher doc_id; an exact quality tie
    (identical texts) falls back to the lower doc_id; singletons keep
    themselves."""
    a = "t1 t2 t3 t4 t5 t6"
    b = a + " e1 e2 e3 e4"       # superset: near-dup of a, more tokens
    c = "s1 s2 s3 s4 s5"
    rows = [
        (1, a, "en", "s", len(a)),
        (2, b, "en", "s", len(b)),   # higher quality (longer) -> keeper
        (3, c, "en", "s", len(c)),   # identical pair: tie ...
        (4, c, "en", "s", len(c)),   # ... lower doc_id keeps
        (5, "u1 u2 u3 u4 u5", "en", "s", 14),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q158_quality_keeper")
    pd.testing.assert_frame_equal(got, want)
    by_cluster = {r["cluster_id"]: r for _, r in got.iterrows()}
    assert by_cluster["1"][["cluster_size", "keeper_doc_id"]].tolist() == ["2", "2"]
    assert by_cluster["3"][["cluster_size", "keeper_doc_id"]].tolist() == ["2", "3"]
    assert by_cluster["5"][["cluster_size", "keeper_doc_id"]].tolist() == ["1", "5"]


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
