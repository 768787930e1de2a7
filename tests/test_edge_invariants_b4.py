"""Cross-engine threshold-edge invariants, batch 4: the r01-r03-era
oracle-paired families that predate the edge-fixture discipline — as-of
join tie/no-match semantics (q63), the exact-Jaccard 0.4 threshold
(q91), rollup merge == direct aggregation across bucket boundaries
(q100), the decontamination 0.05 containment boundary (q104),
incremental-dedup suppression rules (q120), column profiling with NULLs
(q132), single-missing-hour gap detection (q137), first-week NULLs and
exact +100%/-50% growth (q138), and zero-MAD and NULL-type outlier
semantics (q145).

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from test_edge_invariants import DOCS, EVENTS, ORDERS, US, _both, _cols, _write


_NULLISH = {"nan", "None", "<NA>", "NaT"}


def test_q63_asof_tie_and_no_match(spark, tmp_path):
    """As-of join edges: an order dated EXACTLY at the event instant
    matches (<= is inclusive); two same-date orders break the tie on the
    higher o_orderkey; an event before any order, or from a user with no
    orders, carries NULL — identical between the merge-scan strategy and
    the rank-based oracle."""
    d = lambda s: pd.Timestamp(s).value // 1000
    ev_rows = [
        (1, d("2024-01-10 00:00:00"), 1, "view", 1.0),  # tie at the instant
        (2, d("2024-01-09 23:59:59"), 1, "view", 1.0),  # just before
        (3, d("2024-01-06 00:00:00"), 2, "view", 1.0),  # normal prior order
        (4, d("2024-01-06 00:00:00"), 3, "view", 1.0),  # user with no orders
    ]
    _write(tmp_path, "events", **_cols(EVENTS, ev_rows))
    _write(
        tmp_path, "orders",
        **_cols(ORDERS, [
            (11, 1, "O", 10.0, d("2024-01-10")),
            (12, 1, "O", 10.0, d("2024-01-10")),  # same date, higher key wins
            (21, 2, "F", 10.0, d("2024-01-05")),
            (31, 9, "F", 10.0, d("2024-01-01")),  # order for an absent user
        ]),
    )
    got, want = _both(spark, str(tmp_path), "q63_asof_join")
    pd.testing.assert_frame_equal(got, want)
    by_ev = dict(zip(got["event_id"], got["last_orderkey"]))
    assert by_ev["1"] == "12.0" or by_ev["1"] == "12"
    assert by_ev["2"] in _NULLISH
    assert by_ev["3"] in {"21.0", "21"}
    assert by_ev["4"] in _NULLISH


def test_q91_jaccard_threshold_edge(spark, tmp_path):
    """Exact 3-gram Jaccard at the 0.4 gate: a pair at exactly 0.4
    (2 shared of 5 union shingles) is included, a pair at 0.2 excluded,
    and docs outside the doc_id%4 slice never appear even with identical
    text."""
    a = "w1 w2 w3 w4 w5"            # 3 shingles
    b = "w1 w2 w3 w4 x1 x2"         # 4 shingles, shares 2 with a -> 2/5 = 0.4
    c = "w3 w4 w5 y1 y2"            # shares 1 with a -> 1/5 = 0.2
    rows = [
        (4, a, "en", "s", len(a)),
        (8, b, "en", "s", len(b)),
        (12, c, "en", "s", len(c)),
        (5, a, "en", "s", len(a)),  # identical to a but 5%4 != 0: ignored
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q91_ngram_jaccard")
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 1
    assert got.iloc[0][["id_a", "id_b", "jaccard"]].tolist() == ["4", "8", "0.4"]


def test_q100_rollup_merge_equals_direct(spark, tmp_path):
    """Hypertable rollup across bucket boundaries: hourly partials
    merged to days must equal the oracle's direct daily aggregation —
    including a day boundary split (23:50 vs 00:05) and min/max carried
    across two different hours of one day."""
    d = lambda s: pd.Timestamp(s).value // 1000
    rows = [
        (1, d("2024-01-08 23:10:00"), 1, "a", 1.25),
        (2, d("2024-01-08 23:50:00"), 1, "a", 2.50),
        (3, d("2024-01-09 00:05:00"), 1, "a", 4.00),  # next day, 15 min later
        (4, d("2024-01-08 10:00:00"), 2, "b", 5.00),
        (5, d("2024-01-08 11:00:00"), 2, "b", 1.00),  # min in the 2nd hour
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q100_hypertable_rollup")
    pd.testing.assert_frame_equal(got, want)
    by_key = {(r["day"], r["event_type"]): r for _, r in got.iterrows()}
    a1 = by_key[("2024-01-08", "a")]
    assert a1[["n", "total_value", "min_value", "max_value", "avg_value"]].tolist() == ["2", "3.75", "1.25", "2.5", "1.875"]
    assert by_key[("2024-01-09", "a")]["n"] == "1"
    b1 = by_key[("2024-01-08", "b")]
    assert b1[["n", "min_value", "max_value", "avg_value"]].tolist() == ["2", "1.0", "5.0", "3.0"]


def test_q104_containment_threshold_edge(spark, tmp_path):
    """Decontamination at the exact 0.05 gate: 1 overlapping shingle of
    20 (= 0.05) flags the doc; 1 of 21 (~0.0476) does not."""
    bench = "b1 s1 s2 s3 b2"  # doc_id % 97 == 0 -> the benchmark slice
    doc_a = "s1 s2 s3 " + " ".join(f"a{i}" for i in range(19))  # 22 toks, 20 sh
    doc_b = "s1 s2 s3 " + " ".join(f"c{i}" for i in range(20))  # 23 toks, 21 sh
    rows = [
        (97, bench, "en", "s", len(bench)),
        (1, doc_a, "en", "s", len(doc_a)),
        (2, doc_b, "en", "s", len(doc_b)),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q104_decontamination")
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 1
    assert got.iloc[0][["doc_id", "n_overlap", "containment"]].tolist() == ["1", "1", "0.05"]


def test_q120_incremental_dedup_suppression(spark, tmp_path):
    """Incremental exact dedup: a new doc whose text exists in the base
    corpus is suppressed; within the new batch only the lowest doc_id
    per digest survives; a genuinely new text passes through."""
    rows = [
        (1, "seen before", "en", "s", 11),   # base
        (2, "base only", "en", "s", 9),      # base
        (3, "seen before", "en", "s", 11),   # new, in base -> suppressed
        (6, "batch dup", "en", "s", 9),      # new, first of a pair -> kept
        (9, "batch dup", "en", "s", 9),      # new, internal dup -> dropped
        (12, "fresh text", "en", "s", 10),   # new, unique -> kept
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q120_incremental_dedup")
    pd.testing.assert_frame_equal(got, want)
    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    kept = dict(zip(got["doc_id"], got["digest"]))
    assert kept == {"6": md5("batch dup"), "12": md5("fresh text")}


def test_q132_column_stats_with_nulls(spark, tmp_path):
    """Column profiling with NULLs: n_null counts them, n_distinct and
    min/max skip them — for both a numeric and a string column, on both
    engines."""
    d = pd.Timestamp("2024-01-01").value // 1000
    _write(
        tmp_path, "orders",
        **_cols(ORDERS, [
            (1, None, None, 5.5, d),
            (2, 5, "F", 5.5, d),
            (3, 5, "O", 7.25, d),
            (4, 7, "F", 7.25, d),
        ]),
    )
    got, want = _both(spark, str(tmp_path), "q132_column_stats")
    pd.testing.assert_frame_equal(got, want)
    by_col = {r["col_name"]: r for _, r in got.iterrows()}
    ck = by_col["o_custkey"]
    assert ck[["n", "n_null", "n_distinct", "min_num", "max_num"]].tolist() == ["4", "1", "2", "5.0", "7.0"]
    st = by_col["o_orderstatus"]
    assert st[["n_null", "n_distinct", "min_str", "max_str"]].tolist() == ["1", "2", "F", "O"]
    tp = by_col["o_totalprice"]
    assert tp[["n_null", "n_distinct", "min_num", "max_num"]].tolist() == ["0", "2", "5.5", "7.25"]


def test_q137_single_hour_gap(spark, tmp_path):
    """Gap detection at the hour grid: events at 10:00 and 12:00 leave
    exactly one missing hour; adjacent hours leave none (type absent
    from the result); a single-event type spans one hour — no gap."""
    d = lambda s: pd.Timestamp(s).value // 1000
    rows = [
        (1, d("2024-01-08 10:15:00"), 1, "gap", 1.0),
        (2, d("2024-01-08 12:45:00"), 1, "gap", 1.0),
        (3, d("2024-01-08 10:15:00"), 2, "dense", 1.0),
        (4, d("2024-01-08 11:45:00"), 2, "dense", 1.0),
        (5, d("2024-01-08 10:00:00"), 3, "single", 1.0),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q137_time_gaps")
    pd.testing.assert_frame_equal(got, want)
    assert dict(zip(got["event_type"], got["n_missing_hours"])) == {"gap": "1"}


def test_q138_growth_edges(spark, tmp_path):
    """Week-over-week growth: the first week carries NULL delta/growth
    on both engines; exact doubling pins growth_e6 to 1000000 and exact
    halving to -500000 (negative-value floor of the e6 grain)."""
    d = lambda s: pd.Timestamp(s).value // 1000
    rows = []
    eid = 0
    for wk, n in (("2024-01-01", 2), ("2024-01-08", 4), ("2024-01-15", 2)):
        for i in range(n):
            rows.append((eid := eid + 1, d(wk) + i * US, i, "g", 1.0))
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q138_wow_growth")
    pd.testing.assert_frame_equal(got, want)
    by_wk = {r["wk"][:10]: r for _, r in got.iterrows()}
    assert by_wk["2024-01-01"]["delta"] in _NULLISH
    assert by_wk["2024-01-01"]["growth_e6"] in _NULLISH
    assert by_wk["2024-01-08"][["delta", "growth_e6"]].tolist() == ["2.0", "1000000.0"]
    assert by_wk["2024-01-15"][["delta", "growth_e6"]].tolist() == ["-2.0", "-500000.0"]


def test_q145_zero_mad_outliers(spark, tmp_path):
    """MAD outlier edges: a constant series has MAD 0 and ZERO outliers
    (the > is strict, so 0 > 0 never fires); a series whose majority is
    constant still has MAD 0 but flags the deviant point; a genuine
    spread uses the robust 3*1.4826*MAD fence."""
    t0 = 1_700_000_000 * US
    rows = []
    eid = 0
    for v in [10.0, 10.0, 10.0, 10.0]:
        rows.append((eid := eid + 1, t0 + eid, 1, "const", v))
    for v in [1.0, 1.0, 1.0, 1.0, 99.0]:
        rows.append((eid := eid + 1, t0 + eid, 2, "burst", v))
    for v in [1.0, 2.0, 3.0, 4.0, 100.0]:
        rows.append((eid := eid + 1, t0 + eid, 3, "spread", v))
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q145_mad_outliers")
    pd.testing.assert_frame_equal(got, want)
    by_type = {r["event_type"]: r for _, r in got.iterrows()}
    assert by_type["const"][["med", "mad", "n_outliers"]].tolist() == ["10.0", "0.0", "0"]
    assert by_type["burst"][["med", "mad", "n_outliers"]].tolist() == ["1.0", "0.0", "1"]
    assert by_type["spread"][["med", "mad", "n_outliers"]].tolist() == ["3.0", "1.0", "1"]


def test_q145_null_event_type_dropped(spark, tmp_path):
    """Rows with a NULL event_type form no group: the oracle's JOIN USING
    never matches a NULL key, so the window form must drop them too
    rather than report a NULL-type row (and they must not leak into the
    typed groups' medians)."""
    t0 = 1_700_000_000 * US
    rows = []
    eid = 0
    for v in [1.0, 2.0, 3.0, 4.0, 100.0]:
        rows.append((eid := eid + 1, t0 + eid, 1, "spread", v))
    for v in [500.0, 600.0, 700.0]:
        rows.append((eid := eid + 1, t0 + eid, 2, None, v))
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q145_mad_outliers")
    pd.testing.assert_frame_equal(got, want)
    assert got["event_type"].tolist() == ["spread"]
    assert got[["n", "med", "mad", "n_outliers"]].values.tolist() == [
        ["5", "3.0", "1.0", "1"]
    ]


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
