"""Cross-engine threshold-edge invariants, batch 5: corpus-clean gate
boundaries (q92), degenerate repetition metrics (q105), CDC tombstone /
last-wins-tie / insert semantics (q111), epoch-week cohort boundaries
(q112), the exact length-band edge of fuzzy vocab matching (q115),
winsorize clip boundaries (q116), the u16-vs-w*65536 sampling edge one
unit either side (q126), and the exclusive-lower / inclusive-upper
trailing activity windows (q139).

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from test_edge_invariants import DOCS, EVENTS, US, _both, _cols, _write


def test_q92_quality_gate_boundaries(spark, tmp_path):
    """Corpus-clean gates at their exact bounds: 10 tokens and length
    100 passes, 9 tokens or length 99 fails, length exactly 20000
    passes, 20001 fails; among exact duplicates only the lowest doc_id
    survives."""
    # 10 tokens, 9 single spaces, token lengths 9*9+10 = 91 -> len 100
    keep100 = " ".join(["t" * 9] * 9 + ["u" * 10])
    assert len(keep100) == 100
    len99 = " ".join(["t" * 9] * 9 + ["u" * 9])
    assert len(len99) == 99
    tok9 = " ".join(["v" * 10] * 9)  # 9 tokens, len 98 -> pad to 100
    tok9 = tok9 + "x" * (100 - len(tok9) - 1) + "y"  # still 9 tokens
    assert len(tok9) == 100 and len(tok9.split()) == 9
    big = " ".join(["w" * 9] * 9 + ["z" * (20000 - 90)])
    assert len(big) == 20000
    toobig = big + "!"
    rows = [
        (1, keep100, "en", "s", 100),
        (2, len99, "en", "s", 99),
        (3, tok9, "en", "s", 100),
        (4, big, "en", "s", 20000),
        (5, toobig, "en", "s", 20001),
        (6, keep100, "en", "s", 100),  # exact dup of 1 -> dropped
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q92_corpus_clean")
    pd.testing.assert_frame_equal(got, want)
    assert sorted(got["doc_id"]) == ["1", "4"]


def test_q105_repetition_degenerate_docs(spark, tmp_path):
    """Gopher repetition metrics on degenerate inputs: a single-token
    doc (the greatest() guards), an all-same-token doc (every fraction
    saturates), and a fully distinct doc (every fraction zero)."""
    rows = [
        (1, "solo", "en", "s", 4),
        (2, "a a a a a", "en", "s", 9),
        (3, "b c d e", "en", "s", 7),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q105_repetition_filter")
    pd.testing.assert_frame_equal(got, want)
    by_doc = {r["doc_id"]: r for _, r in got.iterrows()}
    assert by_doc["1"][["n_tokens", "dup_token_frac", "top_token_frac"]].tolist() == ["1", "0.0", "1.0"]
    assert by_doc["2"][["n_tokens", "dup_token_frac", "top_token_frac", "dup_bigram_frac"]].tolist() == ["5", "0.8", "1.0", "0.75"]
    assert by_doc["3"][["dup_token_frac", "top_token_frac", "dup_bigram_frac"]].tolist() == ["0.0", "0.25", "0.0"]


def test_q111_cdc_tombstone_tie_insert(spark, tmp_path):
    """CDC upsert edges: a latest-entry tombstone deletes a base row; a
    same-microsecond tie resolves to the higher event_id; a later upsert
    overrides an earlier tombstone; changelog-only keys insert; untouched
    base rows survive."""
    t = 1_700_000_000 * US
    ev_rows = [
        (10, t, 2, "error", 0.0),        # key 2: tombstone -> deleted
        (20, t, 3, "view", 1.0),         # key 3: tie at t ...
        (21, t, 3, "view", 2.0),         # ... higher event_id wins
        (30, t, 4, "click", 5.5),        # key 4: no base row -> insert
        (40, t, 5, "error", 0.0),        # key 5: tombstone ...
        (41, t + 1, 5, "view", 7.0),     # ... overridden 1 us later
    ]
    _write(tmp_path, "events", **_cols(EVENTS, ev_rows))
    _write(tmp_path, "customer", c_custkey=[1, 2, 3, 5],
           c_acctbal=[10.0, 20.0, 30.0, 50.0])
    got, want = _both(spark, str(tmp_path), "q111_cdc_upsert")
    pd.testing.assert_frame_equal(got, want)
    by_key = {r["key"]: r for _, r in got.iterrows()}
    assert set(by_key) == {"1", "3", "4", "5"}  # key 2 tombstoned
    assert by_key["1"][["val", "src", "version_ts_us"]].tolist() == ["10.0", "base", "0"]
    assert by_key["3"][["val", "src"]].tolist() == ["2.0", "changelog"]
    assert by_key["4"][["val", "src"]].tolist() == ["5.5", "changelog"]
    assert by_key["5"][["val", "src"]].tolist() == ["7.0", "changelog"]


def test_q112_epoch_week_boundary(spark, tmp_path):
    """Cohort retention at the exact epoch-week grid: two purchases
    inside one week (first instant and last microsecond) are one
    distinct (cohort, 0) row; a purchase exactly on the next boundary
    lands in weeks_since 1; non-purchase events are invisible."""
    week_us = 604_800 * US
    k = 2810  # an arbitrary epoch-week index (2023-11-16)
    t0 = k * week_us
    ev_rows = [
        (1, t0, 1, "purchase", 1.0),                 # first instant of wk k
        (2, t0 + week_us - 1, 1, "purchase", 1.0),   # last us of wk k
        (3, t0 + week_us, 1, "purchase", 1.0),       # exactly wk k+1
        (4, t0, 2, "view", 1.0),                     # never purchases
        (5, t0 + week_us, 2, "click", 1.0),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, ev_rows))
    got, want = _both(spark, sf, "q112_cohort_retention")
    pd.testing.assert_frame_equal(got, want)
    rows = {(r["cohort"], r["weeks_since"]): r["n_users"] for _, r in got.iterrows()}
    assert rows == {(str(k), "0"): "1", (str(k), "1"): "1"}


def test_q115_length_band_edges(spark, tmp_path):
    """Fuzzy vocab at the exact |len| <= 2 band: delta 2 with lev 2 is
    in, lev 3 at delta 0 is out — and because lev >= |len delta|, the
    band is exact, never lossy."""
    rows = [(1, "a ab abc abcd xyz", "en", "s", 17)]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q115_fuzzy_vocab")
    pd.testing.assert_frame_equal(got, want)
    pairs = {(r["w1"], r["w2"]): r["dist"] for _, r in got.iterrows()}
    assert pairs == {
        ("a", "ab"): "1",
        ("a", "abc"): "2",
        ("ab", "abc"): "1",
        ("ab", "abcd"): "2",   # len delta exactly 2, lev exactly 2
        ("abc", "abcd"): "1",
    }


def test_q116_winsorize_clip_boundaries(spark, tmp_path):
    """Winsorization edges: values exactly AT the p05/p95 fence are not
    clipped (strict < / >); a constant group clips nothing and leaves
    the average untouched; a symmetric 0..20 series clips exactly its
    two extremes."""
    rows = [("A", float(v)) for v in range(21)] + [("B", 5.0)] * 4
    sf = _write(tmp_path, "lineitem", **_cols("l_returnflag l_extendedprice", rows))
    got, want = _both(spark, sf, "q116_winsorize")
    pd.testing.assert_frame_equal(got, want)
    by_flag = {r["l_returnflag"]: r for _, r in got.iterrows()}
    a = by_flag["A"]
    assert a[["avg_raw", "avg_wins", "n_clipped"]].tolist() == ["10.0", "10.0", "2"]
    b = by_flag["B"]
    assert b[["avg_raw", "avg_wins", "n_clipped"]].tolist() == ["5.0", "5.0", "0"]


def test_q126_sampling_edge_one_unit(spark, tmp_path):
    """Deterministic importance sampling one u16 unit either side of the
    w*65536 fence: at w = 0.1 (length 100) the fence is 6553.6, so u =
    6553 keeps and u = 6554 drops — both engines derive the same u from
    the same md5."""
    kept_text = "x0099068" + "a" * 92   # u16 = 6553
    drop_text = "x0013286" + "a" * 92   # u16 = 6554
    u16 = lambda t: int(hashlib.md5(t.encode()).hexdigest()[28:32], 16)
    assert (u16(kept_text), u16(drop_text)) == (6553, 6554)
    always = "y" * 1000                 # w = 1.0: kept at any u
    rows = [
        (1, kept_text, "en", "s", 100),
        (2, drop_text, "en", "s", 100),
        (3, always, "en", "s", 1000),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q126_weighted_sample")
    pd.testing.assert_frame_equal(got, want)
    kept = dict(zip(got["doc_id"], got["w"]))
    assert kept == {"1": "0.1", "3": "1.0"}


def test_q139_trailing_window_exclusive_lower(spark, tmp_path):
    """DAU/WAU at the window edges: the trailing 7-day window is
    (day-7, day] — activity exactly 7 days earlier is OUT, 6 days
    earlier is IN; the 28-day window still catches both."""
    d = lambda s: pd.Timestamp(s).value // 1000
    rows = [
        (1, d("2024-01-01 10:00:00"), 1, "view", 1.0),  # 7 days before the 8th
        (2, d("2024-01-02 10:00:00"), 2, "view", 1.0),  # 6 days before the 8th
        (3, d("2024-01-08 10:00:00"), 3, "view", 1.0),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q139_active_users")
    pd.testing.assert_frame_equal(got, want)
    by_day = {r["day"][:10]: r for _, r in got.iterrows()}
    assert by_day["2024-01-08"][["dau", "wau", "mau"]].tolist() == ["1", "2", "3"]
    assert by_day["2024-01-02"][["dau", "wau", "mau"]].tolist() == ["1", "2", "2"]
    assert by_day["2024-01-01"][["dau", "wau", "mau"]].tolist() == ["1", "1", "1"]


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
