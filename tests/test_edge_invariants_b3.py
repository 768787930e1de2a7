"""Cross-engine threshold-edge invariants, batch 3 (r5 verdict task 8
continued): the remaining driver-gated families that had no boundary
fixture yet — incremental-agg merge with absent groups (q131), mix
entropy at the degenerate and uniform mixes (q141), shingle-window and
200-window-cap edges (q142), segment boundaries in sub-document dedup
(q144), cluster-profile cosine at identity/tie/zero-norm (q146), the
inclusive 6-PRECEDING day edge of the RANGE frame (q148), leakage-split
drop semantics at the exact 5-gram boundary (q159), transitive-closure
and length-delta edges in entity resolution (q161), and the calendar
week boundary of the binned range join (q130).

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from test_edge_invariants import (
    DOCS,
    EMBEDDINGS,
    EVENTS,
    PART,
    US,
    _both,
    _cols,
    _write,
)


def test_q131_merge_with_absent_groups(spark, tmp_path):
    """Incremental-agg merge edges: a lang present ONLY in the delta
    (doc_id%3==0), only in the base, with its max in the delta, and with
    a non-integral average (floor boundary of the e2 grain) must all
    merge to exactly the full-table oracle."""
    rows = [
        (1, "x", "fr", "s", 7),   # base-only lang
        (2, "x", "en", "s", 5),   # en: base row ...
        (9, "x", "en", "s", 50),  # ... + delta row carrying the max
        (3, "x", "de", "s", 10),  # de: delta-only lang (3%3==0, 6%3==0)
        (6, "x", "de", "s", 20),
        (4, "x", "pt", "s", 1),   # pt: avg 400/3 -> floor 133
        (5, "x", "pt", "s", 1),
        (7, "x", "pt", "s", 2),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q131_incremental_agg")
    pd.testing.assert_frame_equal(got, want)
    by_lang = {r["lang"]: r for _, r in got.iterrows()}
    assert by_lang["fr"][["n_docs", "total_chars", "max_chars", "avg_chars_e2"]].tolist() == ["1", "7", "7", "700"]
    assert by_lang["de"][["n_docs", "total_chars", "max_chars", "avg_chars_e2"]].tolist() == ["2", "30", "20", "1500"]
    assert by_lang["en"][["n_docs", "total_chars", "max_chars", "avg_chars_e2"]].tolist() == ["2", "55", "50", "2750"]
    assert by_lang["pt"][["n_docs", "total_chars", "max_chars", "avg_chars_e2"]].tolist() == ["3", "4", "2", "133"]


def test_q141_entropy_degenerate_and_uniform(spark, tmp_path):
    """Mix-entropy edges: a single-source corpus has share_e6 exactly
    1000000 and entropy exactly 0; two sources with exactly equal token
    volumes have share 500000 each and entropy floor(ln(2)*1e6+0.5) =
    693147 — on both engines."""
    d1 = tmp_path / "single"
    d1.mkdir()
    sf1 = _write(d1, "documents",
                 **_cols(DOCS, [(1, "a b c d", "en", "s1", 7)]))
    got, want = _both(spark, sf1, "q141_mix_entropy")
    pd.testing.assert_frame_equal(got, want)
    row = got.iloc[0]
    assert row["tokens"] == "4"
    assert row["share_e6"] == "1000000"
    assert row["mix_entropy_e6"] == "0"

    d2 = tmp_path / "uniform"
    d2.mkdir()
    sf2 = _write(
        d2, "documents",
        **_cols(DOCS, [
            (1, "a b c d", "en", "s1", 7),  # 4 tokens
            (2, "e f", "en", "s2", 3),      # 2 + 2 = 4 tokens
            (3, "g h", "en", "s2", 3),
        ]),
    )
    got, want = _both(spark, sf2, "q141_mix_entropy")
    pd.testing.assert_frame_equal(got, want)
    assert set(got["share_e6"]) == {"500000"}
    assert set(got["mix_entropy_e6"]) == {"693147"}


def test_q142_shingle_window_and_cap_edges(spark, tmp_path):
    """Cross-source overlap edges: a 5-token doc yields exactly one
    shingle, a 4-token doc yields none (and its source vanishes from the
    matrix), containment is asymmetric (1/2 vs 1/1), and two sources with
    identical 210-token docs meet the 200-window cap identically on both
    engines (199 shared shingles, containment 1.0)."""
    long_text = " ".join(f"e{i}" for i in range(210))
    rows = [
        (1, "p q r s t u", "en", "A", 11),   # 2 shingles
        (2, "p q r s t", "en", "B", 9),      # 1 shingle, shared with A
        (3, "c1 c2 c3 c4", "en", "C", 11),   # below the 5-token window
        (4, "d1 d2 d3 d4 d5", "en", "D", 14),  # 1 shingle, unshared
        (5, long_text, "en", "E", len(long_text)),
        (6, long_text, "en", "F", len(long_text)),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q142_cross_source_overlap")
    pd.testing.assert_frame_equal(got, want)
    pairs = {
        (r["src_a"], r["src_b"]): (r["n_shared"], r["containment_a"])
        for _, r in got.iterrows()
    }
    assert pairs == {
        ("A", "B"): ("1", "0.5"),
        ("B", "A"): ("1", "1.0"),
        ("E", "F"): ("199", "1.0"),
        ("F", "E"): ("199", "1.0"),
    }


def test_q144_segment_boundaries(spark, tmp_path):
    """Sub-document dedup at the exact segment grid: 10 tokens = one
    segment, an 11th token opens a second (1-token) segment, a shared
    first segment counts as dup only for the higher doc_id, and 21
    tokens give exactly 3 segments."""
    ten = " ".join(f"w{i}" for i in range(10))
    rows = [
        (1, ten, "en", "s", len(ten)),                 # 1 segment, keeper
        (2, ten + " extra", "en", "s", len(ten) + 6),  # seg0 dup, seg1 new
        (3, "u1 u2 u3 u4", "en", "s", 11),             # short: 1 segment
        (4, " ".join(f"v{i}" for i in range(21)), "en", "s", 60),  # 3 segs
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q144_segment_dedup")
    pd.testing.assert_frame_equal(got, want)
    by_doc = {r["doc_id"]: r for _, r in got.iterrows()}
    assert by_doc["1"][["n_segments", "n_dup_segments"]].tolist() == ["1", "0"]
    assert by_doc["2"][["n_segments", "n_dup_segments", "dup_ratio"]].tolist() == ["2", "1", "0.5"]
    assert by_doc["3"][["n_segments", "n_dup_segments"]].tolist() == ["1", "0"]
    assert by_doc["4"][["n_segments", "n_dup_segments"]].tolist() == ["3", "0"]


def test_q146_cluster_cosine_identity_tie_and_zero(spark, tmp_path):
    """Cluster-profile edges: an all-identical cluster has cos exactly
    1.0 everywhere and the lowest vec_id as representative; a symmetric
    two-vector cluster ties on rounded cosine and falls back to the
    vec_id tiebreak; a zero-norm vector yields NULL cosine on BOTH
    engines (never a divide error) and is skipped by mean/min."""
    rows = [
        (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [1.0, 0.0], 0),
        (4, [1.0, 0.0], 1), (5, [0.0, 1.0], 1),   # symmetric tie
        (6, [0.0, 0.0], 2),                        # lone zero vector
        (7, [1.0, 0.0], 3), (8, [0.0, 0.0], 3),   # zero vec in a pair
    ]
    sf = _write(tmp_path, "embeddings", **_cols(EMBEDDINGS, rows))
    got, want = _both(spark, sf, "q146_embedding_clusters")
    pd.testing.assert_frame_equal(got, want)
    by_label = {r["label"]: r for _, r in got.iterrows()}
    assert by_label["0"][["n_vecs", "rep_vec_id", "rep_cos", "mean_cos", "min_cos"]].tolist() == ["3", "1", "1.0", "1.0", "1.0"]
    assert by_label["1"]["rep_vec_id"] == "4"  # rounded-cos tie -> min id
    assert by_label["1"]["mean_cos"] == by_label["1"]["min_cos"]
    # zero-norm: NULL cosine, not an error; aggregates skip it
    assert by_label["2"]["n_vecs"] == "1"
    assert by_label["2"]["rep_cos"] in {"nan", "None", "<NA>"}
    assert by_label["3"][["n_vecs", "rep_vec_id", "mean_cos", "min_cos"]].tolist() == ["2", "7", "1.0", "1.0"]


def test_q148_range_frame_day_edges(spark, tmp_path):
    """Trailing 7-calendar-day RANGE frame at its exact edges: a day
    exactly 6 days back is IN the frame, 7 days back is OUT, and
    same-day events collapse to the daily grain before the frame."""
    day0 = pd.Timestamp("2024-03-04").value // 1000  # a Monday, µs epoch
    day = 86400 * US
    rows = [
        (1, day0, 1, "view", 1.0),
        (2, day0 + 6 * day, 1, "view", 2.0),   # inclusive edge
        (3, day0, 2, "view", 3.0),
        (4, day0 + 7 * day, 2, "view", 4.0),   # one past the frame
        (5, day0, 3, "view", 1.5),             # same-day pair
        (6, day0 + 3600 * US, 3, "view", 2.5),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q148_trailing_range_frame")
    pd.testing.assert_frame_equal(got, want)
    by_key = {(r["user_id"], r["day"][:10]): r for _, r in got.iterrows()}
    edge_in = by_key[("1", "2024-03-10")]
    assert edge_in[["t7_days", "t7_sum", "t7_avg"]].tolist() == ["2", "3.0", "1.5"]
    edge_out = by_key[("2", "2024-03-11")]
    assert edge_out[["t7_days", "t7_sum"]].tolist() == ["1", "4.0"]
    same_day = by_key[("3", "2024-03-04")]
    assert same_day[["t7_days", "t7_sum"]].tolist() == ["1", "4.0"]


def test_q130_week_bin_boundary(spark, tmp_path):
    """Binned range join at the calendar boundary: Monday 00:00 opens a
    NEW week bin, the following Sunday 23:59:59 still belongs to it —
    the half-open [week, week+7d) interval agrees across engines."""
    mon1 = pd.Timestamp("2024-01-08").value // 1000
    sun1 = pd.Timestamp("2024-01-14 23:59:59").value // 1000
    mon2 = pd.Timestamp("2024-01-15").value // 1000
    rows = [
        (1, mon1, 1, "view", 1.0),
        (2, sun1, 1, "view", 1.0),
        (3, mon2, 1, "view", 1.0),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q130_binned_range_join")
    pd.testing.assert_frame_equal(got, want)
    weeks = {r["week_start"][:10]: r["n_events"] for _, r in got.iterrows()}
    assert weeks == {"2024-01-08": "2", "2024-01-15": "1"}


def _u16(text: str) -> int:
    """Python replica of the engines' md5-last-4-hex-digits u16 sampler
    (corpus_q.u16_spark / u16_sql)."""
    return int(hashlib.md5(text.encode()).hexdigest()[28:32], 16)


def _salted(base: str, prefix: str, want_test: bool) -> str:
    """Append a salt token so the doc lands on the wanted side of the
    q159 test-candidate threshold (u16 < 6554 ~ 10%)."""
    for i in range(10_000):
        t = f"{base} {prefix}{i}"
        if (_u16(t) < 6554) == want_test:
            return t
    raise AssertionError("no salt found")


def test_q159_leakage_drop_semantics(spark, tmp_path):
    """Leakage-free split at the exact 5-gram boundary: a test candidate
    sharing ONE 5-gram with a train doc is dropped; sharing only a
    4-token window keeps it; sharing a 5-gram with another TEST doc
    keeps both (the leak check is against train only); a 4-token doc can
    never leak (no shingles)."""
    t1 = _salted("alpha beta gamma delta epsilon", "t1x", False)
    t2 = _salted("t2a t2b t2c t2d t2e", "t2x", False)
    c1 = _salted("alpha beta gamma delta epsilon", "c1x", True)  # drops
    c2 = _salted("beta gamma delta epsilon zeta", "c2x", True)   # 4-tok overlap
    c3 = _salted("omega one two three four", "c3x", True)        # test-test
    c4 = _salted("omega one two three four", "c4x", True)
    c5 = _salted("c5a c5b c5c", "c5x", True)                     # 4 tokens
    rows = [
        (i + 1, txt, "en", "s", len(txt))
        for i, txt in enumerate([t1, t2, c1, c2, c3, c4, c5])
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q159_leakage_free_split")
    pd.testing.assert_frame_equal(got, want)
    split = dict(zip(got["doc_id"], got["split"]))
    assert split == {
        "1": "train", "2": "train", "3": "dropped",
        "4": "test", "5": "test", "6": "test", "7": "test",
    }


def test_q161_transitive_closure_and_blocking(spark, tmp_path):
    """Entity-resolution edges: A~B~C merges into one entity even though
    lev(A,C)=2; the same name in a different block never merges; a
    length-delta of exactly 1 with lev 1 pairs (dog/dogs); an unmatched
    record is its own singleton entity with its own id."""
    rows = [
        (1, "cat", "B1", "T1"),
        (2, "cab", "B1", "T1"),   # cat~cab~cob chain
        (3, "cob", "B1", "T1"),
        (4, "cat", "B2", "T1"),   # identical name, different block
        (5, "zzzz", "B1", "T1"),  # singleton
        (6, "dog", "B1", "T1"),
        (7, "dogs", "B1", "T1"),  # length-delta exactly 1
    ]
    sf = _write(tmp_path, "part", **_cols(PART, rows))
    got, want = _both(spark, sf, "q161_entity_resolution")
    pd.testing.assert_frame_equal(got, want)
    by_ent = {r["entity_id"]: r for _, r in got.iterrows()}
    assert by_ent["1"][["n_records", "n_names", "canonical_name"]].tolist() == ["3", "3", "cab"]
    assert by_ent["4"][["n_records", "canonical_name"]].tolist() == ["1", "cat"]
    assert by_ent["5"]["n_records"] == "1"
    assert by_ent["6"][["n_records", "n_names", "canonical_name"]].tolist() == ["2", "2", "dog"]
    assert len(got) == 4


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
