"""Cross-engine threshold-edge invariants, batch 7: the training-sample
construction family — pack boundaries in sequence packing (q108),
chunk-grid remainders in context chunking (q110), smoothing extremes of
the trigram LM score (q122), content-keyed shard assignment (q124), the
int64 cross-multiplied rebalance cut one u16 unit either side (q127),
and the strict 30-minute session gap with the 20-step sequence cap
(q140).

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest

from test_edge_invariants import DOCS, EVENTS, US, _both, _cols, _write


def test_q108_pack_boundary_and_block_prefix(spark, tmp_path):
    """Sequence packing at the exact 512-token budget: a doc whose
    cumulative start lands exactly ON the budget opens the next pack,
    and doc_ids straddling the 64-wide prefix-sum blocks (63|64) prove
    block cumsum + block offset == the oracle's global window."""
    rows = [
        (1, " ".join(["x"] * 512), "en", "s", 1),    # cum 0   -> pack 0
        (63, " ".join(["x"] * 100), "en", "s", 1),   # cum 512 -> pack 1 (edge)
        (64, " ".join(["x"] * 500), "en", "s", 1),   # cum 612 -> pack 1
        (130, "x", "en", "s", 1),                    # cum 1112 -> pack 2
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q108_sequence_packing")
    pd.testing.assert_frame_equal(got, want)
    by_pack = {r["pack_id"]: r for _, r in got.iterrows()}
    assert by_pack["0"][["n_docs", "pack_tokens", "first_doc", "last_doc"]].tolist() == ["1", "512", "1", "1"]
    assert by_pack["1"][["n_docs", "pack_tokens", "first_doc", "last_doc"]].tolist() == ["2", "600", "63", "64"]
    assert by_pack["2"][["n_docs", "pack_tokens"]].tolist() == ["1", "1"]


def test_q110_chunk_grid_remainders(spark, tmp_path):
    """Sliding-window chunking (len 32, stride 24) at the grid edges: 32
    tokens give a full chunk plus an 8-token tail, exactly 24 give ONE
    chunk (the next start falls past the end), 25 give a 1-token tail,
    and a single token still chunks."""
    mk = lambda p, n: " ".join(f"{p}{i:03d}" for i in range(n))
    rows = [
        (1, mk("a", 32), "en", "s", 1),
        (2, mk("b", 24), "en", "s", 1),
        (3, mk("c", 25), "en", "s", 1),
        (4, "solo", "en", "s", 1),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q110_context_chunks")
    pd.testing.assert_frame_equal(got, want)
    sizes = {
        (r["doc_id"], r["chunk_idx"]): r["n_chunk_tokens"]
        for _, r in got.iterrows()
    }
    assert sizes == {
        ("1", "0"): "32", ("1", "1"): "8",
        ("2", "0"): "24",
        ("3", "0"): "25", ("3", "1"): "1",
        ("4", "0"): "1",
    }


def test_q122_lm_smoothing_extremes(spark, tmp_path):
    """Trigram LM score at the smoothing extremes: a held-out doc made
    of the ONLY trained gram scores exactly ln(1) = 0; an all-unseen doc
    scores the uniform ln(0.5 / (total + 0.5*vocab)); a doc shorter than
    one trigram produces no rows."""
    rows = [
        (1, "aaaa", "en", "s", 4),    # train: gram 'aaa' x2
        (2, "aaaa", "en", "s", 4),    # train: gram 'aaa' x2 -> cnt 4
        (5, "aaaa", "en", "s", 4),    # held-out, fully seen
        (10, "bbbb", "en", "s", 4),   # held-out, fully unseen
        (15, "cc", "en", "s", 2),     # held-out, below trigram length
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q122_lm_score")
    pd.testing.assert_frame_equal(got, want)
    by_doc = {r["doc_id"]: r for _, r in got.iterrows()}
    assert set(by_doc) == {"5", "10"}
    # total=4, vocab=1: seen p=(4+.5)/4.5=1 -> 0.0; unseen p=.5/4.5
    assert by_doc["5"][["n_grams", "lm_logp"]].tolist() == ["2", "0.0"]
    unseen = f"{round(math.log(0.5 / 4.5) + 1e-9, 6)}"
    assert by_doc["10"][["n_grams", "lm_logp"]].tolist() == ["2", unseen]


def test_q124_shard_assignment_and_order(spark, tmp_path):
    """Content-keyed sharding: shard = last md5 hex digit, in-shard
    position = md5-prefix order — pinned against an independent Python
    md5 for three same-shard docs and a shard-15 doc."""
    s4, s95, s129 = "shard doc s4", "shard doc s95", "shard doc s129"
    t14 = "tail doc t14"
    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    assert {md5(t)[31] for t in (s4, s95, s129)} == {"7"}
    assert md5(t14)[31] == "f"
    rows = [
        (1, s4, "en", "s", len(s4)),
        (2, s95, "en", "s", len(s95)),
        (3, s129, "en", "s", len(s129)),
        (4, t14, "en", "s", len(t14)),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q124_train_shards")
    pd.testing.assert_frame_equal(got, want)
    by_doc = {r["doc_id"]: r for _, r in got.iterrows()}
    assert by_doc["4"]["shard"] == "15"
    # md5 prefixes: s4=164a.. < s129=3d27.. < s95=87f1..
    assert [by_doc[d]["pos_in_shard"] for d in ("1", "3", "2")] == ["1", "2", "3"]
    assert {by_doc[d]["shard"] for d in ("1", "2", "3")} == {"7"}


def test_q127_rebalance_cut_one_unit(spark, tmp_path):
    """Domain rebalancing at the exact integer cut: with rate 1/2 the
    keep test is u*2 < 65536, so u = 32767 keeps and u = 32768 drops —
    pure int64 cross-multiplication, no double division to blur the
    boundary; the smallest language always keeps everything."""
    kept, dropped = "big doc b3710", "big doc b133405"
    u16 = lambda t: int(hashlib.md5(t.encode()).hexdigest()[28:32], 16)
    assert (u16(kept), u16(dropped)) == (32767, 32768)
    rows = [
        (1, kept, "big", "s", len(kept)),
        (2, dropped, "big", "s", len(dropped)),
        (3, "the smallest language doc", "mn", "s", 25),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q127_domain_mix")
    pd.testing.assert_frame_equal(got, want)
    assert dict(zip(got["lang"], got["n_kept"])) == {"big": "1", "mn": "1"}


def test_q140_session_gap_and_sequence_cap(spark, tmp_path):
    """Sessionization edges: a gap of exactly 30 minutes does NOT split
    (strict >), one microsecond more does; same-instant events order by
    event_id inside the sequence; and a long session's sequence caps at
    20 steps."""
    t = 1_700_000_000 * US
    half_hour = 1800 * US
    rows = [
        # u1: exact-gap chain stays one session, then +1us splits
        (1, t, 1, "view", 1.0),
        (2, t + half_hour, 1, "click", 1.0),            # gap == 30 min: same
        (3, t + 2 * half_hour + 1, 1, "purchase", 1.0),  # gap 30min+1us: new
        # u2: same instant, ordered by event_id
        (10, t, 2, "view", 1.0),
        (11, t, 2, "click", 1.0),
    ]
    # u3: 22 events 1 s apart -> one session, sequence capped at 20
    for i in range(22):
        rows.append((100 + i, t + i * US, 3, "view" if i % 2 == 0 else "click", 1.0))
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q140_session_sequences")
    pd.testing.assert_frame_equal(got, want)
    by_key = {(r["user_id"], r["session_id"]): r for _, r in got.iterrows()}
    s11 = by_key[("1", "1")]
    assert s11[["n_events", "duration_ns", "seq"]].tolist() == ["2", str(half_hour * 1000), "view>click"]
    assert by_key[("1", "2")][["n_events", "seq"]].tolist() == ["1", "purchase"]
    assert by_key[("2", "1")]["seq"] == "view>click"
    assert len(by_key[("3", "1")]["seq"].split(">")) == 20
    assert by_key[("3", "1")]["n_events"] == "22"


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
