"""Cross-engine invariants, batch 12: regression pins for the r6
randomized-fuzz sweep findings (tools/fixtures.py ``fuzz``) — the five real
defects random table composition surfaced that no crafted fixture had:

1. NULL-text docs paired each other at jaccard 1.0 (shingle_tokens
   produced [""], shingle_hashes a constant xxhash64-of-NULLs) and
   snowballed into dedup clusters — now NULL text -> empty shingle set,
   the SQL semantics where a NULL doc can never pair (q91/q99/q158).
2. q64's ROUND(SUM(value), 2) flipped at .xx5 boundaries under engine
   summation-order ulps — now an exact integer e3-grain sum.
3. q88's hourly ROUND(SUM(value), 2) series flipped the same way and
   swung small-n correlations by whole percents — now e3-grain ints
   (Pearson corr is scale-invariant, so value_corr is unchanged).
4. q84's ROUND(v/n, 2) Python-vs-DuckDB pair disagreed in the last
   digit near .xx5 ulp boundaries — now the identical IEEE int_grain
   expression on both engines (share_e2).
5. q153's oracle kept NULL series points (DuckDB list() keeps NULLs)
   which poisoned DP rows toward the 1e18 sentinel and overflowed the
   e4 BIGINT pin — now all-NULL-value days are excluded on both
   engines.

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from test_edge_invariants import US, _both, _write_docs, _write_events

T0 = 1_700_000_000 * US
HOUR = 3600 * US


def test_null_text_docs_never_pair(spark, tmp_path):
    """Three NULL-text docs in the q91 quarter-slice plus one real
    duplicate pair: the only emitted pair is the real one, on both
    engines (the unguarded shingle fns paired all three NULL docs)."""
    a = "alpha beta gamma delta epsilon zeta"
    rows = [
        (4, None, "en", "s", None),
        (8, None, "en", "s", None),
        (12, None, "en", "s", None),
        (16, a, "en", "s", len(a)),
        (20, a, "en", "s", len(a)),
        (3, a, "en", "s", len(a)),  # identical but 3 % 4 != 0: out of slice
    ]
    sf = _write_docs(tmp_path, rows)
    got, want = _both(spark, sf, "q91_ngram_jaccard")
    pd.testing.assert_frame_equal(got, want)
    assert got[["id_a", "id_b"]].values.tolist() == [["16", "20"]]


def test_null_text_docs_cluster_as_singletons(spark, tmp_path):
    """q99/q158 over a corpus where three docs have NULL text and two
    share a real text: the NULL docs must not form a cluster."""
    a = "alpha beta gamma delta epsilon zeta"
    b = "one two three four five six seven"
    rows = [
        (1, a, "en", "s", len(a)),
        (2, a, "en", "s", len(a)),
        (3, None, "en", "s", None),
        (4, None, "en", "s", None),
        (5, None, "en", "s", None),
        (6, b, "en", "s", len(b)),
    ]
    sf = _write_docs(tmp_path, rows)
    got, want = _both(spark, sf, "q99_dedup_clusters")
    pd.testing.assert_frame_equal(got, want)
    # no NULL doc id may share a cluster with another doc
    clusters = got.groupby("cluster_id")["doc_id"].apply(set)
    for members in clusters:
        assert not ({"3", "4", "5"} & members and len(members) > 1)

    got, want = _both(spark, sf, "q158_quality_keeper")
    pd.testing.assert_frame_equal(got, want)


def test_minhash_skips_null_text(spark, tmp_path):
    """The MinHash path: NULL-text docs are excluded from signatures
    (their all-NULL signature banded to one constant key before the
    guard, and exact verification would divide 0/0)."""
    a = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, a, "en", "s", len(a)),
        (2, a, "en", "s", len(a)),
        (3, None, "en", "s", None),
        (4, None, "en", "s", None),
    ]
    sf = _write_docs(tmp_path, rows)
    import sanctum_spark.queries as qreg

    out = qreg.REGISTRY["q74_minhash_lsh_pairs"].fn(spark, sf).toPandas()
    ids = set(out["id_a"].astype(str)) | set(out["id_b"].astype(str))
    assert "3" not in ids and "4" not in ids
    assert {"1", "2"} <= ids  # the real duplicate pair still found


def test_q64_integer_grain_sum_at_half_boundary(spark, tmp_path):
    """Values whose hourly sum lands exactly on a .xx5 boundary: the e3
    integer grain is exact (1.0015+2.0035 = 3.005 -> 3005), where the
    old double-sum ROUND could flip on summation-order ulps."""
    rows = [
        (1, T0, 1, "click", 1.0015),
        (2, T0 + 1, 1, "click", 2.0035),
        (3, T0 + 2, 1, "view", -0.0005),   # negative half: floor(+0.5) -> 0
        (4, T0 + HOUR, 1, "click", 0.0005),
        (5, T0 + HOUR + 1, 1, "click", None),  # NULL skipped by SUM
    ]
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q64_tumbling_window")
    pd.testing.assert_frame_equal(got, want)
    import math

    # the pin IS the per-row IEEE expression — compute it the same way
    def g3(x):
        return int(math.floor(x * 1000.0 + 0.5 + 1e-9))

    expect = {
        ("click", str(g3(1.0015) + g3(2.0035))),
        ("view", str(g3(-0.0005))),
        ("click", str(g3(0.0005))),
    }
    assert set(zip(got["event_type"], got["total_value_e3"])) == expect


def test_q88_integer_grain_series_and_pairwise_deletion(spark, tmp_path):
    """q88 over users with >=5 shared hours whose hourly sums sit on
    .xx5 boundaries, PLUS one user with an all-NULL-value hour: the
    series is e3-int exact, and the NULL hour must be deleted PAIRWISE
    (corr() semantics — stddev over the raw column would keep that hour
    for the non-null partner and swing the correlation; both defects
    found live by the r6 fuzz sweep)."""
    rows = []
    eid = 0
    for h in range(6):
        rows.append((eid := eid + 1, T0 + h * HOUR, 1, "view", 1.0005 + h))
        rows.append((eid := eid + 1, T0 + h * HOUR, 2, "view", 2.0015 + 2 * h))
        rows.append((eid := eid + 1, T0 + h * HOUR, 3, "view", 5.0 - h * 0.9995))
    # user 3's hour 2 becomes all-NULL: v NULL, shared with users 1/2
    rows = [
        (e, t, u, et, None if (u == 3 and t == T0 + 2 * HOUR) else v)
        for (e, t, u, et, v) in rows
    ]
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q88_user_correlation")
    pd.testing.assert_frame_equal(got, want)
    # user 3 still pairs (6 shared hours >= 5; the NULL hour counts for
    # n_hours but not for corr) and every corr matches DuckDB's exactly
    assert "3" in set(got["user_id"])


def test_q84_share_e2_half_boundary(spark, tmp_path):
    """v/n on an exact .xx5 dyadic boundary: 0.07/2 = 0.035 -> e2 grain
    4 on BOTH engines via the identical IEEE floor expression."""
    rows = [
        (1, T0, 1, "view", 0.07, json.dumps({"k": 4})),    # n=2, share 0.035
        (2, T0, 1, "view", 53.25, json.dumps({"k": 4})),   # 26.625 -> 2663
        (3, T0, 1, "view", None, json.dumps({"k": 0})),    # NULL share row
    ]
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q84_spell_fanout_udtf")
    pd.testing.assert_frame_equal(got, want)
    by = {(r["event_id"], r["copy_idx"]): r["share_e2"] for _, r in got.iterrows()}
    # the NULL share row makes pandas materialize the BIGINT column as
    # float64 — identically on BOTH engines, which is what the compare
    # above proves; the pinned values read back with the float suffix
    assert by[("1", "1")] == "4.0" and by[("2", "2")] == "2663.0"


def test_q153_all_null_value_day_excluded(spark, tmp_path):
    """A user whose only day has exclusively NULL values: the day (and
    with it the user) leaves the series on both engines — previously
    DuckDB kept a NULL series point, the DP row fell back to the 1e18
    infinity sentinel, and the e4 BIGINT pin overflowed."""
    rows = [
        (1, T0, 1, "view", None),            # user 1: all-NULL single day
        (2, T0, 2, "view", 10.0),            # user 2: real series
        (3, T0 + 24 * HOUR, 2, "view", None),  # mixed day: NULL skipped
        (4, T0 + 24 * HOUR, 2, "view", 12.5),
    ]
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q153_dtw_similarity")
    pd.testing.assert_frame_equal(got, want)
    assert set(got["user_id"]) == {"2"}
    assert got.loc[got["user_id"] == "2", "n_days"].iloc[0] == "2"


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
