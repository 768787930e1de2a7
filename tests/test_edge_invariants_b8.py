"""Cross-engine threshold-edge invariants, batch 8: degenerate
statistics and NULL-ordering — zero-variance / single-sample dispersion
(q89, the ANSI corr landmine this batch fixed), NULL-correlation pairs
at the top-3 cutoff (q88), regression aggregates on a perfect line and
a constant regressor (q107), hash-ordered group sampling (q117),
PII pattern boundaries (q123), transitive dedup clusters (q99), the
UDTF empty-token filter (q133), and the datasheet's fractional median
(q160, the BIGINT-cast rounding divergence this batch fixed).

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from test_edge_invariants import US, _both, _write_docs, _write_events
from test_edge_invariants_b4 import _NULLISH

HOUR = 3600 * US


_write_events_props = _write_events  # base writer takes optional props


def _write_lineitem_qty(tmp_path, rows):
    """rows: (l_returnflag, l_quantity|None, l_extendedprice)."""
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(len(rows)), pa.int64()),
            "l_returnflag": pa.array([r[0] for r in rows], pa.string()),
            "l_quantity": pa.array([r[1] for r in rows], pa.float64()),
            "l_extendedprice": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_q89_dispersion_degenerate_groups(spark, tmp_path):
    """Dispersion on degenerate groups: a constant-value group has
    sd/var/cov exactly 0 and NULL correlation (NOT an ANSI
    DIVIDE_BY_ZERO crash — the landmine raw F.corr carries); a
    single-event group yields NULL for every sample statistic; value==k
    pins corr at exactly 1.0 with cov == var."""
    t = 1_700_000_000 * US
    rows = []
    eid = 0
    for i, k in enumerate([1, 2, 3]):
        rows.append((eid := eid + 1, t + i, 1, "const", 5.0, json.dumps({"k": k})))
    rows.append((eid := eid + 1, t, 2, "single", 7.0, json.dumps({"k": 4})))
    for i, k in enumerate([1, 2, 3]):
        rows.append((eid := eid + 1, t + i, 3, "perfect", float(k), json.dumps({"k": k})))
    # mixed: 3 keyed rows on a perfect line plus 2 rows WITHOUT $.k —
    # corr applies pairwise deletion (k-null rows invisible to it), so
    # corr stays exactly 1.0 while sd/var span all 5 rows.  A stddev
    # computed over the raw column here would see the extremes and
    # deflate corr (the review-confirmed pairwise-deletion defect).
    for i, (v, k) in enumerate([(1.0, 1), (2.0, 2), (3.0, 3)]):
        rows.append((eid := eid + 1, t + i, 4, "mixed", v, json.dumps({"k": k})))
    rows.append((eid := eid + 1, t + 10, 4, "mixed", 100.0, "{}"))
    rows.append((eid := eid + 1, t + 11, 4, "mixed", -100.0, "{}"))
    sf = _write_events_props(tmp_path, rows)
    got, want = _both(spark, sf, "q89_dispersion")
    pd.testing.assert_frame_equal(got, want)
    by_type = {r["event_type"]: r for _, r in got.iterrows()}
    c = by_type["const"]
    assert c[["sd", "var", "cov_vk"]].tolist() == ["0.0", "0.0", "0.0"]
    assert c["corr_vk"] in _NULLISH
    s = by_type["single"]
    assert all(s[col] in _NULLISH for col in ("sd", "var", "cov_vk", "corr_vk"))
    p = by_type["perfect"]
    assert p[["sd", "var", "cov_vk", "corr_vk"]].tolist() == ["1.0", "1.0", "1.0", "1.0"]
    m = by_type["mixed"]
    assert m["corr_vk"] == "1.0"  # pairwise-complete rows only


def test_q88_null_corr_ranks_last(spark, tmp_path):
    """Top-3 correlated partners with a NULL-correlation (constant
    series) candidate in the pool: the NULL pair ranks LAST on both
    engines (desc NULLS LAST == try_divide NULL, never a NaN that
    Spark would sort first), so the cutoff keeps the three real
    correlations."""
    series = {
        1: [1.0, 2.0, 3.0, 4.0, 5.0],
        2: [2.0, 4.0, 6.0, 8.0, 10.0],    # corr(1,2) = 1.0
        3: [5.0, 4.0, 3.0, 2.0, 1.0],     # corr = -1.0
        7: [1.0, 2.0, 3.0, 4.0, 100.0],   # corr ~ 0.725
        6: [7.0, 7.0, 7.0, 7.0, 7.0],     # constant: corr NULL
    }
    t = 1_700_000_000 * US
    rows = []
    eid = 0
    for uid, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((eid := eid + 1, t + i * HOUR, uid, "view", v))
    for i in range(4):  # u4: only 4 active hours -> filtered out
        rows.append((eid := eid + 1, t + i * HOUR, 4, "view", 1.0))
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q88_user_correlation")
    pd.testing.assert_frame_equal(got, want)
    partners = got.groupby("user_id")["partner_id"].apply(set).to_dict()
    # u1 has 4 candidates; the NULL-corr partner 6 is cut at rank 4
    assert partners["1"] == {"2", "7", "3"}
    assert "4" not in partners  # below the 5-active-hours floor


def test_q107_perfect_line_and_constant_x(spark, tmp_path):
    """Regression aggregates: a perfect y=3x+2 line pins slope=3,
    intercept=2, r2=1; a constant regressor yields NULL slope/intercept/
    r2 on both engines; a NULL x row is excluded from regr_count and the
    regression means."""
    rows = [
        ("L", 1.0, 5.0), ("L", 2.0, 8.0), ("L", 3.0, 11.0),
        ("L", None, 999.0),               # excluded from every regr_*
        ("C", 5.0, 1.0), ("C", 5.0, 2.0), ("C", 5.0, 3.0),
    ]
    sf = _write_lineitem_qty(tmp_path, rows)
    got, want = _both(spark, sf, "q107_regression_aggs")
    pd.testing.assert_frame_equal(got, want)
    by_flag = {r["l_returnflag"]: r for _, r in got.iterrows()}
    l = by_flag["L"]
    assert l[["slope", "intercept", "r2", "n", "avg_qty", "avg_price"]].tolist() == ["3.0", "2.0", "1.0", "3", "2.0", "8.0"]
    c = by_flag["C"]
    assert c["n"] == "3"
    assert all(c[col] in _NULLISH for col in ("slope", "intercept", "r2"))


def test_q117_hash_order_and_small_groups(spark, tmp_path):
    """Deterministic per-group 5-sample: a 7-event user keeps exactly
    the 5 events an independent Python md5 ranks first; groups at or
    under k pass through whole."""
    t = 1_700_000_000 * US
    rows = []
    for i in range(7):
        rows.append((101 + i, t + i, 1, "view", 1.0))
    for i in range(5):
        rows.append((201 + i, t + i, 2, "view", 1.0))
    for i in range(2):
        rows.append((301 + i, t + i, 3, "view", 1.0))
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q117_group_sample")
    pd.testing.assert_frame_equal(got, want)
    kept = got.groupby("user_id")["event_id"].apply(set).to_dict()
    md5 = lambda i: hashlib.md5(str(i).encode()).hexdigest()
    expect_u1 = {str(i) for i in sorted(range(101, 108), key=md5)[:5]}
    assert kept == {
        "1": expect_u1,
        "2": {str(i) for i in range(201, 206)},
        "3": {"301", "302"},
    }


def test_q123_pii_pattern_boundaries(spark, tmp_path):
    """PII regex boundaries: an email at position 0 and one wrapped in
    punctuation both count; a single-letter TLD does not; a 4-digit
    leading octet breaks the IPv4 word boundary; a too-short +phone
    fails the length floor — each on top of the one synthesized
    email/ip/phone per doc."""
    rows = [
        (1, "a@b.co starts the doc", "en", "s", 21),
        (2, "fake ip 1234.5.6.7 here", "en", "s", 23),
        (3, "call +1-23 nope", "en", "s", 15),
        (4, "x@y.c single letter tld", "en", "s", 23),
        (5, "wrapped (a@b.co). done", "en", "s", 22),
    ]
    sf = _write_docs(tmp_path, rows)
    got, want = _both(spark, sf, "q123_pii_scrub")
    pd.testing.assert_frame_equal(got, want)
    counts = {
        r["doc_id"]: (r["n_email"], r["n_ip"], r["n_phone"])
        for _, r in got.iterrows()
    }
    assert counts == {
        "1": ("2", "1", "1"),
        "2": ("1", "1", "1"),
        "3": ("1", "1", "1"),
        "4": ("1", "1", "1"),
        "5": ("2", "1", "1"),
    }


def test_q99_transitive_cluster_excludes_singletons(spark, tmp_path):
    """Dedup clustering: A~B (0.67) and B~C (0.5) with A~C sharing ZERO
    shingles still collapse into one min-id cluster of 3; a doc with no
    pairs appears in neither engine's output."""
    a = "t1 t2 t3 t4 t5 t6"
    b = a + " e1 e2 e3 e4"
    c = "t5 t6 e1 e2 e3 e4"
    rows = [
        (1, a, "en", "s", len(a)),
        (2, b, "en", "s", len(b)),
        (3, c, "en", "s", len(c)),
        (4, "z1 z2 z3 z4 z5", "en", "s", 14),
    ]
    sf = _write_docs(tmp_path, rows)
    got, want = _both(spark, sf, "q99_dedup_clusters")
    pd.testing.assert_frame_equal(got, want)
    assert dict(zip(got["doc_id"], got["cluster_id"])) == {"1": "1", "2": "1", "3": "1"}
    assert set(got["cluster_size"]) == {"3"}


def test_q133_udtf_empty_token_filter(spark, tmp_path):
    """SQL-lateral UDTF tokenization: repeated/leading/trailing
    whitespace yields no empty tokens and gap-free 1-based positions; an
    empty doc emits zero rows; docs outside the %20 slice are invisible."""
    rows = [
        (20, "  a  b ", "en", "s", 7),
        (40, "", "en", "s", 0),
        (5, "not in slice", "en", "s", 12),
    ]
    sf = _write_docs(tmp_path, rows)
    got, want = _both(spark, sf, "q133_lateral_udtf")
    pd.testing.assert_frame_equal(got, want)
    assert [tuple(r) for _, r in got[["doc_id", "pos", "token"]].iterrows()] in (
        [("20", "1", "a"), ("20", "2", "b")],
        [("20", "2", "b"), ("20", "1", "a")],
    )


def test_q160_fractional_median_floor(spark, tmp_path):
    """Datasheet median at a fractional interpolation point: token
    counts [1,3,4,6] interpolate to 3.5, where a bare BIGINT cast
    DIVERGES (DuckDB rounds to 4, Spark truncates to 3) — both engines
    now floor explicitly, and the dup-rate pins at exactly 0.25 for one
    duplicated text in four docs."""
    d_frac = tmp_path / "frac"
    d_frac.mkdir()
    frac_rows = [
        (1, "a", "en", "s1", 1),
        (2, "b1 b2 b3", "fr", "s1", 8),
        (3, "c1 c2 c3 c4", "en", "s2", 11),
        (4, "e1 e2 e3 e4 e5 e6", "de", "s2", 17),
    ]
    sf = _write_docs(d_frac, frac_rows)
    got, want = _both(spark, sf, "q160_corpus_datasheet")
    pd.testing.assert_frame_equal(got, want)
    row = got.iloc[0]
    assert row[["n_docs", "n_tokens", "p50_tokens"]].tolist() == ["4", "14", "3"]

    dup_rows = [
        (1, "a", "en", "s1", 1),
        (2, "b1 b2 b3", "fr", "s1", 8),
        (3, "c1 c2 c3 c4", "en", "s2", 11),
        (4, "a", "de", "s2", 1),           # exact dup of doc 1
        (5, "d1 d2 d3 d4 d5 d6", "en", "s3", 17),
    ]
    d_dup = tmp_path / "dup"
    d_dup.mkdir()
    sf = _write_docs(d_dup, dup_rows)
    got, want = _both(spark, sf, "q160_corpus_datasheet")
    pd.testing.assert_frame_equal(got, want)
    row = got.iloc[0]
    assert row[["n_docs", "exact_dup_rate", "n_langs", "n_sources"]].tolist() == ["5", "0.2", "3", "3"]


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
