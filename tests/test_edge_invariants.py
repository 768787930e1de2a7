"""Cross-engine invariants at THRESHOLD EDGES for the newest query
families (r5 verdict task 8): the sf fixtures exercise the bulk path, but
the exact boundary — a class of exactly k rows, a click landing exactly
on the CEP deadline, an SCD2 interval left open — is where Spark and the
DuckDB oracle could silently disagree.  Each test writes a crafted
events.parquet, runs the REGISTERED Spark query and its REGISTERED
oracle SQL on the same file through ``_both``, which returns both sides
as the oracle gate's stringified canon frames (``tools/verify_local.py``:
columns sorted by name, rows sorted by stringified values; the oracle's
views are the table files present in the crafted dir), compares them,
and then pins the expected rows so both engines being wrong together is
also caught.  The later batches (``_b3``..``_b15``) reuse ``_both``.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import sanctum_spark.queries as qreg
from tools.verify_local import canon, oracle_con

qreg.load_all_modules()

US = 1_000_000  # microseconds per second
HOUR_US = 3600 * US


def _write_events(tmp_path, rows):
    """rows: (event_id, ts_us_epoch, user_id, event_type, value[, props]).
    Writes the same naive timestamp[us] encoding the generated testdata
    uses; props defaults to '{}' when a row omits it."""
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array(
                [None if r[4] is None else float(r[4]) for r in rows],
                pa.float64(),
            ),
            "props": pa.array(
                [r[5] if len(r) > 5 else "{}" for r in rows], pa.string()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _both(spark, sf_dir, name):
    """(spark, oracle) stringified ``canon`` frames of a registered query
    over a crafted dir; the oracle sees one view per table file present
    there (``oracle_con``)."""
    q = qreg.REGISTRY[name]
    got = canon(q.fn(spark, sf_dir).toPandas())
    with oracle_con(sf_dir) as con:
        want = canon(con.sql(q.oracle).df())
    return got.astype(str), want.astype(str)


def test_q163_q164_threshold_edges(spark, tmp_path):
    """k-anonymity / distinct-individuals gates at the exact thresholds:
    k rows releases, k-1 suppresses; k rows from l-1 individuals fails
    only the q164 gate.  One QI class per user_id band, same hour."""
    from sanctum_spark.queries.pipeline7_q import K_ANON, L_DIVERSE

    t0 = 1_700_000_000 * US  # any fixed instant, naive µs epoch
    rows = []
    eid = 0
    # class A (value 10 -> band 0, type 'view'): exactly K rows, L users
    for i in range(K_ANON):
        rows.append((eid := eid + 1, t0 + i, 100 + i % L_DIVERSE, "view", 10.0))
    # class B (value 60 -> band 1): K-1 rows, plenty of users
    for i in range(K_ANON - 1):
        rows.append((eid := eid + 1, t0 + i, 200 + i, "view", 60.0))
    # class C (value 110 -> band 2): K rows but only L-1 distinct users
    for i in range(K_ANON):
        rows.append(
            (eid := eid + 1, t0 + i, 300 + i % (L_DIVERSE - 1), "view", 110.0)
        )
    sf = _write_events(tmp_path, rows)

    got, want = _both(spark, sf, "q163_k_anonymity")
    pd.testing.assert_frame_equal(got, want)
    rel163 = {
        int(float(r["value_band"])): r["released"] == "True"
        for _, r in got.iterrows()
    }
    assert rel163 == {0: True, 1: False, 2: True}

    got, want = _both(spark, sf, "q164_l_diversity")
    pd.testing.assert_frame_equal(got, want)
    rel164 = {
        int(float(r["value_band"])): r["released"] == "True"
        for _, r in got.iterrows()
    }
    # class C is k-anonymous but fails the distinct-individuals floor
    assert rel164 == {0: True, 1: False, 2: False}


def test_q152_cep_deadline_boundary(spark, tmp_path):
    """The 48h CEP deadline is INCLUSIVE (<=) on both engines: a
    purchase exactly at view_ts + 48h completes the pattern; one
    nanosecond — here one µs, the fixture grain — later does not."""
    from sanctum_spark.queries.pipeline6_q import CEP_WINDOW_NS

    t0 = 1_700_000_000 * US
    deadline_us = t0 + CEP_WINDOW_NS // 1000  # 48h after the view
    rows = [
        # user 1: click inside, purchase EXACTLY at the deadline -> match
        (1, t0, 1, "view", 1.0),
        (2, t0 + HOUR_US, 1, "click", 1.0),
        (3, deadline_us, 1, "purchase", 1.0),
        # user 2: identical but purchase one µs past the deadline -> none
        (4, t0, 2, "view", 1.0),
        (5, t0 + HOUR_US, 2, "click", 1.0),
        (6, deadline_us + 1, 2, "purchase", 1.0),
        # user 3: click exactly AT the deadline, purchase at the deadline
        # too (same-instant ordering by event_id) -> match
        (7, t0, 3, "view", 1.0),
        (8, deadline_us, 3, "click", 1.0),
        (9, deadline_us, 3, "purchase", 1.0),
    ]
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q152_cep_pattern")
    pd.testing.assert_frame_equal(got, want)
    assert sorted(got["user_id"]) == ["1", "3"]
    u1 = got[got["user_id"] == "1"].iloc[0]
    assert int(u1["purchase_ts"]) == t0 * 1000 + CEP_WINDOW_NS


def test_q152_purchase_before_click_not_matched(spark, tmp_path):
    """Pattern ORDER matters: view -> purchase -> click (no purchase
    after the click) must NOT match even though all three occur within
    the window."""
    t0 = 1_700_000_000 * US
    rows = [
        (1, t0, 1, "view", 1.0),
        (2, t0 + HOUR_US, 1, "purchase", 1.0),
        (3, t0 + 2 * HOUR_US, 1, "click", 1.0),
    ]
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q152_cep_pattern")
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 0


def test_q149_scd2_open_interval_and_ties(spark, tmp_path):
    """SCD2 edges: consecutive same-state rows collapse (null-safe
    compare), the last state stays OPEN (NULL valid_to), intervals abut
    exactly ([from, to) with to == next change's from), and same-instant
    changes order deterministically by event_id."""
    t0 = 1_700_000_000 * US
    rows = [
        # user 1: A A B A  -> intervals A[t0,t2) B[t2,t3) A[t3,NULL)
        (1, t0, 1, "A", 1.0),
        (2, t0 + 1 * US, 1, "A", 1.0),
        (3, t0 + 2 * US, 1, "B", 1.0),
        (4, t0 + 3 * US, 1, "A", 1.0),
        # user 2: two changes at the SAME instant, tie-broken by event_id
        (5, t0, 2, "X", 1.0),
        (6, t0 + 1 * US, 2, "Y", 1.0),
        (7, t0 + 1 * US, 2, "Z", 1.0),
    ]
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q149_scd2_intervals")
    pd.testing.assert_frame_equal(got, want)

    ns = lambda us: us * 1000  # noqa: E731
    u1 = got[got["user_id"] == "1"].sort_values("valid_from_ns")
    assert list(u1["state"]) == ["A", "B", "A"]
    # intervals abut exactly; the current state is open (engine NULL ->
    # pandas NaN -> 'nan' under the driver-style stringification)
    assert list(u1["valid_to_ns"]) == [
        str(float(ns(t0 + 2 * US))),
        str(float(ns(t0 + 3 * US))),
        "nan",
    ]
    u2 = got[got["user_id"] == "2"].sort_values(["valid_from_ns", "state"])
    # same-instant Y then Z: Y's interval is zero-width [t1, t1), Z open
    yz = {r["state"]: r["valid_to_ns"] for _, r in u2.iterrows()}
    assert yz["Y"] == str(float(ns(t0 + 1 * US)))
    assert yz["Z"] == "nan"


def test_q150_psi_identical_periods_zero(spark, tmp_path):
    """PSI sanity edge: identical value distributions in both periods
    give PSI == 0 exactly (Laplace smoothing keeps every log finite even
    with empty bins)."""
    t_a = pd.Timestamp("2024-01-10").value // 1000  # period a (µs epoch)
    t_b = pd.Timestamp("2024-01-20").value // 1000  # period b
    rows = []
    eid = 0
    for period_t in (t_a, t_b):
        for i, v in enumerate([5.0, 25.0, 45.0, 65.0, 85.0]):
            rows.append((eid := eid + 1, period_t + i, i, "view", v))
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q150_psi_drift")
    pd.testing.assert_frame_equal(got, want)
    assert set(got["psi"]) == {"0.0"}
    assert (got["share_a"] == got["share_b"]).all()


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def _write_docs(tmp_path, rows):
    """rows: (doc_id, text_or_None, lang, source, n_chars) — the
    documents table schema."""
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _write_lineitem(tmp_path, prices):
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(len(prices)), pa.int64()),
            "l_extendedprice": pa.array(prices, pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_q151_chi2_zero_on_independent_table(spark, tmp_path):
    """A contingency table with exact row/column independence (every
    cell o == r*c/n) must give chi2 == 0 on both engines — the dow
    numbering difference (Spark 1=Sunday vs DuckDB 0=Sunday) must stay
    label-invariant.  NULL event_type and NULL ts rows count toward n and
    the totals but are not cells (the 3x3 table with them is independent)."""
    day1 = pd.Timestamp("2024-01-08").value // 1000  # a Monday
    day2 = pd.Timestamp("2024-01-09").value // 1000  # a Tuesday
    rows = []
    eid = 0
    # types A / B / NULL on day1, day2, NULL ts  -> independent
    for day, counts in ((day1, {"A": 10, "B": 5, None: 5}),
                        (day2, {"A": 20, "B": 10, None: 10}),
                        (None, {"A": 2, "B": 1, None: 1})):
        for etype, k in counts.items():
            for i in range(k):
                ts = None if day is None else day + i
                rows.append((eid := eid + 1, ts, i, etype, 1.0))
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q151_chi2_independence")
    pd.testing.assert_frame_equal(got, want)
    row = got.iloc[0]
    assert row["chi2"] == "0.0"
    assert row["dof"] == "1"
    assert row["n_cells"] == "4"


def test_q154_benford_price_boundary(spark, tmp_path):
    """The l_extendedprice >= 1 cut is inclusive on both engines
    (price 1.0 contributes digit 1, price 0.5 is excluded), and digit
    shares are exact at a tiny grain."""
    sf = _write_lineitem(tmp_path, [0.5, 1.0, 1.5, 19.99, 100.0, 9.0])
    got, want = _both(spark, sf, "q154_benford_digits")
    pd.testing.assert_frame_equal(got, want)
    by_digit = {r["digit"]: r for _, r in got.iterrows()}
    assert set(by_digit) == {"1", "9"}
    assert by_digit["1"]["n"] == "4" and by_digit["9"]["n"] == "1"
    assert by_digit["1"]["observed"] == "0.8"
    assert by_digit["9"]["observed"] == "0.2"


def test_q155_reservoir_weight_and_ties(spark, tmp_path):
    """A-ES sampling edges: equal texts (equal uniforms) rank by the
    doc_id tiebreak, and with the same uniform a heavier doc (larger
    n_chars) always outranks a lighter one (es_key = ln(u)/w rises
    toward 0 as w grows)."""
    rows = [
        # same text -> same u16; weights 1000 vs 10 -> doc 1 outranks 2
        (1, "alpha beta", "en", "s", 1000),
        (2, "alpha beta", "en", "s", 10),
        # exact tie: same text AND same weight -> doc 3 before doc 4
        (3, "gamma delta", "en", "s", 100),
        (4, "gamma delta", "en", "s", 100),
        (5, "other doc", "de", "s", 50),
    ]
    sf = _write_docs(tmp_path, rows)
    got, want = _both(spark, sf, "q155_weighted_reservoir")
    pd.testing.assert_frame_equal(got, want)
    en = (
        got[got["lang"] == "en"]
        .assign(rn=lambda d: d["rn"].astype(int))
        .sort_values("rn")
    )
    order = list(en["doc_id"])
    assert order.index("1") < order.index("2")  # weight wins
    assert order.index("3") < order.index("4")  # doc_id tiebreak


def test_q156_perfect_powerlaw_r2_one(spark, tmp_path):
    """A count-of-counts table lying exactly on a power law (freq =
    8/cnt) must fit with slope == -1 and r2 == 1 on both engines."""
    t0 = 1_700_000_000 * US
    rows = []
    eid = 0
    uid = 0
    for cnt, n_users in ((1, 8), (2, 4), (4, 2)):
        for _ in range(n_users):
            uid += 1
            for i in range(cnt):
                rows.append((eid := eid + 1, t0 + eid, uid, "view", 1.0))
    sf = _write_events(tmp_path, rows)
    got, want = _both(spark, sf, "q156_powerlaw_fit")
    pd.testing.assert_frame_equal(got, want)
    row = got.iloc[0]
    assert row["n_points"] == "3"
    assert row["slope"] == "-1.0"
    assert row["r2"] == "1.0"


def test_q157_manifest_detects_substitution(spark, tmp_path):
    """The WAP manifest must change when one document's content is
    silently replaced by a copy of another's (same doc count — only the
    checksums can catch it), and must stay cross-engine identical on
    both the clean and corrupted corpus."""
    clean = [
        (1, "doc one text", "en", "s", 12),
        (2, "doc two text", "en", "s", 12),
        (3, "doc three text", "en", "s", 14),
        (4, "doc four text", "en", "s", 13),
    ]
    d_a = tmp_path / "a"
    d_b = tmp_path / "b"
    d_a.mkdir()
    d_b.mkdir()
    sf_a = _write_docs(d_a, clean)
    corrupted = [r if r[0] != 3 else (3, "doc four text", "en", "s", 13)
                 for r in clean]
    sf_b = _write_docs(d_b, corrupted)

    got_a, want_a = _both(spark, sf_a, "q157_shard_manifest")
    pd.testing.assert_frame_equal(got_a, want_a)
    got_b, want_b = _both(spark, sf_b, "q157_shard_manifest")
    pd.testing.assert_frame_equal(got_b, want_b)
    # same total docs, different manifests
    assert got_a["n_docs"].astype(int).sum() == got_b["n_docs"].astype(int).sum()
    assert not got_a.equals(got_b)


def test_q162_bm25_null_text_rows(spark, tmp_path):
    """Null-text documents count toward N (both engines' corpus stats)
    but can never score; a fixture with nulls must stay cross-engine
    hash-identical and exclude the null doc from results."""
    rows = [
        (1, "spark shuffle spark partition", "en", "s", 29),
        (2, "spark join plan", "en", "s", 15),
        (3, None, "en", "s", 0),
        (4, "nothing relevant here", "en", "s", 21),
        (5, "partition pruning with spark", "en", "s", 28),
    ]
    sf = _write_docs(tmp_path, rows)
    got, want = _both(spark, sf, "q162_bm25_topk")
    pd.testing.assert_frame_equal(got, want)
    assert "3" not in set(got["doc_id"])
    assert len(got) == 3  # docs 1, 2, 5 match at least one term
