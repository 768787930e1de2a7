"""Cross-engine invariants, batch 13: regression pins for the r6 ADVICE
findings (fixed in r7) — JSON $.k value classes the sweeps never
generated, and NULL-vector dim inference:

1. QUOTED integer strings: on {"k":"5"} Spark's get_json_object +
   try_cast(long) extracts the unquoted '5' and yields 5, but the old
   sql_json_int oracle (json_type UBIGINT/BIGINT only) yielded NULL —
   diverging k/n/total in q61/q67/q81/q84/q89.  The oracle now accepts
   VARCHAR values matching Spark's integral parse (trimAll of chars
   <= 0x20, optional sign, ASCII digits, overflow-guarded), pinned
   against a live-probed Spark semantics table (r7).
2. NEGATIVE k: k % 3 keeps the dividend sign on both engines, so
   q84's n = k%3+1 can be 0 or -1; n == 0 reached `v / n` and raised
   ZeroDivisionError, crashing the whole query where the oracle's
   `s.i <= e.n` join cleanly emits zero rows.  Now guarded.
3. q83's zero-sum guard compared the group sum to exactly 0.0 — a
   mixed-sign group whose true sum is zero can accumulate to 0.0 on one
   engine and ~1e-13 on the other.  Both sides now use the same
   relative threshold |sum| <= 1e-9 * sum(|v|).
4. embedding_near_duplicates / pq_train inferred the vector dim from
   first(), which is row-order-nondeterministic: a single NULL
   embedding could land in head and crash len(None).  Dim now comes
   from the first NON-NULL vector.

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from test_edge_invariants import EVENTS, US, _both, _cols, _write

T0 = 1_700_000_000 * US


def _k_class_fixture(tmp_path):
    """One event per $.k value class, including the quoted/negative
    classes that diverged (see module docstring, items 1-2)."""
    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, T0 + 1, 10, "view", 1.0, json.dumps({"k": 5})),       # plain int
        (2, T0 + 2, 10, "view", 2.0, json.dumps({"k": "5"})),     # QUOTED int
        (3, T0 + 3, 10, "view", 3.0, json.dumps({"k": " 5 "})),   # padded quoted
        (4, T0 + 4, 11, "view", 4.0, json.dumps({"k": "+5"})),    # signed quoted
        (5, T0 + 5, 11, "view", 5.0, json.dumps({"k": "3.7"})),   # quoted decimal -> NULL
        (6, T0 + 6, 11, "view", 6.0, json.dumps({"k": 3.7})),     # plain decimal -> NULL
        (7, T0 + 7, 12, "view", 7.0, json.dumps({"k": "abc"})),   # non-numeric -> NULL
        (8, T0 + 8, 12, "view", 8.0, json.dumps({"k": -1})),      # n = -1%3+1 == 0
        (9, T0 + 9, 12, "view", 9.0, json.dumps({"k": "-2"})),    # quoted neg, n == -1
        (10, T0 + 10, 13, "view", 10.0, json.dumps({"k": "9999999999999999999999"})),  # overflow -> NULL
        (11, T0 + 11, 13, "view", 11.0, "{}"),                    # missing key
        (12, T0 + 12, 13, "view", 12.0, json.dumps({"k": 2})),    # plain small int
    ]
    return _write(tmp_path, "events", **_cols(EVENTS, rows))


def test_quoted_json_k_oracle_parity(spark, tmp_path):
    """Every sql_json_int consumer hash-matches its oracle over the
    quoted/negative $.k classes (module docstring item 1)."""
    sf = _k_class_fixture(tmp_path)
    for name in (
        "q61_json_props",
        "q67_props_as_map",
        "q81_spell_loop",
        "q84_spell_fanout_udtf",
        "q89_dispersion",
    ):
        got, want = _both(spark, sf, name)
        pd.testing.assert_frame_equal(got, want), name


def test_q84_fanout_counts_pinned(spark, tmp_path):
    """q84 fan-out cardinality per k class: quoted '5' fans out like
    plain 5 (n = 5%3+1 = 3); n <= 0 (k=-1, k='-2') emits zero rows and
    must NOT raise ZeroDivisionError (module docstring items 1-2)."""
    from sanctum_spark.queries import REGISTRY, load_all_modules

    load_all_modules()
    sf = _k_class_fixture(tmp_path)
    got = REGISTRY["q84_spell_fanout_udtf"].fn(spark, sf).toPandas()
    copies = got.groupby("event_id")["copy_idx"].count().to_dict()
    assert copies == {
        1: 3,  # k=5   -> n=3
        2: 3,  # k="5" -> n=3 (the r6 divergence: oracle said no rows)
        3: 3,  # k=" 5 "
        4: 3,  # k="+5"
        12: 3,  # k=2 -> 2%3+1 = 3
    }
    # NULL-k and n<=0 events fan out to nothing, crash-free
    assert set(copies) & {5, 6, 7, 8, 9, 10, 11} == set()


def test_q83_cancelling_mass_null_both_sides(spark, tmp_path):
    """A mixed-sign group whose float sum is ~5.5e-17 (0.1+0.2-0.3) is
    'zero mass' under the relative threshold on BOTH engines -> NULL
    self_weighted, where the old ==0.0 guard produced NULL on one
    engine and a ~1e16-scale value on the other (item 3)."""
    rows = [
        (1, T0 + 1, 1, "view", 0.1),
        (2, T0 + 2, 1, "view", 0.2),
        (3, T0 + 3, 1, "view", -0.3),
        # control group: well-conditioned mass
        (4, T0 + 4, 2, "view", 1.0),
        (5, T0 + 5, 2, "view", 2.0),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q83_grouped_agg_udf")
    pd.testing.assert_frame_equal(got, want)
    by_user = dict(zip(got["user_id"], got["self_weighted"]))
    assert by_user["1"] == "nan"  # cancelled mass -> NULL
    assert by_user["2"] == str(round((1.0 + 4.0) / 3.0 + 1e-9, 4))


def test_dim_inference_skips_null_vectors(spark):
    """embedding_near_duplicates / pq_train must infer dim from the
    first NON-NULL vector (item 4): a NULL embedding in row 0 of a
    single partition previously crashed len(None)."""
    from sanctum_spark.operators.similarity import (
        embedding_near_duplicates,
        pq_train,
    )

    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [1.0, 1e-6, 0.0, 0.0]  # cos(e1, e2) ~ 1
    df = spark.createDataFrame(
        [(1, None), (2, e1), (3, e2)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    pairs = embedding_near_duplicates(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(2, 3)]

    books = pq_train(df, m=2, ksub=2, n_iters=1)
    assert len(books) == 2 and all(len(b) == 2 for b in books)

    # all-NULL corpus: near-dups empty, pq_train raises the empty error
    null_df = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    assert embedding_near_duplicates(null_df, threshold=0.9).count() == 0
    with pytest.raises(ValueError, match="empty training corpus"):
        pq_train(null_df, m=2, ksub=2)
