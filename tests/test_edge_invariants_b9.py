"""Cross-engine threshold-edge invariants, batch 9: regression pins for
the r6 degenerate-row sweep fixes (tools/fixtures.py ``degenerate``) — NULL
and malformed JSON props, NULL-value events through the spell tiers,
NULL event_type at the map surface, and NULL-text documents through the
profiling/dedup/multimodal family.

Same discipline as batches 1-2 (test_edge_invariants.py, ``_both``).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from test_edge_invariants import DOCS, EVENTS, US, _both, _cols, _write
from test_edge_invariants_b4 import _NULLISH

T0 = 1_700_000_000 * US


def test_q84_q61_malformed_props(spark, tmp_path):
    """Malformed or NULL props: Spark's get_json_object yields NULL
    where DuckDB's json_extract_string ERRORS — the oracles parse
    through TRY_CAST(props AS JSON), the q84 fanout emits ZERO rows for
    such events (no int(None) crash), and well-formed rows still fan
    out k%3+1 copies."""
    rows = [
        (1, T0, 1, "view", 9.0, json.dumps({"k": 4})),   # n = 4%3+1 = 2
        (2, T0, 1, "view", 6.0, "not json"),             # no fan-out
        (3, T0, 1, "view", 3.0, None),                   # no fan-out
        (4, T0, 1, "view", 8.0, "{}"),                   # $.k missing
        (5, T0, 1, "view", None, json.dumps({"k": 4})),  # NULL value, valid k
        (6, T0, 1, "view", 7.0, json.dumps({"k": "abc"})),  # non-numeric k
        (7, T0, 1, "view", 5.0, json.dumps({"k": 3.7})),    # fractional k:
        # Spark try_cast('3.7') is NULL while a bare DuckDB TRY_CAST
        # would ROUND to 4 — the sql_json_int json_type guard pins NULL
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q84_spell_fanout_udtf")
    pd.testing.assert_frame_equal(got, want)
    assert set(got["event_id"]) == {"1", "5"}
    # event 5 fans out with NULL share (oracle: int_grain(NULL/n) is NULL)
    shares = got.groupby("event_id")["share_e2"].apply(set).to_dict()
    assert shares["5"] <= {"nan", "None", "<NA>"}
    assert len(got) == 4  # two copies each for events 1 and 5

    got, want = _both(spark, sf, "q61_json_props")
    pd.testing.assert_frame_equal(got, want)
    # '3.7' and '"abc"' both land in the k=NULL group on both engines
    by_k = dict(zip(got["k"], got["n"]))
    assert by_k.get("4.0", by_k.get("4")) == "2"

    got, want = _both(spark, sf, "q67_props_as_map")
    pd.testing.assert_frame_equal(got, want)
    # per-key counting survives mixed-type payloads: every doc with a
    # 'k' key counts toward n, only integer values reach the sum
    row = got[got["prop_key"] == "k"].iloc[0]
    assert row["n"] == "4" and row["total"] == "8"


def test_q81_runaway_loop_on_missing_k(spark, tmp_path):
    """Loop spell without a parsable counter: the cast can never
    terminate, so n_casts is the reference's runaway bound (1000) on
    BOTH engines — not DuckDB's silent GREATEST(NULL,1)=1."""
    rows = [
        (1, T0, 1, "view", 1.0, json.dumps({"k": 3})),
        (2, T0, 1, "view", 1.0, "not json"),
        (3, T0, 1, "view", 1.0, None),
        (4, T0, 1, "view", 1.0, json.dumps({"k": 2500})),   # clipped
        (5, T0, 1, "view", 1.0, json.dumps({"k": "abc"})),  # non-numeric
        (6, T0, 1, "view", 1.0, json.dumps({"k": 3.7})),    # fractional
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q81_spell_loop")
    pd.testing.assert_frame_equal(got, want)
    casts = dict(zip(got["event_id"], got["n_casts"]))
    assert casts == {"1": "3", "2": "1000", "3": "1000", "4": "1000",
                     "5": "1000", "6": "1000"}


def test_q80_q82_null_value_kept_by_all_tiers(spark, tmp_path):
    """A NULL-value event reaches the Python spell tiers as NaN (the
    Arrow boundary cannot distinguish them) and is KEPT with a NULL
    boost; the SQL oracle and the Catalyst expression tier must keep it
    explicitly — a bare three-valued NOT(value<50) silently drops it."""
    rows = [
        (1, T0, 1, "purchase", 60.0),
        (2, T0, 1, "purchase", 40.0),   # dropped: value < 50
        (3, T0, 1, "purchase", None),  # NULL value: kept, NULL boost
        (4, T0, 1, "click", 60.0),      # topic-filtered
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    for name in ("q80_spell_cast", "q82_spell_cast_vectorized"):
        got, want = _both(spark, sf, name)
        pd.testing.assert_frame_equal(got, want)
        boosted = dict(zip(got["event_id"], got["boosted_value"]))
        assert set(boosted) == {"1", "3"}, name
        assert boosted["1"] == "120.0"
        assert boosted["3"] in _NULLISH

    # the zero-Python expression tier agrees
    from sanctum_spark.io import load_table
    from sanctum_spark.queries.spells_q import BOOST_EXPR_SPELL
    from sanctum_spark.spells.runtime import apply_expression_spell

    ev = load_table(spark, sf, "events")
    out = apply_expression_spell(ev, BOOST_EXPR_SPELL, topic_col="event_type")
    rows_out = {r["event_id"]: r["boosted_value"] for r in out.collect()}
    assert set(rows_out) == {1, 3}
    assert rows_out[1] == 120.0 and rows_out[3] is None


def test_q97_q103_null_event_type_excluded(spark, tmp_path):
    """NULL event_type cannot be a map key (Spark raises NULL_MAP_KEY):
    both engines exclude it from the map surface while counting the
    non-null types normally."""
    rows = []
    eid = 0
    for _ in range(15):
        rows.append((eid := eid + 1, T0 + eid, 1, "view", 1.0))
    for _ in range(15):
        rows.append((eid := eid + 1, T0 + eid, 1, None, 1.0))
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q97_map_functions")
    pd.testing.assert_frame_equal(got, want)
    assert dict(zip(got["key"], got["doubled"])) == {"view": "30"}
    got, want = _both(spark, sf, "q103_map_zip_with")
    pd.testing.assert_frame_equal(got, want)
    assert set(got["key"]) == {"n_view"}


def test_null_text_documents_family(spark, tmp_path):
    """NULL-text docs through the documents family: q77 profiles them
    as lang 'und' with a NULL fingerprint; q105/q144/q90 drop them on
    both engines (no phantom segments, no fake features, no dtype
    flip); empty and whitespace-only texts stay cross-engine equal."""
    rows = [
        (1, "the cat and the hat", "en", "s", 19),
        (2, None, "en", "s", 0),
        (3, "", "en", "s", 0),
        (4, "   ", "en", "s", 3),
    ]
    sf = _write(tmp_path, "documents", **_cols(DOCS, rows))
    got, want = _both(spark, sf, "q77_text_profile")
    pd.testing.assert_frame_equal(got, want)
    by_doc = {r["doc_id"]: r for _, r in got.iterrows()}
    assert by_doc["2"]["lang_pred"] == "und"
    assert by_doc["2"]["fingerprint"] in _NULLISH
    assert by_doc["1"]["lang_pred"] == "en"

    for name in ("q105_repetition_filter", "q144_segment_dedup",
                 "q90_multimodal_features"):
        got, want = _both(spark, sf, name)
        pd.testing.assert_frame_equal(got, want)
        id_col = got.columns[got.columns.str.contains("id")][0]
        assert "2" not in set(got[id_col]), name


def test_q140_all_null_type_session_seq(spark, tmp_path):
    """A session whose only event has a NULL type yields seq '' on both
    engines (Spark concat_ws vs DuckDB's NULL list, COALESCEd); a mixed
    session skips the NULL element identically."""
    rows = [
        (1, T0, 1, None, 1.0),                 # lone null-type session
        (2, T0, 2, "view", 1.0),               # mixed session
        (3, T0 + US, 2, None, 1.0),
        (4, T0 + 2 * US, 2, "click", 1.0),
    ]
    sf = _write(tmp_path, "events", **_cols(EVENTS, rows))
    got, want = _both(spark, sf, "q140_session_sequences")
    pd.testing.assert_frame_equal(got, want)
    seqs = dict(zip(got["user_id"], got["seq"]))
    assert seqs == {"1": "", "2": "view>click"}


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
