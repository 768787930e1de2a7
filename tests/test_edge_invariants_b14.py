"""Cross-engine invariants, batch 14: code-point-true Levenshtein
oracles (r6 verdict task #8).

DuckDB's ``levenshtein`` counts BYTES where Spark counts code points,
so the q115/q161 oracle pairing used to be exact for ASCII only —
documented as a blind spot in r6 (the unicode sweep attributed its
q115 MISMATCH to it).  ``util.sql_codepoint_levenshtein`` closes it by
recoding each pair's code points injectively into single-byte ASCII
(edit distance depends only on symbol-equality structure), so the
oracle now matches Spark on ANY vocabulary.  The raw library
divergence stays pinned in test_edge_invariants_b10.py; these tests
pin that the REGISTERED oracles no longer inherit it.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from test_edge_invariants import _both, _write_docs
from test_edge_invariants_b3 import _write_part


def test_helper_matches_spark_on_multibyte(spark):
    """The helper equals F.levenshtein over mixed ASCII / accented /
    CJK / astral / combining-mark pairs (and NULLs)."""
    from sanctum_spark.queries.util import sql_codepoint_levenshtein

    pairs = [
        ("kitten", "sitting"),
        ("café", "cafe"),
        ("naïve", "naive"),
        ("漢字テキ", "漢字テキスト"),
        ("İstanbul", "istanbul"),
        ("👨‍👩", "👨"),
        ("𝔞bc", "abc"),
        ("", "ab"),
        ("same", "same"),
        (None, "x"),
        ("ılık", "ılık"),
    ]
    from pyspark.sql import functions as F

    sdf = (
        spark.createDataFrame(pairs, "a string, b string")
        .select("a", "b", F.levenshtein("a", "b").alias("d"))
        .toPandas()
    )
    con = duckdb.connect()
    con.register("p", pd.DataFrame(pairs, columns=["a", "b"]))
    odf = con.sql(
        f"SELECT a, b, {sql_codepoint_levenshtein('a', 'b')} AS d FROM p"
    ).df()
    want = dict(zip(zip(odf["a"], odf["b"]), odf["d"]))
    for _, r in sdf.iterrows():
        got_o = want[(r["a"], r["b"])]
        assert (pd.isna(r["d"]) and pd.isna(got_o)) or int(r["d"]) == int(
            got_o
        ), (r["a"], r["b"], r["d"], got_o)


def test_q115_multibyte_vocab_oracle_parity(spark, tmp_path):
    """q115 hash-matches its oracle on a vocabulary where byte and
    code-point distances DIFFER: café/cafe (1 cp, 2 bytes) must pair at
    dist 1; 漢字/漢宇 likewise."""
    rows = [
        (1, "café cafe resume", "en", "s", 16),
        (2, "漢字 漢宇 naive", "zh", "s", 11),
        (3, "naïve naive plain", "en", "s", 17),
    ]
    sf = _write_docs(tmp_path, rows)
    got, want = _both(spark, sf, "q115_fuzzy_vocab")
    pd.testing.assert_frame_equal(got, want)
    pairs = {
        (r["w1"], r["w2"]): r["dist"] for _, r in got.iterrows()
    }
    assert pairs[("cafe", "café")] == "1"  # w1 < w2 is binary order
    assert pairs[("漢字", "漢宇")] == "1"
    assert pairs[("naive", "naïve")] == "1"


def test_q161_multibyte_names_oracle_parity(spark, tmp_path):
    """q161 hash-matches its oracle when entity names differ by one
    ACCENTED code point (2 bytes): the byte-counting oracle used to
    miss the 'café'/'cafe' edge entirely."""
    rows = [
        (1, "café blend dark", "B1", "roast"),
        (2, "cafe blend dark", "B1", "roast"),   # 1 cp from #1 -> same entity
        (3, "café blend dark!", "B1", "roast"),  # 1 cp from #1 -> same entity
        (4, "unrelated name", "B1", "roast"),
        (5, "café blend dark", "B2", "roast"),   # other block -> own entity
    ]
    sf = _write_part(tmp_path, rows)
    got, want = _both(spark, sf, "q161_entity_resolution")
    pd.testing.assert_frame_equal(got, want)
    by_entity = {
        r["entity_id"]: int(float(r["n_records"])) for _, r in got.iterrows()
    }
    assert by_entity == {"1": 3, "4": 1, "5": 1}
