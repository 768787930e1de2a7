"""Cross-engine invariants, batch 10: Unicode text through the corpus
family (r6 unicode sweep, tools/fixtures.py ``unicode``).  CJK without spaces,
emoji with ZWJ sequences, combining marks, NBSP / ideographic space,
and RTL Arabic must flow through tokenization, hashing, profiling and
the multimodal byte path IDENTICALLY on both engines; the two known
engine-library divergences (JVM full case mapping vs utf8proc simple
folding on U+0130 'İ', and code-point vs BYTE levenshtein) are pinned
from both sides so a silent change in either library is caught.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from test_edge_invariants import DOCS, EMBEDDINGS, _both, _cols, _write

CJK = "漢字テキストに空白なし"
EMOJI = "emoji 👨‍👩‍👧‍👦 text 🎉 done"
ACCENT = "café résumé naive"
NBSP = "nbsp bound tokens"
WIDE = "wide　ideographic　space"
ARABIC = "نص عربي من اليمين إلى اليسار"


def _uni_docs(tmp_path):
    texts = [CJK, EMOJI, ACCENT, NBSP, WIDE, ARABIC]
    rows = [
        (i + 1, t, "xx", "uni", len(t)) for i, t in enumerate(texts)
    ]
    return _write(tmp_path, "documents", **_cols(DOCS, rows))


def test_q90_unicode_byte_counts(spark, tmp_path):
    """Multimodal byte path on non-ASCII payloads: the oracle's
    text::BLOB cast ERRORED on any non-ASCII character — encode() is
    the UTF-8 conversion Spark performs, and n_bytes now pins the
    UTF-8 byte length (CJK chars are 3 bytes, the ZWJ family 25)."""
    sf = _uni_docs(tmp_path)
    got, want = _both(spark, sf, "q90_multimodal_features")
    pd.testing.assert_frame_equal(got, want)
    n_bytes = dict(zip(got["media_id"], got["n_bytes"]))
    assert n_bytes["1"] == str(len(CJK.encode()))
    assert n_bytes["2"] == str(len(EMOJI.encode()))


def test_unicode_through_text_family(spark, tmp_path):
    """Tokenization / hashing / profiling on Unicode: CJK without
    spaces is ONE token, NBSP and ideographic space are NOT separators
    (ASCII-\\s semantics in both regex engines), ZWJ emoji survive
    md5-fingerprinting — q77/q92/q106/q110/q122 all stay driver-equal."""
    sf = _uni_docs(tmp_path)
    for name in ("q77_text_profile", "q92_corpus_clean", "q106_tfidf_terms",
                 "q110_context_chunks", "q122_lm_score"):
        got, want = _both(spark, sf, name)
        pd.testing.assert_frame_equal(got, want, obj=name)
    got, _ = _both(spark, sf, "q77_text_profile")
    n_tokens = dict(zip(got["doc_id"], got["n_tokens"]))
    assert n_tokens["1"] == "1"  # CJK: no ASCII whitespace -> one token
    assert n_tokens["4"] == "1"  # NBSP is not a \s separator
    assert n_tokens["5"] == "1"  # U+3000 is not a \s separator either
    assert n_tokens["6"] == "6"  # Arabic words split on plain spaces


def test_documented_case_and_levenshtein_divergences(spark):
    """The two engine-library divergences the unicode sweep attributes
    everything else to — pinned from BOTH sides (the q30-style
    discipline):

    - lower('İ'): the JVM's full case mapping emits i + COMBINING DOT
      ABOVE (2 code points) while DuckDB's utf8proc simple folding
      emits a bare 'i' — so lower()-derived tokens/fingerprints diverge
      on text containing U+0130 (and only then);
    - levenshtein: Spark counts code points (the intended semantics,
      used by q115/q161), DuckDB counts BYTES — 'café' vs 'cafe' is
      distance 1 in Spark and 2 in DuckDB (é is 2 bytes)."""
    row = (
        spark.createDataFrame([("İstanbul", "café")], ["a", "b"])
        .select(
            F.lower("a").alias("low"),
            F.levenshtein(F.col("b"), F.lit("cafe")).alias("lev"),
            F.length(F.lower("a")).alias("low_len"),
        )
        .collect()[0]
    )
    assert row["low"] == "i̇stanbul" and row["low_len"] == 9
    assert row["lev"] == 1
    duck = duckdb.sql(
        "SELECT lower('İstanbul') AS low, levenshtein('café', 'cafe') AS lev"
    ).fetchone()
    assert duck == ("istanbul", 2)


def test_degenerate_embeddings_family(spark, tmp_path):
    """Degenerate vectors through the array/ANN family (r6 embeddings
    sweep, tools/fixtures.py ``embeddings``): NULL / empty / ragged / NaN /
    Inf vectors flow through the array scalar surface (q33/q43/q54/q96)
    and brute-force cosine (q73) driver-equally — out-of-bounds indexes
    are NULL (try_element_at, never an ANSI crash), a ragged vector has
    NULL cosine (the oracle's dim guard vs zip_with NULL padding), and
    the ANN quartet neither crashes nor scores non-finite vectors."""

    import sanctum_spark.queries as qreg

    dim = 8
    rows = [(0, [1.0] + [0.0] * (dim - 1), 0)]
    rows += [(i, [float(i)] * dim, 0) for i in range(1, 12)]
    rows += [
        (21, None, 0),
        (22, [], 0),
        (23, [1.0, 2.0], 0),                # ragged
        (24, [float("nan")] * dim, 1),
        (25, [float("inf")] * dim, 1),
        (26, [0.5] * dim, None),            # NULL label
    ]
    sf = _write(tmp_path, "embeddings", **_cols(EMBEDDINGS, rows))
    for name in ("q33_explode_positions", "q43_array_manipulation",
                 "q54_array_functions", "q96_array_higher_order",
                 "q73_cosine_topk"):
        got, want = _both(spark, sf, name)
        pd.testing.assert_frame_equal(got, want, obj=name)
    got, _ = _both(spark, sf, "q43_array_manipulation")
    by_id = {r["vec_id"]: r for _, r in got.iterrows()}
    assert by_id["22"]["smallest_head"] in ("nan", "None")  # empty: NULL
    assert by_id["23"]["largest_head"] in ("nan", "None")   # ragged: idx 5
    assert by_id["23"]["smallest_head"] == "1.0"
    # ANN family: no crashes, degenerate vectors never in the result
    for name in ("q78_ann_lsh_topk", "q79_embedding_neardup",
                 "q94_ann_ivf", "q119_pq_ann"):
        out = qreg.REGISTRY[name].fn(spark, sf).toPandas()
        id_col = out.columns[0]
        assert not ({21, 22, 23} & set(out[id_col].astype(int))), name


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
