"""Operator-library tests: planted-duplicate recall for the near-dup
family, ANN soundness vs the exact baseline, as-of join equivalence,
multimodal plumbing, text profiling determinism."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import sanctum_spark.queries as qreg
from sanctum_spark.io import load_table
from sanctum_spark.operators import dedup as D
from sanctum_spark.operators import joins as J
from sanctum_spark.operators import multimodal as M
from sanctum_spark.operators import similarity as S
from sanctum_spark.operators import text as TX

from conftest import broadcast_threshold

qreg.load_all_modules()


@pytest.fixture(scope="module")
def docs_with_planted(spark, sf_dir):
    """documents + a near-duplicate of doc 0 (one token appended, id 10^6)
    and an exact duplicate of doc 1 (id 10^6+1)."""
    docs = load_table(spark, sf_dir, "documents")
    near = (
        docs.filter(F.col("doc_id") == 0)
        .select(
            F.lit(1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    exact = docs.filter(F.col("doc_id") == 1).select(
        F.lit(1_000_001).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return docs.unionByName(near).unionByName(exact)


def test_exact_dedup_planted(spark, docs_with_planted):
    groups = D.exact_dedup(docs_with_planted, "text", "doc_id")
    dups = groups.filter(F.col("n_copies") > 1).collect()
    assert len(dups) == 1
    assert dups[0]["keeper_doc_id"] == 1
    kept = D.drop_exact_duplicates(docs_with_planted, "text", "doc_id")
    assert kept.count() == docs_with_planted.count() - 1
    assert kept.filter(F.col("doc_id") == 1_000_001).count() == 0


def test_minhash_finds_planted_near_dup(spark, docs_with_planted):
    pairs = D.minhash_near_duplicates(
        docs_with_planted, "text", "doc_id", n_hashes=16, bands=4, threshold=0.5
    )
    hit = pairs.filter((F.col("id_a") == 0) & (F.col("id_b") == 1_000_000)).collect()
    assert len(hit) == 1
    assert hit[0]["jaccard"] > 0.9


def test_ngram_jaccard_finds_planted(spark, docs_with_planted):
    pairs = D.ngram_jaccard_pairs(docs_with_planted, "text", "doc_id", threshold=0.5)
    hit = pairs.filter((F.col("id_a") == 0) & (F.col("id_b") == 1_000_000)).collect()
    assert len(hit) == 1


def test_simhash_finds_planted(spark, docs_with_planted):
    pairs = D.simhash_near_duplicates(docs_with_planted, "text", "doc_id", max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact duplicate: hamming 0, must be found; near-dup usually within 3
    assert (1, 1_000_001) in got


def test_ann_results_are_sound(spark, sf_dir):
    """Every ANN hit must carry the true cosine similarity and be drawn
    from the real corpus (soundness; recall on random vectors is not a
    meaningful target)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    lsh = S.RandomHyperplaneLSH(dim=len(qvec), n_planes=8, seed=42)
    bucketized = lsh.bucketize(emb.filter(F.col("vec_id") != 0))
    ann = lsh.topk(bucketized, qvec, k=10, n_probes=4).collect()
    assert 0 < len(ann) <= 10
    exact = {
        r["vec_id"]: r["cos_sim"]
        for r in S.cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=500).collect()
    }
    for row in ann:
        assert row["vec_id"] in exact
        assert abs(row["cos_sim"] - exact[row["vec_id"]]) < 1e-9
    # determinism
    again = lsh.topk(bucketized, qvec, k=10, n_probes=4).collect()
    assert [r["vec_id"] for r in again] == [r["vec_id"] for r in ann]


def test_asof_join_matches_window_formulation(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    got = (
        J.asof_join(ev, orders, on="user_id", left_time="ts", right_time="o_orderdate")
        .select("event_id", "o_orderkey")
        .collect()
    )
    q63 = qreg.REGISTRY["q63_asof_join"].fn

    want = {r["event_id"]: r["last_orderkey"] for r in q63(spark, sf_dir).collect()}
    assert len(got) == len(want)
    for r in got:
        assert want[r["event_id"]] == r["o_orderkey"], r


def test_range_join_counts(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").alias("lo"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("hi"),
    )
    out = J.range_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        on="o_orderkey",
        left_time="l_shipdate",
        right_lo="lo",
        right_hi="hi",
    )
    n = out.count()
    assert n > 0
    # spot-check the band predicate holds
    bad = out.filter(
        (F.col("l_shipdate") < F.col("lo")) | (F.col("l_shipdate") >= F.col("hi"))
    ).count()
    assert bad == 0


def test_text_profile_shape_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    p1 = TX.text_profile(docs).orderBy("doc_id").collect()
    p2 = TX.text_profile(docs).orderBy("doc_id").collect()
    assert p1 == p2
    for r in p1:
        assert r["n_tokens"] > 0
        assert 0.0 <= r["quality"] <= 1.0
        assert r["lang_pred"] in {"en", "de", "es", "fr", "und"}
        assert r["n_unique_tokens"] <= r["n_tokens"]


def test_multimodal_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20).select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    media = M.attach_media_columns(docs, "blob", "image", "doc_id")
    # same names/types as the envelope (nullability flags may differ)
    assert [(f.name, f.dataType) for f in media.schema.fields] == [
        (f.name, f.dataType) for f in M.MEDIA_SCHEMA.fields
    ]
    feats = M.extract_features(media, fake_decode=True).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["feature"]) == 3
        assert r["n_bytes"] > 0
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
    # deterministic fake decode: same payload → same feature
    again = M.extract_features(media, fake_decode=True).collect()
    assert {r["media_id"]: r["feature"] for r in again} == {
        r["media_id"]: r["feature"] for r in feats
    }


def test_compressed_formats_still_stubbed():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG...", fake=False)


def test_bmp_roundtrip_real_decode():
    import numpy as np

    rng = np.random.default_rng(3)
    for h, w in [(1, 1), (3, 5), (8, 8), (5, 3)]:  # odd widths hit row padding
        pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        blob = M.encode_bmp(pixels)
        assert (M.decode_bmp(blob) == pixels).all()
        # via the sniffing front door, without fake
        assert (M.decode_image(blob, fake=False) == pixels).all()


def test_ppm_roundtrip_and_ascii_variant():
    import numpy as np

    pixels = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (M.decode_ppm(M.encode_ppm(pixels)) == pixels).all()
    p3 = b"P3\n# comment\n3 2\n255\n" + " ".join(
        str(int(v)) for v in pixels.reshape(-1)
    ).encode()
    assert (M.decode_ppm(p3) == pixels).all()


def test_wav_roundtrip_real_decode():
    import numpy as np

    t = np.arange(800) / 8000.0
    mono = np.sin(2 * np.pi * 440 * t).astype(np.float32)
    blob = M.encode_wav(mono, 8000)
    samples, rate = M.decode_wav(blob)
    assert rate == 8000 and samples.shape == (800, 1)
    assert float(np.abs(samples[:, 0] - mono).max()) < 1e-3
    # stereo
    stereo = np.stack([mono, -mono], axis=1)
    s2, _ = M.decode_wav(M.encode_wav(stereo, 8000))
    assert s2.shape == (800, 2)


def test_extract_features_real_no_fake(spark):
    """End-to-end: real BMP + WAV payloads through the mapInPandas feature
    pipeline with fake_decode=False — no stub in the path."""
    import numpy as np

    red = np.zeros((4, 4, 3), dtype=np.uint8)
    red[:, :, 0] = 255
    silence = np.zeros(100, dtype=np.float32)
    rows = [
        (1, "image", bytearray(M.encode_bmp(red))),
        (2, "audio", bytearray(M.encode_wav(silence, 8000))),
    ]
    df = spark.createDataFrame(rows, "media_id long, modality string, payload binary")
    media = df.withColumn(
        "meta",
        F.expr(
            "named_struct('mime', CAST(NULL AS STRING), 'width', CAST(NULL AS INT),"
            " 'height', CAST(NULL AS INT), 'duration_ms', CAST(NULL AS BIGINT),"
            " 'source_uri', CAST(NULL AS STRING))"
        ),
    )
    feats = {r["media_id"]: r for r in M.extract_features(media, fake_decode=False).collect()}
    img = feats[1]["feature"]
    assert abs(img[0] - 1.0) < 1e-6 and abs(img[1]) < 1e-6 and abs(img[2]) < 1e-6
    aud = feats[2]["feature"]
    assert aud == [0.0, 0.0, 0.0] or all(abs(v) < 1e-6 for v in aud)


def test_extract_features_real_jpeg(spark):
    """Real JPEG payloads through the mapInPandas feature pipeline with
    fake_decode=False: the decoded channel means must match the source
    image within the codec's quantization error (lossy, so a bound)."""
    import numpy as np

    from sanctum_spark.operators.jpeg_codec import encode_jpeg

    img = np.zeros((12, 12, 3), dtype=np.uint8)
    img[:, :, 0] = 200  # red-ish constant: chroma subsampling lossless
    rows = [
        (1, "image", bytearray(encode_jpeg(img, quality=95, subsampling="4:2:0"))),
        (2, "image", bytearray(encode_jpeg(img[:, :, 0], quality=95))),  # gray
    ]
    df = spark.createDataFrame(rows, "media_id long, modality string, payload binary")
    media = df.withColumn(
        "meta",
        F.expr(
            "named_struct('mime', CAST(NULL AS STRING), 'width', CAST(NULL AS INT),"
            " 'height', CAST(NULL AS INT), 'duration_ms', CAST(NULL AS BIGINT),"
            " 'source_uri', CAST(NULL AS STRING))"
        ),
    )
    feats = {
        r["media_id"]: r["feature"]
        for r in M.extract_features(media, fake_decode=False).collect()
    }
    assert abs(feats[1][0] - 200 / 255) < 0.02  # R mean
    assert feats[1][1] < 0.02 and feats[1][2] < 0.02  # G/B means
    assert abs(feats[2][0] - feats[2][1]) < 1e-6  # gray replicates channels


def test_resize_real_bmp(spark):
    """Block-mean resize over a REAL decoded BMP: a half-black/half-white
    image must average to mid-gray in every output block row."""
    import numpy as np

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[:, 4:, :] = 255  # left half black, right half white
    df = spark.createDataFrame(
        [(7, "image", bytearray(M.encode_bmp(img)))],
        "media_id long, modality string, payload binary",
    )
    out = M.resize_images(df, height=2, width=2, fake_decode=False).collect()[0]
    resized = np.frombuffer(bytes(out["payload"]), dtype=np.uint8).reshape(2, 2, 3)
    assert (resized[:, 0, :] == 0).all() and (resized[:, 1, :] == 255).all()


def test_frame_sampling(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(3).select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    media = M.attach_media_columns(docs, "blob", "video", "doc_id")
    frames = M.sample_frames(media, every_ms=1000, fake_decode=True).collect()
    # default fake duration 3000ms → 3 frames per video
    assert len(frames) == 9
    idx = {(r["media_id"], r["frame_idx"]) for r in frames}
    assert len(idx) == 9


def test_salted_join_equivalence(spark, sf_dir):
    """Salting must not change join semantics — same result as the plain
    equi-join, with the hot key scattered over n_salts partitions."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    plain = (
        li.join(orders, "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    salted = (
        J.salted_join(li, orders, "l_orderkey", n_salts=8)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    a = {r["o_orderstatus"]: (r["n"], r["q"]) for r in plain.collect()}
    b = {r["o_orderstatus"]: (r["n"], r["q"]) for r in salted.collect()}
    assert a == b


def test_salted_join_rejects_outer_right_modes(spark, sf_dir):
    """Right/full outer would emit unmatched right rows once per salt
    (the right side is exploded) — salted_join must refuse them."""
    import pytest

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            J.salted_join(li, orders, "l_orderkey", how=how)


def test_ivf_results_are_sound(spark, sf_dir):
    """IVF ANN: every hit carries the true cosine, comes from the real
    corpus, is drawn only from probed lists, and the search is
    deterministic across runs (seeded by lowest-id vectors, no RNG)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    centroids = S.ivf_train(corpus, k=8, n_iters=2)
    assert len(centroids) == 8 and all(len(c) == len(qvec) for c in centroids)
    assigned = S.ivf_assign(corpus, centroids)
    # every vector lands in exactly one of the k lists
    lists = {r["list_id"] for r in assigned.select("list_id").distinct().collect()}
    assert lists <= set(range(8))
    hits = S.ivf_topk(assigned, centroids, qvec, k=10, n_probes=3).collect()
    assert 0 < len(hits) <= 10
    exact = {
        r["vec_id"]: r["cos_sim"]
        for r in S.cosine_topk(corpus, qvec, k=600).collect()
    }
    for row in hits:
        assert row["vec_id"] in exact
        assert abs(row["cos_sim"] - exact[row["vec_id"]]) < 1e-9
    again = S.ivf_topk(assigned, centroids, qvec, k=10, n_probes=3).collect()
    assert [r["vec_id"] for r in again] == [r["vec_id"] for r in hits]
    # full probe (all lists) must equal exact brute-force top-10
    full = S.ivf_topk(assigned, centroids, qvec, k=10, n_probes=8).collect()
    brute = S.cosine_topk(corpus, qvec, k=10).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in brute]


def test_embedding_neardup_completeness(spark, sf_dir):
    """LSH-bucketed near-dup pairs: every returned pair carries the true
    cosine; at a low threshold with few planes, recall vs the brute-force
    pair join must be substantial, and a planted exact duplicate must
    always be found (theta=0 -> same bucket with probability 1)."""
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    dup = emb.filter(F.col("vec_id") == 0).select(
        F.lit(1_000_000).alias("vec_id"), "embedding", "label"
    )
    data = emb.unionByName(dup)
    pairs = S.embedding_near_duplicates(data, threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in pairs.collect()}
    assert (0, 1_000_000) in got
    assert abs(got[(0, 1_000_000)] - 1.0) < 1e-9
    # soundness of every returned similarity vs an independent computation
    brute = S.cosine_self_join_topk(data, k=400)
    truth = {
        (r["id"], r["neighbor"]): r["cos_sim"]
        for r in brute.collect()
    }
    for (a, b), sim in got.items():
        assert abs(truth[(a, b)] - sim) < 1e-9
    # banding (n_tables>1) can only ADD candidate pairs: every single-table
    # pair must survive, and the planted exact dup is still found
    banded = S.embedding_near_duplicates(data, threshold=0.3, n_tables=2)
    got_banded = {(r["id_a"], r["id_b"]) for r in banded.collect()}
    assert set(got) <= got_banded
    assert (0, 1_000_000) in got_banded


def test_sized_lsh_tracks_corpus():
    """Plane count must grow with the corpus so expected bucket population
    stays <= target_bucket (fixed planes = quadratic pair joins at 100x)."""
    assert S.sized_lsh(500, 8).n_planes == 4  # floor
    assert S.sized_lsh(1 << 20, 8, target_bucket=1024).n_planes == 10
    assert S.sized_lsh(5_000_000_000, 8, target_bucket=1024).n_planes == 23
    assert S.sized_lsh(1 << 60, 8).n_planes == 24  # cap
    assert S.sized_lsh(1 << 20, 8, target_bucket=1024, n_tables=4).n_planes == 40


def test_resize_images_shapes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5).select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    media = M.attach_media_columns(docs, "blob", "image", "doc_id")
    out = M.resize_images(media, height=4, width=4, fake_decode=True).collect()
    assert len(out) == 5
    for r in out:
        assert r["width"] == 4 and r["height"] == 4
        assert len(bytes(r["payload"])) == 4 * 4 * 3  # HxWxC uint8


def test_approx_distinct_accuracy(spark, sf_dir):
    """q26's HLL++ estimate must sit within its configured rsd=0.02 of
    the exact per-group distinct count it emits alongside (5% ceiling
    leaves headroom for the sketch's tail probability)."""
    q26 = qreg.REGISTRY["q26_approx_distinct"].fn

    for r in q26(spark, sf_dir).collect():
        rel = abs(r["approx_parts"] - r["exact_parts"]) / r["exact_parts"]
        assert rel < 0.05, r


def test_hll_union_accuracy(spark, sf_dir):
    """Unioned per-group HLL sketches must estimate the global distinct
    count within the sketch's error bound (~2% at default lgConfigK)."""
    q98 = qreg.REGISTRY["q98_hll_mergeable"].fn

    rows = {r["event_type"]: r["approx_users"] for r in q98(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = ev.select("user_id").distinct().count()
    est = rows["_all_types_union"]
    assert abs(est - exact) / exact < 0.05, (est, exact)


def test_approx_percentile_accuracy(spark, sf_dir):
    q87 = qreg.REGISTRY["q87_approx_percentile"].fn

    for r in q87(spark, sf_dir).collect():
        rel = abs(r["approx_median"] - r["exact_median"]) / abs(r["exact_median"])
        assert rel < 0.01, r


def _cc_rows(df) -> list:
    """Sorted ``(id, component)`` tuples, the NULL id last."""
    rows = [(r["id"], r["component"]) for r in df.collect()]
    return sorted(rows, key=lambda t: (t[0] is None, t[0] or 0))


def _cc_all_paths(spark, edges, **kw) -> list:
    """Rows from the small-graph (driver-side) path under the session's
    conf, asserted identical — rows and schema — to the local round path
    and the checkpoint_table round path, both forced by threshold -1.
    The two round paths run one round shape and differ only in the
    checkpoint medium; the small path computes the same labels exactly."""
    small = D.connected_components(edges, **kw)
    want = _cc_rows(small)
    prefix = "cc_paths"
    with broadcast_threshold(spark, "-1"):
        local = D.connected_components(edges, **kw)
        try:
            tabled = D.connected_components(
                edges, checkpoint_table=prefix, n_buckets=2, **kw
            )
            for df in (local, tabled):
                assert df.schema.simpleString() == small.schema.simpleString()
                assert _cc_rows(df) == want
        finally:
            for t in ("edges", "labels_a", "labels_b", "labels_c"):
                spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    return want


def test_connected_components_transitive(spark):
    # path A-B-C plus isolated pair D-E: transitivity must collapse the
    # chain into one component labeled by its min id.
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    comp = dict(_cc_all_paths(spark, edges))
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    # 0-1-2-...-9: diameter 9 forces multiple propagation rounds and
    # exercises the convergence check (labels strictly decrease each round).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    comp = dict(_cc_all_paths(spark, edges))
    assert set(comp.values()) == {0}
    assert len(comp) == 10


def test_connected_components_degenerate_edges(spark):
    """NULL endpoints, a self-loop, duplicate and reversed edges, and an
    empty edge list: every path gives the same rows.  A NULL endpoint
    joins nothing, so 5 and 7 stay singletons and the NULLs collapse to
    one (NULL, NULL) row; the self-looped 3 is its own component; an
    empty edge list yields an empty frame with the same schema."""
    edges = spark.createDataFrame(
        [(5, None), (None, 7), (3, 3), (1, 2), (1, 2), (2, 1)],
        "id_a long, id_b long",
    )
    assert _cc_all_paths(spark, edges) == [
        (1, 1), (2, 1), (3, 3), (5, 5), (7, 7), (None, None)
    ]
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert _cc_all_paths(spark, empty) == []


def test_min_roots_matches_union_find():
    """The driver-side labeller against a plain union-find loop on random
    multigraphs (self-loops, repeats, isolated nodes): the min-index
    root of every node must agree exactly."""
    import numpy as np

    def union_find(u, v, n):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in zip(u.tolist(), v.tolist()):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        return [find(x) for x in range(n)]

    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(1, 120))
        m = int(rng.integers(0, 200))
        u, v = rng.integers(0, n, m), rng.integers(0, n, m)
        assert D._min_roots(u, v, n).tolist() == union_find(u, v, n)


def test_connected_components_small_graph_gate(spark):
    """The small-graph path is gated on the broadcast threshold.  Under
    the session's conf a small graph costs its edge materialization plus
    at most 2 jobs (the row count and the collect; the labels come back
    as a local frame); under -1 the same graph takes the round loop —
    more jobs, same labels.  Under a threshold of 48 B (cap = 3 pairs,
    under this graph's 8 symmetric edges) the count is taken and the
    graph falls back to the rounds on both checkpoint media: same rows
    and schema, and the rounds ran (more jobs locally; the labels
    ping-pong tables exist under checkpoint_table)."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (11, 12)], "id_a long, id_b long"
    )
    sc = spark.sparkContext

    def jobs_in(group, fn):
        sc.setJobGroup(group, "connected_components gate pin")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # jobs of an eager localCheckpoint of this input: what the edge
    # materialization inside connected_components costs
    _, n_mat = jobs_in(
        "cc_gate_materialize", lambda: edges.localCheckpoint(eager=True)
    )
    small, n_small = jobs_in(
        "cc_gate_small", lambda: D.connected_components(edges)
    )
    with broadcast_threshold(spark, "-1"):
        rounds, n_rounds = jobs_in(
            "cc_gate_rounds", lambda: D.connected_components(edges)
        )
    assert n_small <= n_mat + 2, (n_mat, n_small)
    assert n_rounds > n_small, (n_small, n_rounds)
    want = [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)]
    assert _cc_rows(small) == _cc_rows(rounds) == want

    prefix = "cc_gate"
    try:
        with broadcast_threshold(spark, "48b"):
            over, n_over = jobs_in(
                "cc_gate_over_cap", lambda: D.connected_components(edges)
            )
            tabled = D.connected_components(
                edges, checkpoint_table=prefix, n_buckets=2
            )
            tabled_rows = _cc_rows(tabled)
        assert spark.catalog.tableExists(f"{prefix}_labels_a")
    finally:
        for t in ("edges", "labels_a", "labels_b", "labels_c"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    assert n_over > n_small, (n_small, n_over)
    assert _cc_rows(over) == tabled_rows == want
    for df in (over, tabled):
        assert df.schema.simpleString() == small.schema.simpleString()


def test_jaccard_edges_matches_relational_model():
    """near_duplicate_clusters' driver-side pairs (``_jaccard_edges``)
    against a nested-loop reading of the SQL oracle's relational
    definition: intersections summed per (id_a < id_b) over every row
    pair sharing a shingle, sizes joined per row, a zero denominator
    never kept, a NULL id never paired.  Random small tables with NULL
    and repeated ids and empty shingle sets, in long and string
    shingles; the candidate cap returns None exactly when the volume
    Σ c·(c−1)/2 exceeds it."""
    from collections import Counter

    import numpy as np
    import pyarrow as pa

    def model(rows, t):
        valid = [(i, set(s)) for i, s in rows if i is not None]
        inter = Counter()
        for ia, sa in valid:
            for ib, sb in valid:
                if ia < ib:
                    inter[ia, ib] += len(sa & sb)
        return {
            (ia, ib)
            for (ia, ib), n in inter.items() if n
            for ja, sa in valid if ja == ia
            for jb, sb in valid if jb == ib
            if len(sa) + len(sb) != n and n / (len(sa) + len(sb) - n) >= t
        }

    rng = np.random.default_rng(11)
    for trial in range(300):
        rows = [
            (None if rng.random() < 0.1 else int(rng.integers(0, 8)),
             sorted({int(v) for v in rng.integers(0, 10, int(rng.integers(0, 6)))}))
            for _ in range(int(rng.integers(0, 12)))
        ]
        typ = pa.int64() if trial % 2 else pa.string()
        tbl = pa.table({
            "id": pa.array([i for i, _ in rows], pa.int64()),
            "shingles": pa.array(
                [s if trial % 2 else [str(v) for v in s] for _, s in rows],
                pa.list_(typ),
            ),
        })
        t = float(rng.choice([0.2, 0.4, 0.5, 1.0]))
        nodes, u, v = D._jaccard_edges(tbl, t, 1 << 40)
        assert {(int(nodes[a]), int(nodes[b])) for a, b in zip(u, v)} == model(rows, t), (rows, t)
        c = Counter(x for i, s in rows if i is not None for x in s).values()
        volume = sum(n * (n - 1) // 2 for n in c)
        assert D._jaccard_edges(tbl, t, volume) is not None
        if volume:
            assert D._jaccard_edges(tbl, t, volume - 1) is None


def _clusters_both_paths(spark, docs, **kw) -> list:
    """``near_duplicate_clusters`` rows under the session's conf and
    under threshold -1 (the Spark pair plan and connected components),
    asserted identical in rows and schema."""
    kw = {"shingle_k": 3, "threshold": 0.4, **kw}
    local = D.near_duplicate_clusters(docs, "text", "doc_id", **kw)
    with broadcast_threshold(spark, "-1"):
        planned = D.near_duplicate_clusters(docs, "text", "doc_id", **kw)
        assert planned.schema.simpleString() == local.schema.simpleString()
        want = _cc_rows(planned)
    assert _cc_rows(local) == want
    return want


def _queries_pass_on_both_paths(spark, d: str) -> None:
    """q99 and q158 over the tables in ``d`` pass the oracle compare under
    the session's conf and under threshold -1, with equal frames."""
    from tools.verify_local import check_query, oracle_con, str_equal

    con = oracle_con(d)
    try:
        for name in ("q99_dedup_clusters", "q158_quality_keeper"):
            q = qreg.REGISTRY[name]
            local, got = check_query(spark, d, q.fn, q.oracle, con)
            with broadcast_threshold(spark, "-1"):
                planned, ref = check_query(spark, d, q.fn, q.oracle, con)
            assert local["err"] is None, (name, local["err"])
            assert planned["err"] is None, (name, planned["err"])
            assert str_equal(got, ref), name
    finally:
        con.close()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_near_duplicate_queries_equal_on_both_paths(spark, sf_dir, sf):
    """q99 and q158 on the driver path (each test table fits the
    session's broadcast threshold and candidate cap) and on the Spark
    plan (threshold -1): both pass the oracle compare, with equal
    frames."""
    d = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.exists(os.path.join(d, "documents.parquet")):
        pytest.skip(f"no {sf} tables")
    _queries_pass_on_both_paths(spark, d)


def test_near_duplicate_clusters_crafted_corpus(spark, sf_dir, tmp_path, docs_with_planted):
    """The driver path equals the Spark plan, and q99/q158 pass the
    oracle compare on both, over three catalogue fixtures stacked:
    duplicate (400 documents on two texts: ~3 M candidates from hot
    shingles, under the 64 MiB cap), null_keys (NULL doc_ids, one
    doc_id on two rows) and degenerate (NULL, empty and whitespace
    text).  null_keys repeats duplicate's doc 1 with its text plus one
    word, and doc 3 gets a second row with NULL text: both give rows
    whose Jaccard denominator is 0, NULL in the oracle and never kept.
    The planted corpus is checked at the operator in both shingle
    modes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.fixtures import from_columns, materialize

    src = sf_dir
    for name in ("duplicate", "null_keys", "degenerate"):
        src = materialize(name, src, str(tmp_path / name))
    path = os.path.join(src, "documents.parquet")
    tbl = pq.read_table(path)
    extra = from_columns(tbl.schema, {"doc_id": [3], "text": [None], "lang": ["en"]})
    pq.write_table(pa.concat_tables([tbl, extra]), path)

    _queries_pass_on_both_paths(spark, src)
    docs = spark.read.parquet(path)
    for hashed in (True, False):
        rows = _clusters_both_paths(spark, docs, hashed=hashed)
        assert {c for _, c in rows} >= {1, 2}  # the two hot clusters
        assert None not in {i for i, _ in rows}  # a NULL id never pairs
        planted = dict(_clusters_both_paths(spark, docs_with_planted, hashed=hashed))
        assert planted[1_000_000] == planted[0] and planted[1_000_001] == planted[1]


def test_q99_builder_runs_one_job(spark, sf_dir):
    """q99's builder collects the shingles in one Spark job and clusters
    on the driver: no pair plan, no connected-components loop."""
    d = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(os.path.join(d, "documents.parquet")):
        pytest.skip("no sf0.01 tables")
    q = qreg.REGISTRY["q99_dedup_clusters"]
    q.fn(spark, d)  # the first read of a table infers its schema in a job
    sc = spark.sparkContext
    sc.setJobGroup("q99_builder_pin", "q99 builder job count")
    try:
        q.fn(spark, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("q99_builder_pin")) <= 1


def test_near_duplicate_clusters_candidate_cap_falls_back(spark, sf_dir, tmp_path):
    """The size estimate passes but the candidate check does not: the
    duplicate fixture's ~3 M candidates exceed a 1 MB threshold's cap
    (65,536 pairs) while its few-KB file is under the threshold.  The
    collected table is dropped, the Spark plan runs (more jobs) and the
    clusters are unchanged."""
    from tools.fixtures import materialize

    d = materialize("duplicate", sf_dir, str(tmp_path / "duplicate"))
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    sc = spark.sparkContext

    def jobs_in(group, fn):
        sc.setJobGroup(group, "near_duplicate_clusters cap pin")
        try:
            out = _cc_rows(fn())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def clusters():
        return D.near_duplicate_clusters(docs, "text", "doc_id", threshold=0.4, hashed=True)

    local, n_local = jobs_in("ndc_local", clusters)
    with broadcast_threshold(spark, "1MB"):
        size = docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert int(str(size)) <= 1 << 20
        fallback, n_fallback = jobs_in("ndc_fallback", clusters)
    assert fallback == local and len(local) == 400
    assert n_fallback > n_local + 2, (n_local, n_fallback)


def test_hashed_jaccard_pairs_match_string_pairs(spark, docs_with_planted):
    want = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(
            docs_with_planted, "text", "doc_id", threshold=0.4
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(
            docs_with_planted, "text", "doc_id", threshold=0.4, hashed=True
        ).collect()
    }
    assert got == want


def test_rollup_merge_equals_direct(spark, sf_dir):
    from sanctum_spark.operators import rollup as R

    ev = load_table(spark, sf_dir, "events")
    hourly = R.partial_rollup(ev, "ts", "hour", ["event_type"], "value")
    merged = R.merge_rollup(hourly, "day", ["event_type"])
    direct = R.partial_rollup(ev, "ts", "day", ["event_type"], "value")
    m = {(r["bucket"], r["event_type"]): r for r in merged.collect()}
    d = {(r["bucket"], r["event_type"]): r for r in direct.collect()}
    assert set(m) == set(d)
    for k in d:
        assert m[k]["n"] == d[k]["n"]
        assert abs(m[k]["sum_value"] - d[k]["sum_value"]) < 1e-6
        assert m[k]["min_value"] == d[k]["min_value"]
        assert m[k]["max_value"] == d[k]["max_value"]


def test_rollup_rejects_unknown_grain(spark, sf_dir):
    from sanctum_spark.operators import rollup as R

    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        R.partial_rollup(ev, "ts", "fortnight", ["event_type"], "value")


def test_connected_components_composes_with_minhash(spark, docs_with_planted):
    """The scale path: CC consumes banded MinHash pairs directly (the
    exact-Jaccard edge source in q99 is the oracle-able validator)."""
    pairs = D.minhash_near_duplicates(
        docs_with_planted, "text", "doc_id", n_hashes=16, bands=4, threshold=0.5
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    by_id = {r["id"]: r["component"] for r in comp.collect()}
    # the planted near-dup pair (0, 1_000_000) must share a component
    assert by_id.get(1_000_000) == by_id.get(0) == 0


def test_connected_components_jump_beats_diameter(spark):
    # 60-node path: diameter 59 >> max_iter=10 — plain propagation must
    # raise (no silent partial labels), pointer jumping must converge
    # (horizon doubles per round: ceil(log2(59)) + confirm < 10).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"]
    )
    with broadcast_threshold(spark, "-1"), pytest.raises(RuntimeError, match="fixpoint"):
        D.connected_components(edges, max_iter=10)
    comp = dict(_cc_all_paths(spark, edges, max_iter=10, jump=True))
    assert set(comp.values()) == {0}
    assert len(comp) == 60
    # the small-graph path's labels are exact: max_iter does not apply
    assert dict(_cc_rows(D.connected_components(edges, max_iter=10))) == comp


def test_decontaminate_flags_planted_copy(spark):
    from sanctum_spark.operators.text import decontaminate

    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # verbatim copy of the benchmark doc -> containment 1.0
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # disjoint vocabulary -> no overlap, never flagged
            (2, "one two three four five six seven eight nine"),
            # half-contaminated: leading 4 benchmark tokens
            (3, "alpha beta gamma delta red blue green yellow"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(docs, bench, "text", "doc_id", k=3, threshold=0.05)
        .collect()
    }
    assert out[1]["containment"] == 1.0 and out[1]["n_overlap"] == 6
    assert 2 not in out
    # doc 3: 6 shingles, 2 of them ("alpha beta gamma", "beta gamma delta")
    # are benchmark shingles
    assert out[3]["n_overlap"] == 2
    assert abs(out[3]["containment"] - 2 / 6) < 1e-9


def test_repetition_profile_hand_computed(spark):
    from sanctum_spark.operators.text import repetition_profile

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "w x y z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repetition_profile(docs).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 4
    assert abs(r1["dup_token_frac"] - 0.5) < 1e-9  # 2 uniques of 4
    assert abs(r1["top_token_frac"] - 0.75) < 1e-9  # mode 'a' x3
    # bigrams: "a a","a a","a b" -> 2 distinct of 3
    assert abs(r1["dup_bigram_frac"] - 1 / 3) < 1e-9
    r2 = out[2]
    assert r2["dup_token_frac"] == 0.0
    assert abs(r2["top_token_frac"] - 0.25) < 1e-9
    assert r2["dup_bigram_frac"] == 0.0


def test_pagerank_matches_numpy_power_iteration(spark):
    # Weighted 4-node graph with a clear hub; compare 10 fixed rounds
    # against a dense numpy power iteration of the same update rule.
    import numpy as np

    from sanctum_spark.operators.graph import pagerank

    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 1.0), (2, 3, 2.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight_col="w", n_iter=10).collect()
    }

    n = 4
    W = np.zeros((n, n))
    for s, d, w in edges:
        W[s, d] += w
        W[d, s] += w
    share = W / W.sum(axis=1, keepdims=True)  # row: src -> dst share
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        r = 0.15 / n + 0.85 * (share.T @ r)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    # hub (node 2) outranks the leaf it feeds
    assert got[2] > got[0]


def test_pagerank_unweighted_uniform_on_cycle(spark):
    # symmetric cycle: perfect symmetry must give exactly uniform ranks
    from sanctum_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], ["src", "dst"]
    )
    ranks = [r["rank"] for r in pagerank(df, n_iter=5).collect()]
    assert all(abs(v - 0.2) < 1e-12 for v in ranks)


def test_pq_recall_and_determinism(spark, sf_dir):
    """Product quantization: codes are deterministic, ADC distances are
    the LUT-decomposed distances, and ADC top-10 recall vs exact L2
    brute force is substantial for 8x16 codebooks on 64-dim vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    books = S.pq_train(corpus, m=8, ksub=16, n_iters=2)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    enc = S.pq_encode(corpus, books)
    codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    assert all(len(v) == 8 and all(0 <= c < 16 for c in v) for v in codes.values())
    again = {r["vec_id"]: r["pq_code"] for r in S.pq_encode(corpus, books).collect()}
    assert codes == again
    hits = S.pq_adc_topk(enc, books, qvec, k=10).collect()
    assert len(hits) == 10
    # ADC distance must match the driver-side reconstruction of the same code
    import math

    def adc(code):
        d = 0.0
        for j, c in enumerate(code):
            cen = books[j][c]
            d += sum((qvec[j * 8 + p] - cen[p]) ** 2 for p in range(8))
        return d

    for r in hits:
        assert abs(r["adc_dist"] - adc(codes[r["vec_id"]])) < 1e-6
    # recall@10 against exact L2 top-10. This corpus is near-isotropic
    # (no planted cluster structure), the hard case for raw ADC: 8x16
    # books keep only a plurality of true neighbors in the raw top-10,
    # and the production path is ADC shortlist -> exact re-rank.
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in corpus.collect()}
    exact = sorted(
        vecs, key=lambda i: sum((a - b) ** 2 for a, b in zip(vecs[i], qvec))
    )[:10]
    got = {r["vec_id"] for r in hits}
    assert len(got & set(exact)) >= 3  # raw ADC floor (no re-rank)
    rer = S.pq_adc_topk(enc, books, qvec, k=10, rerank=100).collect()
    got_rr = {r["vec_id"] for r in rer}
    assert len(got_rr & set(exact)) >= 8  # shortlist+exact re-rank
    # re-ranked distances are the true squared L2 of the survivors
    for r in rer:
        true = sum((a - b) ** 2 for a, b in zip(vecs[r["vec_id"]], qvec))
        assert abs(r["adc_dist"] - true) < 1e-6


def test_pq_train_validates_dims(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_train(emb, m=7)


def test_incremental_exact_new(spark, docs_with_planted):
    """The planted exact duplicate (1_000_001 copies doc 1 in base) must be
    dropped; new-side internal dups keep the lowest id."""
    new = docs_with_planted.filter(
        F.col("doc_id").isin([1, 2, 1_000_001])
    )  # doc 1 & its copy + doc 2
    base = docs_with_planted.filter(F.col("doc_id").isin([2, 3]))
    kept = {r["doc_id"] for r in D.incremental_exact_new(new, base, "text", "doc_id").collect()}
    # doc 2 is in base -> dropped; copy 1_000_001 loses to doc 1 internally
    assert kept == {1}


def test_cross_corpus_neardup_finds_planted(spark, docs_with_planted):
    """The near-duplicate of doc 0 (id 10^6, one token appended) sits in
    the 'new' side and must be caught against base doc 0."""
    new = docs_with_planted.filter(F.col("doc_id") >= 1_000_000)
    base = docs_with_planted.filter(F.col("doc_id") < 1_000_000)
    pairs = D.cross_corpus_near_duplicates(
        new, base, "text", "doc_id", threshold=0.5
    ).collect()
    assert any(r["new_id"] == 1_000_000 and r["base_id"] == 0 for r in pairs)
    exact = [r for r in pairs if r["new_id"] == 1_000_001 and r["base_id"] == 1]
    assert exact and abs(exact[0]["jaccard"] - 1.0) < 1e-12
    # cross-only contract: no new x new or base x base pairs
    assert all(r["new_id"] >= 1_000_000 > r["base_id"] for r in pairs)


def test_pii_scrub_hand_checked(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@test.org or ping 192.168.0.1 tel +44-20-7946-0958"),
            (2, "no pii here, just 3.14 and v1.2"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in TX.pii_scrub(df).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_ip"] == 1 and rows[1]["n_phone"] == 1
    assert "<EMAIL>" in rows[1]["clean_text"]
    assert "<IP>" in rows[1]["clean_text"]
    assert "<PHONE>" in rows[1]["clean_text"]
    assert "a.b+c@test.org" not in rows[1]["clean_text"]
    assert rows[2]["n_email"] == 0 and rows[2]["n_ip"] == 0 and rows[2]["n_phone"] == 0
    # "3.14" / "v1.2" must not be eaten by the IP pattern
    assert "3.14" in rows[2]["clean_text"] and "v1.2" in rows[2]["clean_text"]


def test_ngram_lm_score_hand_computed(spark):
    """Tiny corpus where the trigram counts are checkable by hand."""
    import math

    train = spark.createDataFrame([(1, "abcd")], ["doc_id", "text"])
    # trigrams of 'abcd': abc, bcd -> each cnt 1; total=2, vocab=2
    table = TX.ngram_lm_table(train, "text", n=3)
    counts = {r["gram"]: r["cnt"] for r in table.collect()}
    assert counts == {"abc": 1, "bcd": 1}
    score_docs = spark.createDataFrame([(9, "abcz")], ["doc_id", "text"])
    out = TX.ngram_lm_score(score_docs, table, "text", "doc_id", n=3, alpha=0.5).collect()
    assert len(out) == 1 and out[0]["n_grams"] == 2
    # grams: abc (cnt 1), bcz (cnt 0); p = (c+0.5)/(2+0.5*2)
    expect = (math.log(1.5 / 3.0) + math.log(0.5 / 3.0)) / 2
    assert abs(out[0]["lm_logp"] - expect) < 1e-12
    # short text -> zero grams -> doc drops out (both engines agree)
    short = spark.createDataFrame([(5, "ab")], ["doc_id", "text"])
    assert TX.ngram_lm_score(short, table, "text", "doc_id").count() == 0


def test_quality_logit_monotone(spark):
    """Longer clean text outscores short punctuation-heavy text."""
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a fine day in the sun " * 20),
            (2, "!!! ??? ... ###"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["p"]
        for r in df.select("doc_id", TX.quality_logit_score("text").alias("p")).collect()
    }
    assert 0.0 < rows[2] < rows[1] < 1.0
    assert rows[1] > 0.5 and rows[2] < 0.5


def test_zorder_layout_tightens_both_dims(spark, sf_dir):
    """zorder_by clusters partitions so per-partition ranges stay tight
    in BOTH dimensions; a one-column sort leaves the second dimension's
    per-partition range at ~full width."""
    from sanctum_spark.operators.layout import zorder_by, zvalue

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.datediff("o_orderdate", F.lit("1992-01-01")).alias("d")
    )

    def span_fraction(df, col):
        """mean per-partition (max-min) / global (max-min)."""
        g = df.agg(
            (F.max(col) - F.min(col)).cast("double").alias("span")
        ).first()["span"]
        parts = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg((F.max(col) - F.min(col)).cast("double").alias("span"))
            .agg(F.avg("span").alias("m"))
            .first()["m"]
        )
        return parts / g

    n_parts = 8
    zed = zorder_by(orders, ["o_custkey", "d"], n_partitions=n_parts).persist()
    lex = orders.repartitionByRange(n_parts, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).persist()
    try:
        assert zed.count() == orders.count()
        # lexicographic: first column tight, second ~full width
        assert span_fraction(lex, "o_custkey") < 0.3
        assert span_fraction(lex, "d") > 0.7
        # z-order: BOTH dimensions substantially tighter than full width
        zc, zd = span_fraction(zed, "o_custkey"), span_fraction(zed, "d")
        assert zc < 0.65 and zd < 0.65, (zc, zd)
    finally:
        zed.unpersist()
        lex.unpersist()


def test_zvalue_matches_reference_interleave(spark):
    """Morton code bit-placement: zvalue(x, y) interleaves x at even and
    y at odd bit positions."""
    from sanctum_spark.operators.layout import zvalue

    df = spark.createDataFrame([(3, 5), (0, 0), (65535, 65535)], ["x", "y"])
    out = df.select(
        zvalue([F.col("x"), F.col("y")], bits=16).alias("z")
    ).collect()

    def ref(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert [r["z"] for r in out] == [ref(3, 5), ref(0, 0), ref(65535, 65535)]


def test_bpe_train_deterministic_and_boundary_safe(spark, sf_dir):
    from sanctum_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents").limit(200)
    m1 = B.bpe_train(docs, n_merges=40, max_words=5000)
    m2 = B.bpe_train(docs, n_merges=40, max_words=5000)
    assert m1 == m2 and 0 < len(m1) <= 40
    # no merge crosses a word boundary: END only ever terminates a symbol
    for a, b in m1:
        assert B.END not in a
        assert not (B.END in b and b != B.END and not b.endswith(B.END))


def test_bpe_apply_reconstructs_text(spark, sf_dir):
    from sanctum_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents").limit(50)
    merges = B.bpe_train(docs, n_merges=30, max_words=5000)
    out = B.bpe_apply(docs, merges).select("doc_id", "text", "bpe_tokens").collect()
    for r in out:
        # stripping the end-of-word markers must reproduce the words
        rebuilt = "".join(r["bpe_tokens"]).replace(B.END, " ").split()
        assert rebuilt == str(r["text"]).lower().split()
    # idempotent tokenization
    again = B.bpe_apply(docs, merges).select("doc_id", "bpe_tokens").collect()
    assert {r["doc_id"]: r["bpe_tokens"] for r in again} == {
        r["doc_id"]: r["bpe_tokens"] for r in out
    }


def test_bpe_merges_reduce_token_count(spark, sf_dir):
    from sanctum_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents").limit(100)
    merges = B.bpe_train(docs, n_merges=50, max_words=5000)
    n_char = (
        B.bpe_apply(docs, [], "text")
        .select(F.size("bpe_tokens").alias("k")).agg(F.sum("k")).first()[0]
    )
    n_bpe = (
        B.bpe_apply(docs, merges, "text")
        .select(F.size("bpe_tokens").alias("k")).agg(F.sum("k")).first()[0]
    )
    assert n_bpe < n_char  # merges compress the token stream


def test_udtf_lateral_sql_and_decay(spark):
    from sanctum_spark.udtfs import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "Hello  big world"), (2, None), (3, "  ")], ["id", "txt"]
    ).createOrReplaceTempView("_t_udtf")
    rows = spark.sql(
        "SELECT id, pos, token FROM _t_udtf, LATERAL tokenize_udtf(txt)"
    ).collect()
    got = {(r["id"], r["pos"], r["token"]) for r in rows}
    # gap-free 1-based positions, lowercased, null/blank rows emit nothing
    assert got == {(1, 1, "hello"), (1, 2, "big"), (1, 3, "world")}
    # decrement-counter semantics as a table function (O7 loop shape)
    out = spark.sql(
        "SELECT n, emitted FROM decay_emit_udtf(2.5)"
    ).collect()
    assert [(r["n"], r["emitted"]) for r in out] == [(1, 2.5), (2, 1.5), (3, 0.5)]


def test_bpe_train_apply_same_word_segmentation(spark):
    """Train (Spark split, Java ASCII \\s) and apply (Python kernel) must
    share ONE word-segmentation convention: text with Unicode whitespace
    (NBSP) segments identically on both paths."""
    from sanctum_spark.operators import bpe as B

    # NBSP inside "foo bar": ASCII \s+ does NOT split it, so both
    # paths must treat it as one word.
    df = spark.createDataFrame(
        [(1, "foo bar baz"), (2, "foo bar qux")], "doc_id long, text string"
    )
    words = {r["word"] for r in B.word_counts(df, "text").collect()}
    assert "foo bar" in words and "baz" in words
    merges = B.bpe_train(df, n_merges=10, max_words=100, min_freq=1)
    out = B.bpe_apply(df, merges).select("bpe_tokens").collect()
    for r in out:
        rebuilt = "".join(r["bpe_tokens"]).split(B.END)
        rebuilt = [w for w in rebuilt if w]
        for w in rebuilt:
            assert w in words, (w, words)


def test_pagerank_bucketed_checkpoint_same_ranks(spark):
    """checkpoint_table changes the physical checkpoint medium, never the
    ranks: bucketed-table mode must reproduce the in-memory result."""
    from sanctum_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (1, 3, 0.5)],
        "src long, dst long, w double",
    )
    base = {
        r["node"]: round(r["rank"], 10)
        for r in pagerank(edges, weight_col="w", n_iter=8).collect()
    }
    try:
        ckpt = {
            r["node"]: round(r["rank"], 10)
            for r in pagerank(
                edges, weight_col="w", n_iter=8, checkpoint_table="prpin"
            ).collect()
        }
    finally:
        for t in ("prpin_edges", "prpin_nodes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert base == ckpt


def test_cosine_self_join_exact_gate(spark):
    """The exact (no-LSH) self-join path must refuse large inputs instead
    of silently planning an O(n^2) cross join."""
    import pytest as _pytest

    from sanctum_spark.operators import similarity as S

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        S.cosine_self_join_topk(df, k=3, max_exact_rows=10)
    out = S.cosine_self_join_topk(df, k=1, max_exact_rows=100)
    assert out.count() == 50


def test_compression_ratio_matches_direct_zlib(spark):
    """The Arrow kernel must reproduce direct zlib level-6 byte math, and
    repetitive text must score (compress) lower than varied text."""
    import zlib

    from sanctum_spark.operators.text import compression_ratio

    rows = [
        (1, "spam " * 200),
        (2, "the quick brown fox jumps over the lazy dog " * 5),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["ratio"]
        for r in df.select("doc_id", compression_ratio("text").alias("ratio")).collect()
    }
    for doc_id, text in rows:
        raw = text.encode()
        want = len(zlib.compress(raw, 6)) / len(raw) if raw else 1.0
        assert abs(got[doc_id] - want) < 1e-12, doc_id
    assert got[1] < got[2]  # repetition compresses harder


def test_zorder_bucket_index_matches_searchsorted(spark):
    """The unrolled binary search must equal numpy searchsorted(side=
    'right') — count of bounds <= v — for random bounds with duplicates,
    values on/off the boundaries, and out-of-range probes."""
    import numpy as np

    from sanctum_spark.operators.layout import _with_bucket_index

    rng = np.random.default_rng(7)
    bounds = sorted(float(x) for x in rng.integers(-50, 50, size=31))
    vals = [float(v) for v in rng.integers(-60, 60, size=200)] + [
        bounds[0], bounds[-1], bounds[7], -1e9, 1e9
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {
        r["i"]: r["b"]
        for r in _with_bucket_index(df, "b", F.col("v"), bounds).collect()
    }
    want = np.searchsorted(bounds, vals, side="right")
    for i, v in enumerate(vals):
        assert got[i] == want[i], (v, got[i], int(want[i]))


def test_segment_dedup_hashed_matches_string_keys(spark, sf_dir):
    """The 100 TB path (xxhash64 segment window keys) must produce the
    exact profile the string-keyed path does — 64-bit hashing may only
    change shuffle payload, never the result."""
    from sanctum_spark.io import load_table
    from sanctum_spark.operators.dedup import segment_dedup_profile

    docs = load_table(spark, sf_dir, "documents")
    a = segment_dedup_profile(docs, "text", "doc_id", hashed=False)
    b = segment_dedup_profile(docs, "text", "doc_id", hashed=True)
    rows_a = sorted(tuple(r) for r in a.collect())
    rows_b = sorted(tuple(r) for r in b.collect())
    assert rows_a == rows_b


def _dtw_reference(a, b):
    # independent O(n*m) full-matrix DTW (no band) for pinning the kernel
    import math
    n, m = len(a), len(b)
    D = [[math.inf] * (m + 1) for _ in range(n + 1)]
    D[0][0] = 0.0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            c = abs(a[i - 1] - b[j - 1])
            D[i][j] = c + min(D[i - 1][j], D[i][j - 1], D[i - 1][j - 1])
    return D[n][m]


def test_dtw_banded_matches_full_matrix():
    import numpy as np
    from sanctum_spark.operators.timeseries import dtw_banded

    rngs = [
        [1.0, 2.0, 3.0, 2.0, 1.0],
        [0.0, 0.0, 5.0, 5.0, 0.0, 0.0, 7.0],
        [3.3],
        [10.0, 9.0, 8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0],
    ]
    pat = [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    for s in rngs:
        # a wide band must equal the unbanded full-matrix distance
        got = dtw_banded(np.array(s), np.array(pat), radius=max(len(s), len(pat)))
        want = _dtw_reference(s, pat)
        assert abs(got - want) < 1e-9, (s, got, want)
    # identical series at any radius: zero distance
    assert dtw_banded(np.array(pat), np.array(pat), radius=1) == 0.0


def test_q153_dtw_matches_driver_side_reference(spark, sf_dir):
    """The distributed q153 distances must equal an independent
    driver-side DTW over the same per-user series (band widened to the
    unbanded optimum for the compare)."""
    import numpy as np

    from sanctum_spark.operators.timeseries import REF_PATTERN, dtw_banded

    out = {
        r["user_id"]: (r["n_days"], r["dtw_dist_e4"])
        for r in qreg.REGISTRY["q153_dtw_similarity"].fn(spark, sf_dir).collect()
    }
    from sanctum_spark.io import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day_no"),
        )
        # the query's integer-grain v construction (floor(sum*100+.5+eps)/100)
        .agg(
            (
                F.floor(
                    F.sum("value") * F.lit(100.0) + F.lit(0.5) + F.lit(1e-9)
                ).cast("long")
                / F.lit(100.0)
            ).alias("v")
        )
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r["user_id"], []).append((r["day_no"], r["v"]))
    import math

    for uid, pts in list(series.items())[:20]:
        s = [v for _, v in sorted(pts)]
        want = math.floor(
            dtw_banded(np.array(s), np.array(REF_PATTERN, dtype=float), 5)
            * 10000.0 + 0.5 + 1e-9
        )
        assert out[uid] == (len(s), want), uid


def test_segment_dedup_conservation_invariants(spark, sf_dir):
    """Bookkeeping identities of the segment-dedup profile:
    sum(n_segments) == total exploded instances, and
    sum(n_dup_segments) == instances - distinct segments (every distinct
    segment has exactly one rank-1 instance)."""
    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table
    from sanctum_spark.operators.dedup import segment_dedup_profile

    docs = load_table(spark, sf_dir, "documents")
    prof = segment_dedup_profile(docs, "text", "doc_id").agg(
        F.sum("n_segments").alias("inst"), F.sum("n_dup_segments").alias("dup")
    ).first()

    toks = F.split(F.trim(F.lower("text")), r"\s+")
    n_seg = F.least(F.ceil(F.size(toks) / F.lit(10)).cast("int"), F.lit(200))
    segs = docs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            )
        ).alias("segment")
    )
    inst = segs.count()
    distinct = segs.distinct().count()
    assert prof["inst"] == inst
    assert prof["dup"] == inst - distinct


def test_psi_invariants(spark, sf_dir):
    """PSI is symmetric-positive: total >= 0, and the smoothed shares on
    each side sum to (n + 10*1)/(n + 10) == 1 exactly (Laplace mass)."""
    rows = qreg.REGISTRY["q150_psi_drift"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    psi = rows[0]["psi"]
    assert all(r["psi"] == psi for r in rows)
    assert psi >= 0.0
    assert abs(sum(r["share_a"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["share_b"] for r in rows) - 1.0) < 1e-4


def test_zorder_layout_prunes_row_groups(spark, tmp_path):
    """End-to-end proof the Z-order layout earns its keep: after writing
    the clustered frame, parquet footer min/max stats (read directly with
    pyarrow) must let a range predicate on EITHER clustered column skip
    the large majority of files, while the same data written in hash
    layout skips ~none."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sanctum_spark.operators.layout import zorder_by

    df = (
        spark.range(40_000)
        .withColumn("a", (F.col("id") * 7919) % 1000)
        .withColumn("b", (F.col("id") * 104729) % 1000)
        .withColumn("payload", F.col("id") * 3)
    )
    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
    zorder_by(df, ["a", "b"], n_partitions=16).write.parquet(zdir)
    df.repartition(16).write.parquet(rdir)

    def files_hit(d, col, lo, hi):
        import glob

        hit = total = 0
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st.max >= lo and st.min <= hi:
                    hit += 1
        return hit, total

    for col in ("a", "b"):
        zh, zt = files_hit(zdir, col, 100, 160)  # ~6% of the domain
        rh, rt = files_hit(rdir, col, 100, 160)
        assert rh == rt, "hash layout should have no pruning power"
        # clustered: the 6% slice must live in a minority of row groups
        assert zh <= zt // 2, (col, zh, zt)


def test_q147_two_pass_equals_direct_exact(spark, sf_dir):
    """The sampled-candidate shortcut must be output-lossless: the
    two-pass heavy hitters equal a direct single-pass groupBy+HAVING
    over the full corpus (the sample only prunes work, never answers)."""
    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table

    got = {
        (r["token"], r["cnt"])
        for r in qreg.REGISTRY["q147_heavy_hitters"].fn(spark, sf_dir).collect()
    }
    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
    )
    n_total = tok.count()
    want = {
        (r["token"], r["cnt"])
        for r in tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= int(n_total / 100.0))
        .collect()
    }
    assert got == want and len(want) > 0


def test_q152_cep_matches_python_state_machine(spark, sf_dir):
    """The join-free suffix-min formulation rests on a monotonicity
    argument; replay the pattern with an explicit per-user NFA in Python
    and require identical match instances."""
    from sanctum_spark.io import load_table
    from sanctum_spark.queries.events_q import CEP_WINDOW_NS

    got = {
        (r["user_id"], r["view_ts"], r["click_ts"], r["purchase_ts"])
        for r in qreg.REGISTRY["q152_cep_pattern"].fn(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts_ns", "event_id", "event_type")
        .collect()
    )
    timeline: dict = {}
    for r in ev:
        timeline.setdefault(r["user_id"], []).append(
            (r["ts_ns"], r["event_id"], r["event_type"])
        )
    want = set()
    for uid, rows in timeline.items():
        rows.sort()
        for i, (vts, _, typ) in enumerate(rows):
            if typ != "view":
                continue
            deadline = vts + CEP_WINDOW_NS
            click_ts = purchase_ts = None
            for ts, _, t2 in rows[i + 1:]:
                if click_ts is None:
                    if t2 == "click":
                        click_ts = ts
                elif t2 == "purchase":
                    purchase_ts = ts
                    break
            if (
                click_ts is not None
                and purchase_ts is not None
                and click_ts <= deadline
                and purchase_ts <= deadline
            ):
                want.add((uid, vts, click_ts, purchase_ts))
    assert got == want and len(want) > 0


# --- hypothesis property tests for the pure kernels -----------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=200, deadline=None)
@given(
    a=st.lists(st.floats(-100, 100, allow_nan=False), min_size=1, max_size=12),
    b=st.lists(st.floats(-100, 100, allow_nan=False), min_size=1, max_size=12),
)
def test_dtw_properties(a, b):
    """DTW kernel laws: identity (d(x,x)=0 at any radius), symmetry at a
    full band, band monotonicity (narrower bands can only raise the
    distance — the band restricts the warp-path set), and the full band
    equals the unbanded DP optimum."""
    import numpy as np

    from sanctum_spark.operators.timeseries import dtw_banded

    A, B = np.array(a), np.array(b)
    full = max(len(a), len(b))
    d_full = dtw_banded(A, B, radius=full)
    # identity & non-negativity
    assert dtw_banded(A, A, radius=1) == 0.0
    assert d_full >= 0.0
    # symmetry under a full band
    assert abs(d_full - dtw_banded(B, A, radius=full)) < 1e-9
    # band monotonicity
    d_narrow = dtw_banded(A, B, radius=1)
    assert d_narrow >= d_full - 1e-9
    # full band == unbanded reference DP
    assert abs(d_full - _dtw_reference(a, b)) < 1e-9


@settings(max_examples=25, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta"]),
            min_size=1,
            max_size=35,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_segment_dedup_pure_python_model(spark, docs):
    """Property: the operator's per-doc (n_segments, n_dup_segments) must
    match an order-faithful pure-Python first-occurrence model for ANY
    corpus of token lists (10-token segments, global (doc, idx) order)."""
    # pure-Python model
    seen: set = set()
    want = {}
    for doc_id, toks in enumerate(docs):
        segs = [
            " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
        ][:200]
        dup = 0
        for s in segs:
            if s in seen:
                dup += 1
            else:
                seen.add(s)
        want[doc_id] = (len(segs), dup)
    # distributed operator on the same corpus
    from sanctum_spark.operators.dedup import segment_dedup_profile

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_dup_segments"])
        for r in segment_dedup_profile(df, "text", "doc_id").collect()
    }
    assert got == want



def test_order_sensitive_queries_are_run_deterministic(spark, sf_dir):
    """Queries whose output depends on rank/tie-break/sample selection
    must return identical results across runs in one session (partition
    scheduling must not leak into results): run each twice, hash-equal."""
    for name in (
        "q155_weighted_reservoir",
        "q117_group_sample",
        "q128_zorder_key",
        "q146_embedding_clusters",
        "q158_quality_keeper",
    ):
        if name not in qreg.REGISTRY:
            continue
        fn = qreg.REGISTRY[name].fn
        a = sorted(map(tuple, fn(spark, sf_dir).collect()))
        b = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert a == b, name


def test_q159_split_has_zero_leakage(spark, sf_dir):
    """Post-condition, checked independently of the query's own logic:
    no surviving test document shares ANY distinct 5-gram with any train
    document, and every dropped candidate does share one."""
    from pyspark.sql import functions as F

    from sanctum_spark.io import load_table

    split = qreg.REGISTRY["q159_leakage_free_split"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").join(split, "doc_id")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    sh = docs.filter(F.size(toks) >= 5).select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 4),
                    lambda i: F.array_join(F.slice(toks, i, 5), " "),
                )
            )
        ).alias("g"),
    )
    train_g = sh.filter(F.col("split") == "train").select("g").distinct()
    test_overlap = (
        sh.filter(F.col("split") == "test")
        .join(train_g, "g", "left_semi")
        .count()
    )
    assert test_overlap == 0
    dropped = sh.filter(F.col("split") == "dropped").select("doc_id").distinct()
    dropped_with_overlap = (
        sh.filter(F.col("split") == "dropped")
        .join(train_g, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    assert dropped.count() == dropped_with_overlap.count() > 0


def test_zorder_degenerate_columns_fast(spark):
    """Constant and all-null clustered columns must not blow up the
    optimizer (a foldable column used to inline the bucket-search step
    chain exponentially — minutes of planning for 1000 rows) and must
    still produce a valid layout."""
    import time

    from pyspark.sql import functions as F

    from sanctum_spark.operators.layout import zorder_by

    df = (
        spark.range(1000)
        .withColumn("a", F.lit(7).cast("long"))
        .withColumn("b", (F.col("id") * 13) % 97)
    )
    t0 = time.time()
    assert zorder_by(df, ["a", "b"], n_partitions=4).count() == 1000
    assert time.time() - t0 < 60, "constant-column planning blew up"

    df2 = (
        spark.range(200)
        .withColumn("a", F.lit(None).cast("long"))
        .withColumn("b", F.col("id"))
    )
    assert zorder_by(df2, ["a", "b"], n_partitions=2).count() == 200


def test_cosine_zero_vector_yields_null_not_crash(spark):
    """A zero-norm corpus vector must rank last as NULL similarity, not
    raise ANSI DIVIDE_BY_ZERO (found by the degenerate-input battery)."""
    from sanctum_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0)],
        ["vec_id", "embedding", "label"],
    )
    rows = cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in rows] == [2, 1]
    assert rows[1]["cos_sim"] is None


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_q161_er_matches_bruteforce_union_find(spark, sf_dir):
    """Independent model check: enumerate ALL record pairs (no join, no
    blocking structure — the brand/type equality is applied per pair as
    part of the MATCH PREDICATE) with a from-scratch Levenshtein, cluster
    with a pure-Python union-find, and require the distributed blocked
    pipeline to produce the identical entity partition.  Independently
    verifies the length-delta prefilter (the model applies none), the
    pair join, and the transitive closure; the blocking KEY itself is
    part of the match definition, so both sides share it by design.
    O(n^2) pure-Python — guarded to small fixture scales."""
    recs = [
        (r["p_partkey"], r["p_name"], r["p_brand"], r["p_type"])
        for r in spark.read.parquet(f"{sf_dir}/part.parquet").collect()
    ]
    if len(recs) > 3000:  # pragma: no cover - sf0.001/sf0.01 fixture scales
        import pytest

        pytest.skip(f"O(n^2) model check not meant for {len(recs)} records")
    parent = {rid: rid for rid, *_ in recs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(recs)):
        for j in range(i + 1, len(recs)):
            ia, na, ba, ka = recs[i]
            ib, nb, bb, kb = recs[j]
            if ba == bb and ka == kb and _levenshtein(na, nb) <= 1:
                ra, rb = find(ia), find(ib)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {}
    names = {rid: name for rid, name, *_ in recs}
    for rid, *_ in recs:
        want.setdefault(find(rid), []).append(rid)
    want_rows = {
        min(members): (
            len(members),
            len({names[m] for m in members}),
            min(names[m] for m in members),
        )
        for members in want.values()
    }
    got = {
        r["entity_id"]: (r["n_records"], r["n_names"], r["canonical_name"])
        for r in qreg.REGISTRY["q161_entity_resolution"].fn(spark, sf_dir).collect()
    }
    assert got == want_rows


def test_q162_bm25_matches_pure_python(spark, sf_dir):
    """Independent model check: Okapi BM25 computed driver-side with
    plain Python floats over the same corpus must reproduce the
    distributed top-k exactly (doc ids AND rounded scores)."""
    import math

    from sanctum_spark.queries.corpus_q import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
    )

    # tokenize exactly like both engines: trim + lower + regex \s+ split
    # (str.split() would diverge on empty/whitespace-only docs: regex
    # split of '' yields [''] -> dl=1, matching size(split(trim(''))))
    import re

    all_rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    docs = [
        (r["doc_id"], re.split(r"\s+", r["text"].strip().lower()))
        for r in all_rows
        if r["text"] is not None
    ]
    # corpus-stats semantics of BOTH engines: N counts every row
    # (count(*) / count(lit(1)) ignore null text), while avgdl averages
    # only non-null docs (size(split(trim(NULL))) is NULL, avg skips it)
    n = len(all_rows)
    avgdl = sum(len(t) for _, t in docs) / len(docs)
    df_t = {
        term: sum(1 for _, toks in docs if term in toks) for term in BM25_TERMS
    }
    idf = {
        t: math.log((n - d + 0.5) / (d + 0.5) + 1.0)
        for t, d in df_t.items()
        if d
    }
    scores = []
    for doc_id, toks in docs:
        s = 0.0
        for term, term_idf in idf.items():
            tf = toks.count(term)
            if tf:
                s += (
                    term_idf
                    * tf
                    * (BM25_K1 + 1.0)
                    / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(toks) / avgdl))
                )
        if s > 0.0:
            scores.append((doc_id, round(s + 1e-9, 6)))
    want = sorted(scores, key=lambda x: (-x[1], x[0]))[:BM25_TOPK]
    got = [
        (r["doc_id"], r["bm25"])
        for r in qreg.REGISTRY["q162_bm25_topk"].fn(spark, sf_dir).collect()
    ]
    assert got == want


def test_resolve_entities_operator_small(spark):
    """Operator-level linkage check on a hand-built frame: transitive
    chain a~b~c collapses to one entity, cross-block lookalikes stay
    separate, singleton maps to itself."""
    from sanctum_spark.operators.linkage import resolve_entities

    rows = [
        # one block, chain: "cold gear" ~ "old gear" ~ "olde gear"
        (1, "cold gear", "B1", "T1"),
        (2, "old gear", "B1", "T1"),
        (3, "olde gear", "B1", "T1"),
        # same name, DIFFERENT block -> separate entity
        (4, "cold gear", "B2", "T1"),
        # singleton
        (5, "red widget", "B1", "T1"),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "brand", "kind"])
    got = {
        r["id"]: r["entity_id"]
        for r in resolve_entities(
            df, "id", ["brand", "kind"], "name", max_dist=1
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_resolve_entities_rejects_non_integral_id(spark):
    """String ids would cast to null inside connected_components and
    silently produce all-singleton entities — the operator must refuse
    them loudly instead."""
    import pytest

    from sanctum_spark.operators.linkage import (
        blocked_candidate_pairs,
        resolve_entities,
    )

    df = spark.createDataFrame(
        [("a", "cold gear", "B", "T"), ("b", "old gear", "B", "T")],
        ["id", "name", "brand", "kind"],
    )
    with pytest.raises(TypeError, match="integral"):
        resolve_entities(df, "id", ["brand", "kind"], "name")
    with pytest.raises(TypeError, match="integral"):
        blocked_candidate_pairs(df, "id", ["brand", "kind"], "name")


def test_bm25_scoring_context_manager_releases_cache(spark):
    """bm25_scoring yields the same scores as bm25_scores and unpersists
    its tf intermediate on exit (no cache accumulation across calls)."""
    from sanctum_spark.operators.retrieval import bm25_scores, bm25_scoring

    docs = spark.createDataFrame(
        [(1, "spark shuffle spark"), (2, "spark join"), (3, "quiet doc")],
        ["doc_id", "text"],
    )
    plain = {
        (r["doc_id"], r["bm25"])
        for r in bm25_scores(docs, ["spark", "shuffle"]).collect()
    }
    # drop plain's leaked tf entry: the CacheManager dedupes identical
    # plans, so bm25_scoring would otherwise reuse it and persist nothing
    spark.catalog.clearCache()
    # earlier unpersists are asynchronous, so compare RDD-id SETS around
    # the with block, not absolute counts
    rdd_ids = lambda: set(  # noqa: E731
        spark.sparkContext._jsc.getPersistentRDDs().keys()
    )
    before = rdd_ids()
    with bm25_scoring(docs, ["spark", "shuffle"]) as scored:
        managed = {(r["doc_id"], r["bm25"]) for r in scored.collect()}
        added = rdd_ids() - before
        assert added, "tf intermediate should be persisted inside the block"
    assert managed == plain
    assert not (added & rdd_ids()), "CM exit must release the tf cache"


def test_blocked_candidate_pairs_prefix_recall_trade(spark):
    """prefix_len secondary blocking drops pairs whose single edit falls
    inside the prefix - the documented recall trade, pinned so the
    semantics never silently change."""
    from sanctum_spark.operators.linkage import blocked_candidate_pairs

    df = spark.createDataFrame(
        [(1, "cold gear", "B", "T"), (2, "old gear", "B", "T")],
        ["id", "name", "brand", "kind"],
    )
    full = blocked_candidate_pairs(df, "id", ["brand", "kind"], "name").count()
    pre = blocked_candidate_pairs(
        df, "id", ["brand", "kind"], "name", prefix_len=2
    ).count()
    assert full == 1  # cold/old differ by one leading-char deletion
    assert pre == 0  # the edit is inside the 2-char prefix -> missed


def test_bm25_operator_scores_and_topk(spark):
    """bm25_scores: a doc containing a rarer query term outranks one
    with only the common term; bm25_topk returns k rows in (score desc,
    id) order and releases its cache."""
    from sanctum_spark.operators.retrieval import bm25_scores, bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark shuffle x y z"),
            (2, "spark a b c d e"),
            (3, "no match here"),
            (4, "shuffle only doc w w w"),
        ],
        ["doc_id", "text"],
    )
    scores = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, ["spark", "shuffle"]).collect()
    }
    assert set(scores) == {1, 2, 4}  # doc 3 matches nothing
    assert scores[1] > scores[2]  # two terms + higher tf beats one term
    top = bm25_topk(docs, ["spark", "shuffle"], k=2).collect()
    assert [r["doc_id"] for r in top] == sorted(
        scores, key=lambda d: (-scores[d], d)
    )[:2]


def test_prefix_filtered_jaccard_equals_naive(spark):
    """PPJoin prefix filtering must be an exact PLAN substitution: same
    (id_a, id_b, jaccard) set as the naive all-shared-shingle self-join
    on a corpus crafted to stress it — a stopword shingle shared by
    EVERY doc (the hot key the prefix is supposed to drop), near-dup
    pairs at/above/below threshold, a doc with < k tokens (degenerate
    single shingle), an empty string, and a NULL text.  Checked at two
    thresholds whose t*n lands exactly on integer boundaries (the ceil
    guard's unsafe direction) and in both hashed and string modes."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog end marker one"),
        (2, "the quick brown fox jumps over the lazy dog end marker two"),
        (3, "the quick brown fox leaps over the lazy dog end marker one"),
        (4, "completely different text body with the common tail words"),
        (5, "the"),          # fewer tokens than k -> one degenerate shingle
        (6, ""),             # empty string
        (7, None),           # NULL text -> no shingles at all
        (8, "another unrelated document sharing only the stopword the"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for threshold in (0.4, 0.5):
        for hashed in (False, True):
            # Raw floats, no rounding: both plans derive jaccard from the
            # same integer n_inter/n_a/n_b, so equality must be bit-exact
            # (this test is cited as the bit-identical pin — ADVICE r7).
            naive = {
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in D.ngram_jaccard_pairs(
                    docs, "text", "doc_id", threshold=threshold,
                    hashed=hashed, prefix_filter=False,
                ).collect()
            }
            pref = {
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in D.ngram_jaccard_pairs(
                    docs, "text", "doc_id", threshold=threshold,
                    hashed=hashed, prefix_filter=True,
                ).collect()
            }
            assert pref == naive, (threshold, hashed, pref ^ naive)
            assert naive  # the fixture must actually produce pairs


def test_jaccard_auto_plan_switch(spark):
    """prefix_filter='auto' is a cost-based PHYSICAL choice only: both
    sides of the doc-count threshold pick a plan that returns the same
    pair set, and the threshold actually routes (the prefix plan's
    canonical-order posexplode appears in the plan above the threshold
    and is absent below it)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog end marker one"),
        (2, "the quick brown fox jumps over the lazy dog end marker two"),
        (3, "completely different text body with the common tail words"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def pairs(**kw):
        return D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4, **kw)

    below = pairs(prefix_filter="auto", auto_prefix_min_docs=10)
    above = pairs(prefix_filter="auto", auto_prefix_min_docs=2)
    # routing: posexplode (canonical prefix positions) only in the prefix plan
    assert "posexplode" not in below._jdf.queryExecution().analyzed().toString()
    assert "posexplode" in above._jdf.queryExecution().analyzed().toString()
    key = lambda df: {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}
    naive = key(pairs(prefix_filter=False))
    assert key(below) == naive and key(above) == naive
    assert naive

    # caller-supplied doc_count overrides any computed cardinality and
    # routes the plan without an eager count() job (r9: the auto mode's
    # cheapest cardinality source — parquet footers / catalog stats)
    forced_above = pairs(
        prefix_filter="auto", auto_prefix_min_docs=2, doc_count=100
    )
    forced_below = pairs(
        prefix_filter="auto", auto_prefix_min_docs=10, doc_count=3
    )
    assert "posexplode" in forced_above._jdf.queryExecution().analyzed().toString()
    assert "posexplode" not in forced_below._jdf.queryExecution().analyzed().toString()
    assert key(forced_above) == naive and key(forced_below) == naive

    # only the exact string "auto" is special-cased; any other string is
    # a caller error, not a truthy prefix plan (ADVICE r8)
    with pytest.raises(ValueError, match="prefix_filter"):
        pairs(prefix_filter="Auto")
    with pytest.raises(ValueError, match="prefix_filter"):
        pairs(prefix_filter="off")


def test_auto_plan_construction_runs_zero_jobs(spark, sf_dir):
    """Constructing an auto-mode ngram_jaccard_pairs plan with a
    caller-supplied doc_count must fire NO Spark job: at 100 TB an eager
    count() at plan time is a full corpus scan before the real work
    (r8 verdict task 6's done-criterion, pinned).  The q99/q158 query
    FUNCTIONS can't be probed whole: their near_duplicate_clusters call
    collects the shingles (one job) when the corpus fits the broadcast
    threshold, and otherwise builds this pair plan and runs
    connected_components, iterative and eager by design.  So the pin
    targets the pair plan their Spark path builds (corpus_q.py q99 /
    q158 through dedup.near_duplicate_clusters)."""
    from sanctum_spark.io import load_table, parquet_row_count

    docs = load_table(spark, sf_dir, "documents")
    docs.first()  # warm the scan's first-touch side effects

    sc = spark.sparkContext
    n = parquet_row_count(sf_dir, "documents")  # pure footer read, no Spark
    sc.setJobGroup("plan_construction_probe", "auto-switch zero-job pin")
    try:
        for min_docs in (2, 10**9):  # routes prefix AND naive
            df = D.ngram_jaccard_pairs(
                docs, "text", "doc_id", shingle_k=3, threshold=0.4,
                hashed=True, prefix_filter="auto",
                auto_prefix_min_docs=min_docs, doc_count=n,
            )
            assert df.columns  # plan resolved, nothing executed
    finally:
        jobs = list(
            sc.statusTracker().getJobIdsForGroup("plan_construction_probe")
        )
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], (
        f"plan construction ran Spark job(s) {jobs}; the auto switch "
        "must take cardinality from doc_count/footers, not count()"
    )


def test_minhash_edge_clustering_matches_exact_path(spark):
    """Suite pin for q99's PRODUCTION composition (r9 verdict task #2).

    SCALE.md routes corpus-grain dedup clustering at 100 TB through
    MinHash-LSH edges -> connected components (measured 1.55x/doubling
    to sf6.4 with the builder in ``git show 56ab0f9:tools/octave_ab.py``;
    the protocol is now tools/perf.py) while the
    registered q99 uses exact-Jaccard edges as the oracle-able
    validator.  This pins the production composition's OUTPUT, not just
    its components: on a planted corpus of identical-text clusters
    (identical text -> identical shingle set -> identical MinHash
    signature -> guaranteed banding collision, the family-B recall
    floor; soundness is exact-verified on candidates by construction),
    the two edge sources must yield byte-identical cluster assignments.
    Cross-cluster vocabularies are disjoint, so the exact path admits
    no extra edges and full-output equality is well-defined.
    """
    vocab = {
        "a": "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "b": "kilo lima mike november oscar papa quebec romeo sierra",
        "c": "tango uniform victor whiskey xray yankee zulu",
    }
    rows = (
        [(i, vocab["a"]) for i in (10, 11, 12, 13)]
        + [(i, vocab["b"]) for i in (20, 21, 22)]
        + [(i, vocab["c"]) for i in (30, 31)]
        + [
            (40, "one two three four five six seven eight"),
            (41, "nine ten eleven twelve thirteen fourteen"),
            (42, "fifteen sixteen seventeen eighteen nineteen twenty"),
            (43, "red orange yellow green blue purple brown"),
            (44, "cat dog bird fish horse sheep goat cow"),
        ]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def cluster(edge_fn):
        pairs = edge_fn(docs)
        comp = D.connected_components(pairs, "id_a", "id_b")
        sizes = comp.groupBy("component").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        out = comp.join(sizes, "component").select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
        )
        return sorted((r["doc_id"], r["cluster_id"], r["cluster_size"]) for r in out.collect())

    def minhash_edges(d):
        return D.minhash_near_duplicates(
            d, "text", "doc_id", n_hashes=16, bands=4, shingle_k=3, threshold=0.4
        )

    def exact_edges(d):
        return D.ngram_jaccard_pairs(
            d, "text", "doc_id", shingle_k=3, threshold=0.4, hashed=True
        )

    prod = cluster(minhash_edges)
    validator = cluster(exact_edges)
    expected = sorted(
        [(i, 10, 4) for i in (10, 11, 12, 13)]
        + [(i, 20, 3) for i in (20, 21, 22)]
        + [(i, 30, 2) for i in (30, 31)]
    )
    # production == validator == ground truth on complete-recall clusters
    assert prod == validator == expected
    # singleton pass-through: unclustered docs never appear in the output
    assert not {40, 41, 42, 43, 44} & {r[0] for r in prod}
    # determinism: the production composition is stable across runs
    assert cluster(minhash_edges) == prod
