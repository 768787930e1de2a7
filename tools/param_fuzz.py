"""Operator-PARAMETER fuzz (r8 verdict task 5 — thirteenth robustness
family).

tools/fixtures.py ``fuzz`` randomizes CONTENT (star schemas) but runs every
operator at its registered parameters.  This sweep randomizes the
PARAMETERS — shingle_k, thresholds, hash/band counts, window caps, codec
shapes — where boundary math lives (ceil guards, prefix lengths, band
factorizations, cap anchors), and checks each draw against an oracle the
parameter choice cannot weaken:

- A jaccard-plan-equivalence: prefix(PPJoin, each optional conjunct
  randomly toggled) ≡ naive on the SAME random corpus for random
  (k, threshold, hashed) — the operator's own bit-identity contract.
- B minhash-LSH soundness+recall floor: every reported pair has exact
  jaccard ≥ threshold, and every EXACT-duplicate pair (identical non-null
  text ⇒ identical signatures ⇒ every band collides) is reported, for
  random (n_hashes, bands | bands divides n_hashes, threshold).
- C simhash completeness+soundness: reported ≡ the Python-computed
  all-pairs set with hamming ≤ max_hamming (pigeonhole: ≤3 bit flips
  over 4×16-bit chunks always share a chunk), for random max_hamming.
- D cosine-topk vs a numpy brute-force oracle for random (dim, n, k),
  zero vectors planted (NULL-cosine semantics).
- E hashed_word_windows vs a Python re-tokenization oracle: expected
  window STRINGS computed in Python, hashed by Spark's own xxhash64 on a
  literal frame, compared per doc — for random (k, cap, distinct) over
  docs including NULL/empty/whitespace/short (the r8 least()-null-skip
  defect class lives exactly here).
- F codec round-trips at random shapes: PNG/BMP/PPM HxWx3 exact,
  WAV within int16 quantization, decode_image magic dispatch, and
  truncation ⇒ ValueError (never a crash or silent wrong array).
- G/H parameterized cross-engine SQL (jaccard pairs, decontamination):
  the oracle re-RENDERED in DuckDB from the same random parameters.
- I streaming delivery+parameters: one random event corpus staged at
  random (n_files, maxFilesPerTrigger) with hash-permuted intra-file
  order, then tumbling windows / session windows / stateful EWMA /
  CEP NFA at random (width, gap, alpha, deadline) vs independent
  Python oracles, with exact-boundary plants (session merge is closed
  at last+gap; CEP match is <= deadline) and same-user equal-timestamp
  ties (the row-order tiebreak class).
- J entity resolution vs brute-force Python (Levenshtein + union-find)
  at random (max_dist, prefix_len) with length-delta boundary plants.
- K Okapi BM25 vs the reference formula at random (k1, b, k, terms),
  plus top-k-cut consistency under the (-score, id) tie-break.
- L distributed BPE vs an independent Python merge loop at random
  (n_merges, max_words, min_freq), plus the apply round-trip.
- N graph power iteration: pagerank/TextRank vs an independent Python
  oracle at random (damping, n_iter, symmetric, weighted) over random
  multigraphs with self-loops and parallel edges (node-set and
  edge-merge contract replicated, 1e-9 agreement).
- O curation pipeline end-to-end (r11): the fused
  clean->dedup->cluster->decontaminate->pack composition vs a
  plain-Python stage-by-stage oracle at random (gates, shingle_k,
  n_hashes/bands, thresholds, pack budget/block) over corpora whose
  every decision is Python-predictable (disjoint vocab slices + an
  add-time exact-Jaccard guard + identical-lowercase planted clusters).
- M eventdump delivery+restart (r9 verdict task 6): a random event
  corpus (schemaless extra keys, missing canonical keys, blank lines,
  planted hidden staging files) split across random log-rolled files,
  batch-read AND streamed through the sanctum_eventdump DataSource at
  random maxFilesPerTrigger with a mid-stream checkpoint restart at a
  random file boundary, vs the ground-truth event list (exactly-once:
  no lost rows, no duplicates, payload bytes verbatim); plus the
  offset contract's negative leg — a file named below the committed
  offset is never picked up.

Usage: PYTHONPATH=. python tools/param_fuzz.py [n_seeds]  (default 8)
Prints one line per (seed, family); exits 1 on any failure.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")
import numpy as np

FAIL = []


def _docs(rng) -> list[tuple[int, str | None]]:
    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()
    rows: list[tuple[int, str | None]] = []
    did = 0
    for _ in range(rng.integers(30, 60)):
        n = int(rng.integers(1, 40))
        rows.append((did, " ".join(rng.choice(words) for _ in range(n))))
        did += 1
    # planted exact duplicates (B's recall floor, C's distance-0 pairs)
    for _ in range(4):
        src = rows[int(rng.integers(0, len(rows)))]
        rows.append((did, src[1]))
        did += 1
    # planted near-duplicates: mutate 1-2 tokens
    for _ in range(4):
        src = rows[int(rng.integers(0, len(rows)))][1]
        toks = src.split()
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
        rows.append((did, " ".join(toks)))
        did += 1
    # degenerate docs — the r8 defect class
    for t in (None, "", "   ", "solo", "two tokens"):
        rows.append((did, t))
        did += 1
    return rows


def _check(seed: int, family: str, ok: bool, detail: str = "") -> None:
    status = "ok" if ok else "FAIL"
    print(f"seed {seed} {family}: {status} {detail}".rstrip())
    if not ok:
        FAIL.append((seed, family, detail))


def fam_a_jaccard(spark, rng, seed, docs_df):
    from sanctum_spark.operators import dedup as D

    k = int(rng.integers(1, 6))
    t = float(np.round(rng.uniform(0.1, 0.9), 3))
    hashed = bool(rng.integers(0, 2))
    # two discarded draws keep every later family's seeded data unchanged
    rng.integers(0, 2), rng.integers(0, 2)

    def pairs(pf):
        return {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in D.ngram_jaccard_pairs(
                docs_df, "text", "doc_id", shingle_k=k, threshold=t,
                hashed=hashed, prefix_filter=pf,
            ).collect()
        }

    naive, pref = pairs(False), pairs(True)
    _check(
        seed, "A_jaccard_plan_eq", pref == naive,
        f"k={k} t={t} hashed={hashed} "
        f"naive={len(naive)} diff={len(pref ^ naive)}",
    )


def fam_b_minhash(spark, rng, seed, docs_df, rows):
    from sanctum_spark.operators import dedup as D

    n_hashes = int(rng.choice([8, 12, 16, 24, 32]))
    divisors = [b for b in range(2, n_hashes + 1) if n_hashes % b == 0]
    bands = int(rng.choice(divisors))
    t = float(np.round(rng.uniform(0.2, 0.9), 3))
    k = int(rng.integers(1, 4))
    got = {
        (r["id_a"], r["id_b"]): (r["est_jaccard"], r["jaccard"])
        for r in D.minhash_near_duplicates(
            docs_df, "text", "doc_id",
            n_hashes=n_hashes, bands=bands, shingle_k=k, threshold=t,
        ).collect()
    }
    sound = all(j >= t for (_e, j) in got.values())
    # exact-duplicate pairs: identical non-null text with >= 1 token
    by_text: dict[str, list[int]] = {}
    for did, txt in rows:
        if txt is not None and txt.strip():
            by_text.setdefault(" ".join(txt.lower().split()), []).append(did)
    missing = []
    for ids in by_text.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if (ids[i], ids[j]) not in got:
                    missing.append((ids[i], ids[j]))
    _check(
        seed, "B_minhash", sound and not missing,
        f"n={n_hashes} bands={bands} t={t} k={k} pairs={len(got)} "
        f"sound={sound} missing_exact_dups={missing[:4]}",
    )


def fam_c_simhash(spark, rng, seed, docs_df):
    from sanctum_spark.operators import dedup as D

    max_h = int(rng.integers(0, 4))
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_duplicates(
            docs_df, "text", "doc_id", max_hamming=max_h
        ).collect()
    }
    fps = {r["id"]: r["simhash"] for r in D.simhash(docs_df, "text", "doc_id").collect()}
    want = {}
    ids = sorted(fps)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            if fps[a] is None or fps[b] is None:
                continue
            h = bin((fps[a] ^ fps[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= max_h:
                want[(a, b)] = h
    _check(
        seed, "C_simhash", got == want,
        f"max_h={max_h} got={len(got)} want={len(want)} "
        f"diff={sorted(set(got) ^ set(want))[:4]}",
    )


def fam_d_cosine(spark, rng, seed):
    from pyspark.sql import types as T

    from sanctum_spark.operators.similarity import cosine_topk

    dim = int(rng.integers(3, 96))
    n = int(rng.integers(40, 150))
    k = int(rng.integers(1, 21))
    V = rng.normal(0, 1, (n, dim))
    V[int(rng.integers(0, n))] = 0.0  # zero vector: NULL cosine, excluded
    q = rng.normal(0, 1, dim)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(
        [(i, [float(x) for x in np.asarray(V[i], dtype=np.float32)]) for i in range(n)],
        schema,
    )
    got = cosine_topk(df, [float(x) for x in q], k=k).collect()
    # numpy oracle on the SAME float32-rounded vectors
    V32 = V.astype(np.float32).astype(np.float64)
    sims = {}
    for i in range(n):
        nv, nq = np.linalg.norm(V32[i]), np.linalg.norm(q)
        if nv > 0 and nq > 0:
            sims[i] = float(V32[i] @ q / (nv * nq))
    order = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    ok = len(got) == min(k, len(sims))
    # tolerance-aware: each returned sim matches numpy within 1e-6 and is
    # >= (k-th best - 1e-6); id equality only demanded outside tie margin
    kth = order[-1][1] if order else float("-inf")
    for rank, r in enumerate(got):
        i, s = r["vec_id"], r["cos_sim"]
        if i not in sims or abs(sims[i] - s) > 1e-6 or s < kth - 1e-6:
            ok = False
        elif abs(order[rank][1] - s) > 1e-6:
            ok = False
    _check(seed, "D_cosine_topk", ok, f"dim={dim} n={n} k={k}")


def fam_e_windows(spark, rng, seed, rows):
    from pyspark.sql import functions as F

    from sanctum_spark.operators.dedup import hashed_word_windows

    k = int(rng.integers(1, 7))
    cap = [None, 1, 2, 5, 17][int(rng.integers(0, 5))]
    distinct = bool(rng.integers(0, 2))
    docs_df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["w"]
        for r in docs_df.select(
            "doc_id",
            hashed_word_windows("text", k=k, cap=cap, distinct=distinct).alias("w"),
        ).collect()
    }
    # Python oracle: expected window STRINGS (same split semantics:
    # lower+trim, split on \s+), hashed by Spark's own xxhash64 over a
    # literal frame — independent of the operator's sequence/slice math.
    import re

    expected_strs: dict[int, list[str]] = {}
    for did, txt in rows:
        if txt is None:
            expected_strs[did] = []
            continue
        toks = [t for t in re.split(r"\s+", txt.strip().lower()) if t != ""]
        # mirror Spark split: split('') on trimmed-empty gives [''] — one
        # empty token; windows over it hash the empty join
        if txt.strip() == "":
            toks = [""]
        n = max(len(toks) - (k - 1), 0)
        if cap is not None:
            n = min(n, cap)
        wins = [" ".join(toks[i : i + k]) for i in range(n)]
        if distinct:
            seen, ded = set(), []
            for w in wins:
                if w not in seen:
                    seen.add(w)
                    ded.append(w)
            wins = ded
        expected_strs[did] = wins
    flat = [(d, i, s) for d, ws in expected_strs.items() for i, s in enumerate(ws)]
    if flat:
        ref = spark.createDataFrame(flat, ["doc_id", "pos", "s"]).select(
            "doc_id", "pos", F.xxhash64("s").alias("h")
        ).collect()
        want: dict[int, list[int]] = {d: [] for d in expected_strs}
        for r in sorted(ref, key=lambda r: (r["doc_id"], r["pos"])):
            want[r["doc_id"]].append(r["h"])
    else:
        want = {d: [] for d in expected_strs}
    bad = [
        d for d in expected_strs
        if list(got.get(d) or []) != want.get(d, [])
    ]
    _check(
        seed, "E_word_windows", not bad,
        f"k={k} cap={cap} distinct={distinct} bad_docs={bad[:4]}",
    )


def fam_f_codecs(rng, seed):
    from sanctum_spark.operators import multimodal as M

    ok, notes = True, []
    for _ in range(3):
        h, w = int(rng.integers(1, 17)), int(rng.integers(1, 17))
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        for name, enc, dec in (
            ("png", M.encode_png, M.decode_png),
            ("bmp", M.encode_bmp, M.decode_bmp),
            ("ppm", M.encode_ppm, M.decode_ppm),
        ):
            payload = enc(img)
            if not (dec(payload) == img).all() or not (
                M.decode_image(payload) == img
            ).all():
                ok = False
                notes.append(f"{name} {h}x{w} roundtrip")
            # truncation must raise a clean error, not crash/misdecode
            cut = payload[: int(rng.integers(2, max(3, len(payload) - 1)))]
            try:
                M.decode_image(cut)
                # decoding a truncated payload may still succeed when the
                # cut lands after the raster (ppm header-only cuts can't)
            except (ValueError, NotImplementedError):
                pass
            except Exception as ex:  # noqa: BLE001
                ok = False
                notes.append(f"{name} truncation raised {type(ex).__name__}")
    frames = int(rng.integers(1, 2000))
    ch = int(rng.integers(1, 3))
    rate = int(rng.choice([8000, 16000, 44100]))
    audio = rng.uniform(-1, 1, (frames, ch)).astype(np.float32)
    dec, got_rate = M.decode_wav(M.encode_wav(audio, rate))
    if got_rate != rate or dec.shape != (frames, ch) or (
        np.abs(dec - audio).max() > 2.0 / 32768
    ):
        ok = False
        notes.append(f"wav {frames}x{ch}@{rate}")
    # baseline JPEG at random (shape, quality, subsampling, restart):
    # lossy, so the oracle is the ANALYTIC quantization-error bound
    # computed from the stream's own quant tables (per-coefficient error
    # <= qt/2 through the |IDCT| basis, chroma amplified by the YCbCr->
    # RGB row sums).  Noise images check 4:4:4 (full chroma); the 4:2:0
    # leg uses gray-as-RGB noise (Cb=Cr constant), which exercises the
    # subsampled MCU geometry/padding/upsample WITHOUT chroma-averaging
    # loss — 2x2 averaging destroys per-pixel chroma noise BY DESIGN, so
    # a noisy-chroma 4:2:0 round-trip bounds nothing.
    from sanctum_spark.operators.jpeg_codec import (
        _C, _quant_tables, decode_jpeg, encode_jpeg,
    )

    def _linf_bound(qt):
        cabs = np.abs(_C)
        return max(
            (cabs[:, x][:, None] * cabs[:, y][None, :] * (qt / 2.0)).sum()
            for x in range(8)
            for y in range(8)
        )

    h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
    q = int(rng.integers(70, 101))
    dri = int(rng.choice([0, 1, 3]))
    ql, qc = _quant_tables(q)
    b_y, b_c = _linf_bound(ql), _linf_bound(qc)
    # RGB error <= Y error + (1.402+0.714+1.772-weighted) chroma errors;
    # 1.772+0.344 is the worst row sum.  +3 for the three rounding steps.
    tol = b_y + 2.2 * b_c + 3.0
    img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    dj = decode_jpeg(encode_jpeg(img, quality=q, subsampling="4:4:4",
                                 restart_interval=dri))
    if dj.shape != img.shape or np.abs(dj.astype(int) - img.astype(int)).max() > tol:
        ok = False
        notes.append(f"jpeg444 {h}x{w} q{q} dri{dri}")
    g = rng.integers(0, 256, (h, w)).astype(np.uint8)
    gray3 = np.stack([g, g, g], axis=-1)
    dj = decode_jpeg(encode_jpeg(gray3, quality=q, subsampling="4:2:0",
                                 restart_interval=dri))
    # constant chroma: only its DC quantizes, error <= qc[0,0]/2 per plane
    tol420 = b_y + 2.2 * (qc[0, 0] / 2.0) + 3.0
    if dj.shape != gray3.shape or (
        np.abs(dj.astype(int) - gray3.astype(int)).max() > tol420
    ):
        ok = False
        notes.append(f"jpeg420 {h}x{w} q{q} dri{dri}")
    jenc = encode_jpeg(img, quality=q)
    cut = jenc[: int(rng.integers(2, len(jenc)))]
    try:
        decode_jpeg(cut)
        # a cut landing exactly at EOI-boundary can still decode; any
        # earlier cut must raise cleanly below
    except (ValueError, NotImplementedError):
        pass
    except Exception as ex:  # noqa: BLE001
        ok = False
        notes.append(f"jpeg truncation raised {type(ex).__name__}")
    # corruption hardening: random flips/truncations/splices must decode
    # (right shape) or raise the two sanctioned error types — never a
    # parser crash (struct.error/IndexError) or a wrong-shaped array
    for t in range(24):
        b = bytearray(jenc)
        mode = t % 3
        if mode == 0:
            for _ in range(int(rng.integers(1, 6))):
                b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
        elif mode == 1:
            b = b[: int(rng.integers(1, len(b)))]
        else:
            i = int(rng.integers(0, len(b)))
            j = int(rng.integers(i, min(len(b), i + 40)))
            b[i:j] = bytes(int(x) for x in rng.integers(0, 256, j - i))
        try:
            out = decode_jpeg(bytes(b))
            if out.ndim != 3 or out.shape[2] != 3 or 0 in out.shape:
                ok = False
                notes.append(f"jpeg corruption trial {t}: bad shape")
        except (ValueError, NotImplementedError):
            pass
        except Exception as ex:  # noqa: BLE001
            ok = False
            notes.append(f"jpeg corruption raised {type(ex).__name__}")
    _check(seed, "F_codecs", ok, "; ".join(notes))


def _duck_docs(rows):
    """Register the corpus as a DuckDB view over a pandas frame."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text"]),
    )
    return con


def fam_g_jaccard_sql(spark, rng, seed, docs_df, rows):
    """Parameterized CROSS-ENGINE jaccard: the registered q91 oracle is
    pinned at (k=3, t=0.4); this renders the same DuckDB SQL from RANDOM
    (k, t) and compares raw doubles — the axis the driver gate can't
    move.  Division of exact ints is IEEE-identical on both engines."""
    from sanctum_spark.operators import dedup as D

    k = int(rng.integers(1, 5))
    t = float(np.round(rng.uniform(0.1, 0.8), 3))
    pf = bool(rng.integers(0, 2))
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(
            docs_df, "text", "doc_id", shingle_k=k, threshold=t,
            hashed=False, prefix_filter=pf,
        ).collect()
    }
    con = _duck_docs(rows)
    sql = rf"""
    WITH sh AS (
        SELECT doc_id AS id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - {k - 1}, 1)),
                   i -> array_to_string(toks[i:i+{k - 1}], ' '))) AS shingles
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
              FROM documents WHERE text IS NOT NULL)
    ),
    ex AS (SELECT id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT id, len(shingles) AS n_sh FROM sh)
    SELECT id_a, id_b,
           n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= {t}
    """
    want = {(r[0], r[1], r[2]) for r in con.execute(sql).fetchall()}
    _check(
        seed, "G_jaccard_sql", got == want,
        f"k={k} t={t} prefix={pf} got={len(got)} want={len(want)} "
        f"diff={sorted(got ^ want)[:3]}",
    )


def fam_h_decontaminate_sql(spark, rng, seed, rows):
    """Parameterized cross-engine decontamination: random (k, threshold,
    benchmark modulus) against the q104 oracle shape re-rendered in
    DuckDB.  Raw containment doubles compared exactly."""
    from sanctum_spark.operators.text import decontaminate

    k = int(rng.integers(1, 5))
    t = float(np.round(rng.uniform(0.01, 0.3), 3))
    mod = int(rng.choice([7, 13, 29]))
    docs_df = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = docs_df.filter((docs_df.doc_id % mod) == 0)
    train = docs_df.filter((docs_df.doc_id % mod) != 0)
    got = {
        (r["doc_id"], r["n_overlap"], r["containment"])
        for r in decontaminate(
            train, bench, "text", "doc_id", k=k, threshold=t
        ).collect()
    }
    con = _duck_docs(rows)
    sql = rf"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - {k - 1}, 1)),
            i -> array_to_string(toks[i:i+{k - 1}], ' '))) AS shingles
        FROM tok
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS shingle FROM sh
        WHERE doc_id % {mod} = 0
    ),
    ex AS (
        SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh
        FROM sh WHERE doc_id % {mod} <> 0
    ),
    ov AS (
        SELECT doc_id, MAX(n_sh) AS n_sh, COUNT(*) AS n_overlap
        FROM ex WHERE shingle IN (SELECT shingle FROM bench)
        GROUP BY doc_id
    )
    SELECT doc_id, n_overlap,
           n_overlap / CAST(n_sh AS DOUBLE) AS containment
    FROM ov
    WHERE n_overlap / CAST(n_sh AS DOUBLE) >= {t}
    """
    want = {(r[0], r[1], r[2]) for r in con.execute(sql).fetchall()}
    _check(
        seed, "H_decontaminate_sql", got == want,
        f"k={k} t={t} mod={mod} got={len(got)} want={len(want)} "
        f"diff={sorted(got ^ want)[:3]}",
    )


def _event_rows(rng, gap_us: int, cep_us: int) -> list[tuple]:
    """Random event log for the streaming family: few users, values that
    are exact multiples of 0.25 (order-free float sums), ~10% planted
    equal-timestamp same-user ties (the row-order tiebreak class), plus
    deterministic boundary plants for the drawn session gap (pairs exactly
    gap apart MUST merge — Spark's session interval is closed at
    last+gap — while 2×gap apart MUST split) and the drawn CEP deadline
    (click exactly at view+deadline MUST match — the contract is <=;
    deadline+1ms MUST NOT)."""
    base_us = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
    span_us = 4 * 3600 * 1_000_000
    users = list(range(1, int(rng.integers(4, 9))))
    kinds = ["view", "click", "purchase", "signup", "error"]
    probs = [0.35, 0.30, 0.15, 0.10, 0.10]
    rows: list[tuple] = []
    eid = 0
    prev: tuple[int, int] | None = None
    for _ in range(int(rng.integers(150, 400))):
        if prev is not None and rng.random() < 0.10:
            ts_us, uid = prev  # same-user equal-timestamp tie
        else:
            ts_us = base_us + int(rng.integers(0, span_us))
            uid = int(rng.choice(users))
        prev = (ts_us, uid)
        rows.append((
            eid, ts_us, uid, str(rng.choice(kinds, p=probs)),
            float(int(rng.integers(0, 400))) / 4.0, "{}",
        ))
        eid += 1
    # session-gap boundary plants on a dedicated user (no random noise)
    su = max(users) + 1
    t0 = base_us + int(rng.integers(0, span_us // 2))
    for ts in (t0, t0 + gap_us, t0 + 3 * gap_us, t0 + 4 * gap_us - 1):
        rows.append((eid, ts, su, "signup", 1.25, "{}"))
        eid += 1
    # CEP deadline plants on two dedicated users
    cu1, cu2 = su + 1, su + 2
    t1 = base_us + int(rng.integers(0, span_us // 2))
    for ts, typ in ((t1, "view"), (t1 + cep_us, "click"), (t1 + cep_us, "purchase")):
        rows.append((eid, ts, cu1, typ, 0.5, "{}"))  # boundary: matches
        eid += 1
    t2 = base_us + int(rng.integers(0, span_us // 2))
    for ts, typ in ((t2, "view"), (t2 + cep_us + 1000, "click")):
        rows.append((eid, ts, cu2, typ, 0.5, "{}"))  # past deadline: dead
        eid += 1
    return rows


def fam_i_streaming(spark, rng, seed):
    """Streaming delivery+parameter fuzz: one random event corpus staged
    with random (n_files, maxFilesPerTrigger) and hash-permuted rows
    inside each file, then four stateful operators at random parameters,
    each checked against an INDEPENDENT Python oracle (not the batch
    queries — a second implementation of the semantics):

    - tumbling windows at random non-hour-aligned widths (epoch
      alignment math) with count + exact-in-binary value sums;
    - session windows at random gaps with exact-boundary plants (the
      closed [start, last+gap] merge contract — an event at exactly
      last+gap extends the session);
    - stateful EWMA at random alpha (order-sensitive fold — the spell's
      order_by must re-sort under tie-heavy perturbed delivery);
    - CEP NFA at random deadlines with <=-boundary plants, plus a
      checkpoint stop/resume at a RANDOM batch boundary (exactly-once
      across the restart: no lost in-flight partials, no duplicates).
    """
    import shutil
    import tempfile
    import uuid as _uuid
    from datetime import timezone

    from pyspark.sql import functions as F

    from sanctum_spark.streaming import sources as SRC
    from sanctum_spark.streaming import stateful as ST
    from sanctum_spark.streaming import windows as WIN
    from sanctum_spark.streaming.cep import streaming_cep_pattern

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    width_min = int(rng.choice([7, 10, 13, 15, 30, 45]))
    gap_min = int(rng.choice([3, 5, 10, 30]))
    alpha = float(np.round(rng.uniform(0.05, 0.95), 3))
    cep_min = int(rng.choice([3, 8, 21]))
    n_files = int(rng.integers(2, 9))
    mfpt = int(rng.integers(1, 3))
    width_us = width_min * 60_000_000
    gap_us = gap_min * 60_000_000
    cep_us = cep_min * 60_000_000

    rows = _event_rows(rng, gap_us, cep_us)
    raw = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, props string",
    )
    ev = raw.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        (F.col("ts_us") * 1000).alias("ts_ns"),
        "user_id", "event_type", "value", "props",
    )
    tmp = tempfile.mkdtemp(prefix=f"pfuzz_stream_{seed}_")
    tag = _uuid.uuid4().hex[:6]
    notes = [f"w={width_min}m g={gap_min}m a={alpha} d={cep_min}m f={n_files}x{mfpt}"]
    try:
        stage = f"{tmp}/stage"
        SRC.stage_events_df(ev, stage, n_files=n_files, shuffle_within=True)

        def stream():
            return SRC.events_file_stream(spark, stage, max_files_per_trigger=mfpt)

        def epoch_us(dt) -> int:
            return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)

        # 1. tumbling windows
        name = f"pf_tum_{seed}_{tag}"
        SRC.run_to_memory(
            WIN.tumbling_window_agg(stream(), f"{width_min} minutes", "10 minutes"),
            name, output_mode="complete",
        )
        got_t = {
            (epoch_us(r["window_start"]), r["event_type"]): (r["n"], r["total_value"])
            for r in spark.table(name).collect()
        }
        want_t: dict = {}
        for _, ts_us, _, typ, val, _ in rows:
            k = (ts_us - ts_us % width_us, typ)
            n, s = want_t.get(k, (0, 0.0))
            want_t[k] = (n + 1, s + val)
        want_t = {k: (n, round(s, 2)) for k, (n, s) in want_t.items()}
        ok_t = got_t == want_t

        # 2. session windows
        name = f"pf_sess_{seed}_{tag}"
        SRC.run_to_memory(
            WIN.session_window_agg(stream(), f"{gap_min} minutes", "10 minutes"),
            name, output_mode="complete",
        )
        got_s = sorted(
            (r["user_id"], epoch_us(r["session_start"]),
             epoch_us(r["session_end"]), r["n_events"])
            for r in spark.table(name).collect()
        )
        per_ts: dict[int, list[int]] = {}
        for _, ts_us, uid, _, _, _ in rows:
            per_ts.setdefault(uid, []).append(ts_us)
        want_s = []
        for uid, tss in per_ts.items():
            tss.sort()
            start, last, n = tss[0], tss[0], 1
            for t in tss[1:]:
                if t <= last + gap_us:  # closed [start, last+gap]: an
                    # event AT exactly last+gap merges (probed in batch
                    # and pinned by the exact-gap plants)
                    last, n = t, n + 1
                else:
                    want_s.append((uid, start, last + gap_us, n))
                    start, last, n = t, t, 1
            want_s.append((uid, start, last + gap_us, n))
        ok_s = got_s == sorted(want_s)

        # 3. stateful EWMA
        name = f"pf_ewma_{seed}_{tag}"
        SRC.run_to_memory(
            ST.apply_stateful_spell(
                stream().select("user_id", "ts", "event_id", "value"),
                ST.ewma_spell(alpha=alpha), ["user_id"],
            ),
            name, output_mode="update", checkpoint=f"{tmp}/ckpt_ewma",
        )
        got_e = {
            r["user_id"]: (round(r["ewma"] + 1e-9, 6), r["n"])
            for r in spark.table(name)
            .groupBy("user_id")
            .agg(F.max(F.struct("n", "ewma")).alias("s"))
            .select("user_id", "s.ewma", "s.n")
            .collect()
        }
        per_ev: dict[int, list[tuple]] = {}
        for eid, ts_us, uid, _, val, _ in rows:
            per_ev.setdefault(uid, []).append((ts_us, eid, val))
        want_e = {}
        for uid, lst in per_ev.items():
            lst.sort()
            ew, n = 0.0, 0
            for _, _, x in lst:
                ew = x if n == 0 else alpha * x + (1.0 - alpha) * ew
                n += 1
            want_e[uid] = (round(ew + 1e-9, 6), n)
        ok_e = got_e == want_e

        # 4. CEP NFA (independent skip-till-next-row simulation, in ns)
        name = f"pf_cep_{seed}_{tag}"
        SRC.run_to_memory(streaming_cep_pattern(stream(), cep_us * 1000), name)
        got_c = {
            (r["user_id"], r["view_ts"], r["click_ts"], r["purchase_ts"])
            for r in spark.table(name).collect()
        }
        per_typ: dict[int, list[tuple]] = {}
        for eid, ts_us, uid, typ, _, _ in rows:
            per_typ.setdefault(uid, []).append((ts_us * 1000, eid, typ))
        want_c = set()
        dl_ns = cep_us * 1000
        for uid, lst in per_typ.items():
            lst.sort()
            pv: list[int] = []
            pp: list[tuple[int, int]] = []
            for ts, _, typ in lst:
                if typ == "view":
                    pv.append(ts)
                elif typ == "click":
                    pp += [(v, ts) for v in pv if ts <= v + dl_ns]
                    pv = []
                elif typ == "purchase":
                    want_c |= {(uid, v, c, ts) for v, c in pp if ts <= v + dl_ns}
                    pp = []
        ok_c = got_c == want_c

        # 4b. CEP restart at a RANDOM batch boundary (the
        # test_streaming_recovery contract under fuzzed parameters): the
        # stop lands at a random point in the replay, so in-flight
        # partial matches straddle it at random pattern stages; the
        # resumed run must neither lose them nor duplicate run-1 output.
        import os as _os
        import shutil as _sh

        split = int(rng.integers(1, n_files))
        parts = sorted(
            f for f in _os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        live = f"{tmp}/live"
        outdir, ck = f"{tmp}/cep_out", f"{tmp}/cep_ck"
        _os.makedirs(live)

        def _restart_run():
            q = (
                streaming_cep_pattern(
                    SRC.events_file_stream(spark, live, max_files_per_trigger=mfpt),
                    cep_us * 1000,
                )
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        for f in parts[:split]:
            _sh.copy2(_os.path.join(stage, f), _os.path.join(live, f))
        _restart_run()
        for f in parts[split:]:
            _sh.copy2(_os.path.join(stage, f), _os.path.join(live, f))
        _restart_run()
        got_r = {
            (r["user_id"], r["view_ts"], r["click_ts"], r["purchase_ts"])
            for r in spark.read.parquet(outdir).collect()
        }
        ok_r = got_r == want_c

        for sub, ok, got, want in (
            ("tumbling", ok_t, got_t, want_t), ("session", ok_s, got_s, want_s),
            ("ewma", ok_e, got_e, want_e), ("cep", ok_c, got_c, want_c),
            ("cep_restart", ok_r, got_r, want_c),
        ):
            if not ok:
                if isinstance(got, dict):
                    d = {k: (got.get(k), want.get(k)) for k in
                         set(got) ^ set(want) | {k for k in want if got.get(k) != want[k]}}
                    notes.append(f"{sub} diff={list(d.items())[:3]}")
                else:
                    notes.append(f"{sub} got={got[:2]} want={sorted(want)[:2]}")
        _check(
            seed, "I_streaming", ok_t and ok_s and ok_e and ok_c and ok_r,
            "; ".join(notes),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _lev(a: str, b: str) -> int:
    """Reference Levenshtein (full DP) for the linkage oracle."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def fam_j_linkage(spark, rng, seed):
    """Entity resolution vs a brute-force Python oracle: random
    (max_dist 0-3, prefix_len 0-2) over a corpus of short near-colliding
    names (tiny alphabet), NULL names/blocks (never pair), and planted
    length-delta boundaries (|len(a)-len(b)| == max_dist with distance
    exactly max_dist must survive the prefilter; max_dist+1 must not
    pair).  Oracle: all same-block pairs, Python Levenshtein, union-find
    closure, min-id canonical entity."""
    from sanctum_spark.operators.linkage import resolve_entities

    max_dist = int(rng.integers(0, 4))
    prefix_len = int(rng.integers(0, 3))
    alpha = list("abcd")
    blocks = ["x", "y", "z", None]
    recs: list[tuple] = []
    rid = 0
    for _ in range(int(rng.integers(40, 90))):
        name = (
            None if rng.random() < 0.08
            else "".join(rng.choice(alpha) for _ in range(int(rng.integers(0, 8))))
        )
        recs.append((rid, str(rng.choice(blocks[:3])) if rng.random() > 0.05 else None, name))
        rid += 1
    # length-delta boundary plants: base name, one at exactly max_dist
    # appended chars (distance == max_dist: must pair when max_dist > 0),
    # one at max_dist+1 (must not)
    base = "abca"
    recs.append((rid, "x", base)); rid += 1
    recs.append((rid, "x", base + "d" * max_dist)); rid += 1
    recs.append((rid, "x", base + "d" * (max_dist + 1))); rid += 1
    df = spark.createDataFrame(recs, "rec_id long, blk string, name string")
    got = {
        r["rec_id"]: r["entity_id"]
        for r in resolve_entities(
            df, "rec_id", ["blk"], "name",
            max_dist=max_dist, prefix_len=prefix_len,
        ).collect()
    }
    # brute-force oracle
    parent = {i: i for i, _, _ in recs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (ia, ba, na) in enumerate(recs):
        if ba is None or na is None:
            continue
        for ib, bb, nb in recs[i + 1:]:
            if bb != ba or nb is None:
                continue
            if prefix_len > 0 and na[:prefix_len] != nb[:prefix_len]:
                continue
            if abs(len(na) - len(nb)) > max_dist:
                continue
            if _lev(na, nb) <= max_dist:
                ra, rb = find(ia), find(ib)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i, _, _ in recs}
    bad = {i: (got.get(i), want[i]) for i in want if got.get(i) != want[i]}
    _check(
        seed, "J_linkage", not bad,
        f"d={max_dist} p={prefix_len} n={len(recs)} bad={list(bad.items())[:3]}",
    )


def fam_k_bm25(spark, rng, seed):
    """Okapi BM25 vs a Python reference at random (k1, b, k, terms):
    scores within 2e-6 of the reference formula (idf, tf saturation,
    length normalization over the WHOLE corpus incl. non-matching docs),
    and the top-k cut consistent with full scoring under the
    (-bm25, doc_id) tie-break."""
    from sanctum_spark.operators.retrieval import bm25_scoring, bm25_topk

    words = ["data", "spark", "query", "stream", "index", "shard", "merge"]
    rows = []
    for did in range(int(rng.integers(40, 80))):
        n = int(rng.integers(1, 30))
        rows.append((did, " ".join(rng.choice(words, p=_zipf(len(words))) for _ in range(n))))
    k1 = float(np.round(rng.uniform(0.5, 2.0), 2))
    b = float(np.round(rng.uniform(0.0, 1.0), 2))
    k = int(rng.integers(1, 16))
    terms = list(dict.fromkeys(
        [str(rng.choice(words)) for _ in range(int(rng.integers(2, 5)))]
        + ["absentterm"]  # zero-df term: contributes nothing, crashes nothing
    ))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    with bm25_scoring(docs, terms, k1=k1, b=b) as scored:
        got = {r["doc_id"]: r["bm25"] for r in scored.collect()}
    # Python reference
    import math
    toks = {did: txt.lower().strip().split() for did, txt in rows}
    N = len(rows)
    avgdl = sum(len(t) for t in toks.values()) / N
    df_t = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}
    want = {}
    for did, tk in toks.items():
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            if tf == 0 or df_t[t] == 0:
                continue
            idf = math.log((N - df_t[t] + 0.5) / (df_t[t] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(tk) / avgdl))
        if s != 0.0:
            want[did] = round(s + 1e-9, 6)
    ok = set(got) == set(want) and all(
        abs(got[d] - want[d]) <= 2e-6 for d in want
    )
    # top-k cut: must equal the full scoring sorted by (-bm25, doc_id)
    topk = [(r["doc_id"], r["bm25"]) for r in bm25_topk(docs, terms, k=k, k1=k1, b=b).collect()]
    expect = sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    ok = ok and topk == expect
    _check(
        seed, "K_bm25", ok,
        f"k1={k1} b={b} k={k} terms={len(terms)} docs={len(want)}",
    )


def _zipf(n: int):
    w = np.array([1.0 / (i + 1) for i in range(n)])
    return w / w.sum()


def fam_l_bpe(spark, rng, seed):
    """Distributed BPE vs an independent Python reference: the corpus
    word counts (the one Spark pass), the full merge sequence at random
    (n_merges, max_words, min_freq) with the (freq desc, pair asc)
    tie-break, and the apply round-trip (concatenated tokens reconstruct
    the normalized text; every token is derivable from the merge list)."""
    from collections import Counter

    from sanctum_spark.operators.bpe import (
        END, bpe_apply, bpe_train, word_counts,
    )

    alpha = list("abcd")
    rows = []
    for did in range(int(rng.integers(25, 60))):
        n = int(rng.integers(1, 12))
        rows.append((
            did,
            " ".join(
                "".join(rng.choice(alpha) for _ in range(int(rng.integers(1, 7))))
                for _ in range(n)
            ),
        ))
    n_merges = int(rng.integers(5, 41))
    max_words = int(rng.choice([10, 50, 1000]))
    min_freq = int(rng.choice([1, 2, 3]))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got_counts = {(r["word"], r["n"]) for r in word_counts(docs).collect()}
    cnt = Counter(w for _, txt in rows for w in txt.lower().strip().split() if w)
    ok_counts = got_counts == set(cnt.items())

    got_merges = bpe_train(
        docs, n_merges=n_merges, max_words=max_words, min_freq=min_freq
    )
    # independent reference merge loop
    kept = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:max_words]
    vocab = {tuple(w) + (END,): n for w, n in kept}
    want_merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, n in vocab.items():
            for a2, b2 in zip(sym, sym[1:]):
                pairs[(a2, b2)] += n
        if not pairs:
            break
        best_n = max(pairs.values())
        if best_n < min_freq:
            break
        pair = min(p for p, n in pairs.items() if n == best_n)
        want_merges.append(pair)
        nv = {}
        for sym, n in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == pair[0] and sym[i + 1] == pair[1]:
                    out.append(sym[i] + sym[i + 1]); i += 2
                else:
                    out.append(sym[i]); i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + n
        vocab = nv
    ok_merges = got_merges == want_merges

    applied = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_apply(docs, got_merges).collect()
    }
    ok_apply = True
    derivable = {a2 + b2 for a2, b2 in got_merges} | set("abcd") | {END}
    for did, txt in rows:
        toks = applied[did]
        if "".join(toks).replace(END, " ").strip() != " ".join(txt.lower().strip().split()):
            ok_apply = False
        # every emitted multi-char token is END or a learned merge output
        # (encode builds symbols only by applying merges, so any merged
        # symbol equals pair[0]+pair[1] for some learned pair)
        for t in toks:
            if len(t) > 1 and t != END and t not in derivable:
                ok_apply = False
    _check(
        seed, "L_bpe", ok_counts and ok_merges and ok_apply,
        f"m={n_merges} mw={max_words} mf={min_freq} "
        f"counts={ok_counts} merges={ok_merges} apply={ok_apply}",
    )



def fam_m_eventdump(spark, rng, seed):
    """Eventdump delivery+restart fuzz (family M): the custom
    ``sanctum_eventdump`` DataSource's exactly-once file-offset replay
    claim (eventdump_source.py) under randomized delivery.

    Ground truth is the generated event list itself (id, user, type,
    value, packed payload bytes) — independent of the reader's decode
    loop.  Checks: (1) batch read of the whole dump tree equals ground
    truth as a multiset (hidden staging files and blank lines
    invisible); (2) a checkpointed stream consumed in two runs split at
    a RANDOM file boundary — stop, deliver the rest, restart — equals
    ground truth exactly (no losses across the restart, no duplicates
    from offset replay); (3) the producer contract's negative leg: a
    file named BELOW the committed offset (violating log-roll naming)
    is never picked up.
    """
    import os
    import shutil
    import tempfile
    import time
    import uuid as _uuid

    from sanctum_spark.codec.msgpack_codec import pack
    from sanctum_spark.eventdump_source import EventDumpDataSource, _encode_line

    spark.dataSource.register(EventDumpDataSource)
    n_events = int(rng.integers(120, 361))
    n_files = int(rng.integers(3, 10))
    mfpt = int(rng.integers(1, 5))
    split = int(rng.integers(1, n_files))
    types = ["view", "click", "purchase", "refund"]

    truth = []  # (event_id, user_id, event_type, value, payload-bytes)
    payloads = []
    for i in range(n_events):
        ev = {"event_id": i}
        if rng.random() > 0.1:
            ev["user_id"] = int(rng.integers(0, 10))
        ev["event_type"] = str(rng.choice(types))
        if rng.random() > 0.15:
            ev["value"] = float(np.round(rng.uniform(-50, 50), 3))
        if rng.random() < 0.2:  # schemaless extra key -> payload-only
            ev["extra"] = int(rng.integers(0, 1000))
        p = pack(ev)
        payloads.append(p)
        truth.append(
            (i, ev.get("user_id"), ev["event_type"], ev.get("value"), p)
        )

    # random file splits (log-rolled names), random blank-line noise
    cuts = sorted(rng.choice(np.arange(1, n_events), n_files - 1, replace=False))
    bounds = [0, *(int(c) for c in cuts), n_events]
    tmp = tempfile.mkdtemp(prefix=f"pfuzz_evdump_{seed}_")
    notes = [f"n={n_events} f={n_files} mfpt={mfpt} split={split}"]
    try:
        stage = os.path.join(tmp, "stage")
        os.makedirs(stage)
        for fi in range(n_files):
            with open(os.path.join(stage, f"ev{fi:04d}.dump"), "w") as fh:
                for j in range(bounds[fi], bounds[fi + 1]):
                    if rng.random() < 0.1:
                        fh.write("\n")  # blank noise line: skipped
                    fh.write(_encode_line(payloads[j]) + "\n")
        # hidden staging files must be invisible to both read paths
        for hidden in (".partial.dump.tmp", "_staging"):
            with open(os.path.join(stage, hidden), "w") as fh:
                fh.write("not a dump line\n")

        def rows_key(rows):
            # Total sort key (r10 ADVICE item 1): user_id and value are
            # nullable, and an invariant VIOLATION with duplicate
            # event_ids differing only in a nullable field would make
            # sorted() raise TypeError (None < int) — crashing the fuzz
            # run instead of recording a clean FAIL.  Map None to a
            # (flag, value) pair so the key is always comparable.
            def tot(x, null_stand_in):
                return (1, null_stand_in) if x is None else (0, x)

            return sorted(
                (r[0], tot(r[1], -1), r[2], tot(r[3], 0.0),
                 bytes(r[4]).hex())
                for r in rows
            )

        want_all = rows_key(truth)

        # 1. batch read
        got_b = rows_key(
            (r["event_id"], r["user_id"], r["event_type"], r["value"],
             r["payload"])
            for r in spark.read.format("sanctum_eventdump").load(stage).collect()
        )
        ok_b = got_b == want_all

        # 2. checkpointed stream, restart at a random file boundary
        live = os.path.join(tmp, "live")
        outdir, ck = os.path.join(tmp, "out"), os.path.join(tmp, "ck")
        os.makedirs(live)

        def run_until(n_expected):
            q = (
                spark.readStream.format("sanctum_eventdump")
                .option("maxFilesPerTrigger", str(mfpt))
                .load(live)
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(processingTime="300 milliseconds")
                .start()
            )
            try:
                deadline = time.time() + 120
                while time.time() < deadline:
                    try:
                        if spark.read.parquet(outdir).count() >= n_expected:
                            break
                    except Exception:
                        pass
                    time.sleep(0.3)
            finally:
                q.stop()

        for fi in range(split):
            shutil.copy2(
                os.path.join(stage, f"ev{fi:04d}.dump"),
                os.path.join(live, f"ev{fi:04d}.dump"),
            )
        run_until(bounds[split])
        # between the runs: the rest of the corpus, plus a file whose
        # name sorts BELOW the committed offset carrying a sentinel —
        # the documented log-roll contract says it is never consumed
        with open(os.path.join(live, "ev0000-late.dump"), "w") as fh:
            fh.write(_encode_line(pack({"event_id": -999})) + "\n")
        for fi in range(split, n_files):
            shutil.copy2(
                os.path.join(stage, f"ev{fi:04d}.dump"),
                os.path.join(live, f"ev{fi:04d}.dump"),
            )
        run_until(n_events)
        got_s = rows_key(
            (r["event_id"], r["user_id"], r["event_type"], r["value"],
             r["payload"])
            for r in spark.read.parquet(outdir).collect()
        )
        ok_s = got_s == want_all
        ok_late = -999 not in {t[0] for t in got_s}
        if not ok_b:
            notes.append(f"batch got={len(got_b)} want={len(want_all)}")
        if not ok_s:
            notes.append(f"stream got={len(got_s)} want={len(want_all)}")
        _check(seed, "M_eventdump", ok_b and ok_s and ok_late, "; ".join(notes))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)



def fam_n_pagerank(spark, rng, seed):
    """Graph power-iteration fuzz (family N): operators.graph.pagerank
    vs an independent Python oracle at random (damping, n_iter,
    symmetric, weighted) over a random multigraph with self-loops and
    parallel edges.

    The oracle replicates the operator's CONTRACT, not its plan: mirror
    if symmetric, merge parallel edges by weight sum, share = w /
    source strength, node set = distinct post-mirror SOURCES (dst-only
    nodes are outside the rank vector by design — directed dangling
    targets receive contributions that the node-set left join drops),
    fixed n_iter rounds of rank = (1-d)/n + d * contrib.  Fixed
    iteration count makes the comparison exact up to float summation
    order (~1e-15 relative), checked at 1e-9.
    """
    from sanctum_spark.operators.graph import pagerank

    n_nodes = int(rng.integers(8, 50))
    n_edges = int(rng.integers(n_nodes, 4 * n_nodes))
    damping = float(np.round(rng.uniform(0.05, 0.95), 3))
    n_iter = int(rng.integers(1, 12))
    symmetric = bool(rng.integers(0, 2))
    weighted = bool(rng.integers(0, 2))
    rows = [
        (
            int(rng.integers(0, n_nodes)),
            int(rng.integers(0, n_nodes)),  # self-loops allowed
            float(np.round(rng.uniform(0.1, 5.0), 2)),
        )
        for _ in range(n_edges)  # parallel edges allowed
    ]
    edges = spark.createDataFrame(rows, ["src", "dst", "w"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, "src", "dst",
            weight_col="w" if weighted else None,
            damping=damping, n_iter=n_iter, symmetric=symmetric,
        ).collect()
    }

    # ---- independent oracle (plain dicts) ----
    ew = {}
    for s, d, w in rows:
        wv = w if weighted else 1.0
        ew[(s, d)] = ew.get((s, d), 0.0) + wv
        if symmetric:
            ew[(d, s)] = ew.get((d, s), 0.0) + wv
    strength = {}
    for (s, _d), w in ew.items():
        strength[s] = strength.get(s, 0.0) + w
    share = {sd: w / strength[sd[0]] for sd, w in ew.items()}
    nodes = sorted(strength)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib = {}
        for (s, d), sh in share.items():
            contrib[d] = contrib.get(d, 0.0) + rank[s] * sh
        rank = {
            v: (1.0 - damping) / n + damping * contrib.get(v, 0.0)
            for v in nodes
        }
    ok_nodes = set(got) == set(rank)
    worst = max(
        (abs(got[v] - rank[v]) for v in rank if v in got), default=1.0
    ) if ok_nodes else 1.0
    ok = ok_nodes and worst < 1e-9
    _check(
        seed, "N_pagerank", ok,
        f"n={n_nodes} e={n_edges} d={damping} it={n_iter} "
        f"sym={symmetric} w={weighted} nodes_eq={ok_nodes} max_err={worst:.2e}",
    )


def fam_o_curation(spark, rng, seed):
    """Fused curation pipeline vs a plain-Python end-to-end oracle
    (family O, r11 — the pipeline composed in operators/curation.py).

    The corpus is constructed so every pipeline decision is
    Python-predictable under RANDOM parameters:

    - fillers draw from per-doc DISJOINT synthetic vocab slices, and an
      add-time guard recomputes exact shingle-Jaccard in Python against
      every existing doc with a different lowercase form, rejecting any
      candidate within 1e-9 of the near-dup threshold — so the only
      pairs at-or-above threshold are IDENTICAL-LOWERCASE pairs, whose
      identical shingle sets give identical MinHash signatures and a
      GUARANTEED banding collision (family-B recall floor), while
      soundness (exact verification on candidates) guarantees no other
      edge can appear;
    - exact-duplicate groups (same raw text) exercise the struct-min
      keeper; case-variant groups (distinct md5, same lowercase)
      exercise clustering; docs embedding the benchmark text exercise
      the containment decision in BOTH directions across seeds.

    The oracle replicates the CONTRACT stage by stage in Python: min-id
    keeper per raw text, token/length gates, min-id keeper per
    lowercase group, containment = |distinct k-shingles ∩ benchmark
    shingles| / |doc shingles| >= threshold, then a single global
    prefix sum to the pack table.  Random (min_tokens, min_chars,
    shingle_k, n_hashes/bands, thresholds, pack budget/block) — full
    pack-table equality, plus survivor-set equality for diagnostics.
    """
    from pyspark.sql import functions as F

    from sanctum_spark.operators import curation as C

    # --- random parameters ---
    min_tokens = int(rng.integers(1, 6))
    min_chars = int(rng.integers(5, 31))
    max_chars = int(rng.integers(400, 2000))
    shingle_k = int(rng.integers(2, 5))
    n_hashes, bands = [(8, 2), (8, 4), (16, 4), (12, 3), (16, 8)][
        int(rng.integers(0, 5))
    ]
    nd_thr = float(rng.uniform(0.3, 0.9))
    dc_k = int(rng.integers(2, 4))
    dc_thr = float(rng.uniform(0.1, 0.5))
    budget = int(rng.integers(8, 65))
    block = int(rng.integers(4, 17))

    def shingles_of(text: str, k: int) -> set[str]:
        toks = text.lower().split(" ")
        return {
            " ".join(toks[i:i + k])
            for i in range(max(len(toks) - k + 1, 1))
        }

    def jac(a: set, b: set) -> float:
        return len(a & b) / len(a | b) if a | b else 0.0

    # --- corpus construction with the add-time Jaccard guard ---
    slice_no = 0

    def fresh_slice(n: int = 8) -> list[str]:
        nonlocal slice_no
        slice_no += 1
        return [f"w{slice_no}_{j}" for j in range(n)]

    def rand_text(sl: list[str], lo: int = 5, hi: int = 20) -> str:
        n = int(rng.integers(lo, hi))
        return " ".join(str(rng.choice(sl)) for _ in range(n))

    rows: list[tuple[int, str]] = []
    did = 0

    def guarded_add(text: str) -> bool:
        nonlocal did
        sh = shingles_of(text, shingle_k)
        for _, t in rows:
            # exact (case-insensitive) repeats are allowed — exact dedup
            # handles them; only block NEAR-duplicate non-identical text
            if t.lower() != text.lower() and jac(sh, shingles_of(t, shingle_k)) >= nd_thr - 1e-9:
                return False
        rows.append((did, text))
        did += 1
        return True

    for _ in range(int(rng.integers(10, 22))):
        guarded_add(rand_text(fresh_slice()))
    # exact-duplicate groups (same raw text is always admissible)
    for _ in range(int(rng.integers(2, 4))):
        src = rows[int(rng.integers(0, len(rows)))][1]
        for _ in range(int(rng.integers(1, 3))):
            rows.append((did, src))
            did += 1
    # case-variant near-dup groups
    variants = [
        str.upper,
        lambda s: " ".join(t.capitalize() for t in s.split(" ")),
    ]
    for _ in range(int(rng.integers(2, 4))):
        base = rand_text(fresh_slice())
        if not guarded_add(base):
            continue
        for v in range(int(rng.integers(1, 3))):
            rows.append((did, variants[v % 2](base)))
            did += 1
    # benchmark + docs embedding it (containment branch coverage)
    bench_text = rand_text(fresh_slice(), 10, 16)
    bench_sh = shingles_of(bench_text, dc_k)
    for _ in range(int(rng.integers(1, 3))):
        extra = rand_text(fresh_slice(), 1, 5) if rng.random() < 0.5 else ""
        guarded_add((bench_text + " " + extra).strip())

    # --- plain-Python oracle, stage by stage ---
    # 1. exact dedup: min id per raw text
    first_by_text: dict[str, int] = {}
    for i, t in rows:
        first_by_text.setdefault(t, i)
    s1 = sorted(first_by_text.values())
    by_id = dict(rows)
    # 2. gates
    s2 = [
        i for i in s1
        if len(by_id[i].strip().split()) >= min_tokens
        and min_chars <= len(by_id[i]) <= max_chars
    ]
    # 3. near-dup clustering = min id per lowercase group (construction
    # guarantees no cross-lowercase edge can reach the threshold)
    keeper_by_lower: dict[str, int] = {}
    for i in s2:
        low = by_id[i].lower()
        keeper_by_lower.setdefault(low, i)
        keeper_by_lower[low] = min(keeper_by_lower[low], i)
    s3 = sorted(i for i in s2 if keeper_by_lower[by_id[i].lower()] == i)
    # 4. decontamination
    s4 = []
    for i in s3:
        sh = shingles_of(by_id[i], dc_k)
        containment = len(sh & bench_sh) / len(sh)
        if containment < dc_thr:
            s4.append(i)
    # 5. pack table via a single global prefix sum
    want_packs: dict[int, list[tuple[int, int]]] = {}
    cum = 0
    for i in s4:
        n_tok = len(by_id[i].strip().split())
        want_packs.setdefault(cum // budget, []).append((i, n_tok))
        cum += n_tok
    want = sorted(
        (pid, len(ds), sum(n for _, n in ds), min(d for d, _ in ds),
         max(d for d, _ in ds))
        for pid, ds in want_packs.items()
    )

    # --- the pipeline under test ---
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    bench_df = spark.createDataFrame([(0, bench_text)], ["doc_id", "text"])
    params = dict(
        min_tokens=min_tokens, min_chars=min_chars, max_chars=max_chars,
        n_hashes=n_hashes, bands=bands, shingle_k=shingle_k,
        neardup_threshold=nd_thr, decontam_k=dc_k,
        decontam_threshold=dc_thr, pack_budget=budget, pack_block=block,
    )
    got = sorted(
        tuple(r) for r in C.curate_and_pack(corpus, bench_df, **params).collect()
    )
    # survivor-set equality for diagnostics on failure
    surv_df = C.drop_contaminated_docs(
        C.drop_near_duplicate_docs(
            C.clean_corpus(corpus, min_tokens=min_tokens,
                           min_chars=min_chars, max_chars=max_chars),
            n_hashes=n_hashes, bands=bands, shingle_k=shingle_k,
            threshold=nd_thr),
        bench_df, k=dc_k, threshold=dc_thr)
    got_surv = sorted(r["doc_id"] for r in surv_df.select("doc_id").collect())
    ok = got == want and got_surv == s4
    detail = (
        f"docs={len(rows)} k={shingle_k} nh/b={n_hashes}/{bands} "
        f"nd={nd_thr:.2f} dck={dc_k} dct={dc_thr:.2f} "
        f"budget={budget} blk={block} surv={len(s4)} packs={len(want)}"
    )
    if not ok:
        detail += f"; surv_got={got_surv} surv_want={s4}"
    _check(seed, "O_curation", ok, detail)


def fam_p_tailing(spark, rng, seed):
    """Eventdump tailing recipes vs a plain-Python delivery oracle
    (family P, r12 — streaming/tailing.py).

    Randomizes the dump-tree shape (file count, rows per file), the
    shard count, the tailer window size, and a crash point, then checks
    the recipes' delivery contracts exactly:

    - N per-shard DumpTailers (shard=i of numShards=N) deliver, in
      union, every planted event EXACTLY once (disjoint + covering +
      no duplicates — a crash-free drain is exactly-once);
    - a crash-before-commit at a random window replays EXACTLY that
      window's rows on restart and nothing else (the at-least-once
      contract: duplicates == the uncommitted window, so an idempotent
      sink upgrades it to exactly-once);
    - offsets persist: a tailer recreated from the offset file resumes
      where the crashed one committed.
    """
    import os
    import tempfile

    from sanctum_spark.codec.msgpack_codec import pack
    from sanctum_spark.eventdump_source import (
        EventDumpDataSource,
        _encode_line,
    )
    from sanctum_spark.streaming.tailing import DumpTailer

    spark.dataSource.register(EventDumpDataSource)
    work = tempfile.mkdtemp(prefix=f"fam_p_{seed}_")
    d = os.path.join(work, "dumps")
    os.makedirs(d)
    n_files = int(rng.integers(3, 11))
    planted: set[int] = set()
    next_id = 0
    for seq in range(n_files):
        rows = int(rng.integers(5, 31))
        with open(os.path.join(d, f"dump-{seq:06d}.log"), "w") as fh:
            for _ in range(rows):
                fh.write(_encode_line(pack({"event_id": next_id})) + "\n")
                planted.add(next_id)
                next_id += 1

    # --- sharded crash-free drain: exactly-once in union ---
    n_shards = int(rng.integers(2, 6))
    max_files = int(rng.integers(1, 5))
    delivered: list[int] = []
    per_shard: list[set[int]] = []
    for i in range(n_shards):
        got: list[int] = []
        DumpTailer(
            d, os.path.join(work, f"off_{i}.json"),
            max_files_per_batch=max_files, shard=i, num_shards=n_shards,
        ).drain(spark, lambda df, g=got: g.extend(
            r["event_id"] for r in df.collect()))
        delivered.extend(got)
        per_shard.append(set(got))
    ok_shards = (
        set(delivered) == planted
        and len(delivered) == len(planted)  # no duplicates anywhere
        and all(
            not (per_shard[i] & per_shard[j])
            for i in range(n_shards)
            for j in range(i + 1, n_shards)
        )
    )

    # --- crash-before-commit replays exactly the uncommitted window ---
    off = os.path.join(work, "off_crash.json")
    seen: list[int] = []
    t = DumpTailer(d, off, max_files_per_batch=max_files)
    n_windows_total = -(-n_files // max_files)  # ceil
    crash_at = int(rng.integers(0, n_windows_total))
    window_rows: list[int] = []
    w = 0
    while (win := t.poll(spark)) is not None:
        df, upto = win
        rows = [r["event_id"] for r in df.collect()]
        seen.extend(rows)
        if w == crash_at and window_rows == []:
            window_rows = rows  # crash: no commit, fresh tailer resumes
            t = DumpTailer(d, off, max_files_per_batch=max_files)
        else:
            t.commit(upto)
        w += 1
    from collections import Counter

    dup = {k: c for k, c in Counter(seen).items() if c > 1}
    ok_crash = (
        set(seen) == planted
        and sorted(dup) == sorted(window_rows)
        and all(c == 2 for c in dup.values())
    )
    _check(
        seed, "P_tailing", ok_shards and ok_crash,
        f"files={n_files} rows={len(planted)} shards={n_shards} "
        f"mf={max_files} crash_at={crash_at}/{n_windows_total} "
        f"replayed={len(window_rows)}"
        + ("" if ok_shards else " SHARDS-BAD")
        + ("" if ok_crash else f" CRASH-BAD dup={len(dup)}"),
    )
    import shutil

    shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    from sanctum_spark.session import get_spark

    spark = get_spark("param_fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    for seed in range(1, n_seeds + 1):
        rng = np.random.default_rng(20260815 + seed)
        rows = _docs(rng)
        docs_df = spark.createDataFrame(rows, ["doc_id", "text"])
        fam_a_jaccard(spark, rng, seed, docs_df)
        fam_b_minhash(spark, rng, seed, docs_df, rows)
        fam_c_simhash(spark, rng, seed, docs_df)
        fam_d_cosine(spark, rng, seed)
        fam_e_windows(spark, rng, seed, rows)
        fam_f_codecs(rng, seed)
        fam_g_jaccard_sql(spark, rng, seed, docs_df, rows)
        fam_h_decontaminate_sql(spark, rng, seed, rows)
        fam_i_streaming(spark, rng, seed)
        fam_j_linkage(spark, rng, seed)
        fam_k_bm25(spark, rng, seed)
        fam_l_bpe(spark, rng, seed)
        fam_m_eventdump(spark, rng, seed)
        fam_n_pagerank(spark, rng, seed)
        fam_o_curation(spark, rng, seed)
        fam_p_tailing(spark, rng, seed)
    print(f"=== {n_seeds} seeds x 16 families, {len(FAIL)} failures")
    for f in FAIL:
        print("FAIL:", f)
    return 1 if FAIL else 0


if __name__ == "__main__":
    raise SystemExit(main())
