"""Multimodal column conventions + processing plumbing.

Images / audio / video ride as opaque ``binary`` payload columns with a
typed metadata struct.  The Spark-side plumbing — schemas, Arrow-batched
mapInPandas pipelines, partitioning by media size — is real and tested.

Decoding: real pure-Python decoders — BMP (24-bit uncompressed), PPM
(P6 binary / P3 ascii), WAV (PCM 8/16-bit) via ``struct``/numpy, PNG
(8-bit gray/RGB/RGBA, all five scanline filters) via stdlib ``zlib``,
and baseline sequential JPEG (SOF0; 4:4:4 / 4:2:2 / 4:2:0 / grayscale,
restart markers, generic DQT/DHT — see operators/jpeg_codec.py for the
full scope-and-honesty note).  Formats still needing external codecs
(progressive JPEG, MP3, H.264…) raise ``NotImplementedError`` unless
the deterministic fake decoder is allowed (content-hash-seeded tensor),
which keeps the pipeline-shape tests runnable on arbitrary bytes.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Envelope for a media row: id + modality + raw bytes + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                    T.StructField("source_uri", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_media_columns(
    df: DataFrame, payload_col: str, modality: str, id_col: str
) -> DataFrame:
    """Normalize an arbitrary table into the MEDIA_SCHEMA envelope."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("source_uri"),
        ).alias("meta"),
    )


def decode_bmp(payload: bytes) -> np.ndarray:
    """Pure-Python BMP decode → HxWx3 uint8 RGB.

    Supports the uncompressed 24-bit form (BITMAPINFOHEADER, BI_RGB):
    14-byte file header ('BM', pixel-data offset at byte 10), DIB header
    with width/height/bpp/compression, 4-byte-padded BGR rows stored
    bottom-up (top-down when height < 0).
    """
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_offset,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = height < 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = pix_offset + row_bytes * height
    if len(payload) < need:
        raise ValueError(f"BMP truncated: {len(payload)} < {need} bytes")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=pix_offset
    ).reshape(height, row_bytes)
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    rgb = bgr[:, :, ::-1]
    return (rgb if top_down else rgb[::-1]).copy()


def encode_bmp(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB → uncompressed 24-bit BMP bytes (decode_bmp's dual)."""
    h, w, c = pixels.shape
    assert c == 3
    row_bytes = (w * 3 + 3) & ~3
    pix_offset = 14 + 40
    size = pix_offset + row_bytes * h
    out = bytearray()
    out += b"BM" + struct.pack("<IHHI", size, 0, 0, pix_offset)
    out += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_bytes * h, 2835, 2835, 0, 0)
    bgr = pixels[::-1, :, ::-1].astype(np.uint8)  # bottom-up, BGR
    pad = bytes(row_bytes - w * 3)
    for row in bgr:
        out += row.tobytes() + pad
    return bytes(out)


def decode_ppm(payload: bytes) -> np.ndarray:
    """Pure-Python PPM decode → HxWx3 uint8 RGB (P6 binary and P3 ascii,
    maxval ≤ 255, '#' comments allowed in the header)."""
    if payload[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM payload")
    binary = payload[:2] == b"P6"
    # header = magic + 3 ascii ints, whitespace-separated, with comments
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("PPM header truncated")
        ch = payload[pos : pos + 1]
        if ch == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif ch.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    if binary:
        pos += 1  # single whitespace after maxval, then raster
        raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    else:
        raster = np.array(payload[pos:].split(), dtype=np.int64).astype(np.uint8)
        if raster.size != w * h * 3:
            raise ValueError("P3 raster size mismatch")
    return raster.reshape(h, w, 3).copy()


def encode_ppm(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB → binary P6 PPM bytes."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-Python WAV (RIFF) decode → (float32 samples in [-1, 1] with
    shape (n_frames, n_channels), sample_rate).  PCM 8-bit unsigned and
    16-bit signed little-endian supported."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, csize = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            if len(body) < 16:  # struct.error is NOT a ValueError
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(f"only PCM WAV supported (format={audio_format})")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif bits == 8:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"unsupported WAV bit depth: {bits}")
    n_frames = len(samples) // n_channels
    return samples[: n_frames * n_channels].reshape(n_frames, n_channels), sample_rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n_frames, n_channels) float32 in [-1, 1] → 16-bit PCM WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n_channels = samples.shape[1]
    pcm = np.clip(samples * 32767.0, -32768, 32767).astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * n_channels * 2, n_channels * 2, 16,
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-Python PNG decode (stdlib zlib) -> HxWx3 uint8.

    Supports the mainstream subset: 8-bit depth, color types 0 (gray),
    2 (RGB), 6 (RGBA, alpha dropped), non-interlaced, all five scanline
    filters (None/Sub/Up/Average/Paeth). Anything else raises
    NotImplementedError; malformed bytes raise ValueError.
    """
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR":
            if len(body) < 13:  # struct.error is NOT a ValueError
                raise ValueError("truncated PNG IHDR chunk")
            ihdr = struct.unpack(">IIBBBBB", body[:13])
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise NotImplementedError(f"PNG depth={depth} compression={comp}")
    if interlace != 0:
        raise NotImplementedError("interlaced PNG not supported")
    channels = {0: 1, 2: 3, 6: 4}.get(color)
    if channels is None:
        raise NotImplementedError(f"PNG color type {color} not supported")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from None
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if f == 0:
            pass
        elif f == 2:  # Up
            line += prev
        elif f in (1, 3, 4):  # Sub / Average / Paeth need left-to-right
            cur = line.astype(np.int32)
            pr = prev.astype(np.int32)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = pr[x]
                if f == 1:
                    cur[x] = (cur[x] + a) & 0xFF
                elif f == 3:
                    cur[x] = (cur[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = pr[x - channels] if x >= channels else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    cur[x] = (cur[x] + pred) & 0xFF
            line = cur.astype(np.uint8)
        else:
            raise ValueError(f"PNG filter {f} invalid")
        out[y] = line
        prev = out[y]
    px = out.reshape(h, w, channels)
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    return px[:, :, :3].copy()


def encode_png(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 -> minimal PNG (8-bit RGB, filter 0, one IDAT)."""
    import zlib

    h, w, _ = pixels.shape
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode an image payload to an HxWx3 uint8 array.

    Real pure-Python decoders handle PNG, BMP, PPM, and baseline JPEG
    (sniffed by magic).  Remaining compressed formats need an imaging
    library not present in this container; for those, ``fake=True``
    selects the deterministic fake decoder (content-hash-seeded 8x8x3
    tensor) so pipeline-shape tests still run on arbitrary bytes.
    """
    payload = payload or b""
    if payload[:8] == PNG_SIG or payload[:2] in (b"BM", b"P6", b"P3", b"\xff\xd8"):
        try:
            if payload[:8] == PNG_SIG:
                return decode_png(payload)
            if payload[:2] == b"\xff\xd8":
                from sanctum_spark.operators.jpeg_codec import decode_jpeg

                return decode_jpeg(payload)
            return (
                decode_bmp(payload) if payload[:2] == b"BM" else decode_ppm(payload)
            )
        except (ValueError, NotImplementedError):
            # magic matched but the payload is malformed/unsupported —
            # with fake=True fall through to the deterministic decoder
            # (arbitrary text bytes can start with 'BM'), else re-raise
            if not fake:
                raise
    if not fake:
        raise NotImplementedError(
            "payload is not PNG/BMP/PPM/baseline-JPEG; other compressed "
            "formats require an imaging library not available here (use "
            "fake=True for the deterministic test decoder)"
        )
    # Deterministic fake tensor: per-channel md5 of (payload + channel
    # tag) tiled into the 8x8 plane.  Chosen over an RNG seed because the
    # channel MEAN is then exactly mean(md5 digest bytes) — a quantity an
    # ANSI-SQL oracle can recompute (DuckDB md5 + hex-byte extraction),
    # so feature-extraction queries over fake-decoded media are fully
    # hash-checkable, not rows-only.
    planes = [
        np.tile(
            np.frombuffer(hashlib.md5(payload + tag).digest(), dtype=np.uint8), 4
        ).reshape(8, 8)
        for tag in (b"R", b"G", b"B")
    ]
    return np.stack(planes, axis=-1)


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """mapInPandas feature extraction over media payloads.

    The pipeline shape is the production one — Arrow batches in, one
    feature row per media item out, decode isolated per item so one bad
    payload doesn't kill the batch.  BMP/PPM images and PCM WAV audio
    decode for real (pure Python); other byte formats fall back to the
    fake decoder when ``fake_decode`` (else a zero feature).
    At scale: repartition upstream by size so batches are byte-balanced,
    and keep features narrow (the payload column is dropped before any
    further shuffle).

    Features: image → [mean_R, mean_G, mean_B] in [0,1]; audio →
    [rms, mean_abs, zero_crossing_rate] over the mono mix.
    """

    def one_feature(payload: bytes, modality: str) -> np.ndarray:
        if modality == "audio":
            samples, _rate = decode_wav(payload)
            mono = samples.mean(axis=1)
            zcr = (
                float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                if len(mono) > 1
                else 0.0
            )
            return np.array(
                [float(np.sqrt(np.mean(mono**2))), float(np.mean(np.abs(mono))), zcr],
                dtype=np.float32,
            )
        pixels = decode_image(payload, fake=fake_decode)
        # mean in float64, THEN narrow to float32 for storage: the
        # double-rounding path (fl32(fl64(sum/n/255))) is exactly what an
        # oracle can reproduce with CAST(... AS REAL); float32 accumulation
        # order would not be.
        return (pixels.astype(np.float64).mean(axis=(0, 1)) / 255.0).astype(
            np.float32
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "modality": [], "feature": [], "n_bytes": []}
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"]) if row["payload"] is not None else b""
                try:
                    feat = one_feature(payload, row["modality"])
                except (NotImplementedError, ValueError, struct.error):
                    # struct.error: malformed container bytes must degrade
                    # to the zero-feature row, never kill the task
                    feat = np.zeros(3, dtype=np.float32)
                out["media_id"].append(row["media_id"])
                out["modality"].append(row["modality"])
                out["feature"].append(feat.tolist())
                out["n_bytes"].append(len(payload))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(
    media: DataFrame, height: int = 4, width: int = 4, fake_decode: bool = True
) -> DataFrame:
    """Decode → resize → re-encode pipeline shape.

    Resizing uses simple block-mean pooling over the (fake-)decoded pixel
    tensor; output carries the resized tensor flattened to bytes plus the
    new dimensions in the metadata struct.  Only the decoder is stubbed —
    batching, schema, and the binary-out path are production-shaped.
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "payload": [], "width": [], "height": []}
            for _, row in pdf.iterrows():
                try:
                    pixels = decode_image(
                        bytes(row["payload"] or b""), fake=fake_decode
                    )
                except (NotImplementedError, ValueError, struct.error):
                    # per-item isolation: a malformed payload degrades to a
                    # 1x1 black tile, never kills the task
                    pixels = np.zeros((1, 1, 3), dtype=np.uint8)
                h0, w0, c = pixels.shape
                bh, bw = max(1, h0 // height), max(1, w0 // width)
                resized = (
                    pixels[: bh * height, : bw * width]
                    .reshape(height, bh, width, bw, c)
                    .mean(axis=(1, 3))
                    .astype(np.uint8)
                )
                out["media_id"].append(row["media_id"])
                out["payload"].append(resized.tobytes())
                out["width"].append(width)
                out["height"].append(height)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=schema)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, fake_decode: bool = True
) -> DataFrame:
    """Video → frame rows (media_id, frame_idx, ts_ms, feature).

    Frame extraction is faked (duration-derived count, hash-derived
    frames); the 1→N mapInPandas row-generation shape is the real one.
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("feature", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "ts_ms": [], "feature": []}
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"] or b"")
                meta = row["meta"]
                duration = (meta or {}).get("duration_ms") or 3000
                n_frames = max(1, int(duration // every_ms))
                for i in range(n_frames):
                    pixels = decode_image(payload + i.to_bytes(4, "big"), fake=fake_decode)
                    feat = pixels.astype(np.float32).mean(axis=(0, 1)) / 255.0
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(i * every_ms)
                    out["feature"].append(feat.tolist())
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=schema)
