"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride along as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages.

Two decode tiers:

1. **Real stdlib codecs** (r5): uncompressed 24-bpp BI_RGB **BMP** and
   16-bit PCM **WAV** are fully parseable with ``struct`` + numpy — no
   codec library needed. ``encode_bmp/decode_bmp`` and
   ``encode_wav/decode_wav`` below implement the container formats
   bit-exactly (BMP: bottom-up rows, BGR byte order, rows padded to 4
   bytes; WAV: RIFF chunk walk, PCM fmt). ``decode_stats`` runs them
   inside the Arrow-batched ``mapInPandas`` stage and emits exact
   integer sufficient statistics of the DECODED content, so a SQL
   oracle that knows the pixel/sample generating rule verifies the
   decoder end-to-end (wrong padding, BGR/RGB swap, or bottom-up flip
   all change the stats).
2. **Stub** for everything else (PNG/JPEG/MP3/...): the container
   ships no codecs, so ``decode_stub='deterministic'`` produces a
   seed-stable fake feature vector from the payload bytes (real
   plumbing — schema, batching, partitioning — is exercised and
   tested); ``decode_stub='raise'`` marks the integration point with
   NotImplementedError for production codecs.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)

FEATURE_DIM = 8

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def synth_media(spark, n: int = 64, seed: int = 5) -> DataFrame:
    """Deterministic fake media table (binary payloads from a seeded RNG)."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.bytes(64 + int(rng.integers(0, 256)))
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                int(rng.integers(16, 512)) if kind == "image" else None,
                int(rng.integers(16, 512)) if kind == "image" else None,
                16000 if kind == "audio" else None,
                int(rng.integers(1, 300)) if kind == "video" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_features(payload: bytes) -> list[float]:
    """Seed-stable stand-in for a real decoder: FEATURE_DIM floats derived
    from the sha256 of the payload (so tests are deterministic and the
    Arrow plumbing is identical to a real extractor's)."""
    h = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in h[:FEATURE_DIM]]


def _real_features(data: bytes) -> list[float] | None:
    """FEATURE_DIM floats from a genuinely decoded BMP/WAV payload, or
    None when the payload is neither (caller falls back to the stub).
    Every value is an exact integer or a single integer division, so the
    float32 storage round-trip is replayable."""
    try:
        if data[:2] == b"BM":
            px = decode_bmp(data).astype(np.int64)
            h, w, _ = px.shape
            n = h * w
            return [
                float(px[:, :, 0].sum() / n),
                float(px[:, :, 1].sum() / n),
                float(px[:, :, 2].sum() / n),
                float(w),
                float(h),
                float(px.min()),
                float(px.max()),
                1.0,  # fmt flag: image
            ]
        if data[:4] == b"RIFF":
            s, rate = decode_wav(data)
            s64 = s.astype(np.int64)
            n = len(s64)
            zc = int(np.count_nonzero(s64[:-1] * s64[1:] < 0)) if n > 1 else 0
            return [
                float(s64.sum() / n) if n else 0.0,
                float((s64 * s64).sum() / n) if n else 0.0,
                float(zc),
                float(np.abs(s64).max()) if n else 0.0,
                float(rate),
                float(n),
                0.0,
                2.0,  # fmt flag: audio
            ]
    except ValueError:
        pass
    return None


def decode_features(media: DataFrame, decode_stub: str = "deterministic") -> DataFrame:
    """mapInPandas decode/feature-extract stage.

    BMP and WAV payloads are decoded FOR REAL by the stdlib codecs below
    (validated headers; a text payload that merely starts with 'BM' falls
    through); other formats hit the stub tier — PIL/librosa/ffmpeg plug
    in at the marked point; batch shape, output schema, and partitioning
    are production-real either way.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None)
                    continue
                real = _real_features(bytes(payload))
                if real is not None:
                    feats.append(real)
                elif decode_stub == "deterministic":
                    feats.append(_fake_features(bytes(payload)))
                else:
                    # integration point for real codecs
                    raise NotImplementedError(
                        "media decode requires codec libraries not present "
                        "in this environment"
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else None),
                    "features": feats,
                }
            )

    return media.mapInPandas(batches, schema=DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# real stdlib codecs: uncompressed 24-bpp BMP and 16-bit PCM WAV
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Pack an (h, w, 3) uint8 RGB array into an uncompressed 24-bpp
    BI_RGB Windows BMP (BITMAPINFOHEADER): rows stored bottom-up, bytes
    per pixel in BGR order, each row zero-padded to a 4-byte boundary."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_bmp expects an (h, w, 3) uint8 array")
    h, w, _ = pixels.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    stride = row_bytes + pad
    pixel_bytes = h * stride
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + pixel_bytes, 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0)
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, :row_bytes] = pixels[::-1, :, ::-1].reshape(h, row_bytes)  # bottom-up, BGR
    return header + info + body.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """Parse an uncompressed 24-bpp BI_RGB BMP back to (h, w, 3) uint8
    RGB, honoring bottom-up/top-down row order (negative height), BGR
    byte order, and 4-byte row padding. Raises ValueError on any other
    BMP flavor (compressed, paletted, 32-bpp, ...)."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size, w, h_raw = struct.unpack_from("<Iii", data, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (hdr={hdr_size} bpp={bpp} comp={compression})")
    top_down = h_raw < 0
    h = abs(h_raw)
    stride = (w * 3 + 3) & ~3
    if offset + h * stride > len(data):
        raise ValueError("truncated BMP pixel array")
    body = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=offset)
    rows = body.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]  # BGR -> RGB
    return rgb if top_down else rgb[::-1]


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Pack a 1-D int16 array into a canonical 16-bit mono PCM RIFF/WAVE
    file (fmt chunk then data chunk, little-endian samples)."""
    if samples.ndim != 1 or samples.dtype != np.int16:
        raise ValueError("encode_wav expects a 1-D int16 array")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) % 2 else b"")
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Walk the RIFF chunk list of a 16-bit mono/stereo PCM WAV and
    return (int16 samples, sample_rate). Chunk-walks properly (extra
    chunks like LIST/fact are skipped; word-aligned) and raises
    ValueError on non-PCM or non-16-bit encodings."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, bits, fmt_tag = 12, None, None, None
    samples = None
    while pos + 8 <= len(data):
        cid, clen = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt_tag, _ch, rate, _bps, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + clen + (clen % 2)  # chunks are word-aligned
    if fmt_tag != 1 or bits != 16 or samples is None or rate is None:
        raise ValueError(f"unsupported WAV (fmt={fmt_tag} bits={bits})")
    return samples, rate


def synth_codec_media(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic REAL-format media builder: each id becomes an actual
    BMP (even ids) or WAV (odd ids) payload whose decoded content follows
    a closed-form modular rule, so a SQL oracle can verify the decoder's
    output statistics without parsing any binary itself:

      even mid -> 24-bpp BMP,  w = 5 + mid%4  (covers all four 4-byte
                  row-padding cases: w=5,6,7 pad 1/2/3 bytes, w=8 pad 0),
                  h = 4 + mid%3,
                  pixel v(y, x, c) = (mid*37 + y*11 + x*7 + c*13) % 251
                  with y TOP-DOWN, c in (0=R, 1=G, 2=B)
      odd  mid -> 16-bit PCM WAV, n = 32 + mid%17,
                  rate = 8000 + 100*(mid%5),
                  sample s(i) = ((mid*73 + i*129) % 4001) - 2000

    Runs as an Arrow-batched mapInPandas stage over the id frame —
    distributed, no driver-side payload materialization."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("media_id", "kind", "payload", "width",
                                    "height", "sample_rate", "n_frames")}
            for mid in pdf[id_col]:
                mid = int(mid)
                if mid % 2 == 0:
                    w, h = 5 + mid % 4, 4 + mid % 3
                    y = np.arange(h, dtype=np.int64)[:, None, None]
                    x = np.arange(w, dtype=np.int64)[None, :, None]
                    c = np.arange(3, dtype=np.int64)[None, None, :]
                    px = ((mid * 37 + y * 11 + x * 7 + c * 13) % 251).astype(np.uint8)
                    rows["kind"].append("image")
                    rows["payload"].append(encode_bmp(px))
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["sample_rate"].append(None)
                    rows["n_frames"].append(None)
                else:
                    n = 32 + mid % 17
                    rate = 8000 + 100 * (mid % 5)
                    i = np.arange(n, dtype=np.int64)
                    s = (((mid * 73 + i * 129) % 4001) - 2000).astype(np.int16)
                    rows["kind"].append("audio")
                    rows["payload"].append(encode_wav(s, rate))
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["sample_rate"].append(rate)
                    rows["n_frames"].append(None)
                rows["media_id"].append(mid)
            yield pd.DataFrame(rows)

    return ids.mapInPandas(batches, schema=MEDIA_SCHEMA)


DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("fmt", T.StringType(), True),  # bmp|wav|NULL (undecodable)
        T.StructField("n_units", T.LongType(), True),  # pixels | samples
        # exact integer sufficient statistics of the decoded content:
        # bmp: s1..s3 = per-channel value sums (R,G,B); s4 = sum v*(x+1),
        #      s5 = sum v*(y+1) over all channels, y TOP-DOWN after decode
        #      (a bottom-up-flip bug changes s5, a BGR swap changes s1/s3,
        #      a padding bug changes everything past the first row)
        # wav: s1 = sum s_i; s2 = sum s_i^2; s3 = count sign changes
        #      (s_{i-1}*s_i < 0); s4 = max |s_i|; s5 = sample_rate
        T.StructField("s1", T.LongType(), True),
        T.StructField("s2", T.LongType(), True),
        T.StructField("s3", T.LongType(), True),
        T.StructField("s4", T.LongType(), True),
        T.StructField("s5", T.LongType(), True),
    ]
)


def decode_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched mapInPandas REAL-decode stage: parse each payload
    with the stdlib BMP/WAV codecs above and emit exact integer
    sufficient statistics of the decoded pixels/samples (schema
    documented on DECODE_STATS_SCHEMA). Payloads that are neither
    format yield fmt=NULL rows rather than failing the batch, so one
    bad object can't poison a 100 TB scan (per-record error isolation,
    same policy as the extractor's NULL-row contract).

    Scale: embarrassingly parallel over input partitions — no shuffle,
    no state; per-batch cost is numpy-vectorized over the decoded
    arrays (no per-pixel Python). Output is ~48 bytes/media regardless
    of payload size, so downstream aggregation is tiny."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("media_id", "fmt", "n_units", "s1", "s2", "s3", "s4", "s5")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                row = _decode_one(payload)
                out["media_id"].append(int(mid))
                for k, v in zip(("fmt", "n_units", "s1", "s2", "s3", "s4", "s5"), row):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=DECODE_STATS_SCHEMA)


def _decode_one(payload) -> tuple:
    if payload is None:
        return (None,) * 7
    data = bytes(payload)
    try:
        if data[:2] == b"BM":
            px = decode_bmp(data).astype(np.int64)
            h, w, _ = px.shape
            xs = np.arange(1, w + 1, dtype=np.int64)[None, :, None]
            ys = np.arange(1, h + 1, dtype=np.int64)[:, None, None]
            return (
                "bmp",
                int(h * w),
                int(px[:, :, 0].sum()),
                int(px[:, :, 1].sum()),
                int(px[:, :, 2].sum()),
                int((px * xs).sum()),
                int((px * ys).sum()),
            )
        if data[:4] == b"RIFF":
            s, rate = decode_wav(data)
            s64 = s.astype(np.int64)
            zc = int(np.count_nonzero(s64[:-1] * s64[1:] < 0)) if len(s64) > 1 else 0
            return (
                "wav",
                int(len(s64)),
                int(s64.sum()),
                int((s64 * s64).sum()),
                zc,
                int(np.abs(s64).max()) if len(s64) else None,
                int(rate),
            )
    except ValueError:
        pass
    return (None,) * 7
