"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs;
decode / feature-extract / resize / frame-sample run as Arrow-batched
functions over mapInPandas.  ``decoder='real'`` performs REAL decodes with
zero codec libraries: PNG (zlib + numpy defiltering), WAV PCM16 (raw
slicing), baseline JPEG (numpy Huffman + dequant + IDCT + YCbCr,
``decode_jpeg``) and Y4M video (header tokens + planar frame slicing,
``decode_y4m`` / ``frame_sample_stats``); only COMPRESSED video (mp4/avi)
still needs an external codec stack and says so.  ``decoder='fake'``
keeps a deterministic byte-pattern stand-in for pure plumbing tests.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, width int, height int, "
    "sample_rate int, n_frames int"
)

FEATURE_DIM = 16


def synthesize_media(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """Deterministic fake media table (binary payload = seeded byte pattern)."""
    df = spark.range(n, numPartitions=num_partitions)
    kind = F.element_at(
        F.lit(["image", "audio", "video"]), (F.col("id") % 3 + 1).cast("int")
    )
    payload = F.encode(
        F.concat(F.lit("MEDIA:"), F.col("id").cast("string"), F.lit(":PAYLOAD")),
        "utf-8",
    )
    return df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1920)) + 1).cast("int").alias("width"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1080)) + 1).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(300)) + 1).cast("int").alias("n_frames"),
    )


def _decode_bytes_fake(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decode: bytes -> pseudo-pixel array."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    reps = int(np.ceil(64 / max(len(arr), 1)))
    return np.tile(arr, reps)[:64].astype(np.float32)


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: str = "fake",
) -> DataFrame:
    """media rows -> (id, feature array<float>) via Arrow-batched
    mapInPandas.  Batch shape: whole Arrow batches, one numpy pass per
    batch — no per-row Python beyond the byte-object iteration that any
    codec call requires.

    ``decoder='real'`` actually decodes: PNG via stdlib zlib + numpy
    defiltering (round 4), WAV PCM16 via raw slicing (round 4), and
    baseline JPEG via the in-repo numpy codec — Huffman + dequant +
    IDCT + YCbCr, decode_jpeg below (round 5).  Only video remains
    outside scope (it needs a real container/codec stack).
    ``decoder='fake'`` keeps the deterministic byte-pattern stand-in for
    plumbing tests."""
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    def _bucket_means(raw: np.ndarray) -> np.ndarray:
        if len(raw) < FEATURE_DIM:
            raw = np.pad(raw, (0, FEATURE_DIM - len(raw)))
        idx = (np.arange(FEATURE_DIM, dtype=np.int64) * len(raw)) // FEATURE_DIM
        sums = np.add.reduceat(raw.astype(np.float64), idx)
        counts = np.diff(np.r_[idx, len(raw)])
        return (sums / counts).astype(np.float32)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = []
            for payload in pdf[payload_col]:
                b = bytes(payload)
                if decoder == "fake":
                    raw = _decode_bytes_fake(b)
                    # pseudo feature: FEATURE_DIM bucket means of the decode
                    feats.append(
                        raw.reshape(FEATURE_DIM, -1).mean(axis=1).astype(np.float32)
                    )
                    continue
                fmt = sniff_format(b)
                if fmt == "png":
                    raw = decode_png(b).astype(np.float32).ravel()
                elif fmt == "wav":
                    raw = decode_wav(b)[1].astype(np.float32)
                elif fmt == "jpeg":
                    raw = decode_jpeg(b).astype(np.float32).ravel()
                elif fmt == "y4m":
                    raw = decode_y4m(b)[1].astype(np.float32).ravel()
                else:
                    raise NotImplementedError(
                        f"real decode of {fmt!r} requires a codec library "
                        "(compressed video: mp4/avi) — outside this "
                        "engine's scope; uncompressed y4m decodes for real"
                    )
                feats.append(_bucket_means(raw))
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "features": [f.tolist() for f in feats]}
            )

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} bigint, features array<float>"
    )


def frame_sample_plan(
    df: DataFrame, every_n: int = 30, id_col: str = "media_id"
) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled frame
    index (pure SQL explode — the decode of each frame is the stubbed step)."""
    frames = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
    return (
        df.where(F.col("kind") == "video")
        .select(id_col, F.explode(frames).alias("frame_idx"))
    )


# ---------------------------------------------------------------------------
# container-format header parsing — REAL (no codec libraries needed)
# ---------------------------------------------------------------------------
# Magic-byte sniffing and header-field extraction are pure byte arithmetic,
# so unlike pixel/sample decode (stubbed above) these run for real: the
# typed-metadata side of the multimodal design (format, dimensions) comes
# from the binary column itself at ingest time.

_MAGICS = [
    ("png", b"\x89PNG\r\n\x1a\n"),
    ("jpeg", b"\xff\xd8\xff"),
    ("y4m", b"YUV4MPEG2"),
    ("gif", b"GIF8"),
    ("riff", b"RIFF"),   # wav/avi/webp container; refined below
    ("mp4", None),       # ftyp at offset 4
    ("pdf", b"%PDF"),
]


def sniff_format(payload: bytes) -> str:
    """Identify the container from magic bytes (pure byte compare)."""
    if payload is None or len(payload) < 12:
        return "unknown"
    for name, magic in _MAGICS:
        if magic and payload.startswith(magic):
            if name == "riff":
                four = payload[8:12]
                return {b"WAVE": "wav", b"WEBP": "webp", b"AVI ": "avi"}.get(
                    four, "riff"
                )
            return name
    if payload[4:8] == b"ftyp":
        return "mp4"
    return "unknown"


def png_dims(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the PNG IHDR chunk (always first, offset 16)."""
    if len(payload) < 24 or not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        return None
    w = int.from_bytes(payload[16:20], "big")
    h = int.from_bytes(payload[20:24], "big")
    return (w, h)


def jpeg_dims(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the first SOF0-SOF15 marker (excluding DHT/DAC/
    RST markers), walking the JPEG segment chain."""
    if len(payload) < 4 or not payload.startswith(b"\xff\xd8"):
        return None
    i = 2
    n = len(payload)
    while i + 9 < n:
        if payload[i] != 0xFF:
            i += 1
            continue
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(payload[i + 5 : i + 7], "big")
            w = int.from_bytes(payload[i + 7 : i + 9], "big")
            return (w, h)
        i += 2 + seg_len
    return None


def wav_sample_rate(payload: bytes) -> int | None:
    """Sample rate from the RIFF/WAVE fmt chunk (little-endian u32 at
    offset 24 in the canonical layout; chunk-walked for robustness)."""
    if len(payload) < 28 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        clen = int.from_bytes(payload[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 16 <= len(payload):
            return int.from_bytes(payload[i + 12 : i + 16], "little")
        i += 8 + clen + (clen & 1)
    return None


def with_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Adds (format string, width int, height int, sample_rate int) parsed
    from the binary column, Arrow-batched — the real typed-metadata path
    for a 100 TB media lake: header fields come from the first bytes only,
    so at scale pair with a range-read source that fetches payload
    prefixes rather than whole objects."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<format:string,width:int,height:int,sample_rate:int>")
    def meta(payloads: pd.Series) -> pd.DataFrame:
        rows = []
        for b in payloads:
            b = bytes(b) if b is not None else b""
            fmt = sniff_format(b)
            if fmt == "png":
                dims = png_dims(b)
            elif fmt == "jpeg":
                dims = jpeg_dims(b)
            elif fmt == "y4m":
                yp = y4m_params(b)
                dims = (yp["width"], yp["height"]) if yp else None
            else:
                dims = None
            rows.append(
                {
                    "format": fmt,
                    "width": dims[0] if dims else None,
                    "height": dims[1] if dims else None,
                    "sample_rate": wav_sample_rate(b) if fmt == "wav" else None,
                }
            )
        return pd.DataFrame(rows)

    return df.withColumn("media_meta", meta(F.col(payload_col)))


# container builders (the encode side of the header parsers; used by
# fixtures and tests — real byte layouts, no codec libs).  make_png /
# make_wav emit FULLY VALID files (CRC'd chunks, zlib'd IDAT scanlines /
# PCM16 data chunk) when given pixel/sample content, so the real decoders
# below have an honest fixture corpus.

import zlib as _zlib


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        len(data).to_bytes(4, "big")
        + ctype
        + data
        + _zlib.crc32(ctype + data).to_bytes(4, "big")
    )


def png_pixel(seed: int, y, x, c):
    """The fixture pixel function: (seed + 7y + 13x + 31c) mod 256 — a
    closed form a SQL oracle can re-compute with generate_series."""
    return (seed + 7 * y + 13 * x + 31 * c) % 256


def make_png(width: int, height: int, seed: int | None = None) -> bytes:
    """8-bit RGB PNG.  With ``seed``: valid IHDR+IDAT+IEND where
    pixel[y, x, c] = png_pixel(seed, y, x, c), scanline filter 0.
    Without: the legacy header-only stub (IHDR, no image data)."""
    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + b"\x08\x02\x00\x00\x00"
    )
    if seed is None:
        return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
                + ihdr + b"\x00" * 8)
    y, x, c = np.ogrid[0:height, 0:width, 0:3]
    px = png_pixel(seed, y, x, c).astype(np.uint8)
    scanlines = np.concatenate(
        [np.zeros((height, 1), dtype=np.uint8), px.reshape(height, width * 3)],
        axis=1,
    )
    idat = _zlib.compress(scanlines.tobytes(), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def jpeg_block_value(seed: int, by, bx):
    """Fixture 8x8-block constant: (seed + 11*by + 17*bx) mod 256 — a
    closed form a SQL oracle can re-compute per block.  Constant blocks
    with all-ones quantization round-trip EXACTLY through baseline JPEG
    (only the DC coefficient is non-zero: 8*(v-128), an integer, and the
    IDCT of a DC-only block is the constant DC/8)."""
    return (seed + 11 * by + 17 * bx) % 256


def make_jpeg(width: int, height: int, seed: int | None = None) -> bytes:
    """Baseline JPEG.  With ``seed``: a REAL entropy-coded grayscale
    baseline image where every 8x8 block is the constant
    jpeg_block_value(seed, by, bx) — decodable by decode_jpeg (or any
    JPEG decoder) with bit-exact pixels.  Without: the legacy header-only
    stub (SOI+APP0+SOF0+EOI, no scan)."""
    if seed is not None:
        by, bx = np.ogrid[0 : (height + 7) // 8, 0 : (width + 7) // 8]
        blocks = jpeg_block_value(seed, by, bx).astype(np.uint8)
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        return encode_jpeg_gray(img[:height, :width])
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
           + height.to_bytes(2, "big") + width.to_bytes(2, "big")
           + b"\x03" + b"\x00" * 9)
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def wav_sample(seed: int, i):
    """Fixture PCM16 sample i: ((seed * 31 + i * 17) mod 65536) - 32768."""
    return (seed * 31 + i * 17) % 65536 - 32768


def make_wav(sample_rate: int, seed: int | None = None, n_samples: int = 0) -> bytes:
    """Mono PCM16 WAV; with seed/n_samples, a real data chunk where
    sample[i] = wav_sample(seed, i)."""
    if seed is not None and n_samples > 0:
        data = (
            wav_sample(seed, np.arange(n_samples)).astype("<i2").tobytes()
        )
    else:
        data = b""
    fmt = (b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
           + (1).to_bytes(2, "little") + sample_rate.to_bytes(4, "little")
           + (sample_rate * 2).to_bytes(4, "little")
           + (2).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


# ---------------------------------------------------------------------------
# REAL decode for the codec-free formats (round 4): PNG is zlib (stdlib) +
# per-scanline defiltering (numpy), WAV PCM is raw slicing.  Baseline
# JPEG joined them in round 5 (pure-numpy codec further below).
# ---------------------------------------------------------------------------


def decode_png(payload: bytes) -> np.ndarray:
    """(height, width, 3) uint8 array from an 8-bit RGB (color type 2,
    non-interlaced) PNG.  Chunk walk -> concatenated IDAT -> zlib
    inflate -> per-scanline defilter.  Filters: None/Up are vectorized;
    Sub is a per-channel uint8 cumulative sum (wraparound IS the mod-256
    the spec wants); Average/Paeth fall back to a per-pixel loop."""
    if not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG")
    i, n = 8, len(payload)
    width = height = None
    idat = bytearray()
    while i + 8 <= n:
        clen = int.from_bytes(payload[i : i + 4], "big")
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + clen]
        if ctype == b"IHDR":
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            bit_depth, color_type, interlace = data[8], data[9], data[12]
            if (bit_depth, color_type) != (8, 2) or interlace:
                raise NotImplementedError(
                    "decode_png supports 8-bit RGB non-interlaced only"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + clen
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = np.frombuffer(_zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = width * 3 + 1
    if len(raw) != height * stride:
        raise ValueError("PNG scanline payload length mismatch")
    rows = raw.reshape(height, stride)
    out = np.zeros((height, width * 3), dtype=np.uint8)
    prev = np.zeros(width * 3, dtype=np.uint8)
    for y in range(height):
        ftype = int(rows[y, 0])
        line = rows[y, 1:].copy()
        if ftype == 0:
            rec = line
        elif ftype == 2:  # Up
            rec = line + prev  # uint8 wraparound == mod 256
        elif ftype == 1:  # Sub: per-channel cumsum, uint8 wraparound
            rec = np.add.accumulate(
                line.reshape(width, 3), axis=0, dtype=np.uint8
            ).reshape(-1)
        else:  # Average (3) / Paeth (4): left-neighbor sequential
            rec = np.zeros(width * 3, dtype=np.uint8)
            for k in range(width * 3):
                a = int(rec[k - 3]) if k >= 3 else 0
                b = int(prev[k])
                if ftype == 3:
                    rec[k] = (int(line[k]) + (a + b) // 2) % 256
                elif ftype == 4:
                    cul = int(prev[k - 3]) if k >= 3 else 0
                    p = a + b - cul
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cul)
                    pred = a if pa <= pb and pa <= pc else b if pb <= pc else cul
                    rec[k] = (int(line[k]) + pred) % 256
                else:
                    raise ValueError(f"bad PNG filter {ftype}")
        out[y] = rec
        prev = rec
    return out.reshape(height, width, 3)


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, int16 samples) from a PCM16 RIFF/WAVE payload."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    i, rate, samples = 12, None, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        clen = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + clen]
        if cid == b"fmt ":
            audio_format = int.from_bytes(body[0:2], "little")
            bits = int.from_bytes(body[14:16], "little")
            if (audio_format, bits) != (1, 16):
                raise NotImplementedError("decode_wav supports PCM16 only")
            rate = int.from_bytes(body[4:8], "little")
        elif cid == b"data":
            samples = np.frombuffer(body[: len(body) // 2 * 2], dtype="<i2")
        i += 8 + clen + (clen & 1)
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    return rate, samples


# ---------------------------------------------------------------------------
# REAL baseline JPEG codec (round 5): pure numpy — 8x8 orthonormal DCT,
# all-ones quantization (chosen so DCT integers survive exactly), and
# SELF-DERIVED canonical Huffman tables (every DC symbol at 4 bits, every
# AC symbol at 8 bits — spec-legal: the all-ones code of each length stays
# unused, and the tables travel in DHT so any conformant decoder reads
# them).  Implemented from the public ITU T.81 spec; closes the last
# NotImplementedError codec seam.  Scope: baseline sequential, 8-bit,
# 1 component (grayscale) or 3 components at 1x1 sampling (no chroma
# subsampling), no restart markers or progressive scans.
# ---------------------------------------------------------------------------

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# orthonormal 8-point DCT-II basis: T @ T.T == I; 2D: S = T @ B @ T.T
_DCT_T = np.zeros((8, 8))
_DCT_T[0, :] = 1.0 / np.sqrt(8.0)
for _u in range(1, 8):
    for _x in range(8):
        _DCT_T[_u, _x] = 0.5 * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# canonical fixed-length code tables: (BITS counts per length 1..16, symbols)
_JPEG_DC_SYMS = list(range(12))                       # categories 0..11
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12              # all at 4 bits
_JPEG_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]                                                     # EOB, ZRL, (run,size)
_JPEG_AC_BITS = [0] * 7 + [len(_JPEG_AC_SYMS)] + [0] * 8  # all at 8 bits


def _canonical_codes(bits: list[int], syms: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the JPEG canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[syms[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_SYMS)
_AC_CODES = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_SYMS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:           # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)   # pad with 1-bits per spec
        return bytes(self.out)


def _dc_category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude_bits(v: int, s: int) -> int:
    return v if v >= 0 else v + (1 << s) - 1


def _fdct_quant_block(block: np.ndarray) -> np.ndarray:
    s = _DCT_T @ (block.astype(np.float64) - 128.0) @ _DCT_T.T
    return np.round(s).astype(np.int32)  # quant table is all ones


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _jpeg_headers(width: int, height: int, n_comp: int) -> bytes:
    dqt = _seg(0xDB, b"\x00" + bytes([1] * 64))       # table 0, all ones
    comp_spec = b"".join(
        bytes([cid, 0x11, 0]) for cid in range(1, n_comp + 1)
    )
    sof = _seg(
        0xC0,
        b"\x08" + height.to_bytes(2, "big") + width.to_bytes(2, "big")
        + bytes([n_comp]) + comp_spec,
    )
    dht = _seg(
        0xC4,
        b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_SYMS)
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_SYMS),
    )
    scan_spec = b"".join(bytes([cid, 0x00]) for cid in range(1, n_comp + 1))
    sos = _seg(0xDA, bytes([n_comp]) + scan_spec + b"\x00\x3f\x00")
    return b"\xff\xd8" + dqt + sof + dht + sos


def _encode_scan(planes: list[np.ndarray], w: _BitWriter) -> None:
    """Interleaved MCU scan over per-component pixel planes (all same
    shape, 1x1 sampling -> one block per component per MCU)."""
    h, wd = planes[0].shape
    bh, bw = (h + 7) // 8, (wd + 7) // 8
    padded = []
    for p in planes:
        pp = np.pad(p, ((0, bh * 8 - h), (0, bw * 8 - wd)), mode="edge")
        padded.append(pp)
    pred = [0] * len(planes)
    for by in range(bh):
        for bx in range(bw):
            for ci, p in enumerate(padded):
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = _fdct_quant_block(blk)
                zz = coef.reshape(-1)[_ZIGZAG]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                s = _dc_category(diff)
                code, ln = _DC_CODES[s]
                w.write(code, ln)
                if s:
                    w.write(_amplitude_bits(diff, s), s)
                run = 0
                last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        if k > last_nz:
                            code, ln = _AC_CODES[0x00]  # EOB
                            w.write(code, ln)
                            break
                        run += 1
                        if run == 16:
                            code, ln = _AC_CODES[0xF0]  # ZRL
                            w.write(code, ln)
                            run = 0
                        continue
                    s = _dc_category(v)
                    code, ln = _AC_CODES[(run << 4) | s]
                    w.write(code, ln)
                    w.write(_amplitude_bits(v, s), s)
                    run = 0


def encode_jpeg_gray(img: np.ndarray) -> bytes:
    """8-bit grayscale (h, w) -> baseline JPEG bytes (quant all ones:
    max round-trip error is the DCT rounding, < 1 intensity level;
    constant blocks are exact)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    bw = _BitWriter()
    _encode_scan([img], bw)
    return _jpeg_headers(w, h, 1) + bw.flush() + b"\xff\xd9"


def encode_jpeg_rgb(img: np.ndarray) -> bytes:
    """8-bit RGB (h, w, 3) -> baseline YCbCr JPEG, 1x1 sampling (no
    chroma subsampling — every component at full resolution)."""
    img = np.asarray(img, dtype=np.float64)
    r, g, b = img[..., 0], img[..., 1], img[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    planes = [
        np.clip(np.round(p), 0, 255).astype(np.uint8) for p in (y, cb, cr)
    ]
    h, w = planes[0].shape
    bw = _BitWriter()
    _encode_scan(planes, bw)
    return _jpeg_headers(w, h, 3) + bw.flush() + b"\xff\xd9"


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.buf[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.buf[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02x} in scan")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        return v


def _huff_decoder(bits: list[int], syms: list[int]):
    """(code, length) -> symbol lookup dict from a DHT table."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = syms[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.read(1)
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def decode_jpeg(payload: bytes) -> np.ndarray:
    """(h, w) uint8 grayscale or (h, w, 3) uint8 RGB from a baseline
    sequential JPEG with 1x1 sampling.  Real entropy decode: DHT-driven
    Huffman, dequant, dezigzag, orthonormal IDCT, level shift, and
    YCbCr->RGB for 3-component scans.  Raises on progressive scans,
    subsampled chroma, or restart intervals (out of baseline-fixture
    scope, stated up front — not a stub)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, quant tbl)
    scan_comps: list[tuple[int, int, int]] = []  # (id, dc tbl, ac tbl)
    scan_start = None
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = payload[i + 1]
        if marker == 0xD9:
            break
        seglen = int.from_bytes(payload[i + 2 : i + 4], "big")
        body = payload[i + 4 : i + 2 + seglen]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = np.frombuffer(
                    body[j + 1 : j + 65], dtype=np.uint8
                ).astype(np.int32)
                j += 65
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1 : j + 17])
                nsym = sum(bits)
                syms = list(body[j + 17 : j + 17 + nsym])
                huff[(tc, th)] = _huff_decoder(bits, syms)
                j += 17 + nsym
        elif marker == 0xC0:
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            n_comp = body[5]
            for c in range(n_comp):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError("subsampled JPEG unsupported (1x1 only)")
                comps.append((cid, samp, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            ns = body[0]
            for c in range(ns):
                cid, tbl = body[1 + 2 * c], body[2 + 2 * c]
                scan_comps.append((cid, tbl >> 4, tbl & 0x0F))
            scan_start = i + 2 + seglen
            break
        i += 2 + seglen
    if width is None or scan_start is None:
        raise ValueError("JPEG missing SOF0/SOS")
    n_comp = len(scan_comps)
    if n_comp not in (1, 3):
        raise ValueError("1- or 3-component scans only")
    bh, bw = (height + 7) // 8, (width + 7) // 8
    planes = [
        np.zeros((bh * 8, bw * 8), dtype=np.float64) for _ in range(n_comp)
    ]
    br = _BitReader(payload, scan_start)
    pred = [0] * n_comp
    quant = [qt[comps[c][2]].astype(np.float64) for c in range(n_comp)]
    inv_zz = np.empty(64, dtype=np.int64)
    inv_zz[_ZIGZAG] = np.arange(64)
    for by in range(bh):
        for bx in range(bw):
            for ci, (cid, dct, act) in enumerate(scan_comps):
                zz = np.zeros(64, dtype=np.float64)
                s = _read_symbol(br, huff[(0, dct)])
                diff = _extend(br.read(s), s) if s else 0
                pred[ci] += diff
                zz[0] = pred[ci]
                k = 1
                while k < 64:
                    rs = _read_symbol(br, huff[(1, act)])
                    if rs == 0x00:      # EOB
                        break
                    if rs == 0xF0:      # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    sz = rs & 0x0F
                    if k > 63:
                        raise ValueError("AC coefficient index overflow")
                    zz[k] = _extend(br.read(sz), sz)
                    k += 1
                coef = (zz * quant[ci])[inv_zz].reshape(8, 8)
                blk = _DCT_T.T @ coef @ _DCT_T + 128.0
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
    planes = [p[:height, :width] for p in planes]
    if n_comp == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def synthesize_media_containers(
    spark, n: int, num_partitions: int = 8
) -> DataFrame:
    """Deterministic media table with REAL container payloads: id % 3
    picks png (width=id%100+1, height=id%50+1, pixels = png_pixel(id,..))
    / jpeg (width=id%64+1, height=id%32+1, REAL baseline scan with 8x8
    blocks constant at jpeg_block_value(id, by, bx) — round 5)
    / wav (rate=8000+(id%4)*8000, 160+id%100 PCM16 samples =
    wav_sample(id,..)).  Arrow-batched generation; a pure function of id
    on any partitioning, and the pixel/sample functions are closed-form
    so SQL oracles can recompute decoded-content statistics exactly."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            payloads = []
            for i in ids:
                i = int(i)
                k = i % 3
                if k == 0:
                    payloads.append(make_png(i % 100 + 1, i % 50 + 1, seed=i))
                elif k == 1:
                    payloads.append(make_jpeg(i % 64 + 1, i % 32 + 1, seed=i))
                else:
                    payloads.append(
                        make_wav(8000 + (i % 4) * 8000, seed=i,
                                 n_samples=160 + i % 100)
                    )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return spark.range(n, numPartitions=num_partitions).mapInPandas(
        gen, "media_id long, payload binary"
    )


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2) video — REAL container parse + frame decode (round 5).
# Y4M is the uncompressed interchange format every video toolchain speaks
# (ffmpeg -f yuv4mpegpipe, mjpegtools): a one-line ASCII stream header,
# then per-frame "FRAME[ params]\n" markers followed by raw planar YUV.
# No entropy coding, so the decode is pure byte arithmetic — the same
# no-codec-library play as decode_png/decode_jpeg.  This closes the last
# multimodal seam: frame sampling below is REAL (it slices actual luma
# planes), not the explode-only plan of frame_sample_plan.
# ---------------------------------------------------------------------------

# chroma subsampling (x, y) per colorspace we decode; mono has no chroma
_Y4M_CHROMA = {
    "mono": None,
    "420": (2, 2), "420jpeg": (2, 2), "420mpeg2": (2, 2), "420paldv": (2, 2),
    "422": (2, 1),
    "444": (1, 1),
}


def _y4m_frame_size(w: int, h: int, colorspace: str) -> int | None:
    """Bytes per frame: the w*h luma plane first, then two chroma planes
    whose subsampled dimensions round UP (a 3x3 420 frame carries 2x2
    chroma planes).  None for colorspaces we do not decode."""
    if colorspace not in _Y4M_CHROMA:
        return None
    sub = _Y4M_CHROMA[colorspace]
    if sub is None:
        return w * h
    return w * h + 2 * -(-w // sub[0]) * -(-h // sub[1])


def y4m_frame_value(seed: int, f, y, x):
    """Closed-form luma of pixel (y, x) in frame f of fixture video
    ``seed`` — SQL-replicable, so oracles recompute decoded-frame
    statistics exactly (mirror of png_pixel / jpeg_block_value)."""
    return (seed + 7 * f + 11 * y + 13 * x) % 256


def make_y4m(width: int, height: int, n_frames: int, seed: int | None = None) -> bytes:
    """FULLY VALID YUV4MPEG2 Cmono stream whose frame f luma plane is
    y4m_frame_value(seed, f, y, x) — real header tokens (W/H/F/I/A/C),
    real FRAME markers, playable by any y4m consumer."""
    s = 0 if seed is None else int(seed)
    yy, xx = np.mgrid[0:height, 0:width]
    parts = [
        b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 Cmono\n" % (width, height)
    ]
    base = (s + 11 * yy + 13 * xx) % 256
    for f in range(n_frames):
        plane = ((base + 7 * f) % 256).astype(np.uint8)
        parts.append(b"FRAME\n" + plane.tobytes())
    return b"".join(parts)


def _find_newline(mv: memoryview, start: int) -> int:
    """Index of the first newline at or after ``start`` (-1 if none),
    copying a window that doubles from 256 bytes: header lines of any
    length are found while plane bytes past the line are never copied."""
    win, pos, n = 256, start, len(mv)
    while pos < n:
        end = min(pos + win, n)
        i = bytes(mv[pos:end]).find(b"\n")
        if i >= 0:
            return pos + i
        pos, win = end, win * 2
    return -1


def _y4m_walk(buf) -> tuple[dict, list[int]] | None:
    """(params, [luma-plane offset per frame]) of a YUV4MPEG2 stream in
    bytes or any buffer (an Arrow data slice is walked zero-copy); None
    for non-Y4M bytes.  params: width, height, fps_num, fps_den,
    colorspace, n_frames.  The walk reads header lines only, never plane
    bytes, so callers slice just the frames they sample (a stride-30
    sample of a long video reads ~1/30 of the plane bytes).  Colorspaces
    we cannot stride report n_frames 0."""
    mv = memoryview(buf)
    n = len(mv)
    if bytes(mv[:9]) != b"YUV4MPEG2":
        return None
    nl = _find_newline(mv, 0)
    if nl < 0:
        return None
    width = height = None
    fps_num, fps_den = 0, 1
    colorspace = "420jpeg"  # the Y4M spec default when C is absent
    for tok in bytes(mv[9:nl]).split():
        t = tok.decode("ascii", "replace")
        if t[:1] == "W":
            width = int(t[1:])
        elif t[:1] == "H":
            height = int(t[1:])
        elif t[:1] == "F" and ":" in t:
            a, b = t[1:].split(":", 1)
            fps_num, fps_den = int(a), int(b)
        elif t[:1] == "C":
            colorspace = t[1:]
    if not width or not height:
        return None
    frame_size = _y4m_frame_size(width, height, colorspace)
    offsets: list[int] = []
    pos = nl + 1
    while frame_size is not None and bytes(mv[pos : pos + 5]) == b"FRAME":
        fnl = _find_newline(mv, pos)
        if fnl < 0 or fnl + 1 + frame_size > n:
            break
        offsets.append(fnl + 1)
        pos = fnl + 1 + frame_size
    params = {
        "width": width,
        "height": height,
        "fps_num": fps_num,
        "fps_den": fps_den,
        "colorspace": colorspace,
        "n_frames": len(offsets),
    }
    return params, offsets


def y4m_params(payload: bytes) -> dict | None:
    """Stream parameters from the YUV4MPEG2 header line: dict with
    width, height, fps_num, fps_den, colorspace, n_frames.  n_frames
    comes from a pointer walk over the FRAME markers (O(frames) header
    reads, zero plane bytes touched)."""
    walked = None if payload is None else _y4m_walk(payload)
    return walked[0] if walked else None


def _y4m_luma_offsets(buf) -> tuple[dict, list[int]] | None:
    """_y4m_walk for decoding: raises for colorspaces it cannot stride."""
    walked = _y4m_walk(buf)
    if walked and walked[0]["colorspace"] not in _Y4M_CHROMA:
        raise NotImplementedError(
            f"y4m colorspace {walked[0]['colorspace']!r} not supported "
            "(mono/420*/422/444 are)"
        )
    return walked


def _frame_rows(mid: int, buf, every_n: int):
    """(mid, frame_idx, width, height, luma_sum, luma_mean) for frames 0,
    every_n, ... of the Y4M stream in ``buf`` (bytes or a zero-copy
    buffer slice); nothing for non-Y4M bytes."""
    parsed = _y4m_luma_offsets(buf)
    if parsed is None:
        return
    p, offsets = parsed
    w, h = p["width"], p["height"]
    plane = w * h
    for fi in range(0, len(offsets), every_n):
        luma = np.frombuffer(buf, dtype=np.uint8, count=plane, offset=offsets[fi])
        s = int(luma.sum(dtype=np.int64))
        yield mid, fi, w, h, s, s / plane


def decode_y4m(payload: bytes, every_n: int = 1) -> tuple[dict, np.ndarray]:
    """(params, luma) where luma is (n_sampled, h, w) uint8 — frames
    0, every_n, 2*every_n, …  Chroma planes are skipped by stride (luma
    is the standard frame-sampling feature input); only sampled planes
    are materialized."""
    parsed = _y4m_luma_offsets(payload)
    if parsed is None:
        raise ValueError("not a YUV4MPEG2 stream")
    p, offsets = parsed
    w, h = p["width"], p["height"]
    plane = w * h
    sampled = offsets[::every_n] if every_n > 1 else offsets
    out = np.empty((len(sampled), h, w), dtype=np.uint8)
    for i, off in enumerate(sampled):
        out[i] = np.frombuffer(payload, dtype=np.uint8, count=plane, offset=off).reshape(h, w)
    return p, out


def frame_sample_stats(
    df: DataFrame,
    every_n: int = 30,
    payload_col: str = "payload",
    id_col: str = "media_id",
    impl: str = "arrow",
) -> DataFrame:
    """REAL frame sampling over Y4M payloads: one row per sampled frame
    with its decoded luma statistics.  Per payload the cost is
    O(n_frames) marker walks + O(sampled) plane bytes.  At 100 TB the
    input should be a binaryFile / blob-store scan partitioned by object
    — each video decodes independently, so the op is embarrassingly
    parallel with zero shuffle before any downstream agg (upgrade of
    frame_sample_plan, whose decode step was the one stubbed edge of the
    round-2 multimodal surface).

    ``impl='arrow'`` (default) runs over mapInArrow and slices luma
    planes ZERO-COPY out of the Arrow data buffer — no per-video Python
    bytes object is ever allocated.  That matters: the mapInPandas path
    materializes every payload as PyBytes (Arrow->pandas conversion),
    and at GB-scale inputs x 32 concurrent workers that allocation storm
    triggers this host's measured multi-second stalls (PLANS §27/§53).
    ``impl='pandas'`` keeps the simpler path; both are value-identical
    (pytest-gated).  For payload-heavy tables also bound
    spark.sql.execution.arrow.maxRecordsPerBatch so one batch holds a
    few MB of payloads, not the 10k-row default."""
    out_schema = (
        f"{id_col} bigint, frame_idx int, width int, height int, "
        "luma_sum bigint, luma_mean double"
    )
    names = [id_col, "frame_idx", "width", "height", "luma_sum", "luma_mean"]

    if impl == "arrow":
        import pyarrow as pa

        types = [pa.int64(), pa.int32(), pa.int32(), pa.int32(), pa.int64(),
                 pa.float64()]

        def run_arrow(batches):
            for batch in batches:
                ids = batch.column(0)
                pay = batch.column(1)
                off_dt = (
                    np.int64
                    if pa.types.is_large_binary(pay.type)
                    else np.int32
                )
                bufs = pay.buffers()  # [validity, offsets, data]
                offs = np.frombuffer(bufs[1], dtype=off_dt)[
                    pay.offset : pay.offset + len(pay) + 1
                ]
                data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
                valid = (
                    None
                    if pay.null_count == 0
                    else pay.is_valid().to_numpy(zero_copy_only=False)
                )
                rows = [
                    r
                    for j in range(len(pay))
                    if valid is None or valid[j]
                    for r in _frame_rows(
                        ids[j].as_py(), data[offs[j] : offs[j + 1]], every_n
                    )
                ]
                if rows:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c, t) for c, t in zip(zip(*rows), types)],
                        names=names,
                    )

        return df.select(id_col, payload_col).mapInArrow(
            run_arrow, out_schema
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r
                for mid, payload in zip(pdf[id_col], pdf[payload_col])
                if payload is not None
                for r in _frame_rows(int(mid), bytes(payload), every_n)
            ]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def synthesize_video_containers(
    spark, n: int, num_partitions: int = 8
) -> DataFrame:
    """Deterministic Y4M video table: video id has width=id%24+4,
    height=id%12+2, n_frames=id%16+3, luma = y4m_frame_value(id,..) —
    closed-form, so SQL oracles recompute sampled-frame statistics
    exactly (mirror of synthesize_media_containers)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            payloads = [
                make_y4m(int(i) % 24 + 4, int(i) % 12 + 2, int(i) % 16 + 3, seed=int(i))
                for i in ids
            ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return spark.range(n, numPartitions=num_partitions).mapInPandas(
        gen, "media_id long, payload binary"
    )
