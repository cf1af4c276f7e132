"""Bloom filter: mergeable set-membership with no false negatives.

State: bit array (uint8[m/8]).  k hash positions via Kirsch-Mitzenmacher
double hashing on the reference chain (fingerprint64 + fibonacciHash).
False-positive probability after n inserts: (1 - e^{-k n / m})^k.
"""

from __future__ import annotations

import struct

import numpy as np

from ..hashing import fibonacci_hash, hash_items
from .generic import GroupedState, SketchKind

_MAGIC = b"BLM1"


def k_for(m_bits: int, n_expected: int) -> int:
    """Hash count minimizing the false-positive rate of an m_bits filter
    holding n_expected keys: k = round(m/n ln 2)."""
    return max(1, int(round(m_bits / n_expected * np.log(2))))


def params_for(n_expected: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k) minimizing size for a target false-positive rate."""
    m = int(np.ceil(-n_expected * np.log(fpp) / (np.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)
    return m, k_for(m, n_expected)


def zero(m_bits: int) -> np.ndarray:
    assert m_bits % 8 == 0
    return np.zeros(m_bits // 8, dtype=np.uint8)


def _positions(values, m_bits: int, k: int) -> np.ndarray:
    h = hash_items(values)
    h2 = fibonacci_hash(h) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    with np.errstate(over="ignore"):
        return ((h[None, :] + i * h2[None, :]) % np.uint64(m_bits)).astype(np.int64)


def update(bits: np.ndarray, values, k: int) -> np.ndarray:
    if hasattr(values, "to_numpy"):
        values = values.to_numpy()
    if len(values) == 0:
        return bits
    pos = _positions(values, bits.shape[0] * 8, k).ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits


def merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if a.shape != b.shape:
        raise ValueError("bloom size mismatch")
    return a | b


def might_contain(bits: np.ndarray, values, k: int) -> np.ndarray:
    pos = _positions(values, bits.shape[0] * 8, k)
    hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=0)


def fill_ratio(bits: np.ndarray) -> float:
    return float(np.unpackbits(bits).mean())


def encode(bits: np.ndarray, k: int) -> bytes:
    return _MAGIC + struct.pack("<II", bits.shape[0] * 8, k) + bits.tobytes()


def decode(buf: bytes) -> tuple[np.ndarray, int]:
    assert buf[:4] == _MAGIC, "bad bloom header"
    m_bits, k = struct.unpack_from("<II", buf, 4)
    return np.frombuffer(buf, dtype=np.uint8, offset=12, count=m_bits // 8).copy(), k


def decode_view(buf: bytes) -> tuple[np.ndarray, int]:
    """Zero-copy READ-ONLY decode for probe paths (might_contain never
    writes): at frontier scale the bitmap is GBs, and a per-Arrow-batch
    ``decode`` would memcpy it thousands of times per job."""
    assert buf[:4] == _MAGIC, "bad bloom header"
    m_bits, k = struct.unpack_from("<II", buf, 4)
    return np.frombuffer(buf, dtype=np.uint8, offset=12, count=m_bits // 8), k


def _grouped_update(
    block: np.ndarray, codes: np.ndarray, values, k: int
) -> None:
    """Grouped scatter into the (G, m/8) bit-array stack: one bitwise-or
    over all (group, position) pairs of the batch (k x n of them), same
    positions as update()."""
    if len(values) == 0:
        return
    pos = _positions(values, block.shape[1] * 8, k)
    rows = np.broadcast_to(codes, pos.shape).ravel()
    flat = pos.ravel()
    np.bitwise_or.at(block, (rows, flat >> 3), (1 << (flat & 7)).astype(np.uint8))


def kind(m_bits: int = 1 << 16, k: int = 7) -> SketchKind:
    return SketchKind(
        name=f"bloom_m{m_bits}_k{k}",
        zero=lambda: zero(m_bits),
        update=lambda s, v: update(s, v, k),
        merge=merge,
        encode=lambda s: encode(s, k),
        decode=lambda b: decode(b)[0],
        grouped=GroupedState(
            zero_block=lambda g: np.zeros((g, m_bits // 8), dtype=np.uint8),
            update=lambda b, c, v: _grouped_update(b, c, v, k),
            to_state=lambda row: row,
        ),
    )
