"""ALP-style lossless decimal-float compression (after Afroozeh & Boncz,
"ALP: Adaptive Lossless floating-Point compression", SIGMOD 2023 — public
paper; fresh numpy implementation, not a port).

Observation: real-world double columns (prices, rates, measurements) are
usually decimals — v = m / 10^e for smallish integer m. Find the smallest
exponent e such that round(v * 10^e) / 10^e reproduces every value
BIT-IDENTICALLY (uint64 view compare, so -0.0, NaN payloads, or any
rounding residue force a fallback), then hand the integers to the normal
integer-codec chooser (for_bp / delta / rle / dict / plain). Decode is one
vectorized division — IEEE division is correctly rounded, so exactness at
encode time guarantees exactness at decode time.

Body layout:
    u8 exponent e   u8 int-codec id
    int-codec body over the scaled int64 mantissas
"""

from __future__ import annotations

import struct

import numpy as np

MAX_EXP = 18  # 10^18 < 2^63


def _exact(arr: np.ndarray, e: int, dtype, w) -> bool:
    # overflow to inf during the scale probe is expected (the isfinite
    # guard rejects it) — silence the RuntimeWarning so real ones surface
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = arr.astype(np.float64, copy=False) * (10.0**e)
        if not np.all(np.isfinite(scaled)):
            return False
        m = np.round(scaled)
    if np.any(np.abs(m) >= 2.0**62):
        return False
    # round-trip through int64 exactly as encode/decode will — float round
    # keeps -0.0's sign but int64 mantissas cannot, so -0.0 must fail here
    back = (m.astype(np.int64).astype(np.float64) / (10.0**e)).astype(dtype, copy=False)
    return bool(np.array_equal(back.view(w), np.ascontiguousarray(arr).view(w)))


def find_exponent(vals: np.ndarray, sample: int = 1024) -> int | None:
    """Smallest e with bit-exact reconstruction for ALL values, or None.
    A stride sample screens candidate exponents cheaply; the winning
    candidate is then verified on the full array (one pass)."""
    if len(vals) == 0 or vals.dtype.kind != "f":
        return None
    w = np.uint64 if vals.dtype.itemsize == 8 else np.uint32
    probe = vals[:: max(1, len(vals) // sample)]
    for e in range(MAX_EXP + 1):
        # probe screens cheap; full-array verify confirms. Exactness is
        # monotone in e (more digits keep exactness until the 2^62 bound),
        # so a full-check miss at this e still allows a larger e.
        if _exact(probe, e, vals.dtype, w) and _exact(vals, e, vals.dtype, w):
            return e
    return None


def mantissas(vals: np.ndarray, e: int) -> np.ndarray:
    return np.round(vals.astype(np.float64, copy=False) * (10.0**e)).astype(np.int64)


def encode(vals: np.ndarray, e: int, int_codec: str, int_body: bytes, codec_ids: dict) -> bytes:
    return struct.pack("<BB", e, codec_ids[int_codec]) + int_body


def reconstruct(ints: np.ndarray, e: int, dtype) -> np.ndarray:
    return (ints.astype(np.float64) / (10.0**e)).astype(dtype, copy=False)
