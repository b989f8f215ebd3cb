"""Parquet RLE / bit-packed hybrid codec, generalized to width 0..32 and
vectorized.

Stream layout (identical to the Parquet spec and to the reference at widths
≤4, /root/reference/internal/rle/rle.go):

    int32 LE total payload length
    repeated either:
      LEB128(count << 1)        + value padded LE to ceil(width/8) bytes   (RLE run)
      LEB128((groups << 1) | 1) + groups × width bytes of 8-value bit-pack (bit-packed)

Differences from the reference encoder (decode-compatible, not byte-
identical): the reference caps bit-packed runs at 63 groups and detects runs
with a per-value state machine (rle.go:48-96); this encoder finds runs
vectorized (np.diff) and emits unbounded-group bit-packed regions. A
byte-exact port of the reference's state machine lives in rle_ref.py for the
golden parity fixtures; this module's decoder reads both encoders' output.
"""

from __future__ import annotations

import struct

import numpy as np

from parquet_spark.codecs import bitpack
from parquet_spark.util import leb128_decode, leb128_encode

MIN_RLE_RUN = 8  # same threshold as the reference (rle.go:50-56)

# Emission walks regions in a Python loop; data with pathologically many
# short runs (e.g. bursty token streams) would otherwise cost O(runs)
# interpreter time for marginal size gain. Keeping only the longest runs
# bounds the loop — long runs carry nearly all the RLE savings.
MAX_RLE_REGIONS = 4096


def _value_bytes(value: int, width: int) -> bytes:
    nbytes = (width + 7) // 8
    return int(value).to_bytes(nbytes, "little")


def encode(vals: np.ndarray, width: int) -> bytes:
    """Encode unsigned values (must fit ``width`` bits) to the hybrid stream."""
    if width < 0 or width > 32:
        raise ValueError(f"width {width} out of range 0..32 for RLE hybrid")
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(v)
    # stream layout in order: an int is a bit-packed region of that many
    # 8-value groups, bytes are a finished RLE run. Every region is
    # 8-aligned, so one pack() over their concatenation yields each
    # region's bytes back to back (groups * width each) — one numpy pass
    # per stream instead of one per region.
    layout: list[int | bytes] = []
    regions: list[np.ndarray] = []

    def add_bitpacked(seg: np.ndarray) -> None:
        if len(seg):
            regions.append(seg)
            layout.append(len(seg) // 8)

    if n:
        # vectorized run detection
        change = np.flatnonzero(np.diff(v)) + 1
        starts = np.concatenate(([0], change))
        lens = np.diff(np.concatenate((starts, [n])))
        rvals = v[starts]
        pos = 0
        qual = np.flatnonzero(lens >= MIN_RLE_RUN)
        if len(qual) > MAX_RLE_REGIONS:
            # take exactly the MAX_RLE_REGIONS longest runs (argpartition
            # indices, not a >=threshold filter — ties at the threshold
            # would otherwise keep arbitrarily many regions and void the
            # O(MAX_RLE_REGIONS) interpreter-time bound)
            top = np.argpartition(lens[qual], len(qual) - MAX_RLE_REGIONS)[len(qual) - MAX_RLE_REGIONS:]
            qual = np.sort(qual[top])
        for i in qual:
            s, ln = int(starts[i]), int(lens[i])
            if s < pos:  # head of this run was borrowed into the previous region
                ln -= pos - s
                s = pos
                if ln < MIN_RLE_RUN:
                    continue
            gap = s - pos
            borrow = (-gap) % 8  # align the bit-pack region to 8 values
            if ln - borrow < MIN_RLE_RUN:
                continue  # run too short once borrowed — swallow into bit-pack
            add_bitpacked(v[pos : s + borrow])
            layout.append(leb128_encode((ln - borrow) << 1) + _value_bytes(int(rvals[i]), width))
            pos = s + ln
        tail = v[pos:]
        if len(tail) % 8:  # zero-padded like rle.go:142-151
            tail = np.concatenate([tail, np.zeros(8 - len(tail) % 8, dtype=np.uint64)])
        add_bitpacked(tail)

    packed = bitpack.pack(np.concatenate(regions), width) if regions else b""
    parts: list[bytes] = []
    off = 0
    for item in layout:
        if isinstance(item, bytes):
            parts.append(item)
        else:
            parts.append(leb128_encode((item << 1) | 1))
            parts.append(packed[off : off + item * width])
            off += item * width
    payload = b"".join(parts)
    return struct.pack("<i", len(payload)) + payload


def decode(buf: bytes | memoryview, n: int, width: int) -> tuple[np.ndarray, int]:
    """Decode ``n`` values; returns (uint64 array, bytes consumed incl. the
    4-byte length prefix). Reads both this encoder's and the reference
    encoder's output (rle.go:159-230). Every bit-packed region is a whole
    number of bytes, so their byte slices joined form one packed stream:
    one unpack() per stream, then the RLE runs are filled in around it."""
    mv = memoryview(buf)
    (length,) = struct.unpack_from("<i", mv, 0)
    payload = bytes(mv[4 : 4 + length])
    vbytes = (width + 7) // 8
    pos = got = 0
    counts: list[int] = []
    run_vals: list[int] = []  # an RLE run's value; 0 for a bit-packed region
    is_bp: list[bool] = []
    packed: list[bytes] = []
    while pos < len(payload) and got < n:
        header, pos = leb128_decode(payload, pos)
        if header & 1:
            count = (header >> 1) * 8
            nbytes = bitpack.packed_size(count, width)
            packed.append(payload[pos : pos + nbytes])
            run_vals.append(0)
            pos += nbytes
        else:
            count = header >> 1
            run_vals.append(int.from_bytes(payload[pos : pos + vbytes], "little"))
            pos += vbytes
        is_bp.append(bool(header & 1))
        counts.append(count)
        got += count
    if got < n:
        raise ValueError(f"RLE stream exhausted: wanted {n} values, got {got}")
    n_bp = sum(c for c, bp in zip(counts, is_bp) if bp)
    # a region cut short by the end of the payload reads as zeros
    stream = b"".join(packed).ljust(bitpack.packed_size(n_bp, width), b"\0")
    vals = bitpack.unpack(stream, n_bp, width)
    if n_bp < got:
        runs = np.repeat(np.array(run_vals, dtype=np.uint64), counts)
        runs[np.repeat(is_bp, counts)] = vals
        vals = runs
    return vals[:n], length + 4
