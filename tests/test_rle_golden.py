"""Frozen bytes of the engine's RLE / bit-packed hybrid encoder.

`rle.encode` is not byte-identical to the reference encoder (see
codecs/rle.py), so the reference goldens in test_rle.py cannot pin its
output. These digests do: every width 0..32 over bit-packed-only,
run-structured, long-run and region-capped streams, plus two-valued
dictionary-index streams shaped like the sequences table's `doc_id`
lengths. Inputs come from a self-contained integer hash, not numpy's
RNG, so they cannot drift with a library upgrade. A change to these
digests changes the bytes written to disk.
"""

import hashlib

import numpy as np
import pytest

from parquet_spark.codecs import rle

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _hash(n: int, seed: int) -> np.ndarray:
    """n deterministic pseudo-random uint64 (splitmix64 finalizer)."""
    with np.errstate(over="ignore"):
        z = (np.arange(1, n + 1, dtype=np.uint64) + np.uint64(seed << 20)) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (z ^ (z >> np.uint64(31))) & _M64


def _runs(lens: np.ndarray, vals: np.ndarray) -> np.ndarray:
    return np.repeat(vals.astype(np.uint64), lens.astype(np.int64))


def _cases(width: int) -> list[np.ndarray]:
    mask = np.uint64((1 << width) - 1)
    out = []
    # bit-packed only, around the 8-value group edges
    for i, n in enumerate((1, 7, 8, 9, 63, 64, 65, 1000, 16387)):
        out.append(_hash(n, 100 * width + i) & mask)
    # constant streams
    out.append(np.zeros(100, dtype=np.uint64))
    out.append(np.full(100, mask, dtype=np.uint64))
    # run-structured: run lengths 1..40, and 1..12 (near MIN_RLE_RUN, where
    # the 8-alignment borrow decides whether a run survives)
    for i, top in enumerate((40, 12)):
        h = _hash(400, 7000 + 10 * width + i)
        out.append(_runs(1 + h % np.uint64(top), _hash(400, 9000 + width + i) & mask))
    # long runs broken by short bit-packed noise
    h = _hash(60, 11000 + width)
    lens = np.where(np.arange(60) % 2 == 0, 100 + h % np.uint64(900), 1 + h % np.uint64(10))
    out.append(_runs(lens, _hash(60, 12000 + width) & mask))
    # more qualifying runs than MAX_RLE_REGIONS: 4096 runs of 9 strictly
    # outrank 500 runs of 8, so the kept set has no ties to break
    n_runs = rle.MAX_RLE_REGIONS + 500
    lens = np.full(2 * n_runs, 1)
    lens[0::2] = 8
    lens[2 * (np.arange(rle.MAX_RLE_REGIONS) * n_runs // rle.MAX_RLE_REGIONS)] = 9
    if width:
        # even run values, odd noise: no two neighbours ever merge
        vals = _hash(2 * n_runs, 13000 + width) & mask & ~np.uint64(1)
        vals[1::2] = vals[0::2] | np.uint64(1)
        out.append(_runs(lens, vals))
    return out


def _doc_id_cases() -> list[np.ndarray]:
    """Dictionary indices of doc_id string lengths: 'srcNN-<12 digits>'
    is 17 or 18 bytes depending on the source number, so the stream is
    two-valued, mostly short runs (~37% ones), 16384 rows per block."""
    return [(_hash(16384, 20000 + b) % np.uint64(16) >= np.uint64(10)).astype(np.uint64) for b in range(8)]


def _digest(streams: list[np.ndarray], width: int) -> str:
    h = hashlib.sha256()
    for v in streams:
        buf = rle.encode(v, width)
        h.update(len(buf).to_bytes(8, "little") + buf)
    return h.hexdigest()[:24]


GOLDEN = {
    0: "567ea222af7c17e6e2e5bb05",
    1: "4c435bac121d216984627a03",
    2: "50ba5d92c5113b26cf1c3cc2",
    3: "3e1c39c4d73749f0334843e4",
    4: "06486646bddb142096bd2d86",
    5: "71c3d04a2141e182e97015a6",
    6: "a75ab6fdb2e80f8871ac0e01",
    7: "84f668b7bb9c641ab0d0b4df",
    8: "081c1dc897d0b6e136d49acf",
    9: "d82f3c64b38931e8c5e8f367",
    10: "76d2abdedd7874ad6e8123ce",
    11: "ab07224d83af81a9b58acbf3",
    12: "b6ae7a4e5d621dac08a9943b",
    13: "99c625e2895790244870adc4",
    14: "b95d70830bd8729054f92121",
    15: "b52f153beb8f029061de1b58",
    16: "b88c0249aae4cc36bc62c642",
    17: "4681610451492796ed1512b2",
    18: "9f4dccf69820987c3009c37b",
    19: "bc1fe466ef6db60b01f5fbb9",
    20: "b8ba482959e684e15eb0a7a1",
    21: "72fac7c59bb929ac8911813d",
    22: "bdb49368843af47ecca69abf",
    23: "6f8f879ca051f333a9325d45",
    24: "dd9d3a35e57e6b32de6f29d9",
    25: "e829bb65edc05bf81638727d",
    26: "417ce3181a4fa131456c38ca",
    27: "07e87d15a6256393d979a075",
    28: "a81ea06bb2dc4d4697100d7a",
    29: "b2c01db3bb3758af8784db4e",
    30: "024e3045ec74297dac6325fa",
    31: "fc7c0945f9da0c113b1eb1e5",
    32: "c7292b9d318de16b67fb0cf0",
}
GOLDEN_DOC_ID = "f366cbcd07efd2c4181c7d85"


@pytest.mark.parametrize("width", range(33))
def test_rle_encoder_bytes_frozen(width):
    cases = _cases(width)
    assert all(int(v.max(initial=0)) >> width == 0 for v in cases)
    assert _digest(cases, width) == GOLDEN[width]


def test_rle_encoder_doc_id_streams_frozen():
    assert _digest(_doc_id_cases(), 1) == GOLDEN_DOC_ID
