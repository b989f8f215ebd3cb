"""RLE hybrid: golden parity against the reference's encoder state machine
(test cases mirrored from /root/reference/internal/rle/rle_test.go:20-101)
and cross-compatibility between the reference-exact encoder (rle_ref) and
the engine's generalized vectorized codec (rle)."""

import numpy as np
import pytest

from parquet_spark.codecs import rle, rle_ref

REF_CASES = [
    # (name, width, values) — from rle_test.go:20-77
    ("rle only", 3, [4] * 100 + [5] * 100),
    ("repeated zeros", 0, [0] * 10),
    ("odd number of repeated zeros", 1, [0] * 17),
    ("odd number of repeated ones", 1, [1] * 17),
    ("bitpacking only", 3, [i % 3 for i in range(100)]),
    ("more bitpacking only", 3, [i % 3 for i in range(103)]),
    ("single value", 1, [1]),
    ("odd number of non-repeated values", 1, [1, 0, 1, 1, 0]),
    ("width 2", 2, [1, 2, 3]),
    ("width 3", 3, [1, 2, 7]),
]


@pytest.mark.parametrize("name,width,vals", REF_CASES, ids=[c[0] for c in REF_CASES])
def test_ref_encoder_roundtrip_via_engine_decoder(name, width, vals):
    """The generalized decoder must read reference-produced bytes."""
    buf = rle_ref.encode_ref(vals, width)
    out, consumed = rle.decode(buf, len(vals), width)
    assert consumed == len(buf)
    assert list(out) == vals


@pytest.mark.parametrize("name,width,vals", REF_CASES, ids=[c[0] for c in REF_CASES])
def test_engine_encoder_roundtrip(name, width, vals):
    arr = np.array(vals, dtype=np.uint64)
    buf = rle.encode(arr, width)
    out, consumed = rle.decode(buf, len(vals), width)
    assert consumed == len(buf)
    assert list(out) == vals


@pytest.mark.parametrize("name,width,vals", REF_CASES, ids=[c[0] for c in REF_CASES])
def test_engine_not_larger_than_reference(name, width, vals):
    """The vectorized encoder must never be bigger than the reference's."""
    ref = rle_ref.encode_ref(vals, width)
    eng = rle.encode(np.array(vals, dtype=np.uint64), width)
    assert len(eng) <= len(ref)


def test_golden_bytes_pure_rle_run():
    # 100 × value 4 at width 3: header LEB128(100<<1)=200 -> 0xC8 0x01,
    # value padded to 1 byte -> 0x04; length prefix 3 (rle.go:98-128,153-155)
    expected = (3).to_bytes(4, "little") + bytes([0xC8, 0x01, 0x04])
    assert rle_ref.encode_ref([4] * 100, 3) == expected
    assert rle.encode(np.full(100, 4, dtype=np.uint64), 3) == expected


def test_golden_bytes_bitpack_only():
    # 8 values 0..7 at width 3: ref emits header (1<<1)|1=3 then the Apache
    # doc bytes (bitpack_test.go:33-38)
    expected = (4).to_bytes(4, "little") + bytes([0x03, 0b10001000, 0b11000110, 0b11111010])
    assert rle_ref.encode_ref(list(range(8)), 3) == expected
    assert rle.encode(np.arange(8, dtype=np.uint64), 3) == expected


def test_width_gt4_rejected_by_ref_allowed_by_engine():
    with pytest.raises(ValueError):
        rle_ref.RefRLE(5)
    vals = np.array([1000, 1000, 7, 90000] * 50, dtype=np.uint64)
    buf = rle.encode(vals, 17)
    out, _ = rle.decode(buf, len(vals), 17)
    np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("width", [0, 1, 2, 3, 4])
def test_cross_parity_fuzz(width):
    """Engine decode(ref encode(x)) == x == engine decode(engine encode(x))
    over run-heavy random streams."""
    rng = np.random.default_rng(7 + width)
    hi = (1 << width) - 1 if width else 0
    chunks = []
    for _ in range(60):
        v = int(rng.integers(0, hi + 1))
        chunks.append(np.full(int(rng.integers(1, 30)), v, dtype=np.uint64))
    vals = np.concatenate(chunks)
    ref_buf = rle_ref.encode_ref(vals, width)
    out_ref, _ = rle.decode(ref_buf, len(vals), width)
    np.testing.assert_array_equal(out_ref, vals)
    eng_buf = rle.encode(vals, width)
    out_eng, _ = rle.decode(eng_buf, len(vals), width)
    np.testing.assert_array_equal(out_eng, vals)
    assert len(eng_buf) <= len(ref_buf)


def test_long_run_63_group_boundary():
    """>63 bit-packed groups forces the reference's header back-patch path
    (rle.go:69-96); decoder must handle consecutive bit-packed regions."""
    vals = np.arange(8 * 70, dtype=np.uint64) % 7
    buf = rle_ref.encode_ref(vals, 3)
    out, _ = rle.decode(buf, len(vals), 3)
    np.testing.assert_array_equal(out, vals)


def test_empty():
    buf = rle.encode(np.array([], dtype=np.uint64), 3)
    out, consumed = rle.decode(buf, 0, 3)
    assert len(out) == 0 and consumed == 4


def _decode_per_region(buf, n, width):
    """Reference: the decoder as it was before it joined the bit-packed
    regions, one unpack() per region."""
    from parquet_spark.codecs import bitpack
    from parquet_spark.util import leb128_decode

    length = int.from_bytes(bytes(buf[:4]), "little", signed=True)
    payload = bytes(buf[4 : 4 + length])
    pos, got, parts = 0, 0, []
    while pos < len(payload) and got < n:
        header, pos = leb128_decode(payload, pos)
        if header & 1:
            nbytes = bitpack.packed_size((header >> 1) * 8, width)
            vals = bitpack.unpack(payload[pos : pos + nbytes], (header >> 1) * 8, width)
            pos += nbytes
        else:
            vbytes = (width + 7) // 8
            vals = np.full(header >> 1, int.from_bytes(payload[pos : pos + vbytes], "little"), dtype=np.uint64)
            pos += vbytes
        parts.append(vals)
        got += len(vals)
    if got < n:
        raise ValueError("exhausted")
    out = np.concatenate(parts) if parts else np.zeros(0, dtype=np.uint64)
    return out[:n], length + 4


def test_decode_matches_per_region_decoder():
    """500 random streams of both encoders, mixing runs and bit-packed
    regions at every width, decoded whole and as a prefix: the same
    values, dtype and bytes consumed as one unpack() per region."""
    rng = np.random.default_rng(11)
    for case in range(500):
        width = int(rng.integers(0, 5)) if case % 2 else int(rng.integers(0, 33))
        hi = (1 << width) - 1
        chunks = []
        for _ in range(int(rng.integers(0, 40))):
            k = int(rng.integers(1, 60))
            if rng.random() < 0.5:
                chunks.append(np.full(k, int(rng.integers(0, hi + 1)), dtype=np.uint64))
            else:
                chunks.append(rng.integers(0, hi + 1, k, dtype=np.uint64))
        vals = np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.uint64)
        buf = rle_ref.encode_ref(vals, width) if case % 2 else rle.encode(vals, width)
        for n in (len(vals), int(rng.integers(0, len(vals) + 1))):
            got, consumed = rle.decode(buf, n, width)
            want, want_consumed = _decode_per_region(memoryview(buf), n, width)
            assert got.dtype == want.dtype == np.uint64
            np.testing.assert_array_equal(got, want)
            assert consumed == want_consumed == len(buf)
        np.testing.assert_array_equal(rle.decode(buf, len(vals), width)[0], vals)
