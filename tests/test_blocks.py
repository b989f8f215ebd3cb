"""Block container round-trips: every dtype × nullability × codec path,
mirroring the reference's end-to-end write→read table tests
(/root/reference/parquet_test.go:33-502, 989-1023) at the column level."""

import numpy as np
import pyarrow as pa
import pytest

from parquet_spark.codecs import blocks


def rt(arr: pa.Array, **kw) -> pa.Array:
    buf = blocks.encode_array(arr, **kw)
    out = blocks.decode_array(buf)
    return out, buf


@pytest.mark.parametrize("dtype", ["int8", "int16", "int32", "int64", "uint8", "uint32", "uint64"])
def test_int_roundtrip_all_codecs(dtype):
    rng = np.random.default_rng(5)
    vals = rng.integers(0, 100, size=2000).astype(dtype)
    arr = pa.array(vals)
    for codec in [None, "plain", "for_bp", "dict", "rle"]:
        out, _ = rt(arr, codec=codec)
        assert out.equals(arr), codec


def test_int64_extremes():
    arr = pa.array(np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0], dtype=np.int64))
    for codec in ["plain", "for_bp"]:
        out, _ = rt(arr, codec=codec)
        assert out.equals(arr)


def test_float_nan_payload_bit_identical():
    import struct

    weird = np.frombuffer(struct.pack("<I", 0x7FC00123), dtype=np.float32)[0]
    vals = np.array([1.5, weird, -0.0, np.inf, np.nan], dtype=np.float32)
    arr = pa.array(vals)
    out, _ = rt(arr)
    assert np.asarray(out).tobytes() == vals.tobytes()


def test_nullable_ints():
    arr = pa.array([1, None, 3, None, 5, 5, 5, None], type=pa.int32())
    out, _ = rt(arr)
    assert out.equals(arr)


def test_nullable_strings():
    arr = pa.array(["a", None, "bb", "", None, "ccc"] * 100)
    out, _ = rt(arr)
    assert out.equals(arr)


def test_all_null_column():
    arr = pa.array([None, None, None], type=pa.int64())
    out, _ = rt(arr)
    assert out.equals(arr)


def test_bool_roundtrip():
    arr = pa.array([True, False, None, True] * 50)
    out, _ = rt(arr)
    assert out.equals(arr)


def test_string_dict_auto():
    arr = pa.array(["click", "view", "purchase"] * 1000)
    out, buf = rt(arr)
    assert out.equals(arr)
    assert len(buf) < 2000  # auto-chooser must pick dict here


def test_string_high_cardinality_auto():
    arr = pa.array([f"src{i % 20}-{i:012d}" for i in range(3000)])
    out, buf = rt(arr)
    assert out.equals(arr)
    raw = sum(len(s) for s in arr.to_pylist())
    assert len(buf) < raw  # shared prefixes must compress (plain + zstd)


def test_string_fsst_when_uncompressed():
    """With general compression off, the chooser falls back to FSST so
    shared substrings still compress."""
    from parquet_spark.codecs import blocks as blk

    arr = pa.array([f"src{i % 20}-{i:012d}" for i in range(3000)])
    payload = blk.encode_array(arr, compression="none")
    info = blk.describe(payload)
    assert info["codec"] == "fsst" and info["compression"] == "none"
    assert blk.decode_array(payload).equals(arr)


def test_unicode_strings():
    arr = pa.array(["héllo", "wörld", "日本語テキスト", "🚀🌟", ""] * 40)
    out, _ = rt(arr)
    assert out.equals(arr)


def test_list_int32_tokens_bit_identical():
    """The flagship invariant: token arrays round-trip bit-identically."""
    rng = np.random.default_rng(9)
    tokens = [rng.integers(0, 50000, size=int(rng.integers(0, 300))).astype(np.int32) for _ in range(500)]
    arr = pa.array([t.tolist() for t in tokens], type=pa.list_(pa.int32()))
    out, buf = rt(arr)
    assert out.equals(arr)
    flat_in = np.concatenate([t for t in tokens if len(t)]) if tokens else np.array([], np.int32)
    flat_out = np.asarray(out.flatten(), dtype=np.int32)
    assert flat_in.tobytes() == flat_out.tobytes()  # bit-identical


def test_list_with_null_entries_and_empty_lists():
    arr = pa.array([[1, 2], None, [], [3], None, [4, 5, 6]], type=pa.list_(pa.int64()))
    out, _ = rt(arr)
    assert out.equals(arr)


def test_list_float32_embeddings():
    rng = np.random.default_rng(11)
    arr = pa.array([rng.normal(size=64).astype(np.float32).tolist() for _ in range(100)], type=pa.list_(pa.float32()))
    out, _ = rt(arr)
    assert out.equals(arr)


def test_timestamp_us():
    arr = pa.array([0, 10**15, None, 123456789], type=pa.timestamp("us"))
    out, _ = rt(arr)
    assert out.equals(arr)


def test_runs_pick_rle_and_compress():
    vals = np.repeat(np.arange(20, dtype=np.int32), 500)
    arr = pa.array(vals)
    out, buf = rt(arr)
    assert out.equals(arr)
    assert len(buf) < 500  # 20 runs -> tiny


def test_narrow_range_picks_for_bp():
    rng = np.random.default_rng(2)
    vals = rng.integers(10**9, 10**9 + 16, size=4000).astype(np.int64)
    arr = pa.array(vals)
    out, buf = rt(arr)
    assert out.equals(arr)
    assert len(buf) < 4000 * 1 + 200  # ~4 bits/value + headers


def test_empty_arrays():
    for arr in [pa.array([], pa.int32()), pa.array([], pa.string()), pa.array([], pa.list_(pa.int32()))]:
        out, _ = rt(arr)
        assert out.equals(arr)


def test_compression_fallback_random_floats():
    rng = np.random.default_rng(3)
    arr = pa.array(rng.normal(size=5000))
    out, _ = rt(arr)
    assert np.asarray(out).tobytes() == np.asarray(arr).tobytes()


# ---- nested structs: the vectorized Dremel-shredding analogue
# (reference dremel/read.go:10-42, read_repeated.go:62-118,
#  write_optional.go:73-97, write_repeated.go:104-127)

def test_struct_optional_fields():
    arr = pa.array(
        [{"name": "golf", "difficulty": 3}, None, {"name": "chess", "difficulty": None}],
        pa.struct([("name", pa.string()), ("difficulty", pa.int32())]),
    )
    out, buf = rt(arr)
    assert out.equals(arr)
    from parquet_spark.codecs import blocks as blk
    d = blk.describe(buf)
    assert d["dtype"] == "struct" and "name" in d["fields"]


def test_list_of_struct_repeated_group():
    arr = pa.array(
        [[{"code": "en", "n": 1}, {"code": "de", "n": 2}], [], None, [{"code": None, "n": 7}]],
        pa.list_(pa.struct([("code", pa.string()), ("n", pa.int64())])),
    )
    out, _ = rt(arr)
    assert out.equals(arr)


def test_struct_deep_nesting_with_list():
    arr = pa.array(
        [{"a": [1, 2, 3], "b": {"x": "hello"}}, {"a": [], "b": None}],
        pa.struct([("a", pa.list_(pa.int32())), ("b", pa.struct([("x", pa.string())]))]),
    )
    out, _ = rt(arr)
    assert out.equals(arr)


def test_struct_per_leaf_codec_choice():
    n = 20000
    arr = pa.StructArray.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(np.random.default_rng(0).choice(["a", "b", "c"], n)),
        ],
        names=["seq", "cat"],
    )
    out, buf = rt(arr)
    assert out.equals(arr)
    assert len(buf) < arr.nbytes / 3  # each leaf independently compressed


def test_dremel_paper_document_example():
    """The canonical Document r1/r2 from the Dremel paper (reference golden
    levels at /root/reference/cmd/parquetgen/dremel/dremel_test.go:53-87,
    schema testcases/doc/doc.go:5-24): repeated group inside repeated group
    with optional leaves — here the nesting lives in the recursive block
    tree instead of def/rep level vectors, and must round-trip exactly."""
    lang = pa.struct([("code", pa.string()), ("country", pa.string())])
    name = pa.struct([("languages", pa.list_(lang)), ("url", pa.string())])
    doc = pa.struct([("doc_id", pa.int64()), ("links", pa.struct([("backward", pa.list_(pa.int64())), ("forward", pa.list_(pa.int64()))])), ("names", pa.list_(name))])
    r1 = {
        "doc_id": 10,
        "links": {"backward": [], "forward": [20, 40, 60]},
        "names": [
            {"languages": [{"code": "en-us", "country": "us"}, {"code": "en", "country": None}], "url": "http://A"},
            {"languages": [], "url": "http://B"},
            {"languages": [{"code": "en-gb", "country": "gb"}], "url": None},
        ],
    }
    r2 = {
        "doc_id": 20,
        "links": {"backward": [10, 30], "forward": [80]},
        "names": [{"languages": [], "url": "http://C"}],
    }
    arr = pa.array([r1, r2], doc)
    out, _ = rt(arr)
    assert out.equals(arr)


def test_explicit_page_compressions_roundtrip():
    """Reference page-compression parity (fields.go:404-435 snappy/gzip;
    plus zstd/lz4 from pyarrow): explicit compression choices round-trip
    and record themselves in the block header."""
    from parquet_spark.codecs import blocks as blk

    rng = np.random.default_rng(7)
    arr = pa.array(rng.integers(0, 2**40, 20000).astype(np.int64))
    for comp in ("snappy", "gzip", "zstd", "lz4", "none"):
        buf = blk.encode_array(arr, codec="plain", compression=comp)
        d = blk.describe(buf)
        assert blk.decode_array(buf).equals(arr), comp
        if comp != "none":
            assert d["compression"] in (comp, "none"), d  # "none" if not worth it


def test_decimal128_blocks_roundtrip():
    """decimal128 blocks: two 64-bit word streams with independent codec
    choices; precision/scale ride the header's reserved slot. Low
    precision compresses like int64 (high words are sign extension);
    precision 38 stays exact through real high words."""
    from decimal import Decimal

    from parquet_spark.codecs import blocks as blk

    cases = [
        (12, 2, [Decimal("123.45"), Decimal("-9999999999.99"), None, Decimal("0.01")] * 500),
        (38, 10, [Decimal("12345678901234567890123456.7890123456"),
                  Decimal("-" + "9" * 28 + "." + "9" * 10), None] * 500),
        (5, 0, [Decimal(i % 97) for i in range(3000)]),
        (38, 0, [Decimal(2**100 + i) for i in range(1000)]),
        (10, 3, []),
    ]
    import pyarrow as pa

    for p, s, vals in cases:
        arr = pa.array(vals, pa.decimal128(p, s))
        buf = blk.encode_array(arr)
        assert blk.decode_array(buf).equals(arr), (p, s)
        d = blk.describe(buf)
        assert d["dtype"] == "decimal128" and d["n"] == len(vals)
    # sign-extension high words make the low-precision block tiny
    money = pa.array([Decimal("19.99"), Decimal("4.50")] * 4000, pa.decimal128(12, 2))
    assert len(blk.encode_array(money)) < 16 * len(money) // 20


def test_decimal256_rejected_loudly():
    """decimal256 (precision > 38) is 32 bytes/value — the 16-byte encode
    path would silently corrupt it (review finding); reject at type
    dispatch instead."""
    import pyarrow as pa
    import pytest

    from parquet_spark.codecs import blocks as blk

    arr = pa.array([123, -456, 7], pa.decimal256(50, 0))
    with pytest.raises(TypeError, match="precision"):
        blk.encode_array(arr)


def test_map_roundtrip_shapes():
    """map<k,v> rides the list-of-struct block shape (reference has no map
    support at all — README.md limitation; this is engine-added)."""
    cases = [
        pa.array([[("a", 1), ("b", 2)], None, [], [("c", None)]],
                 pa.map_(pa.string(), pa.int64())),
        pa.array([], pa.map_(pa.string(), pa.string())),
        pa.array([None, None], pa.map_(pa.int64(), pa.float64())),
        pa.array([[(i, [1.5, 2.5])] for i in range(10)],
                 pa.map_(pa.int64(), pa.list_(pa.float64()))),
        pa.array([[("m", {"x": 3})]],
                 pa.map_(pa.string(), pa.struct([("x", pa.int64())]))),
    ]
    for arr in cases:
        out, buf = rt(arr)
        assert out.equals(arr), arr.type
        d = blocks.describe(buf)
        assert d["dtype"] == "map" and d["codec"].startswith("map<list<struct<key:")


def test_map_dict_kicks_in_on_repeated_keys():
    """Metadata-style maps (few distinct keys) must dictionary-encode the
    key stream, not store every repetition plain."""
    arr = pa.array(
        [[("lang", "en"), ("src", "web")] for _ in range(5000)],
        pa.map_(pa.string(), pa.string()),
    )
    out, buf = rt(arr)
    assert out.equals(arr)
    d = blocks.describe(buf)
    key_codec = d["child"]["child"]["fields"]["key"]["codec"]
    assert key_codec in ("dict", "rle", "fsst"), d["codec"]
    assert len(buf) < arr.nbytes / 4


@pytest.mark.parametrize("fn", [blocks.decode_array, blocks.describe])
def test_corrupt_payload_raises_named_error(fn):
    """A payload shorter than its header, or than the body its header
    declares, raises ValueError naming the corruption instead of a raw
    struct.error or a silently short-sliced body."""
    buf = blocks.encode_array(pa.array(np.arange(1000, dtype=np.int64)))
    assert fn(buf) is not None
    for bad in (b"\xde\xad\xbe\xef", b"", buf[:23]):
        with pytest.raises(ValueError, match="corrupt block payload: .*shorter than the 24-byte header"):
            fn(bad)
    for bad in (buf[:-1], buf[:24], memoryview(buf)[:40]):
        with pytest.raises(ValueError, match="corrupt block payload: header declares a"):
            fn(bad)
    # a longer buffer is not corrupt: nested blocks are read from slices
    assert fn(buf + b"\0" * 8) is not None
