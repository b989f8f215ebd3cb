"""Self-describing encoded-block container — the engine's page format.

Replaces the reference's Parquet page + thrift header machinery
(/root/reference/fields.go:96-135 required pages, :232-317 optional pages,
/root/reference/parquet.go:154-186 page headers) with a compact numpy-struct
header. One block = one (partition-chunk, column); list/string columns nest
child blocks (offsets/lengths + values), mirroring how Arrow replaces
Dremel repetition levels with ListArray offsets (SURVEY.md §1.4).

Block layout:
    magic  'PSB1'                      4 bytes
    u8 version  u8 codec  u8 compression  u8 flags (bit0 = has validity)
    u8 dtype    u8 child_dtype (lists)  u16 reserved
    u32 n_values   u32 body_len   u32 raw_len (body before compression)
    [body: compressed(validity bitmap? + codec payload)]

Null semantics follow the reference's optional columns (values stream holds
only non-null entries, /root/reference/fields.go:232-271) with the def-level
stream replaced by an LSB-first validity bitmap.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from parquet_spark.codecs import (
    CODEC_IDS,
    CODEC_NAMES,
    alp,
    delta,
    dictionary,
    forbp,
    fsst,
    plain,
    rle,
)
from parquet_spark.codecs import bitpack as bitpack_mod
from parquet_spark.stats import analyze, chooser
from parquet_spark.util import bit_length

MAGIC = b"PSB1"
VERSION = 1
_HEADER = struct.Struct("<4sBBBBBBHIII")

FLAG_VALIDITY = 1

# dtype ids
_DTYPES = {
    "int8": 0, "int16": 1, "int32": 2, "int64": 3,
    "uint8": 4, "uint16": 5, "uint32": 6, "uint64": 7,
    "float32": 8, "float64": 9, "bool": 10,
    "string": 11, "binary": 12, "list": 13,
    "timestamp_us": 14, "date32": 15, "large_string": 16,
    "struct": 17, "decimal128": 18, "map": 19,
}
_DTYPE_NAMES = {v: k for k, v in _DTYPES.items()}

_NUMPY_OF = {
    "int8": np.int8, "int16": np.int16, "int32": np.int32, "int64": np.int64,
    "uint8": np.uint8, "uint16": np.uint16, "uint32": np.uint32, "uint64": np.uint64,
    "float32": np.float32, "float64": np.float64,
    "timestamp_us": np.int64, "date32": np.int32,
}

COMPRESSIONS = {"none": 0, "snappy": 1, "zstd": 2, "gzip": 3, "lz4": 4}
_COMPRESSION_NAMES = {v: k for k, v in COMPRESSIONS.items()}


def _compress(name: str, body: bytes) -> bytes:
    if name == "none":
        return body
    return pa.Codec(name).compress(body, asbytes=True)


def _decompress(name: str, body: bytes, raw_len: int) -> bytes:
    if name == "none":
        return body
    return pa.Codec(name).decompress(body, raw_len, asbytes=True)


def _arrow_dtype_name(typ: pa.DataType) -> str:
    if pa.types.is_timestamp(typ):
        return "timestamp_us"
    if pa.types.is_date32(typ):
        return "date32"
    if pa.types.is_large_string(typ):
        return "large_string"
    if pa.types.is_string(typ):
        return "string"
    if pa.types.is_binary(typ):
        return "binary"
    if pa.types.is_boolean(typ):
        return "bool"
    if pa.types.is_map(typ):
        return "map"
    if pa.types.is_list(typ):
        return "list"
    if pa.types.is_struct(typ):
        return "struct"
    if pa.types.is_float32(typ):
        return "float32"
    if pa.types.is_float64(typ):
        return "float64"
    if pa.types.is_decimal128(typ):
        return "decimal128"
    if pa.types.is_decimal(typ):  # decimal256: 32-byte values, not encodable
        raise TypeError(f"unsupported decimal width {typ} (precision > 38)")
    return str(typ)


# ----------------------------------------------------------- int kernels

def _encode_ints(vals: np.ndarray, codec: str) -> bytes:
    if codec == "plain":
        return plain.encode_numeric(vals)
    if codec == "for_bp":
        return forbp.encode(vals)
    if codec == "dict":
        return dictionary.encode_numeric(vals)
    if codec == "rle":
        # FOR-shifted RLE: i64 min + u8 width + hybrid stream
        if len(vals) == 0:
            return struct.pack("<qB", 0, 0) + rle.encode(np.zeros(0, np.uint64), 0)
        if vals.dtype == np.uint64:
            vmin_u = np.uint64(vals.min())
            shifted = vals - vmin_u
            vmin_ser = int(vmin_u) - ((int(vmin_u) >> 63) << 64)
        else:
            s64 = vals.astype(np.int64)
            vmin = int(s64.min())
            shifted = (s64.view(np.uint64) - np.uint64(vmin & 0xFFFFFFFFFFFFFFFF))
            vmin_ser = vmin
        width = bit_length(int(shifted.max())) if len(shifted) else 0
        return struct.pack("<qB", vmin_ser, width) + rle.encode(shifted, width)
    if codec == "bitpack":
        u = vals.astype(np.uint64)
        width = bit_length(int(u.max())) if len(u) else 0
        return struct.pack("<B", width) + bitpack_mod.pack(u, width)
    if codec == "delta_bp":
        return delta.encode(vals)
    raise ValueError(f"codec {codec} not valid for ints")


def _decode_ints(buf: bytes, n: int, dtype: np.dtype, codec: str) -> np.ndarray:
    if codec == "plain":
        return plain.decode_numeric(buf, n, dtype)
    if codec == "for_bp":
        return forbp.decode(buf, n, dtype)
    if codec == "dict":
        return dictionary.decode_numeric(buf, n, dtype)
    if codec == "rle":
        vmin, width = struct.unpack_from("<qB", buf, 0)
        vals, _ = rle.decode(memoryview(buf)[9:], n, width)
        out = vals + np.uint64(vmin & 0xFFFFFFFFFFFFFFFF)
        if np.dtype(dtype) == np.uint64:
            return out
        return out.view(np.int64).astype(dtype, copy=False)
    if codec == "bitpack":
        (width,) = struct.unpack_from("<B", buf, 0)
        return bitpack_mod.unpack(memoryview(buf)[1:], n, width).astype(dtype, copy=False)
    if codec == "delta_bp":
        return delta.decode(buf, n, dtype)
    raise ValueError(f"codec {codec} not valid for ints")


# -------------------------------------------------------- string kernels

def _encode_string_body(offsets: np.ndarray, data: np.ndarray, codec: str) -> bytes:
    if codec == "dict":
        return dictionary.encode_strings(offsets, data)
    # lengths sub-block (auto int codec) + data sub-block
    lens = np.diff(offsets).astype(np.int32)
    len_codec = chooser.choose_int_codec(analyze.block_stats(lens), 4)
    len_body = _encode_ints(lens, len_codec)
    if codec == "fsst":
        data_body = fsst.encode(data)
    else:
        data_body = np.ascontiguousarray(data, dtype=np.uint8).tobytes()
    return (
        struct.pack("<BII", CODEC_IDS[len_codec], len(len_body), len(data_body))
        + len_body
        + data_body
    )


def _decode_string_body(buf: bytes, n: int, codec: str) -> tuple[np.ndarray, np.ndarray]:
    if codec == "dict":
        return dictionary.decode_strings(buf, n)
    len_codec_id, len_len, data_len = struct.unpack_from("<BII", buf, 0)
    pos = 9
    lens = _decode_ints(buf[pos : pos + len_len], n, np.int32, CODEC_NAMES[len_codec_id])
    pos += len_len
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if codec == "fsst":
        data = fsst.decode(memoryview(buf)[pos : pos + data_len], int(offsets[-1]))
    else:
        data = np.frombuffer(buf, dtype=np.uint8, count=int(offsets[-1]), offset=pos)
    return offsets.astype(np.int32), data


# ------------------------------------------------------------ public API

def encode_array(arr: pa.Array, codec: str | None = None, compression: str | None = None) -> bytes:
    """Encode one Arrow array into a self-describing block. codec=None →
    stats-driven auto-selection (SURVEY.md §7 Phase 2)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    typ = arr.type
    dt_name = _arrow_dtype_name(typ)
    n = len(arr)
    flags = 0
    validity = b""
    if arr.null_count:
        flags |= FLAG_VALIDITY
        mask = ~np.asarray(arr.is_null())
        validity = np.packbits(mask, bitorder="little").tobytes()
        dense = arr.drop_null()
    else:
        dense = arr

    child_dt = 0
    if dt_name == "list":
        import pyarrow.compute as pc

        child_name = _arrow_dtype_name(typ.value_type)
        child_dt = _DTYPES[child_name]
        # lengths sub-block + recursively encoded child values block
        # (Arrow list offsets replace Dremel repetition levels, SURVEY.md §1.4)
        lens = np.asarray(pc.list_value_length(dense), dtype=np.int32)
        flat = pc.list_flatten(dense)
        len_codec = chooser.choose_int_codec(analyze.block_stats(lens), 4)
        len_body = _encode_ints(lens, len_codec)
        child_block = encode_array(flat, codec=codec, compression=compression)
        body = struct.pack("<BII", CODEC_IDS[len_codec], len(len_body), len(child_block)) + len_body + child_block
        codec_name, comp = "plain", "none"
    elif dt_name == "map":
        # map<k,v> reuses the existing list-of-struct block shape (the
        # reference has no map support at all — README.md limitation):
        # one nested list block whose entries struct holds key/value child
        # blocks, each with its own codec choice. LLM training tables lean
        # on map<string,string> metadata columns, so dict/fsst kick in on
        # the key stream exactly as for a string column.
        lst = dense.cast(
            pa.list_(pa.struct([("key", typ.key_type), ("value", typ.item_type)]))
        )
        body = encode_array(lst, codec=codec, compression=compression)
        codec_name, comp = "plain", "none"
    elif dt_name == "struct":
        # vectorized Dremel shredding (reference dremel/read.go:10-42,
        # read_repeated.go:62-118): each leaf field becomes its own
        # recursively-encoded child block with an independent codec choice;
        # nesting depth lives in the block tree, not in def/rep levels
        parts = []
        for i, f in enumerate(typ):
            child_block = encode_array(dense.field(i), codec=codec, compression=compression)
            name_b = f.name.encode()
            parts.append(struct.pack("<HI", len(name_b), len(child_block)) + name_b + child_block)
        body = struct.pack("<H", typ.num_fields) + b"".join(parts)
        codec_name, comp = "plain", "none"
    elif dt_name == "decimal128":
        # unscaled 128-bit ints as two 64-bit word streams with independent
        # codec choices: for precision ≤ 18 the high words are pure sign
        # extension (two values) and RLE/dict them away, so money-style
        # columns pay int64 cost while precision-38 stays exact
        if not (0 <= typ.scale <= 255):
            raise ValueError(f"decimal scale {typ.scale} outside the encodable 0..255 range")
        if len(dense):
            words = np.frombuffer(
                dense.buffers()[1], np.uint64, 2 * len(dense), offset=dense.offset * 16
            ).reshape(-1, 2)
        else:
            words = np.zeros((0, 2), np.uint64)
        lo, hi = words[:, 0].copy(), words[:, 1].copy().view(np.int64)
        lo_codec = codec or chooser.choose_int_codec(analyze.block_stats(lo), 8)
        hi_codec = chooser.choose_int_codec(analyze.block_stats(hi), 8)
        lo_body = _encode_ints(lo, lo_codec)
        body = struct.pack("<BBI", CODEC_IDS[lo_codec], CODEC_IDS[hi_codec], len(lo_body))
        body += lo_body + _encode_ints(hi, hi_codec)
        codec_name = lo_codec
        comp = compression if compression is not None else "none"
    elif dt_name in ("string", "large_string", "binary"):
        sa = dense
        if dt_name == "large_string":
            sa = sa.cast(pa.string())
        buffers = sa.buffers()
        off = np.frombuffer(buffers[1], dtype=np.int32, count=len(sa) + 1, offset=sa.offset * 4) if len(sa) else np.zeros(1, np.int32)
        base = int(off[0])
        data_buf = buffers[2]
        data = (
            np.frombuffer(data_buf, dtype=np.uint8, count=int(off[-1]) - base, offset=base)
            if data_buf is not None and int(off[-1]) - base > 0
            else np.zeros(0, np.uint8)
        )
        off = (off - base).astype(np.int32)
        codec_name = codec or chooser.choose_string_codec(
            analyze.string_stats(off, data), general_compression=compression != "none"
        )
        body = _encode_string_body(off, data, codec_name)
        comp = compression if compression is not None else ("zstd" if codec_name == "plain" and len(data) > 512 else "none")
    elif dt_name == "bool":
        vals = np.asarray(dense, dtype=bool)
        body = plain.encode_bool(vals)
        codec_name, comp = "plain", "none"
    else:
        npdt = _NUMPY_OF[dt_name]
        if dt_name == "timestamp_us":
            vals = np.asarray(dense.cast(pa.int64()), dtype=np.int64)
        elif dt_name == "date32":
            vals = np.asarray(dense.cast(pa.int32()), dtype=np.int32)
        else:
            vals = np.asarray(dense, dtype=npdt)
        kind = np.dtype(npdt).kind
        if kind == "f":
            # ALP first (decimal floats -> exact int mantissas, then the
            # full int-codec arsenal); dict on bit patterns (bit-exact for
            # NaN payloads); else plain
            e_alp = alp.find_exponent(vals) if codec in (None, "alp") else None
            st = analyze.block_stats(vals.view(np.uint32 if vals.itemsize == 4 else np.uint64))
            if e_alp is not None:
                ints = alp.mantissas(vals, e_alp)
                int_codec = chooser.choose_int_codec(analyze.block_stats(ints), 8)
                body = struct.pack("<BB", e_alp, CODEC_IDS[int_codec]) + _encode_ints(ints, int_codec)
                codec_name, comp = "alp", "none"
            elif codec == "alp":
                raise ValueError("alp codec requested but block is not exactly decimal-representable")
            else:
                codec_name = codec or chooser.choose_float_codec(st)
                if codec_name == "dict":
                    body = dictionary.encode_numeric(vals.view(np.uint32 if vals.itemsize == 4 else np.uint64))
                    comp = "none"
                else:
                    codec_name = "plain"
                    body = plain.encode_numeric(vals)
                    comp = compression if compression is not None else ("zstd" if len(body) > 512 else "none")
        else:
            codec_name = codec or chooser.choose_int_codec(analyze.block_stats(vals), vals.itemsize)
            body = _encode_ints(vals, codec_name)
            comp = compression if compression is not None else "none"

    raw = validity + body
    if compression is None and comp == "none" and len(raw) > 512 and dt_name not in ("list", "struct", "map"):
        # trial general compression on top of any codec (lists skip it:
        # their child blocks already made their own compression choice)
        comp = "zstd"
    comp = comp if len(raw) > 64 else "none"
    payload = _compress(comp, raw)
    if len(payload) >= len(raw) - 8:  # compression not worth it
        comp, payload = "none", raw
    # the 2-byte reserved slot carries (precision, scale) for decimals
    reserved = (typ.precision << 8) | typ.scale if dt_name == "decimal128" else 0
    header = _HEADER.pack(
        MAGIC, VERSION, CODEC_IDS[codec_name], COMPRESSIONS[comp], flags,
        _DTYPES[dt_name], child_dt, reserved, n, len(payload), len(raw),
    )
    return header + payload


def _read_header(mv: memoryview) -> tuple:
    """Unpack and check one block header. A payload shorter than the
    header, or than the body length the header declares, raises
    ValueError("corrupt block payload: ...")."""
    if len(mv) < _HEADER.size:
        raise ValueError(f"corrupt block payload: {len(mv)} bytes, shorter than the {_HEADER.size}-byte header")
    fields = _HEADER.unpack_from(mv, 0)
    if fields[0] != MAGIC:
        raise ValueError("bad block magic")
    body_len = fields[9]
    if _HEADER.size + body_len > len(mv):
        raise ValueError(
            f"corrupt block payload: header declares a {body_len}-byte body, "
            f"{len(mv) - _HEADER.size} bytes follow"
        )
    return fields


def decode_array(buf: bytes | memoryview) -> pa.Array:
    """Decode one block back to an Arrow array (inverse of encode_array)."""
    mv = memoryview(buf)
    magic, version, codec_id, comp_id, flags, dt_id, child_dt, reserved, n, body_len, raw_len = _read_header(mv)
    codec_name = CODEC_NAMES[codec_id]
    dt_name = _DTYPE_NAMES[dt_id]
    body_mv = mv[_HEADER.size : _HEADER.size + body_len]
    comp_name = _COMPRESSION_NAMES[comp_id]
    # uncompressed bodies stay zero-copy views; decompressors copy anyway
    raw = body_mv if comp_name == "none" else _decompress(comp_name, bytes(body_mv), raw_len)

    mask = None
    pos = 0
    n_dense = n
    if flags & FLAG_VALIDITY:
        vbytes = (n + 7) // 8
        mask = np.unpackbits(np.frombuffer(raw, np.uint8, vbytes), count=n, bitorder="little").astype(bool)
        pos = vbytes
        n_dense = int(mask.sum())
    body = raw[pos:]

    if dt_name == "list":
        len_codec_id, len_len, child_len = struct.unpack_from("<BII", body, 0)
        p = 9
        lens = _decode_ints(body[p : p + len_len], n_dense, np.int32, CODEC_NAMES[len_codec_id])
        p += len_len
        child = decode_array(memoryview(body)[p : p + child_len])
        offsets = np.zeros(n_dense + 1, dtype=np.int32)
        np.cumsum(lens, out=offsets[1:])
        dense = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), child)
        return _scatter_nulls(dense, mask, n)
    if dt_name == "map":
        inner = decode_array(memoryview(body))  # list<struct<key,value>>
        entries = inner.values
        dense = pa.MapArray.from_arrays(
            inner.offsets, entries.field("key"), entries.field("value")
        )
        return _scatter_nulls(dense, mask, n)
    if dt_name == "struct":
        (n_fields,) = struct.unpack_from("<H", body, 0)
        p = 2
        names, children = [], []
        for _ in range(n_fields):
            name_len, child_len = struct.unpack_from("<HI", body, p)
            p += 6
            names.append(bytes(body[p : p + name_len]).decode())
            p += name_len
            children.append(decode_array(memoryview(body)[p : p + child_len]))
            p += child_len
        dense = pa.StructArray.from_arrays(children, names=names)
        return _scatter_nulls(dense, mask, n)
    if dt_name == "decimal128":
        precision, scale = reserved >> 8, reserved & 0xFF
        lo_c, hi_c, lo_len = struct.unpack_from("<BBI", body, 0)
        lo = _decode_ints(bytes(body[6 : 6 + lo_len]), n_dense, np.uint64, CODEC_NAMES[lo_c])
        hi = _decode_ints(bytes(body[6 + lo_len :]), n_dense, np.int64, CODEC_NAMES[hi_c])
        words = np.empty((n_dense, 2), np.uint64)
        words[:, 0] = lo
        words[:, 1] = hi.view(np.uint64)
        dense = pa.Array.from_buffers(
            pa.decimal128(precision, scale), n_dense,
            [None, pa.py_buffer(np.ascontiguousarray(words).tobytes())],
        )
        return _scatter_nulls(dense, mask, n)
    if dt_name in ("string", "large_string", "binary"):
        offsets, data = _decode_string_body(body, n_dense, codec_name)
        cls = pa.binary() if dt_name == "binary" else pa.string()
        dense = pa.Array.from_buffers(
            cls, n_dense,
            [None, pa.py_buffer(np.ascontiguousarray(offsets, "<i4").tobytes()), pa.py_buffer(np.ascontiguousarray(data, np.uint8).tobytes())],
        )
        if dt_name == "large_string":
            dense = dense.cast(pa.large_string())
        return _scatter_nulls(dense, mask, n)
    if dt_name == "bool":
        vals = plain.decode_bool(body, n_dense)
        return _scatter_nulls(pa.array(vals), mask, n)

    npdt = _NUMPY_OF[dt_name]
    kind = np.dtype(npdt).kind
    if kind == "f" and codec_name == "alp":
        e_alp, int_codec_id = struct.unpack_from("<BB", body, 0)
        ints = _decode_ints(body[2:] if isinstance(body, bytes) else bytes(body[2:]), n_dense, np.int64, CODEC_NAMES[int_codec_id])
        vals = alp.reconstruct(ints, e_alp, npdt)
    elif kind == "f" and codec_name == "dict":
        uvals = dictionary.decode_numeric(body, n_dense, np.uint32 if np.dtype(npdt).itemsize == 4 else np.uint64)
        vals = uvals.view(npdt)
    else:
        vals = _decode_ints(body, n_dense, npdt, codec_name) if kind in "iu" or dt_name in ("timestamp_us", "date32") else plain.decode_numeric(body, n_dense, npdt)
    if dt_name == "timestamp_us":
        dense = pa.array(vals.astype("int64"), pa.int64()).cast(pa.timestamp("us"))
    elif dt_name == "date32":
        dense = pa.array(vals.astype("int32"), pa.int32()).cast(pa.date32())
    else:
        dense = pa.array(vals, pa.from_numpy_dtype(npdt))
    return _scatter_nulls(dense, mask, n)


def _scatter_nulls(dense: pa.Array, mask: np.ndarray | None, n: int) -> pa.Array:
    """Re-insert nulls per validity mask — the vectorized analogue of the
    reference's def-level scatter (/root/reference/fields.go:275-317).
    Arrow `take` with a null index yields a null output slot, which handles
    every nested type uniformly."""
    if mask is None:
        return dense
    idx = np.zeros(n, dtype=np.int64)
    idx[mask] = np.arange(int(mask.sum()))
    idx_arr = pa.array(idx, pa.int64(), mask=~mask)  # mask=True -> null index
    return dense.take(idx_arr)


def describe(buf: bytes | memoryview) -> dict:
    """Parse block headers (recursively for lists/strings) without decoding
    values — feeds the manifest's codec/compression lineage columns."""
    mv = memoryview(buf)
    magic, _v, codec_id, comp_id, flags, dt_id, child_dt, _, n, body_len, raw_len = _read_header(mv)
    out = {
        "codec": CODEC_NAMES[codec_id],
        "compression": _COMPRESSION_NAMES[comp_id],
        "dtype": _DTYPE_NAMES[dt_id],
        "n": n,
        "enc_bytes": _HEADER.size + body_len,
    }
    if _DTYPE_NAMES[dt_id] == "struct":
        raw = _decompress(_COMPRESSION_NAMES[comp_id], bytes(mv[_HEADER.size : _HEADER.size + body_len]), raw_len)
        pos = ((n + 7) // 8) if flags & FLAG_VALIDITY else 0
        (n_fields,) = struct.unpack_from("<H", raw, pos)
        p = pos + 2
        fields = {}
        for _ in range(n_fields):
            name_len, child_len = struct.unpack_from("<HI", raw, p)
            p += 6
            fname = bytes(raw[p : p + name_len]).decode()
            p += name_len
            fields[fname] = describe(memoryview(raw)[p : p + child_len])
            p += child_len
        out["fields"] = fields
        out["codec"] = "struct<" + ",".join(f"{k}:{v['codec']}" for k, v in fields.items()) + ">"
        return out
    if _DTYPE_NAMES[dt_id] == "map":
        raw = _decompress(_COMPRESSION_NAMES[comp_id], bytes(mv[_HEADER.size : _HEADER.size + body_len]), raw_len)
        pos = ((n + 7) // 8) if flags & FLAG_VALIDITY else 0
        child = describe(memoryview(raw)[pos:])
        out["child"] = child
        out["codec"] = f"map<{child['codec']}>"
        out["compression"] = child["compression"] if child["compression"] != "none" else out["compression"]
        return out
    if _DTYPE_NAMES[dt_id] == "list":
        raw = _decompress(_COMPRESSION_NAMES[comp_id], bytes(mv[_HEADER.size : _HEADER.size + body_len]), raw_len)
        pos = ((n + 7) // 8) if flags & FLAG_VALIDITY else 0
        len_codec_id, len_len, child_len = struct.unpack_from("<BII", raw, pos)
        child = describe(memoryview(raw)[pos + 9 + len_len : pos + 9 + len_len + child_len])
        out["lengths_codec"] = CODEC_NAMES[len_codec_id]
        out["child"] = child
        out["codec"] = f"list<{child['codec']}>"
        out["compression"] = child["compression"] if child["compression"] != "none" else out["compression"]
    return out
