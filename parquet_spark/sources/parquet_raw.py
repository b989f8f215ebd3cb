"""Standards-compliant Parquet v1 writer/reader built from the public
format spec (parquet-format thrift definitions + thrift compact protocol)
— no pyarrow.parquet involved, so this module IS the interop proof.

The reference's entire deliverable is a file any Parquet reader can open:
`PAR1` magic + thrift FileMetaData footer (/root/reference/parquet.go:
217-260), page headers (:154-186), PLAIN values + RLE definition levels
for optional columns (fields.go:96-135,232-317). This module reproduces
that exact layout on the write side and parses it on the read side:

    PAR1
    [column chunk: page header (thrift compact) + def levels (RLE, 4-byte
     length prefix) + PLAIN values] ...
    FileMetaData (thrift compact)
    uint32 LE footer length
    PAR1

Scope (the reference's own envelope, plus dictionary encoding): flat /
one-level-list / nested-struct schemas, REQUIRED/OPTIONAL fields,
BOOLEAN/INT32/INT64/FLOAT/DOUBLE/BYTE_ARRAY, v1 data pages, PLAIN and
RLE_DICTIONARY value encodings (dict page + index pages, auto-chosen per
chunk by distinct-count), UNCOMPRESSED/SNAPPY/GZIP/ZSTD page compression.
The reader accepts default pyarrow/duckdb output (dictionary on, v1 OR
v2 data pages), including dict-encoded list elements: DATA_PAGE_V2's
uncompressed unframed level sections are reshaped into the v1 body
layout so one assembly path serves both page versions. It also decodes
the DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY /
BYTE_STREAM_SPLIT value encodings (codecs/pq_delta.py) — parquet-mr's
v2 write defaults.

Byte kernels are shared with the engine's own codecs: plain.py for PLAIN
values (encode parity with template_required.go:37-48 /
template_string.go:29-36 / template_bool.go:24-36) and rle.py for the
definition-level hybrid stream (identical to internal/rle/rle.go).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from parquet_spark.codecs import plain, rle

MAGIC = b"PAR1"

# parquet-format enums (public spec)
T_BOOLEAN, T_INT32, T_INT64, T_INT96, T_FLOAT, T_DOUBLE, T_BYTE_ARRAY = 0, 1, 2, 3, 4, 5, 6
T_FLBA = 7  # FIXED_LEN_BYTE_ARRAY (decimals, UUIDs)
REQUIRED, OPTIONAL, REPEATED = 0, 1, 2
ENC_PLAIN, ENC_PLAIN_DICT, ENC_RLE, ENC_BIT_PACKED, ENC_RLE_DICT = 0, 2, 3, 4, 8
ENC_DELTA_BP, ENC_DELTA_LEN, ENC_DELTA_BA, ENC_BSS = 5, 6, 7, 9
CODEC_IDS = {"none": 0, "snappy": 1, "gzip": 2, "lz4": 5, "zstd": 6}
CODEC_NAMES = {v: k for k, v in CODEC_IDS.items()}
PAGE_DATA, PAGE_INDEX, PAGE_DICT, PAGE_DATA_V2 = 0, 1, 2, 3
# ConvertedType enum (public parquet-format spec order)
CONVERTED_UTF8, CONVERTED_LIST, CONVERTED_DECIMAL, CONVERTED_DATE = 0, 3, 5, 6
CONVERTED_MAP, CONVERTED_MAP_KEY_VALUE = 1, 2
CONVERTED_TS_MILLIS, CONVERTED_TS_MICROS = 9, 10
CONVERTED_UINT_32, CONVERTED_UINT_64 = 13, 14


def _decimal_flba_len(precision: int) -> int:
    """Smallest byte length whose signed range holds 10^precision - 1
    (the parquet-mr minimal-FLBA sizing for DECIMAL)."""
    n = 1
    while 10**precision - 1 > (1 << (8 * n - 1)) - 1:
        n += 1
    return n


def _phys_of(t: pa.DataType) -> int | None:
    # decimal128 only: decimal256 (precision > 38) is 32 bytes/value and
    # the FLBA encode path reads 16 — reject at spec time, not corrupt
    if pa.types.is_decimal128(t) or pa.types.is_fixed_size_binary(t):
        return T_FLBA
    if pa.types.is_timestamp(t) and t.unit in ("us", "ms"):
        return T_INT64  # naive or tz-aware: epoch ints either way
    return _PA_TO_PHYS.get(t)


def _conv_of(t: pa.DataType) -> int | None:
    if pa.types.is_timestamp(t):
        return CONVERTED_TS_MICROS if t.unit == "us" else CONVERTED_TS_MILLIS
    return _PA_CONVERTED.get(t)


def _flba_len_of(t: pa.DataType) -> int:
    return _decimal_flba_len(t.precision) if pa.types.is_decimal(t) else t.byte_width

_PA_TO_PHYS = {
    pa.bool_(): T_BOOLEAN,
    pa.int32(): T_INT32,
    pa.int64(): T_INT64,
    pa.float32(): T_FLOAT,
    pa.float64(): T_DOUBLE,
    pa.string(): T_BYTE_ARRAY,
    pa.binary(): T_BYTE_ARRAY,
    # unsigned ints: stored as the same-width two's-complement physical
    # type, annotated with ConvertedType UINT_* so foreign readers recover
    # the unsigned semantics (ref cmd/parquetgen/gen/template.go:464-481)
    pa.uint32(): T_INT32,
    pa.uint64(): T_INT64,
    # temporal: epoch ints + the matching converted-type annotation
    pa.timestamp("us"): T_INT64,
    pa.timestamp("ms"): T_INT64,
    pa.date32(): T_INT32,
}
_PA_CONVERTED = {
    pa.string(): CONVERTED_UTF8,
    pa.uint32(): CONVERTED_UINT_32,
    pa.uint64(): CONVERTED_UINT_64,
    pa.timestamp("us"): CONVERTED_TS_MICROS,
    pa.timestamp("ms"): CONVERTED_TS_MILLIS,
    pa.date32(): CONVERTED_DATE,
}
_PHYS_NP = {T_INT32: np.int32, T_INT64: np.int64, T_FLOAT: np.float32, T_DOUBLE: np.float64}


def _bit_width(v: int) -> int:
    return max(int(v).bit_length(), 1)


# ===================================================== thrift compact protocol
# Public spec: field header (delta<<4)|type, zigzag ULEB128 ints, varint-
# length binary, (size<<4)|elemtype list headers, 0x00 struct terminator.

CT_STOP, CT_TRUE, CT_FALSE, CT_BYTE, CT_I16, CT_I32, CT_I64 = 0, 1, 2, 3, 4, 5, 6
CT_DOUBLE, CT_BINARY, CT_LIST, CT_SET, CT_MAP, CT_STRUCT = 7, 8, 9, 10, 11, 12


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


class TCWriter:
    """Minimal thrift-compact struct writer (fields must come id-ascending)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._last: list[int] = [0]

    def _header(self, fid: int, ctype: int) -> None:
        delta = fid - self._last[-1]
        if 0 < delta <= 15:
            self.buf.append((delta << 4) | ctype)
        else:
            self.buf.append(ctype)
            self.buf += _uvarint(_zigzag(fid))
        self._last[-1] = fid

    def i32(self, fid: int, v: int) -> None:
        self._header(fid, CT_I32)
        self.buf += _uvarint(_zigzag(v))

    def i64(self, fid: int, v: int) -> None:
        self._header(fid, CT_I64)
        self.buf += _uvarint(_zigzag(v))

    def boolean(self, fid: int, v: bool) -> None:
        self._header(fid, CT_TRUE if v else CT_FALSE)

    def binary(self, fid: int, v: bytes | str) -> None:
        if isinstance(v, str):
            v = v.encode()
        self._header(fid, CT_BINARY)
        self.buf += _uvarint(len(v)) + v

    def list_header(self, fid: int, elem_ctype: int, size: int) -> None:
        self._header(fid, CT_LIST)
        if size < 15:
            self.buf.append((size << 4) | elem_ctype)
        else:
            self.buf.append(0xF0 | elem_ctype)
            self.buf += _uvarint(size)

    def i32_list(self, fid: int, vals: list[int]) -> None:
        self.list_header(fid, CT_I32, len(vals))
        for v in vals:
            self.buf += _uvarint(_zigzag(v))

    def str_list(self, fid: int, vals: list[str]) -> None:
        self.list_header(fid, CT_BINARY, len(vals))
        for v in vals:
            b = v.encode()
            self.buf += _uvarint(len(b)) + b

    def struct_begin(self, fid: int) -> None:
        self._header(fid, CT_STRUCT)
        self._last.append(0)

    def struct_end(self) -> None:
        self.buf.append(CT_STOP)
        self._last.pop()

    def struct_list_begin(self, fid: int, size: int) -> None:
        self.list_header(fid, CT_STRUCT, size)

    def finish(self) -> bytes:
        """Terminate the top-level struct and return its bytes."""
        self.buf.append(CT_STOP)
        return bytes(self.buf)

    def elem_struct_begin(self) -> None:  # struct inside a list: fresh id context
        self._last.append(0)

    def elem_struct_end(self) -> None:
        self.buf.append(CT_STOP)
        self._last.pop()


class TCReader:
    """Generic thrift-compact parser: returns {field_id: value}, structs as
    nested dicts, lists as Python lists — unknown fields parse fine (needed
    to read pyarrow/duckdb footers with logical types, column orders...)."""

    def __init__(self, buf: memoryview, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos

    def _uvarint(self) -> int:
        out = shift = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def _zigzag(self) -> int:
        u = self._uvarint()
        return (u >> 1) ^ -(u & 1)

    def _value(self, ctype: int):
        if ctype in (CT_TRUE, CT_FALSE):
            return ctype == CT_TRUE
        if ctype == CT_BYTE:
            v = self.buf[self.pos]
            self.pos += 1
            return v
        if ctype in (CT_I16, CT_I32, CT_I64):
            return self._zigzag()
        if ctype == CT_DOUBLE:
            (v,) = struct.unpack_from("<d", self.buf, self.pos)
            self.pos += 8
            return v
        if ctype == CT_BINARY:
            n = self._uvarint()
            v = bytes(self.buf[self.pos : self.pos + n])
            self.pos += n
            return v
        if ctype in (CT_LIST, CT_SET):
            head = self.buf[self.pos]
            self.pos += 1
            size = head >> 4
            etype = head & 0x0F
            if size == 15:
                size = self._uvarint()
            if etype in (CT_TRUE, CT_FALSE):  # list bools are 1-byte values
                vals = [self.buf[self.pos + i] == 1 for i in range(size)]
                self.pos += size
                return vals
            return [self._value(etype) for _ in range(size)]
        if ctype == CT_STRUCT:
            return self.read_struct()
        raise ValueError(f"unsupported thrift compact type {ctype}")

    def read_struct(self) -> dict:
        out: dict = {}
        fid = 0
        while True:
            head = self.buf[self.pos]
            self.pos += 1
            if head == CT_STOP:
                return out
            delta = head >> 4
            ctype = head & 0x0F
            fid = fid + delta if delta else self._zigzag()
            out[fid] = self._value(ctype)


# ================================================================= writer


def _plain_encode(arr: pa.Array, phys: int) -> tuple[bytes, int]:
    """PLAIN bytes of the non-null values + num_values (incl nulls)."""
    dense = arr.drop_null() if arr.null_count else arr
    if phys == T_FLBA:
        n, t = len(dense), dense.type
        if pa.types.is_decimal(t):
            # unscaled 128-bit LE words → minimal-length big-endian
            # two's complement (exact: precision bounds the magnitude)
            ln = _decimal_flba_len(t.precision)
            if n:
                words = np.frombuffer(
                    dense.buffers()[1], np.uint8, 16 * n, offset=dense.offset * 16
                ).reshape(n, 16)
                body = np.ascontiguousarray(words[:, :ln][:, ::-1]).tobytes()
            else:
                body = b""
            return body, len(arr)
        ln = t.byte_width  # fixed_size_binary: raw bytes as-is
        if n:
            raw = np.frombuffer(dense.buffers()[1], np.uint8, ln * n, offset=dense.offset * ln)
            return raw.tobytes(), len(arr)
        return b"", len(arr)
    if phys == T_BOOLEAN:
        return plain.encode_bool(np.asarray(dense.cast(pa.bool_()))), len(arr)
    if phys == T_BYTE_ARRAY:
        vals = [v.encode() if isinstance(v, str) else v for v in dense.to_pylist()]
        return plain.encode_strings_ref(vals), len(arr)
    npdt = _PHYS_NP[phys]
    return plain.encode_numeric(np.asarray(dense).astype(npdt, copy=False)), len(arr)


# ============================================== column / page statistics
# The reference stamps min/max/null-count into every DataPageHeader
# (/root/reference/parquet.go:164-169; kernels gen/template_required.go:
# 71-113, string sentinels gen/template_string.go:82-136). We write the
# same per-page bounds PLUS the merged column-chunk Statistics (field 12
# of ColumnMetaData) — the form duckdb/pyarrow/Spark actually prune on.

_STAT_TRUNC = 64  # BYTE_ARRAY bound cap before prefix truncation


def _minmax(dense: pa.Array):
    """(min, max) of a dense (null-free) page as python values, or None.

    Orders follow the parquet spec's per-logical-type column orders:
    signed for ints/temporal, unsigned for UINT_* and raw bytes,
    code-point (== UTF-8 byte) order for strings, numeric for DECIMAL.
    Floats skip NaN and normalize zeros to the spec-recommended bounds
    (-0.0 as min, +0.0 as max)."""
    if not len(dense):
        return None
    t = dense.type
    if pa.types.is_floating(t):
        v = dense.to_numpy(zero_copy_only=False)
        v = v[~np.isnan(v)]
        if not len(v):
            return None
        mn, mx = v.min().item(), v.max().item()
        return (-0.0 if mn == 0.0 else mn), (0.0 if mx == 0.0 else mx)
    if pa.types.is_fixed_size_binary(t):
        # pyarrow 16 segfaults casting a SLICED fixed_size_binary to
        # binary — rank rows lexicographically via numpy instead
        n, ln = len(dense), t.byte_width
        raw = np.frombuffer(
            dense.buffers()[1], np.uint8, n * ln, offset=dense.offset * ln
        ).reshape(n, ln)
        order = np.lexsort(raw[:, ::-1].T)  # column 0 = primary key
        return raw[order[0]].tobytes(), raw[order[-1]].tobytes()
    import pyarrow.compute as pc

    if pa.types.is_timestamp(t):
        dense = dense.cast(pa.int64())
    elif pa.types.is_date32(t):
        dense = dense.cast(pa.int32())
    mm = pc.min_max(dense)
    mn = mm["min"].as_py()
    return None if mn is None else (mn, mm["max"].as_py())


def _stat_encode(v, phys: int, t: pa.DataType) -> bytes | None:
    """Plain physical encoding of one stat bound (no length prefix).
    Unsigned ints fold to two's complement — same bit pattern the value
    stream stores, compared unsigned via the UINT_* annotation."""
    if phys == T_BOOLEAN:
        return b"\x01" if v else b"\x00"
    if phys == T_INT32:
        return struct.pack("<i", v - (1 << 32) if v >= 1 << 31 else v)
    if phys == T_INT64:
        return struct.pack("<q", v - (1 << 64) if v >= 1 << 63 else v)
    if phys == T_FLOAT:
        return struct.pack("<f", v)
    if phys == T_DOUBLE:
        return struct.pack("<d", v)
    if phys == T_BYTE_ARRAY:
        return v.encode() if isinstance(v, str) else bytes(v)
    if phys == T_FLBA:
        if pa.types.is_decimal(t):
            from decimal import Decimal

            unscaled = int(Decimal(v).scaleb(t.scale))
            return unscaled.to_bytes(_decimal_flba_len(t.precision), "big", signed=True)
        return bytes(v)
    return None


def _write_statistics(w: TCWriter, fid: int, mm, null_count: int, phys: int,
                      t: pa.DataType | None) -> None:
    """Emit a parquet Statistics struct as field `fid` of the enclosing
    struct. min_value/max_value (fields 5/6) whenever bounds exist; the
    deprecated signed-order min/max (fields 1/2) only where signed order
    is the type's true order (parquet-mr's compatibility rule — never for
    UTF8/binary/UINT/DECIMAL). Over-long BYTE_ARRAY bounds truncate to a
    64-byte prefix (min: plain prefix stays a lower bound; max: first
    non-0xFF-terminated prefix incremented) with is_*_value_exact=false."""
    enc = None
    if mm is not None and t is not None:
        mn_b, mx_b = _stat_encode(mm[0], phys, t), _stat_encode(mm[1], phys, t)
        mn_exact = mx_exact = True
        if phys == T_BYTE_ARRAY and mn_b is not None and len(mn_b) > _STAT_TRUNC:
            mn_b, mn_exact = mn_b[:_STAT_TRUNC], False
        if phys == T_BYTE_ARRAY and mx_b is not None and len(mx_b) > _STAT_TRUNC:
            up = bytearray(mx_b[:_STAT_TRUNC])
            while up and up[-1] == 0xFF:
                up.pop()
            if up:
                up[-1] += 1
                mx_b, mx_exact = bytes(up), False
            else:
                mn_b = mx_b = None  # bound is an all-0xFF prefix: omit the pair
        if mn_b is not None and mx_b is not None:
            enc = (mn_b, mx_b, mn_exact, mx_exact)
    w.struct_begin(fid)
    if enc is not None and (
        pa.types.is_signed_integer(t) or pa.types.is_floating(t)
        or pa.types.is_boolean(t) or pa.types.is_timestamp(t) or pa.types.is_date32(t)
    ):
        w.binary(1, enc[1])  # deprecated max (signed order only)
        w.binary(2, enc[0])  # deprecated min
    w.i64(3, null_count)
    if enc is not None:
        w.binary(5, enc[1])  # max_value
        w.binary(6, enc[0])  # min_value
        if not (enc[2] and enc[3]):
            w.boolean(7, enc[3])  # is_max_value_exact
            w.boolean(8, enc[2])  # is_min_value_exact
    w.struct_end()


def _list_levels(arr: pa.ListArray, outer_optional: bool, elem_optional: bool):
    """Dremel shredding of a one-level list column (the write side of
    /root/reference/fields.go:232-271 and dremel/write_repeated.go:104-127,
    vectorized): returns (rep, defs, dense_values, n_entries).

    Level meanings for `optional list<element>` (3-level LIST layout):
      rep 0 = new row, 1 = continuation within the row
      def 0 = null list, 1 = empty list, 2 = element slot
      (+1 when the element itself is optional: 2 = null element, 3 = value)
    """
    import pyarrow.compute as pc

    n = len(arr)
    lens = pc.list_value_length(arr).fill_null(0).to_numpy().astype(np.int64)
    null_rows = np.asarray(arr.is_null()) if arr.null_count else np.zeros(n, bool)
    d_list = 1 if outer_optional else 0
    d_entry = d_list + 1
    d_valid = d_entry + (1 if elem_optional else 0)
    entries_per_row = np.maximum(lens, 1)
    total = int(entries_per_row.sum())
    row_starts = np.zeros(n, np.int64)
    np.cumsum(entries_per_row[:-1], out=row_starts[1:])
    rep = np.ones(total, np.uint64)
    rep[row_starts] = 0
    is_elem = np.ones(total, bool)
    degenerate = lens == 0
    is_elem[row_starts[degenerate]] = False
    defs = np.empty(total, np.uint64)
    defs[~is_elem] = np.where(null_rows[degenerate], 0, d_list)
    values = arr.flatten()  # element slots of non-null rows, in row order
    if elem_optional and values.null_count:
        defs[is_elem] = d_entry + (~np.asarray(values.is_null())).astype(np.uint64)
    else:
        defs[is_elem] = d_valid
    return rep, defs, values.drop_null() if values.null_count else values, total


def _contains_list(t: pa.DataType) -> bool:
    if pa.types.is_list(t) or pa.types.is_map(t):
        return True
    if pa.types.is_struct(t):
        return any(_contains_list(c.type) for c in t)
    return False


def _leaf_specs(schema: pa.Schema) -> list[dict]:
    """Flatten the schema into leaf write specs — the reference's
    dotted-path struct flattening (/root/reference/cmd/parquetgen/parse/
    parse.go:108-114: nested structs become `a.b.c` leaf columns).

    kind="chain": non-repeated leaf (flat or nested in structs);
      path=[names...], chain=[(name, nullable)...], phys, leaf_type.
    kind="list": one-level list column (Dremel rep/def layout).
    kind="dremel": leaf under MIXED nesting (list-of-struct, list inside
      struct, nested lists — the reference's full Person shape,
      parquet_generated_test.go:326-373): path carries the full
      path_in_schema (incl. 'list'/'element' for each LIST level), ops is
      the node walk `_dremel_shred` executes, max_def/max_rep the level
      widths."""
    leaves: list[dict] = []

    def rec(f: pa.Field, path: list[str], chain: list[tuple[str, bool]]) -> None:
        path = path + [f.name]
        chain = chain + [(f.name, f.nullable)]
        if pa.types.is_struct(f.type):
            for child in f.type:
                rec(child, path, chain)
        elif _phys_of(f.type) is not None:
            leaves.append(dict(kind="chain", path=path, chain=chain,
                               phys=_phys_of(f.type), leaf_type=f.type))
        else:
            raise TypeError(f"unsupported type {f.type} for column {'.'.join(path)!r}")

    def dremel(t: pa.DataType, nullable: bool, ops: list, path: list[str]) -> None:
        # `ops` positions the shredder at this node's values; append this
        # node's nullability marker, then descend
        ops = ops + [("opt",) if nullable else ("req", ".".join(path))]
        if pa.types.is_struct(t):
            for child in t:
                dremel(child.type, child.nullable,
                       ops + [("struct", child.name)], path + [child.name])
        elif pa.types.is_list(t):
            elem = t.value_field
            dremel(elem.type, elem.nullable, ops + [("rep",)],
                   path + ["list", "element"])
        elif pa.types.is_map(t):
            # MAP = repeated key_value group of (required key, value) — the
            # 2-level spec layout; the shredder's rep op casts the MapArray
            # to list<struct> so the generic walk applies unchanged
            base = ops + [("rep",)]
            dremel(t.key_type, False, base + [("struct", "key")],
                   path + ["key_value", "key"])
            dremel(t.item_type, t.item_field.nullable,
                   base + [("struct", "value")], path + ["key_value", "value"])
        elif _phys_of(t) is not None:
            leaves.append(dict(
                kind="dremel", path=path, ops=ops, phys=_phys_of(t), leaf_type=t,
                max_def=sum(1 for o in ops if o[0] in ("opt", "rep")),
                max_rep=sum(1 for o in ops if o[0] == "rep"),
            ))
        else:
            raise TypeError(f"unsupported type {t} for column {'.'.join(path)!r}")

    for field in schema:
        if pa.types.is_list(field.type):
            elem = field.type.value_field
            if _phys_of(elem.type) is not None:
                leaves.append(dict(kind="list", path=[field.name], field=field,
                                   elem=elem, phys=_phys_of(elem.type)))
            else:
                dremel(field.type, field.nullable, [], [field.name])
        elif pa.types.is_map(field.type) or (
            pa.types.is_struct(field.type) and _contains_list(field.type)
        ):
            dremel(field.type, field.nullable, [], [field.name])
        else:
            rec(field, [], [])
    return leaves


def _dremel_shred(arr: pa.Array, ops: list):
    """General vectorized Dremel shredding of one leaf over arbitrary
    struct/list nesting (the write side of the reference's
    dremel/write_repeated.go generalized to any depth): executes the ops
    walk from `_leaf_specs` and returns (rep, defs, dense_values,
    n_entries). Dead slots (under a null ancestor) carry whatever Arrow
    stores there — the live mask, not child validity, decides levels."""
    import pyarrow.compute as pc

    n = len(arr)
    rep = np.zeros(n, np.uint64)
    defs = np.zeros(n, np.uint64)
    live = np.ones(n, bool)
    cur = arr
    cur_rep = 0
    for op in ops:
        if op[0] == "opt":
            nv = live & ~np.asarray(pc.is_null(cur))
            defs[nv] += 1
            live = nv
        elif op[0] == "req":
            if bool((np.asarray(pc.is_null(cur)) & live).any()):
                raise ValueError(
                    f"column {op[1]!r} is declared non-nullable but holds null(s)"
                )
        elif op[0] == "struct":
            cur = cur.field(op[1])
        else:  # ("rep",) — list expansion: slot count changes
            cur_rep += 1
            la = cur if not isinstance(cur, pa.ChunkedArray) else cur.combine_chunks()
            if pa.types.is_map(la.type):
                # map = list<struct<key,value>> physically; cast (validity-
                # preserving) so the list kernels below apply unchanged
                mt = la.type
                la = la.cast(pa.list_(pa.field(
                    "key_value",
                    pa.struct([pa.field("key", mt.key_type, False),
                               pa.field("value", mt.item_type, mt.item_field.nullable)]),
                    False,
                )))
            lens = pc.list_value_length(la).fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            lens = np.where(live, lens, 0)
            counts = np.maximum(lens, 1)  # every slot emits >= 1 entry
            total = int(counts.sum())
            starts = np.zeros(len(lens), np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            new_rep = np.full(total, cur_rep, np.uint64)
            new_rep[starts] = rep
            new_defs = np.repeat(defs, counts)
            is_elem = np.ones(total, bool)
            placeholder = lens == 0
            is_elem[starts[placeholder]] = False
            new_defs[is_elem] += 1
            # element j of slot i lives at offsets[i] + j in la.values
            # (absolute offsets — pyarrow keeps them valid across slices)
            offs = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            pos = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
            val_idx = np.repeat(offs[:-1], counts) + pos
            cur = la.values.take(
                pa.array(np.where(is_elem, val_idx, 0), pa.int64(),
                         mask=~is_elem)
            )
            rep, defs = new_rep, new_defs
            live = np.repeat(live, counts) & is_elem
    dense = cur.filter(pa.array(live)) if not bool(live.all()) else cur
    # defined leaf slots are non-null by construction (opt trims, req
    # raises) — a null here would desync defs from the value stream
    assert dense.null_count == 0, "dremel shred produced null in dense values"
    return rep, defs, dense, len(rep)


def _chain_levels(top: pa.Array, chain: list[tuple[str, bool]]):
    """Definition chain for a non-repeated (possibly struct-nested) leaf:
    def level = number of defined OPTIONAL ancestors including the leaf —
    Dremel without repetition, the encode side of the reference's
    per-level optional handling (fields.go:96-135 generalized to depth).
    Returns (def_levels, max_def, dense_leaf_values). Raises on a null in
    a REQUIRED node whose parent is defined (unrepresentable)."""
    import pyarrow.compute as pc

    n = len(top)
    defined = np.ones(n, bool)
    def_lvl = np.zeros(n, np.uint64)
    cur = top
    for depth, (name, nullable) in enumerate(chain):
        if depth:
            cur = cur.field(name)
        node_null = np.asarray(pc.is_null(cur))
        if nullable:
            nv = defined & ~node_null
            def_lvl += nv
            defined = nv
        elif bool((node_null & defined).any()):
            dotted = ".".join(p for p, _ in chain[: depth + 1])
            raise ValueError(
                f"column {dotted!r} is declared non-nullable but holds null(s)"
            )
    max_def = sum(1 for _, nb in chain if nb)
    dense = cur if bool(defined.all()) else cur.filter(pa.array(defined))
    return def_lvl, max_def, dense


def _emit_schema_elem(w: "TCWriter", field: pa.Field) -> None:
    _emit_any_elem(w, field.name, field.type, field.nullable)


def _emit_any_elem(w: "TCWriter", name: str, t: pa.DataType, nullable: bool) -> None:
    """Recursive SchemaElement emission for any nesting of structs and
    lists (ids ascending: 1 type, 3 repetition, 4 name, 5 num_children,
    6 converted_type)."""
    if pa.types.is_struct(t):
        w.elem_struct_begin()
        w.i32(3, OPTIONAL if nullable else REQUIRED)
        w.binary(4, name)
        w.i32(5, t.num_fields)
        w.elem_struct_end()
        for child in t:
            _emit_any_elem(w, child.name, child.type, child.nullable)
        return
    if pa.types.is_list(t):
        elem = t.value_field
        # 3-level LIST: <repetition> group name (LIST) {
        #   repeated group list { <elem-repetition> element } }
        w.elem_struct_begin()
        w.i32(3, OPTIONAL if nullable else REQUIRED)
        w.binary(4, name)
        w.i32(5, 1)
        w.i32(6, CONVERTED_LIST)
        w.elem_struct_end()
        w.elem_struct_begin()
        w.i32(3, REPEATED)
        w.binary(4, "list")
        w.i32(5, 1)
        w.elem_struct_end()
        _emit_any_elem(w, "element", elem.type, elem.nullable)
        return
    if pa.types.is_map(t):
        # 2-level MAP: <repetition> group name (MAP) {
        #   repeated group key_value { required key; <value-repetition> value } }
        w.elem_struct_begin()
        w.i32(3, OPTIONAL if nullable else REQUIRED)
        w.binary(4, name)
        w.i32(5, 1)
        w.i32(6, CONVERTED_MAP)
        w.elem_struct_end()
        w.elem_struct_begin()
        w.i32(3, REPEATED)
        w.binary(4, "key_value")
        w.i32(5, 2)
        w.elem_struct_end()
        _emit_any_elem(w, "key", t.key_type, False)
        _emit_any_elem(w, "value", t.item_type, t.item_field.nullable)
        return
    _emit_primitive_elem(w, name, t, nullable)


def _emit_primitive_elem(w: "TCWriter", name: str, t: pa.DataType, nullable: bool) -> None:
    """One primitive SchemaElement (ascending field ids: 1 type,
    2 type_length, 3 repetition, 4 name, 6 converted_type, 7 scale,
    8 precision). Decimals emit FLBA with the parquet-mr minimal length."""
    w.elem_struct_begin()
    w.i32(1, _phys_of(t))
    if _phys_of(t) == T_FLBA:
        w.i32(2, _flba_len_of(t))
    w.i32(3, OPTIONAL if nullable else REQUIRED)
    w.binary(4, name)
    if pa.types.is_decimal(t):
        w.i32(6, CONVERTED_DECIMAL)
        w.i32(7, t.scale)
        w.i32(8, t.precision)
    else:
        conv = _conv_of(t)
        if conv is not None:
            w.i32(6, conv)
    w.elem_struct_end()


def _schema_elem_count(field: pa.Field) -> int:
    return _count_any_elem(field.type)


def _count_any_elem(t: pa.DataType) -> int:
    if pa.types.is_struct(t):
        return 1 + sum(_count_any_elem(c.type) for c in t)
    if pa.types.is_list(t):
        return 2 + _count_any_elem(t.value_type)
    if pa.types.is_map(t):
        return 2 + _count_any_elem(t.key_type) + _count_any_elem(t.item_type)
    return 1


def write_file(
    path: str,
    table: pa.Table,
    compression: str = "none",
    page_rows: int = 65536,
    created_by: str = "parquet_spark raw writer",
    row_group_rows: int | None = None,
    use_dictionary: bool | str = "auto",
) -> dict:
    """Write `table` (flat, one-level-list, or nested-struct schema) as a
    standards-compliant Parquet v1 file. Struct columns are flattened to
    dotted-path leaves with per-level definition chains (the reference's
    layout, parse.go:108-114). `row_group_rows` rolls a new row group
    every N rows — the reference's one-row-group-per-Write() semantics
    (/root/reference/README.md:70-72); default one group for the file.

    `use_dictionary`: "auto" (default) dictionary-encodes a chunk
    (dict page + RLE_DICTIONARY data pages) when its distinct non-null
    value count is ≤ min(64k, half the values) — the same stats-driven
    codec choice the engine's own format makes, applied to the standards
    layout; True forces dict, False forces PLAIN. Auto never dict-encodes
    float/double (NaN bit-exactness) or boolean chunks.
    Returns a summary {dotted_column: {pages, bytes[, dict]}} for
    inspection."""
    codec_id = CODEC_IDS[compression]
    codec = None if compression == "none" else pa.Codec(compression)
    leaves = _leaf_specs(table.schema)

    from parquet_spark import tablefs

    summary: dict = {}
    _fs, _fsp, _ = tablefs.resolve(path)
    with _fs.open_output_stream(_fsp) as f:
        f.write(MAGIC)
        offset = 4
        rg_size = row_group_rows or max(table.num_rows, 1)
        rg_tables = [table.slice(s, rg_size) for s in range(0, table.num_rows, rg_size)] or [table]
        rgs_meta: list[tuple[list[dict], int]] = []
        for rg_tbl in rg_tables:
            chunks_meta = []
            for leaf in leaves:
                phys = leaf["phys"]
                col = rg_tbl.column(leaf["path"][0])
                arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
                is_list = leaf["kind"] == "list"
                is_dremel = leaf["kind"] == "dremel"
                if is_list:
                    field, elem = leaf["field"], leaf["elem"]
                    optional = field.nullable
                    if not optional and arr.null_count:
                        raise ValueError(
                            f"column {field.name!r} is declared non-nullable but holds "
                            f"{arr.null_count} null(s)"
                        )
                    if not elem.nullable and arr.flatten().null_count:
                        raise ValueError(
                            f"column {field.name!r}: element declared non-nullable but holds nulls"
                        )
                    max_def = (1 if optional else 0) + 1 + (1 if elem.nullable else 0)
                total_comp = total_uncomp = 0
                n_pages = 0
                n_values_total = 0
                # phase 1: shred every page (levels + dense non-null values)
                # so the chunk-wide dictionary decision can see all values
                # before the first page byte is written
                page_specs: list[tuple[bytes, int, int]] = []
                dense_parts: list[pa.Array] = []
                page_mm: list[tuple | None] = []
                leaf_t: pa.DataType | None = None
                for start in range(0, len(arr), page_rows):
                    page = arr.slice(start, page_rows)
                    if is_list:
                        # repeated column: rep levels + def levels + dense
                        # values (Dremel layout, ref fields.go:232-271)
                        rep, defs, dense, n_vals = _list_levels(page, optional, elem.nullable)
                        lv = rle.encode(rep, 1) + rle.encode(defs, _bit_width(max_def))
                    elif is_dremel:
                        # mixed struct/list nesting: general shredder walk
                        rep, defs, dense, n_vals = _dremel_shred(page, leaf["ops"])
                        lv = (
                            rle.encode(rep, _bit_width(leaf["max_rep"])) if leaf["max_rep"] else b""
                        ) + (
                            rle.encode(defs, _bit_width(leaf["max_def"])) if leaf["max_def"] else b""
                        )
                    else:
                        # a REQUIRED chain writes no def levels, so a null
                        # under a defined parent would silently produce a
                        # value stream shorter than num_values — an
                        # unreadable file; _chain_levels fails loudly
                        defs, chain_max_def, dense = _chain_levels(page, leaf["chain"])
                        lv = rle.encode(defs, _bit_width(chain_max_def)) if chain_max_def else b""
                        n_vals = len(page)
                    n_values_total += n_vals
                    page_specs.append((lv, n_vals, len(dense)))
                    dense_parts.append(dense)
                    page_mm.append(_minmax(dense))
                    leaf_t = dense.type
                # chunk-wide dictionary decision: auto keeps parquet's own
                # heuristic shape (small distinct set relative to values);
                # floats stay PLAIN under auto so NaN payloads remain
                # bit-exact through Arrow's hash canonicalization
                denc = None
                n_dense_total = sum(len(d) for d in dense_parts)
                if use_dictionary and phys != T_BOOLEAN and n_dense_total:
                    auto_ok = phys not in (T_FLOAT, T_DOUBLE) or use_dictionary is True
                    if auto_ok and use_dictionary == "auto" and n_dense_total > 8192:
                        # cheap pre-probe: a high-cardinality SAMPLE means
                        # the full chunk can't pass the ndv threshold —
                        # skip the full hash-table build (unique ids etc.)
                        import pyarrow.compute as pc

                        samp = dense_parts[0].slice(0, 4096)
                        if len(samp) and len(pc.unique(samp)) > len(samp) // 2:
                            auto_ok = False
                    if auto_ok:
                        import pyarrow.compute as pc

                        cand = pc.dictionary_encode(pa.concat_arrays(dense_parts))
                        ndv = len(cand.dictionary)
                        if use_dictionary is True or ndv <= min(65536, max(1, n_dense_total // 2)):
                            denc = cand
                dict_off = None
                if denc is not None:
                    dict_off = offset
                    dict_body, _ = _plain_encode(denc.dictionary, phys)
                    comp_d = codec.compress(dict_body).to_pybytes() if codec else dict_body
                    hdr = TCWriter()
                    hdr.i32(1, PAGE_DICT)
                    hdr.i32(2, len(dict_body))
                    hdr.i32(3, len(comp_d))
                    hdr.struct_begin(7)  # DictionaryPageHeader
                    hdr.i32(1, len(denc.dictionary))
                    hdr.i32(2, ENC_PLAIN)
                    hdr.struct_end()
                    page_bytes = hdr.finish() + comp_d
                    f.write(page_bytes)
                    offset += len(page_bytes)
                    total_comp += len(page_bytes)
                    total_uncomp += len(hdr.buf) + len(dict_body)
                    n_pages += 1
                    idx_all = denc.indices.to_numpy(zero_copy_only=False)
                    idx_width = max(1, _bit_width(max(len(denc.dictionary) - 1, 0)))
                data_page_offset = offset
                idx_pos = 0
                for i, (lv, n_vals, n_dense) in enumerate(page_specs):
                    if denc is not None:
                        # RLE_DICTIONARY: 1-byte bit width + unframed
                        # RLE/bit-pack hybrid of dictionary indices
                        idx_page = idx_all[idx_pos : idx_pos + n_dense]
                        idx_pos += n_dense
                        body = lv + bytes([idx_width]) + rle.encode(idx_page, idx_width)[4:]
                    else:
                        values, _ = _plain_encode(dense_parts[i], phys)
                        body = lv + values
                    comp_body = codec.compress(body).to_pybytes() if codec else body
                    hdr = TCWriter()
                    hdr.i32(1, PAGE_DATA)
                    hdr.i32(2, len(body))
                    hdr.i32(3, len(comp_body))
                    hdr.struct_begin(5)  # DataPageHeader
                    hdr.i32(1, n_vals)
                    hdr.i32(2, ENC_RLE_DICT if denc is not None else ENC_PLAIN)
                    hdr.i32(3, ENC_RLE)  # definition levels
                    # repetition levels: RLE when present, BIT_PACKED marker when flat
                    has_rep = is_list or (is_dremel and leaf["max_rep"] > 0)
                    hdr.i32(4, ENC_RLE if has_rep else ENC_BIT_PACKED)
                    _write_statistics(hdr, 5, page_mm[i], n_vals - n_dense, phys, leaf_t)
                    hdr.struct_end()
                    page_bytes = hdr.finish() + comp_body
                    f.write(page_bytes)
                    offset += len(page_bytes)
                    total_comp += len(page_bytes)
                    total_uncomp += len(hdr.buf) + len(body)
                    n_pages += 1
                dotted = ".".join(leaf["path"])
                encs = [ENC_PLAIN, ENC_RLE] + ([ENC_RLE_DICT] if denc is not None else [])
                mm_pages = [m for m in page_mm if m is not None]
                chunk_mm = (
                    (min(m[0] for m in mm_pages), max(m[1] for m in mm_pages))
                    if mm_pages else None
                )
                chunks_meta.append(
                    dict(name=dotted, phys=phys, n_values=n_values_total, codec=codec_id,
                         uncomp=total_uncomp, comp=total_comp, page_off=data_page_offset,
                         dict_off=dict_off, encs=encs, mm=chunk_mm, leaf_t=leaf_t,
                         nulls=n_values_total - n_dense_total,
                         path=[leaf["path"][0], "list", "element"] if is_list else leaf["path"])
                )
                s = summary.setdefault(dotted, {"pages": 0, "bytes": 0})
                s["pages"] += n_pages
                s["bytes"] += total_comp
                if denc is not None:
                    s["dict"] = True
            rgs_meta.append((chunks_meta, rg_tbl.num_rows))

        # FileMetaData footer
        w = TCWriter()
        w.i32(1, 1)  # version
        n_elems = 1 + sum(_schema_elem_count(fld) for fld in table.schema)
        w.struct_list_begin(2, n_elems)  # schema: root + nodes
        w.elem_struct_begin()
        w.binary(4, "schema")
        w.i32(5, len(table.schema))
        w.elem_struct_end()
        for fld in table.schema:
            _emit_schema_elem(w, fld)
        w.i64(3, table.num_rows)
        w.struct_list_begin(4, len(rgs_meta))
        for chunks_meta, rg_rows in rgs_meta:
            w.elem_struct_begin()
            w.struct_list_begin(1, len(chunks_meta))  # columns
            for cm in chunks_meta:
                w.elem_struct_begin()
                # file_offset: first page of the chunk (dict page if any)
                w.i64(2, cm["dict_off"] if cm["dict_off"] is not None else cm["page_off"])
                w.struct_begin(3)  # ColumnMetaData
                w.i32(1, cm["phys"])
                w.i32_list(2, cm["encs"])
                w.str_list(3, cm["path"])
                w.i32(4, cm["codec"])
                w.i64(5, cm["n_values"])
                w.i64(6, cm["uncomp"])
                w.i64(7, cm["comp"])
                w.i64(9, cm["page_off"])  # data_page_offset
                if cm["dict_off"] is not None:
                    w.i64(11, cm["dict_off"])  # dictionary_page_offset
                if cm["leaf_t"] is not None:
                    _write_statistics(w, 12, cm["mm"], cm["nulls"], cm["phys"], cm["leaf_t"])
                w.struct_end()
                w.elem_struct_end()
            w.i64(2, sum(cm["comp"] for cm in chunks_meta))
            w.i64(3, rg_rows)
            w.elem_struct_end()
        w.binary(6, created_by)
        # column_orders (field 7): one TypeDefinedOrder per leaf — without
        # it arrow/parquet-mr readers ignore min_value/max_value entirely
        w.struct_list_begin(7, len(leaves))
        for _ in leaves:
            w.elem_struct_begin()
            w.struct_begin(1)  # ColumnOrder union: TYPE_ORDER = TypeDefinedOrder{}
            w.struct_end()
            w.elem_struct_end()
        footer = w.finish()
        f.write(footer)
        f.write(struct.pack("<I", len(footer)))
        f.write(MAGIC)
    return summary


# ================================================================= reader


def _plain_decode(body: memoryview, n: int, phys: int, tlen: int = 0) -> pa.Array:
    if phys == T_BOOLEAN:
        return pa.array(plain.decode_bool(body, n))
    if phys == T_BYTE_ARRAY:
        return pa.array(plain.decode_strings_ref(bytes(body), n), pa.binary())
    if phys == T_FLBA:
        if tlen <= 0:
            raise ValueError("FIXED_LEN_BYTE_ARRAY column without type_length in footer")
        return pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(tlen), n, [None, pa.py_buffer(bytes(body[: n * tlen]))]
        )
    npdt = _PHYS_NP[phys]
    return pa.array(plain.decode_numeric(body, n, np.dtype(npdt)))


def _decode_values(body: memoryview, off: int, n: int, phys: int, enc: int,
                   dict_vals: pa.Array | None, name: str, tlen: int = 0) -> pa.Array:
    """Value-section dispatch shared by flat and repeated leaves: PLAIN,
    dictionary indices, the DELTA_* family, and BYTE_STREAM_SPLIT."""
    if enc == ENC_PLAIN:
        return _plain_decode(body[off:], n, phys, tlen)
    if enc in (ENC_PLAIN_DICT, ENC_RLE_DICT):
        return _dict_decode(body, off, n, dict_vals, name)
    from parquet_spark.codecs import pq_delta

    if enc == ENC_DELTA_BP:
        if phys not in (T_INT32, T_INT64):
            raise NotImplementedError(f"DELTA_BINARY_PACKED on physical type {phys}")
        return pa.array(pq_delta.delta_bp_to_ints(body, off, n, phys == T_INT32))
    if enc == ENC_DELTA_LEN:
        if phys != T_BYTE_ARRAY:
            raise NotImplementedError(f"DELTA_LENGTH_BYTE_ARRAY on physical type {phys}")
        arr, _ = pq_delta.decode_delta_length_byte_array(body, off, n)
        return arr
    if enc == ENC_DELTA_BA:
        if phys != T_BYTE_ARRAY:
            raise NotImplementedError(f"DELTA_BYTE_ARRAY on physical type {phys}")
        return pq_delta.decode_delta_byte_array(body, off, n)
    if enc == ENC_BSS:
        if phys not in (T_FLOAT, T_DOUBLE, T_INT32, T_INT64):
            raise NotImplementedError(f"BYTE_STREAM_SPLIT on physical type {phys}")
        bw = 4 if phys in (T_FLOAT, T_INT32) else 8
        raw = pq_delta.decode_byte_stream_split(body[off:], n, bw)
        return pa.array(np.frombuffer(raw, np.dtype(_PHYS_NP[phys])))
    raise NotImplementedError(f"value encoding {enc}")


def _dict_decode(body: memoryview, off: int, n: int, dict_vals: pa.Array | None, name: str) -> pa.Array:
    """RLE_DICTIONARY page values: 1-byte bit width + unframed RLE/bit-pack
    hybrid of dictionary indices, gathered from the chunk's dict page."""
    if dict_vals is None:
        raise ValueError(f"column {name!r}: dict-encoded page before dict page")
    if n == 0:
        return dict_vals.slice(0, 0)
    width = body[off]
    rest = bytes(body[off + 1 :])
    idx, _ = rle.decode(struct.pack("<i", len(rest)) + rest, n, width)
    return dict_vals.take(pa.array(idx.astype(np.int64), pa.int64()))


def read_metadata(path: str) -> dict:
    """Parse the thrift FileMetaData footer into the raw field-id dict."""
    from parquet_spark import tablefs

    data = tablefs.read_bytes(path)
    if data[:4] != MAGIC or data[-4:] != MAGIC:
        raise ValueError(f"{path}: not a parquet file (missing PAR1 magic)")
    (flen,) = struct.unpack_from("<I", data, len(data) - 8)
    start = len(data) - 8 - flen
    return {"_raw": data, "meta": TCReader(memoryview(data), start).read_struct()}


def _parse_schema(elems: list[dict]) -> list[dict]:
    """Depth-first SchemaElement walk → one info dict per top-level column.

    Shapes with dedicated fast paths keep their legacy info format: flat
    primitive leaves; one-level lists of primitives (3-level LIST layout,
    2-level repeated-leaf-under-group, and the reference's bare repeated
    leaf, fields.go:232-271); pure nested STRUCT groups of primitives
    (the reference's dotted-path flatten, parse.go:108-114).

    Everything else — list-of-struct, lists inside structs, nested lists,
    repeated groups (the reference's full Person shape,
    parquet_generated_test.go:326-373) — classifies as kind="dremel" with
    an assembly tree consumed by `_assemble_dremel`."""
    root = elems[0]
    idx = 1

    def parse_raw() -> dict:
        nonlocal idx
        e = elems[idx]
        idx += 1
        node = dict(name=e[4].decode(), rep_t=e.get(3, REQUIRED), conv=e.get(6),
                    phys=e.get(1), tlen=e.get(2), scale=e.get(7, 0), prec=e.get(8),
                    children=None)
        n = e.get(5, 0)
        if n:
            node["children"] = [parse_raw() for _ in range(n)]
        return node

    return [_classify_column(parse_raw()) for _ in range(root[5])]


def _no_repetition(c: dict) -> bool:
    if c["rep_t"] == REPEATED:
        return False
    if c["children"] is None:
        return True
    return all(_no_repetition(x) for x in c["children"])


def _classify_column(c: dict) -> dict:
    name = c["name"]
    ch = c["children"]
    if ch is None:
        if c["rep_t"] == REPEATED:
            # bare repeated leaf: a list with no null/empty distinction
            return dict(name=name, kind="list", phys=c["phys"], elem_conv=c["conv"],
                        elem_tlen=c["tlen"], elem_scale=c["scale"], elem_prec=c["prec"],
                        d_list=0, d_entry=1, d_valid=1, elem_opt=False, outer_opt=False)
        opt = c["rep_t"] == OPTIONAL
        return dict(name=name, kind="flat", phys=c["phys"], conv=c["conv"], opt=opt,
                    tlen=c["tlen"], scale=c["scale"], prec=c["prec"],
                    max_def=1 if opt else 0, path=name)
    outer_opt = c["rep_t"] == OPTIONAL
    if len(ch) == 1 and ch[0]["rep_t"] == REPEATED:
        mid = ch[0]
        d_list = 1 if outer_opt else 0
        if mid["children"] is None:
            # 2-level list: repeated leaf directly under the outer group
            return dict(name=name, kind="list", phys=mid["phys"], elem_conv=mid["conv"],
                        elem_tlen=mid["tlen"], elem_scale=mid["scale"], elem_prec=mid["prec"],
                        d_list=d_list, d_entry=d_list + 1, d_valid=d_list + 1,
                        elem_opt=False, outer_opt=outer_opt)
        if (len(mid["children"]) == 1 and mid["children"][0]["children"] is None
                and mid["children"][0]["rep_t"] != REPEATED):
            leaf = mid["children"][0]
            elem_opt = leaf["rep_t"] == OPTIONAL
            return dict(name=name, kind="list", phys=leaf["phys"], elem_conv=leaf["conv"],
                        elem_tlen=leaf["tlen"], elem_scale=leaf["scale"], elem_prec=leaf["prec"],
                        d_list=d_list, d_entry=d_list + 1,
                        d_valid=d_list + 1 + (1 if elem_opt else 0),
                        elem_opt=elem_opt, outer_opt=outer_opt)
    if _no_repetition(c):
        return _legacy_struct(c, 0, [])
    tree, leaves = _dremel_tree(c)
    return dict(name=name, kind="dremel", tree=tree, leaves=leaves)


def _legacy_struct(c: dict, depth_opt: int, path: list[str]) -> dict:
    """Legacy struct info (kind='struct'/'leaf') for repetition-free
    nested groups — unchanged def-chain semantics."""
    opt = c["rep_t"] == OPTIONAL
    dotted = ".".join(path + [c["name"]])
    if c["children"] is None:
        return dict(name=c["name"], kind="leaf", phys=c["phys"], conv=c["conv"], opt=opt,
                    tlen=c["tlen"], scale=c["scale"], prec=c["prec"],
                    max_def=depth_opt + (1 if opt else 0), path=dotted)
    d = depth_opt + (1 if opt else 0)
    children = [_legacy_struct(x, d, path + [c["name"]]) for x in c["children"]]
    return dict(name=c["name"], kind="struct", opt=opt, opt_count=d,
                children=children, path=dotted)


def _dremel_tree(c: dict) -> tuple[dict, list[dict]]:
    """Raw schema node → general assembly tree. Node kinds:
      {node:'leaf', name, opt, phys, conv, tlen, scale, prec,
       path (dotted chunk path), max_def, max_rep}
      {node:'struct', name, opt, children}
      {node:'list', name, opt, elem}
    A REPEATED field (group or leaf) is modelled as a non-nullable list
    whose element is the field itself made REQUIRED — the 2-level layout
    the reference emits for `repeated group skills {...}`; the
    LIST-annotated 3-level layout gets its own match."""
    leaves: list[dict] = []

    def conv(node: dict, parent_path: list[str], cur_def: int, cur_rep: int) -> dict:
        if node["rep_t"] == REPEATED:
            inner = dict(node, rep_t=REQUIRED)
            elem = conv(inner, parent_path, cur_def + 1, cur_rep + 1)
            return dict(node="list", name=node["name"], opt=False, elem=elem)
        opt = node["rep_t"] == OPTIONAL
        d = cur_def + (1 if opt else 0)
        path_here = parent_path + [node["name"]]
        ch = node["children"]
        if ch is None:
            leaf = dict(node="leaf", name=node["name"], opt=opt, phys=node["phys"],
                        conv=node["conv"], tlen=node["tlen"], scale=node["scale"],
                        prec=node["prec"], path=".".join(path_here),
                        max_def=d, max_rep=cur_rep)
            leaves.append(leaf)
            return leaf
        if (len(ch) == 1 and ch[0]["rep_t"] == REPEATED and ch[0]["children"] is not None
                and len(ch[0]["children"]) == 1
                and (node["conv"] == CONVERTED_LIST
                     or ch[0]["name"] in ("list", "bag", "array"))):
            mid = ch[0]
            elem = conv(mid["children"][0], path_here + [mid["name"]], d + 1, cur_rep + 1)
            return dict(node="list", name=node["name"], opt=opt, elem=elem)
        if (len(ch) == 1 and ch[0]["rep_t"] == REPEATED and ch[0]["children"] is not None
                and len(ch[0]["children"]) == 2
                and node["conv"] in (CONVERTED_MAP, CONVERTED_MAP_KEY_VALUE)):
            # annotation-gated only: an UNANNOTATED repeated 2-field group
            # named key_value is a legitimate repeated-group list (the
            # reference's 2-level layout) and must not be forced into a
            # MapArray — null "keys" would crash, names would be lost
            # 2-level MAP: repeated key_value group of (key, value) —
            # modelled as a list of the (non-nullable) entries struct and
            # assembled into a pa.MapArray (is_map flag)
            mid = ch[0]
            kv_path = path_here + [mid["name"]]
            kids = [conv(x, kv_path, d + 1, cur_rep + 1) for x in mid["children"]]
            elem = dict(node="struct", name=mid["name"], opt=False, children=kids)
            return dict(node="list", name=node["name"], opt=opt, elem=elem,
                        is_map=True)
        children = [conv(x, path_here, d, cur_rep) for x in ch]
        return dict(node="struct", name=node["name"], opt=opt, children=children)

    tree = conv(c, [], 0, 0)
    return tree, leaves


def _struct_leaves(node: dict) -> list[dict]:
    """All primitive leaves under a struct node, schema order."""
    if node["kind"] in ("leaf", "flat"):
        return [node]
    out: list[dict] = []
    for c in node["children"]:
        out.extend(_struct_leaves(c))
    return out


def _convert_values(vals: pa.Array, conv: int | None, scale: int = 0,
                    prec: int | None = None) -> pa.Array:
    if conv == CONVERTED_UTF8 and vals.type == pa.binary():
        return vals.cast(pa.string())
    if conv == CONVERTED_UINT_32 and vals.type == pa.int32():
        return vals.view(pa.uint32())
    if conv == CONVERTED_UINT_64 and vals.type == pa.int64():
        return vals.view(pa.uint64())
    if conv == CONVERTED_DECIMAL and prec:
        return _to_decimal(vals, prec, scale)
    if conv == CONVERTED_TS_MICROS and vals.type == pa.int64():
        return vals.view(pa.timestamp("us"))
    if conv == CONVERTED_TS_MILLIS and vals.type == pa.int64():
        return vals.view(pa.timestamp("ms"))
    if conv == CONVERTED_DATE and vals.type == pa.int32():
        return vals.view(pa.date32())
    return vals


def _to_decimal(vals: pa.Array, prec: int, scale: int) -> pa.Array:
    """Reinterpret unscaled stored values (INT32/INT64 or big-endian FLBA —
    the three physical layouts the spec allows for DECIMAL) as
    decimal128(prec, scale). Null-aware: validity carries over; null slots'
    payload words are zeroed."""
    n = len(vals)
    mask = np.asarray(vals.is_null()) if vals.null_count else None
    words = np.zeros((n, 16), np.uint8)
    if pa.types.is_fixed_size_binary(vals.type):
        ln = vals.type.byte_width
        if n:
            v = vals.fill_null(b"\x00" * ln) if mask is not None else vals
            raw = np.frombuffer(
                v.buffers()[1], np.uint8, n * ln, offset=v.offset * ln
            ).reshape(n, ln)
            words[:, :ln] = raw[:, ::-1]  # big-endian → little-endian
            neg = (raw[:, 0] & 0x80).astype(bool)
            if mask is not None:
                neg &= ~mask
            words[neg, ln:] = 0xFF  # sign extension
    else:
        iv = np.asarray(
            (vals.fill_null(0) if mask is not None else vals).cast(pa.int64()), np.int64
        )
        w64 = words.view(np.uint64).reshape(n, 2)
        w64[:, 0] = iv.view(np.uint64)
        w64[:, 1] = np.where(iv < 0, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(0))
    validity = (
        None if mask is None
        else pa.py_buffer(np.packbits(~mask, bitorder="little").tobytes())
    )
    return pa.Array.from_buffers(
        pa.decimal128(prec, scale), n,
        [validity, pa.py_buffer(np.ascontiguousarray(words).tobytes())],
    )


def _assemble_list(rep: np.ndarray, defs: np.ndarray, dense: pa.Array, info: dict) -> pa.ListArray:
    """Dremel record assembly for a one-level list page (the read side of
    /root/reference/cmd/parquetgen/dremel/read_repeated.go:62-118,
    vectorized over the whole page)."""
    row_start = rep == 0
    if len(rep) and not row_start[0]:
        raise NotImplementedError("data page starts mid-row (unsupported)")
    starts_idx = np.flatnonzero(row_start)
    n_rows = len(starts_idx)
    is_elem = defs >= info["d_entry"]
    lens = (
        np.add.reduceat(is_elem.astype(np.int64), starts_idx)
        if n_rows else np.zeros(0, np.int64)
    )
    offsets = np.zeros(n_rows + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    if info["elem_opt"]:
        n_elem = int(is_elem.sum())
        valid = defs[is_elem] == info["d_valid"]
        if not valid.all():
            idx = np.zeros(n_elem, np.int64)
            idx[valid] = np.arange(int(valid.sum()))
            dense = dense.take(pa.array(idx, pa.int64(), mask=~valid))
    mask = None
    if info["outer_opt"]:
        null_rows = defs[starts_idx] < info["d_list"]
        if null_rows.any():
            mask = np.append(null_rows, False)
    off_arr = pa.array(offsets.astype(np.int32), pa.int32(), mask=mask)
    return pa.ListArray.from_arrays(off_arr, dense)


def _assemble_dremel(info: dict, acc: dict) -> pa.Array:
    """General Dremel record assembly for a mixed struct/list column (the
    read side of /root/reference/cmd/parquetgen/dremel/read_repeated.go
    generalized to any nesting, vectorized): per-leaf (rep, defs, dense)
    streams → nested Arrow array. Shared ancestors take offsets/validity
    from the first leaf beneath them — sibling leaves carry identical
    level structure up to their common ancestor by construction."""

    def leaves_of(node):
        if node["node"] == "leaf":
            return [node]
        if node["node"] == "list":
            return leaves_of(node["elem"])
        out = []
        for c in node["children"]:
            out.extend(leaves_of(c))
        return out

    data: dict = {}
    for lf in info["leaves"]:
        parts = acc.get(lf["path"], [])
        if parts:
            rep = np.concatenate([p[0] for p in parts]) if len(parts) > 1 else parts[0][0]
            defs = np.concatenate([p[1] for p in parts]) if len(parts) > 1 else parts[0][1]
            dense = pa.concat_arrays([p[2] for p in parts]) if len(parts) > 1 else parts[0][2]
        else:
            rep, defs = np.zeros(0, np.uint64), np.zeros(0, np.uint64)
            dense = pa.array([], _empty_type(dict(lf, kind="leaf")))
        data[lf["path"]] = (rep, defs, dense)

    def build(node, idxs, cur_def, cur_rep):
        ref = leaves_of(node)[0]["path"]
        ref_rep, ref_defs, _ = data[ref]
        my_idx = idxs[ref]
        if node["node"] == "leaf":
            d = cur_def + (1 if node["opt"] else 0)  # == node's max_def
            _, defs_l, dense = data[node["path"]]
            defined = defs_l[my_idx] >= d
            n = len(my_idx)
            if bool(defined.all()) and len(dense) == n:
                return dense
            pos = np.zeros(n, np.int64)
            pos[defined] = np.arange(int(defined.sum()))
            if node["opt"] or len(dense) == 0:
                return dense.take(pa.array(pos, pa.int64(), mask=~defined))
            # non-nullable leaf: dead slots (null ancestor) must still hold
            # a valid value — reuse dense[0]; the ancestor's mask hides it
            return dense.take(pa.array(pos, pa.int64()))
        if node["node"] == "struct":
            d = cur_def + (1 if node["opt"] else 0)
            children = [build(c, idxs, d, cur_rep) for c in node["children"]]
            fields = [
                pa.field(c["name"], a.type, nullable=c.get("opt", True))
                for c, a in zip(node["children"], children)
            ]
            mask = None
            if node["opt"]:
                defined = ref_defs[my_idx] >= d
                if not bool(defined.all()):
                    mask = pa.array(~defined)
            return pa.StructArray.from_arrays(children, fields=fields, mask=mask)
        # list node: one repetition level deeper
        d = cur_def + (1 if node["opt"] else 0)
        k = cur_rep + 1
        d_elem = d + 1  # def level meaning ">= 1 element at this level"
        sub = {}
        for lf in leaves_of(node):
            rl, dl, _ = data[lf["path"]]
            sub[lf["path"]] = np.flatnonzero((rl <= k) & (dl >= d_elem))
        child = build(node["elem"], sub, d_elem, k)
        child_entries = sub[ref]
        hi = np.append(my_idx[1:], len(ref_rep))
        lens = np.searchsorted(child_entries, hi) - np.searchsorted(child_entries, my_idx)
        offsets = np.zeros(len(my_idx) + 1, np.int64)
        np.cumsum(lens, out=offsets[1:])
        mask = None
        if node["opt"]:
            null_slots = ref_defs[my_idx] < d
            if null_slots.any():
                mask = np.append(null_slots, False)
        off_arr = pa.array(offsets.astype(np.int32), pa.int32(), mask=mask)
        if node.get("is_map"):
            # positional: spec names the children key/value but legacy
            # writers (MAP_KEY_VALUE era) used map/key/value variants
            return pa.MapArray.from_arrays(off_arr, child.field(0), child.field(1))
        return pa.ListArray.from_arrays(off_arr, child)

    idxs = {lf["path"]: np.flatnonzero(data[lf["path"]][0] == 0) for lf in info["leaves"]}
    return build(info["tree"], idxs, 0, 0)


def read_file(path: str, columns: list[str] | None = None) -> pa.Table:
    """Read a Parquet v1 file (flat, one-level-list, nested-struct, or
    mixed struct/list nesting; PLAIN or dictionary-encoded, incl.
    dict-encoded list elements) into a pa.Table, using only this module's
    parsers and the engine's plain/rle kernels."""
    parsed = read_metadata(path)
    data, meta = memoryview(parsed["_raw"]), parsed["meta"]
    infos = _parse_schema(meta[2])
    by_name = {i["name"]: i for i in infos}
    names = [i["name"] for i in infos]
    # None = all columns; an explicit [] is an (honored) empty projection
    want = names if columns is None else list(columns)
    unknown = [c for c in want if c not in names]
    if unknown:
        raise KeyError(f"column(s) {unknown} not in parquet file; available: {names}")

    # leaf registry: struct leaves are independent chunks addressed by
    # their dotted path_in_schema; flat/list columns by top-level name
    leaf_of: dict[str, dict] = {}
    for i in infos:
        if i["kind"] == "struct":
            for lf in _struct_leaves(i):
                leaf_of[lf["path"]] = dict(lf, kind="struct_leaf")
        elif i["kind"] == "dremel":
            for lf in i["leaves"]:
                leaf_of[lf["path"]] = dict(lf, kind="dremel_leaf")
        elif i["kind"] == "flat":
            leaf_of[i["name"]] = i

    want_set = set(want)
    arrays: dict[str, list[pa.Array]] = {}
    defs_acc: dict[str, list[np.ndarray]] = {}
    dremel_acc: dict[str, list[tuple]] = {}
    for rg in meta[4]:
        for chunk in rg[1]:
            cm = chunk[3]
            parts = [p.decode() for p in cm[3]]
            name = parts[0]
            dotted = ".".join(parts)
            if name not in want_set:
                continue
            phys, n_total, codec_id = cm[1], cm[5], cm[4]
            info_c = leaf_of.get(dotted) or by_name[name]
            tlen_c = int(
                (info_c.get("elem_tlen") if info_c["kind"] == "list" else info_c.get("tlen"))
                or 0
            )
            codec_name = CODEC_NAMES.get(codec_id)
            if codec_name is None:
                raise NotImplementedError(f"compression codec id {codec_id}")
            codec = None if codec_name == "none" else pa.Codec(codec_name)
            pos = cm.get(11) or cm.get(9) or chunk.get(2)  # dict page first if any
            got = 0
            dict_vals: pa.Array | None = None
            while got < n_total:
                rdr = TCReader(data, pos)
                hdr = rdr.read_struct()
                body_start = rdr.pos
                comp_size = hdr[3]
                body = data[body_start : body_start + comp_size]
                pos = body_start + comp_size
                if hdr[1] == PAGE_DATA_V2:
                    # v2 page: levels sit UNCOMPRESSED and UNFRAMED before
                    # the (optionally compressed) values section; reshape
                    # into the v1 body layout (4-byte-framed levels +
                    # values) so one assembly path serves both versions
                    d2 = hdr[8]
                    rl, dl = d2.get(6, 0), d2.get(5, 0)
                    levels = bytes(body[: rl + dl])
                    vals_raw = body[rl + dl :]
                    if codec is not None and d2.get(7, True):
                        vals_raw = codec.decompress(bytes(vals_raw), hdr[2] - rl - dl)
                    body = memoryview(
                        (struct.pack("<i", rl) + levels[:rl] if rl else b"")
                        + (struct.pack("<i", dl) + levels[rl:] if dl else b"")
                        + bytes(vals_raw)
                    )
                    dph = {1: d2[1], 2: d2[4], 3: ENC_RLE,
                           4: ENC_RLE if rl else ENC_BIT_PACKED}
                else:
                    if codec is not None:
                        body = memoryview(codec.decompress(bytes(body), hdr[2]))
                    if hdr[1] == PAGE_DICT:
                        dph = hdr[7]
                        if dph[2] not in (ENC_PLAIN, ENC_PLAIN_DICT):
                            raise NotImplementedError(f"dictionary page encoding {dph[2]}")
                        dict_vals = _plain_decode(body, dph[1], phys, tlen_c)
                        continue
                    if hdr[1] != PAGE_DATA:
                        raise NotImplementedError(f"page type {hdr[1]}")
                    dph = hdr[5]
                n_vals, enc, def_enc = dph[1], dph[2], dph[3]
                if enc not in (ENC_PLAIN, ENC_PLAIN_DICT, ENC_RLE_DICT,
                               ENC_DELTA_BP, ENC_DELTA_LEN, ENC_DELTA_BA, ENC_BSS):
                    raise NotImplementedError(f"value encoding {enc}")
                info = leaf_of.get(dotted) or by_name[name]
                off = 0
                if info["kind"] == "dremel_leaf":
                    # mixed struct/list leaf: rep + def level streams feed
                    # the general assembler after all chunks are decoded
                    max_rep, max_def = info["max_rep"], info["max_def"]
                    if max_rep:
                        if dph.get(4) != ENC_RLE:
                            raise NotImplementedError(
                                f"repetition-level encoding {dph.get(4)}")
                        reps, consumed = rle.decode(body, n_vals, _bit_width(max_rep))
                        off += consumed
                    else:
                        reps = np.zeros(n_vals, np.uint64)
                    if max_def:
                        if def_enc != ENC_RLE:
                            raise NotImplementedError(
                                f"definition-level encoding {def_enc}")
                        defs, consumed = rle.decode(body[off:], n_vals, _bit_width(max_def))
                        off += consumed
                    else:
                        defs = np.zeros(n_vals, np.uint64)
                    n_dense = int((defs == max_def).sum()) if max_def else n_vals
                    dense = _decode_values(body, off, n_dense, phys, enc, dict_vals, name, tlen_c)
                    dense = _convert_values(dense, info["conv"],
                                            info.get("scale", 0), info.get("prec"))
                    dremel_acc.setdefault(dotted, []).append((reps, defs, dense))
                    got += n_vals
                    continue
                if info["kind"] == "list":
                    rep_enc = dph.get(4)
                    if rep_enc != ENC_RLE:
                        raise NotImplementedError(f"repetition-level encoding {rep_enc}")
                    reps, consumed = rle.decode(body, n_vals, 1)
                    off += consumed
                    defs, consumed = rle.decode(body[off:], n_vals, _bit_width(info["d_valid"]))
                    off += consumed
                    n_dense = int((defs == info["d_valid"]).sum())
                    dense = _decode_values(body, off, n_dense, phys, enc, dict_vals, name, tlen_c)
                    dense = _convert_values(dense, info["elem_conv"],
                                            info.get("elem_scale", 0), info.get("elem_prec"))
                    arrays.setdefault(name, []).append(_assemble_list(reps, defs, dense, info))
                    got += n_vals
                    continue
                # non-repeated leaf: def levels count defined optional
                # ancestors (max_def 1 for a flat optional column, deeper
                # for struct leaves)
                max_def = info.get("max_def", 1 if info.get("opt") else 0)
                validity = None
                if max_def:
                    if def_enc != ENC_RLE:
                        raise NotImplementedError(f"definition-level encoding {def_enc}")
                    levels, consumed = rle.decode(body, n_vals, _bit_width(max_def))
                    off += consumed
                    if info["kind"] == "struct_leaf":
                        defs_acc.setdefault(dotted, []).append(levels.copy())
                    if not bool((levels == max_def).all()):
                        validity = levels == max_def
                n_dense = n_vals if validity is None else int(validity.sum())
                vals = _decode_values(body, off, n_dense, phys, enc, dict_vals, name, tlen_c)
                if validity is not None:
                    # null scatter: take() with null indices yields nulls
                    idx = np.zeros(n_vals, dtype=np.int64)
                    idx[validity] = np.arange(n_dense)
                    vals = vals.take(pa.array(idx, pa.int64(), mask=~validity))
                key = dotted if info["kind"] == "struct_leaf" else name
                arrays.setdefault(key, []).append(
                    _convert_values(vals, info["conv"], info.get("scale", 0), info.get("prec"))
                )
                got += n_vals

    out = []
    for c in want:
        top = by_name[c]
        if top["kind"] == "struct":
            out.append(_assemble_struct_column(top, arrays, defs_acc))
            continue
        if top["kind"] == "dremel":
            out.append(_assemble_dremel(top, dremel_acc))
            continue
        chunks = arrays.get(c, [])
        if not chunks:  # zero-row file
            out.append(pa.array([], _empty_type(top)))
        else:
            out.append(pa.concat_arrays(chunks) if len(chunks) != 1 else chunks[0])
    return pa.table(out, names=list(want))


_PHYS_PA = {T_BOOLEAN: pa.bool_(), T_INT32: pa.int32(), T_INT64: pa.int64(),
            T_FLOAT: pa.float32(), T_DOUBLE: pa.float64()}


def _empty_type(info: dict) -> pa.DataType:
    if info["kind"] == "struct":
        return pa.struct([
            pa.field(c["name"], _empty_type(c), nullable=c.get("opt", True))
            for c in info["children"]
        ])
    conv = info.get("elem_conv") if info["kind"] == "list" else info.get("conv")
    if conv == CONVERTED_TS_MICROS:
        return pa.list_(pa.timestamp("us")) if info["kind"] == "list" else pa.timestamp("us")
    if conv == CONVERTED_TS_MILLIS:
        return pa.list_(pa.timestamp("ms")) if info["kind"] == "list" else pa.timestamp("ms")
    if conv == CONVERTED_DATE:
        return pa.list_(pa.date32()) if info["kind"] == "list" else pa.date32()
    if conv == CONVERTED_DECIMAL:
        prec = info.get("elem_prec") if info["kind"] == "list" else info.get("prec")
        scale = (info.get("elem_scale") if info["kind"] == "list" else info.get("scale")) or 0
        t = pa.decimal128(prec, scale)
        return pa.list_(t) if info["kind"] == "list" else t
    if info["phys"] == T_FLBA:
        tlen = info.get("elem_tlen") if info["kind"] == "list" else info.get("tlen")
        t = pa.binary(int(tlen or 0))
        return pa.list_(t) if info["kind"] == "list" else t
    if info["phys"] == T_BYTE_ARRAY:
        t = pa.string() if conv == CONVERTED_UTF8 else pa.binary()
    elif conv == CONVERTED_UINT_32:
        t = pa.uint32()
    elif conv == CONVERTED_UINT_64:
        t = pa.uint64()
    else:
        t = _PHYS_PA[info["phys"]]
    return pa.list_(t) if info["kind"] == "list" else t


def _assemble_struct_column(info: dict, arrays: dict, defs_acc: dict) -> pa.Array:
    """Reassemble a nested-struct column from its dotted-path leaf chunks:
    per-node validity = (leaf def level >= the node's cumulative optional
    depth) — any descendant leaf's defs carry the ancestor chain, so the
    first one serves as the reference (the read side of the reference's
    per-level optional assembly, fields.go:96-135 generalized)."""

    def build(node: dict):
        if node["kind"] == "leaf":
            chunks = arrays.get(node["path"], [])
            if not chunks:
                vals = pa.array([], _empty_type(node))
            else:
                vals = pa.concat_arrays(chunks) if len(chunks) != 1 else chunks[0]
            dl = defs_acc.get(node["path"], [])
            if not dl:
                defs = np.full(len(vals), node["max_def"], np.uint64)
            else:
                defs = np.concatenate(dl) if len(dl) != 1 else dl[0]
            return vals, defs, pa.field(node["name"], vals.type, nullable=node["opt"])
        built = [build(c) for c in node["children"]]
        arrs = [b[0] for b in built]
        fields = [b[2] for b in built]
        ref_defs = built[0][1]
        mask = None
        if node["opt_count"] > 0:
            defined = ref_defs >= node["opt_count"]
            if not bool(defined.all()):
                mask = pa.array(~defined)
        sa = pa.StructArray.from_arrays(arrs, fields=fields, mask=mask)
        return sa, ref_defs, pa.field(node["name"], sa.type, nullable=node["opt"])

    arr, _, _ = build(info)
    return arr


# ===================================================== distributed export


def export_parquet(df, out_dir: str, compression: str = "snappy", page_rows: int = 65536,
                   row_group_rows: int | None = None, use_dictionary: bool | str = "auto"):
    """Distributed standards-Parquet export: each partition writes one
    part-N.parquet via the raw writer inside a mapInArrow task (no driver
    collect — the scale path for 'hand this table to any Parquet reader').
    `row_group_rows` rolls row groups within each part file so foreign
    readers get skipping/parallelism granularity inside large parts;
    `use_dictionary` ("auto" default) dict-encodes low-cardinality chunks.
    Returns the per-part summary DataFrame (path, rows, bytes); consuming
    it is what triggers the export."""
    import os

    def fn(batches):
        from pyspark import TaskContext

        import pyarrow as _pa

        from parquet_spark.util import worker_task_start

        worker_task_start()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        tbls = [
            _pa.Table.from_batches([b]) for b in batches if b.num_rows
        ]
        if not tbls:
            return
        table = _pa.concat_tables(tbls)
        path = os.path.join(out_dir, f"part-{pid:05d}.parquet")
        write_file(path, table, compression=compression, page_rows=page_rows,
                   row_group_rows=row_group_rows, use_dictionary=use_dictionary)
        from parquet_spark import tablefs

        _fs, _p, _ = tablefs.resolve(path)
        yield _pa.RecordBatch.from_arrays(
            [
                _pa.array([path], _pa.string()),
                _pa.array([table.num_rows], _pa.int64()),
                _pa.array([_fs.get_file_info(_p).size], _pa.int64()),
            ],
            names=["path", "n_rows", "n_bytes"],
        )

    from parquet_spark import tablefs

    tablefs.mkdirs(out_dir)
    return df.mapInArrow(fn, "path string, n_rows long, n_bytes long")
