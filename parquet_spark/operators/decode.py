"""Distributed decode: encoded table → DataFrame.

Spark-first replacement for the reference's read path
(`NewParquetReader/Next/Scan`, /root/reference/cmd/parquetgen/gen/
template.go:235-382): the manifest scan is a parquet read of the blocks
files; per-partition decode is one mapInArrow stage; struct re-assembly
disappears because Arrow list/validity structures ARE the output
(SURVEY.md §3.2).

Column projection decodes only the requested payload columns: the fused
read's pyarrow reads and the Spark scan both leave the untouched binary
columns unread. `where` predicates prune blocks by their stats before any
payload is read (`block_keep`, the one block filter).
"""

from __future__ import annotations

import datetime
import functools
import json
import operator
import os
import re
import types

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

from parquet_spark.operators.encode import MANIFEST_DDL, _blocks_layout, read_snapshot


_BATCH_RE = re.compile(r"batch=(\d+)")


def _nullable_type(t: pa.DataType) -> pa.DataType:
    """`t` with every nested field nullable. A null struct's child slots
    are null too, and pyarrow casts no such array into a non-nullable
    field; mapInArrow and the Data Source reader accept either."""
    if pa.types.is_struct(t):
        return pa.struct([pa.field(t.field(i).name, _nullable_type(t.field(i).type)) for i in range(t.num_fields)])
    if pa.types.is_map(t):
        return pa.map_(t.key_type, _nullable_type(t.item_type))
    if pa.types.is_list(t):
        return pa.list_(_nullable_type(t.value_type))
    return t


def _decode_fn(columns: list[str], spark_schema: StructType, verify: bool = False):
    """The decode kernel; it emits Spark's Arrow type of each field with
    nested fields nullable. Blocks record no timezone, so a `timestamp`
    decodes as `timestamp[us]` and is cast to `timestamp[us, tz=UTC]`."""
    from pyspark.sql.pandas.types import to_arrow_type

    types = {f.name: _nullable_type(to_arrow_type(f.dataType)) for f in spark_schema.fields}

    def fn(batches):
        import json as _json
        import zlib

        from parquet_spark.codecs import blocks as blk
        from parquet_spark.util import worker_task_start

        worker_task_start()
        for b in batches:
            if b.num_rows == 0:
                continue
            for row in range(b.num_rows):
                meta = _json.loads(b.column("meta")[row].as_py()) if verify else None
                n_rows = b.column("n_rows")[row].as_py()
                arrays = []
                for col in columns:
                    scalar = b.column(col)[row]
                    if not scalar.is_valid:
                        # additive schema evolution: blocks written before
                        # the column existed carry no payload — null-fill
                        arrays.append(pa.nulls(n_rows, types[col]))
                        continue
                    # zero-copy view into the Arrow buffer (as_py() would
                    # memcpy every multi-MB payload before decode)
                    payload = memoryview(scalar.as_buffer())
                    if verify:
                        want = meta.get(col, {}).get("crc")
                        got = zlib.crc32(payload) & 0xFFFFFFFF
                        if want is not None and got != want:
                            raise ValueError(
                                f"checksum mismatch decoding column {col!r}: "
                                f"crc32 {got:#010x} != manifest {want:#010x} "
                                "(corrupt or tampered block payload)"
                            )
                    a = blk.decode_array(payload)
                    arrays.append(a if a.type == types[col] else a.cast(types[col]))
                yield pa.RecordBatch.from_arrays(arrays, names=columns)

    return fn


def _projected(schema: StructType, columns: list[str] | None) -> tuple[list[str], StructType]:
    """Validate a projection against the table schema; shared by
    decode_table and read_encoded's fused bare-read gate so the contract
    (column order, KeyError message) cannot drift between the paths."""
    known = {f.name: f for f in schema.fields}
    cols = list(columns or [f.name for f in schema.fields])
    missing = [c for c in cols if c not in known]
    if missing:
        raise KeyError(f"column(s) {missing} not in encoded table; available: {sorted(known)}")
    return cols, StructType([known[c] for c in cols])


def decode_table(
    blocks_df: DataFrame,
    schema: StructType,
    columns: list[str] | None = None,
    verify: bool = False,
) -> DataFrame:
    """Blocks DataFrame → original rows. `schema` is the original table
    schema (from snapshot.json); projection via `columns`. `blocks_df`
    carries every projected payload column: `blocks_relation` types it
    from the snapshot, so a column older blocks lack reads as null and
    decodes as nulls. `verify=True`
    checks each payload's crc32 against the block's recorded checksum
    before decoding (integrity gate for untrusted storage)."""
    columns, out_schema = _projected(schema, columns)
    proj = blocks_df.select(*((["meta"] if verify else []) + ["n_rows"] + list(columns)))
    return proj.mapInArrow(_decode_fn(list(columns), out_schema, verify), out_schema)


def roundtrip_table(
    df: DataFrame,
    codecs: dict | None = None,
    block_rows: int | None = None,
) -> DataFrame:
    """encode→decode fused into ONE mapInArrow stage (r6, guide §4.1).

    Returns the rows of `decode_table(encode_table(df), schema)`, where
    `schema` is df's schema without the internal `__bucket` column: when
    df carries `__bucket`, it only steers block boundaries and is not
    part of the output. The same `_encode_fn` kernels produce the same
    block bytes and the same `_decode_fn` kernels decode them, but the
    blocks relation never crosses the Python↔JVM boundary between the two
    stages (two chained mapInArrow nodes each run their own Python
    worker, with a full Arrow round-trip of the multi-MB payloads between
    them). Measured on the sf1.0-scale documents-fsst roundtrip: 1.26 s →
    0.86 s interleaved min, CRC-identical. Stats sidecar columns are
    skipped — the immediate decode would discard them (same rule as the
    fused-scan encode path).

    The feed is chosen here, by `arrow_scan.fused_splits` with `want` =
    the default parallelism — the gate write_encoded uses too — from one
    `arrow_scan.plan_facts` read. On fused
    splits each task reads its slices with pyarrow (no JVM→Python row
    transpose; 1.07 s → 0.74 s on the 6M-row lineitem roundtrip).
    Otherwise the Spark scan feeds the kernels; when it yields fewer
    partitions than cores and at least `arrow_scan.MIN_SPLIT_BYTES`
    (128 KB) of input per core, a repartition to the core count spreads
    the encode over every core (smaller inputs encode faster serially
    than shuffled). The planner sub-splits bare files by the same byte
    unit, so a bare local parquet input that large takes the fused feed;
    the repartition serves inputs that are not bare files (filters,
    computed columns, joins) and inputs under
    `spark.sql.files.ignoreCorruptFiles`."""
    from parquet_spark.operators.encode import (
        BUCKET_COL,
        DEFAULT_BLOCK_ROWS,
        _encode_fn,
        check_reserved_columns,
    )
    from parquet_spark.sources.arrow_scan import MIN_SPLIT_BYTES, _read_split, fused_scan, fused_splits, plan_facts

    block_rows = block_rows or DEFAULT_BLOCK_ROWS
    facts = plan_facts(df)
    names = facts.schema.fieldNames()
    columns = [c for c in names if c != BUCKET_COL]
    check_reserved_columns(columns)
    out_schema = StructType([f for f in facts.schema.fields if f.name != BUCKET_COL])
    par = facts.parallelism
    fused = fused_splits(facts, par, block_rows)
    enc = _encode_fn(
        columns, block_rows, codecs, None,
        has_bucket=fused is None and BUCKET_COL in names,
        positions=None if fused is not None else [names.index(c) for c in columns],
    )
    dec = _decode_fn(columns, out_schema, False)
    if fused is not None:
        return fused_scan(
            facts, fused[0],
            lambda split, pf: _read_split(pf, *split[2:], columns, block_rows),
            lambda feed: dec(enc(feed)), out_schema,
        )
    if facts.npart < par:
        try:
            sz = sum(os.path.getsize(p) for p in facts.paths if p)
        except OSError:
            sz = 0
        if sz >= par * MIN_SPLIT_BYTES:
            df = df.repartition(par)

    def gen(batches):
        yield from dec(enc(batches))

    return df.mapInArrow(gen, out_schema)


def list_blocks_files(data_dir: str, max_batch: int | None = None) -> tuple:
    """(filesystem, sorted blocks files) of one generation, via tablefs.
    Spark's rules: `.parquet` only, no hidden (`_`, `.`) component below
    `data_dir` (uncommitted `_temporary/` output); with `max_batch`, a
    file under `batch=N` is kept iff N <= max_batch (`as_of`)."""
    from parquet_spark import tablefs

    fs, fs_data_dir, _ = tablefs.resolve(data_dir)
    root = fs_data_dir.rstrip("/") + "/"
    files = []
    for p in tablefs.list_files(data_dir):
        # relative to data_dir: a batch=N or hidden component in the
        # table's own path must not count
        rel = p[len(root):] if p.startswith(root) else p
        if not p.endswith(".parquet") or any(c.startswith(("_", ".")) for c in rel.split("/")):
            continue
        m = _BATCH_RE.search(rel)
        if max_batch is None or m is None or int(m.group(1)) <= int(max_batch):
            files.append(p)
    return fs, files


def blocks_ddl(snap: dict) -> str:
    """The blocks relation DDL of the generation `snap` describes, built
    from its schema, columns and bloom_cols by `encode._blocks_layout`,
    the rule the writers typed the files with: no file is opened to learn
    it. A column older files lack reads as null, so an evolved payload
    decodes as nulls and a missing stats bound keeps the block."""
    return _blocks_layout(StructType.fromJson(snap["schema"]), snap["columns"], snap.get("bloom_cols") or [])[1]


def blocks_relation(
    spark: SparkSession, path: str, snap: dict, max_batch: int | None = None, *, strict: bool = False
) -> DataFrame:
    """The blocks relation of the generation `snap` names under `path`,
    typed by `blocks_ddl` (no schema-inference job). With `max_batch`, a
    batch-layout table keeps the `batch=N` dirs with N <= max_batch
    (`as_of`); the `batch` partition column is then dropped. `strict`
    reads every file or raises, whatever `spark.sql.files.ignoreCorruptFiles`
    says: a rewrite op's split must not lose a file from both sides."""
    from pyspark.sql import functions as F

    reader = spark.read.schema(blocks_ddl(snap))
    if strict:
        reader = reader.option("ignoreCorruptFiles", "false")
    blocks = reader.parquet(os.path.join(path, snap.get("data_dir", "data")))
    if "batch" not in blocks.columns or "batch" in snap["columns"]:
        return blocks
    if max_batch is not None:
        blocks = blocks.where(F.col("batch") <= int(max_batch))
    return blocks.drop("batch")


def read_blocks(pf, rg: int, lo: int, hi: int, want: list[str], preds: list[tuple] = ()):
    """The `want` columns of rows [lo, hi) of row group `rg` of the open
    blocks file `pf` (`arrow_scan._read_split` coordinates). A payload
    column the file lacks (added to the schema later) reads as null
    payloads, which `_decode_fn` null-fills. With `preds`, each row
    group's stats columns are read first, and only the blocks
    `block_keep` keeps are read on; a row group with none reads no more."""
    import pyarrow.compute as pc

    from parquet_spark.sources.arrow_scan import _read_split

    have = set(pf.schema_arrow.names)
    missing = [c for c in want if c not in have]
    stats_cols = ["n_rows"] + [
        f"{k}{c}" for c in dict.fromkeys(p[0] for p in preds)
        for k in ("_min_", "_max_", "_bloom_") if f"{k}{c}" in have
    ]
    for g in [rg] if rg >= 0 or not preds else range(pf.num_row_groups):
        keep = None
        if preds:
            stats = pf.read_row_group(g, columns=stats_cols)
            keep = block_keep(stats.slice(lo, (stats.num_rows if hi < 0 else hi) - lo), preds)
            if not pc.any(keep).as_py():
                continue
            keep = None if pc.all(keep).as_py() else keep
        off = 0
        for batch in _read_split(pf, g, lo, hi, [c for c in want if c in have], 16384):
            if keep is not None:
                batch, off = batch.filter(keep.slice(off, batch.num_rows)), off + batch.num_rows
            for c in missing:
                batch = batch.append_column(c, pa.nulls(batch.num_rows, pa.binary()))
            yield batch


def _maybe_decode_blocks_arrow(
    spark: SparkSession,
    data_dir: str,
    columns: list[str],
    out_schema: StructType,
    verify: bool,
    max_batch: int | None = None,
    preds: list[tuple] = (),
) -> DataFrame | None:
    """Fused decode of `list_blocks_files(data_dir, max_batch)`: each task
    reads its blocks slice with `read_blocks` straight into Arrow and runs
    `_decode_fn`, skipping the parquet → JVM row → Arrow copy of the
    payloads (bench sequences table, 300k rows: decode+agg 1.02 s →
    0.62 s). `preds` prune row groups in the planner and blocks in the
    task. None keeps the Spark scan: under `ignoreCorruptFiles`, for a
    store that is not local (`fused_scan` opens local paths), and when
    there are no files or a footer is unreadable (the Spark scan raises)."""
    from pyarrow import fs as pafs

    from parquet_spark.sources.arrow_scan import _plan_splits_for_files, fused_scan, session_facts

    facts = session_facts(spark)
    if facts.ignore_corrupt:
        return None  # only the Spark scan skips unreadable files
    fs, files = list_blocks_files(data_dir, max_batch)
    if not files or not isinstance(fs, pafs.LocalFileSystem):
        return None
    try:
        splits = _plan_splits_for_files(files, facts.parallelism, preds=preds)
    except (OSError, ValueError):  # unreadable footer (pyarrow's
        # ArrowInvalid is a ValueError): the Spark scan reports it
        return None
    want = (["meta"] if verify else []) + ["n_rows"] + list(columns)
    # a fragmented table (many tiny block files — the state compact_table
    # exists to fix, and compact_table itself reads through here) packs
    # its splits into tasks by data size like Spark's own scan
    return fused_scan(
        facts, splits, lambda split, pf: read_blocks(pf, *split[1:], want, preds),
        _decode_fn(list(columns), out_schema, verify), out_schema,
    )


_OP_NAMES = {">": "gt", ">=": "ge", "<": "lt", "<=": "le", "=": "eq", "==": "eq", "!=": "ne"}
_PRUNE_OPS = {*_OP_NAMES, "in"}
# what comparing a literal with stats Arrow cannot compare raises
_INCOMPARABLE = (pa.ArrowNotImplementedError, pa.ArrowInvalid, pa.ArrowTypeError, OverflowError)


def _where_preds(where, schema: StructType) -> list[tuple]:
    """The `where` contract of read_encoded and maintain.delete_where: one
    (col, op, value) triple or a list of them, ANDed. `in` candidates are
    materialized once: block pruning and the row filter both consume
    them. ValueError for an op outside `_PRUNE_OPS`, KeyError for a
    column outside `schema`."""
    if where is None:
        return []
    known = set(schema.fieldNames())
    preds = []
    for col, op, value in [where] if isinstance(where, tuple) else list(where):
        if op not in _PRUNE_OPS:
            raise ValueError(f"where op {op!r} not in {sorted(_PRUNE_OPS)}")
        if col not in known:
            raise KeyError(f"where column {col!r} not in encoded table")
        preds.append((col, op, list(value) if op == "in" else value))
    return preds


def _row_condition(preds: list[tuple]):
    """The row-level Column of `preds`, ANDed: typed literals, not SQL
    text, so dates and quoted strings compare as values. NULL wherever SQL
    says NULL; callers pick how a NULL counts."""
    from pyspark.sql import functions as F

    cond = None
    for col, op, value in preds:
        if op == "in":
            piece = F.col(col).isin(*value) if value else F.lit(False)
        else:
            piece = getattr(operator, _OP_NAMES[op])(F.col(col), F.lit(value))
        cond = piece if cond is None else cond & piece
    return cond


def _range_keep(op: str, vmin, vmax, lits: list, f):
    """The min/max rule, written once for Spark Columns (`f` = `operator`)
    and Arrow arrays (`f` = the pyarrow.compute counterparts): may a block
    with bounds [vmin, vmax] hold a row with (col op lit)? None when an
    `in` has no candidate left, so no row can match."""
    if op in ("=", "==", "in"):
        terms = [f.and_(f.le(vmin, v), f.ge(vmax, v)) for v in lits]
        return functools.reduce(f.or_, terms) if terms else None
    if op == "!=":  # only a block pinned to the excluded value is pruned
        return f.invert(f.and_(f.eq(vmin, lits[0]), f.eq(vmax, lits[0])))
    # a lower bound needs the block max above it, an upper one the min below
    return getattr(f, _OP_NAMES[op])(vmax if op[0] == ">" else vmin, lits[0])


def block_keep(stats: pa.Table, preds: list[tuple]) -> pa.BooleanArray:
    """The one block filter: may each row of `stats` — a block's or a row
    group's `_min_<c>`/`_max_<c>`/`_bloom_<c>` — hold a match of every
    ANDed (col, op, value) of `preds`? Pruning never decides results, so
    the unknown keeps: a missing stats column, a null or NaN bound (Spark
    orders NaN largest), a NULL or NaN literal, a literal Arrow does not
    compare as Spark does. `in` drops NULL candidates. `=`/`in` also ask
    `bloom.maybe_contains` when every probe is str or bytes."""
    import pyarrow.compute as pc

    from parquet_spark.stats import bloom

    names = set(stats.schema.names)
    keep = pa.array([True] * stats.num_rows, pa.bool_())
    for col, op, value in preds:
        vals = [v for v in value if v is not None] if op == "in" else [value]
        if {f"_min_{col}", f"_max_{col}"} <= names:
            try:
                cond = _minmax_keep(
                    stats.column(f"_min_{col}").combine_chunks(),
                    stats.column(f"_max_{col}").combine_chunks(), op, vals,
                )
            except _INCOMPARABLE:
                cond = None
            if cond is not None:
                keep = pc.and_(keep, cond)
        probes = [v.encode() if isinstance(v, str) else v for v in vals]
        if (
            op in ("=", "==", "in") and f"_bloom_{col}" in names
            and probes and all(isinstance(p, bytes) for p in probes)
        ):
            filters = stats.column(f"_bloom_{col}").to_pylist()
            keep = pc.and_(keep, pa.array(
                [f is None or any(bloom.maybe_contains(f, p) for p in probes) for f in filters], pa.bool_()
            ))
    return keep


def _minmax_keep(vmin: pa.Array, vmax: pa.Array, op: str, vals: list) -> pa.BooleanArray | None:
    """`_range_keep` over Arrow stats for the non-NULL literals `vals`, or
    None (keep every row) when a literal does not compare with the stats
    as Spark compares them."""
    import pyarrow.compute as pc

    t = vmin.type
    if pa.types.is_timestamp(t):
        # Spark compares instants: the literal's epoch µs by PySpark's own
        # conversion (a naive datetime is local time) against the stats'
        if not all(isinstance(v, datetime.datetime) for v in vals):
            return None
        vals = [TimestampType().toInternal(v) for v in vals]
        vmin, vmax = (a.cast(pa.timestamp("us", t.tz)).cast(pa.int64()) for a in (vmin, vmax))
    elif any(v is None or v != v or isinstance(v, datetime.datetime) for v in vals):
        return None  # NULL or NaN literal; a datetime against a date
    if pa.types.is_floating(t):
        vmin, vmax = (pc.if_else(pc.is_nan(a), pa.scalar(None, t), a) for a in (vmin, vmax))
    f = types.SimpleNamespace(
        gt=pc.greater, ge=pc.greater_equal, lt=pc.less, le=pc.less_equal, eq=pc.equal,
        and_=pc.and_, or_=pc.or_, invert=pc.invert,
    )
    cond = _range_keep(op, vmin, vmax, [pa.scalar(v) for v in vals], f)
    unknown = pc.or_(pc.is_null(vmin), pc.is_null(vmax))
    return unknown if cond is None else pc.or_(pc.fill_null(cond, False), unknown)


def row_group_keep(meta, preds: list[tuple]) -> list[bool]:
    """`block_keep` at row-group grain, from the footer `meta` of a blocks
    file: one stats row per row group, holding the chunk min of
    `_min_<c>` and the chunk max of `_max_<c>`. A chunk without usable
    stats — none, no min/max, or a null block bound among its rows —
    gives a null bound, which keeps the row group."""
    n = meta.num_row_groups
    if not preds:
        return [True] * n
    arrow = meta.schema.to_arrow_schema()
    index = {meta.schema.column(i).path: i for i in range(meta.num_columns)}
    cols = {"n_rows": pa.array([meta.row_group(g).num_rows for g in range(n)], pa.int64())}
    for name in dict.fromkeys(f"{k}{p[0]}" for p in preds for k in ("_min_", "_max_")):
        if name in index:
            chunks = [meta.row_group(g).column(index[name]).statistics for g in range(n)]
            vals = [getattr(s, name[1:4]) if s is not None and s.has_min_max and s.has_null_count
                    and s.null_count == 0 else None for s in chunks]
            try:
                cols[name] = pa.array(vals, arrow.field(name).type)
            except _INCOMPARABLE:
                pass  # a footer value pyarrow cannot type: no bound, keep
    return block_keep(pa.table(cols), preds).to_pylist()


def _block_keep_condition(col: str, op: str, value):
    """`_range_keep` as a Spark Column, for reads that keep the Spark scan
    and for maintain's copy-on-write split.

    The Column is NEVER NULL: delete_where and merge_into split the blocks
    into where(cond) / where(~cond), and a NULL condition would drop a
    block from both sides. A block without stats (null bound) is kept,
    written as `(cond) OR _min_c IS NULL OR _max_c IS NULL` rather than a
    coalesce, so Spark pushes it into the parquet scan; a NULL literal (a
    NULL `in` candidate) drops out in Python before any Column is built."""
    from pyspark.sql import functions as F

    vmin, vmax = F.col(f"_min_{col}"), F.col(f"_max_{col}")
    unknown = vmin.isNull() | vmax.isNull()
    if op != "in" and value is None:
        return F.lit(True)
    vals = [v for v in value if v is not None] if op == "in" else [value]
    if len(vals) > 16:
        # large candidate sets (merge_into key pruning): a flat array
        # literal + EXISTS keeps the expression tree depth O(1) —
        # OR-chains of hundreds of terms overflow Catalyst's stack. Spark
        # pushes none of EXISTS into the scan, so the candidates'
        # [min, max] envelope rides along as two pushable conjuncts; the
        # null-bound test sits inside the lambda, or Catalyst would factor
        # it out of all three into one unpushable OR.
        cond = F.exists(F.array(*map(F.lit, vals)), lambda k: (vmin <= k) & (vmax >= k) | unknown)
        try:
            # only where Python orders the candidates as Spark does: no
            # NaN, no timestamp (Spark orders instants, not wall times)
            if not any(v != v or isinstance(v, datetime.datetime) for v in vals):
                lo, hi = min(vals), max(vals)
                return cond & _block_keep_condition(col, ">=", lo) & _block_keep_condition(col, "<=", hi)
        except TypeError:  # candidates that do not compare in Python
            pass
        return cond
    cond = _range_keep(op, vmin, vmax, [F.lit(v) for v in vals], operator)
    return unknown if cond is None else cond | unknown


def read_encoded(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    where: tuple | list | None = None,
    verify: bool = False,
    as_of: int | None = None,
) -> DataFrame:
    """Open an encoded table (data + snapshot) and return the decoded
    DataFrame — the engine's `spark.read.parquet` analogue. It is the
    fused read (Range → MapInArrow, pyarrow reading the blocks inside the
    decode task) unless `_maybe_decode_blocks_arrow` keeps the Spark scan,
    which reads `blocks_relation`. Either path takes the table's schema
    from the snapshot and runs no schema-inference job; a column that
    older blocks lack decodes as nulls.

    `where=(column, op, value)`, or a list of such triples ANDed, with op
    in {>, >=, <, <=, =, !=, in} (value is an iterable for `in`), prunes
    whole blocks BEFORE decode with `block_keep`, the reference's page
    statistics consumed where the blocks are read: the planner drops row
    groups by their footer stats, each task drops blocks by their min/max
    (and bloom) stats before reading a payload. The Spark scan prunes on
    min/max with `_block_keep_condition`, pushed into the parquet scan.
    The row-level filter runs after decode, so results equal
    decode-then-filter.

    `as_of=<sequence>` time-travels to a retained historical snapshot
    (see operators.encode.list_snapshots / maintain.expire_snapshots):
    the read plan resolves that snapshot's generation dirs, so the data
    it sees is exactly the committed state at that sequence."""
    snap = read_snapshot(path, as_of=as_of)
    if snap is None:
        # a crash between compact_table's two swap renames parks the
        # complete old table at <path>.old — recover it transparently
        from parquet_spark.operators.maintain import recover_table

        if recover_table(path):
            snap = read_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    schema = StructType.fromJson(snap["schema"])
    preds = _where_preds(where, schema)
    out_cols = _projected(schema, columns)[0]
    # the row filter needs every predicate column decoded
    extra = list(dict.fromkeys(c for c, _op, _v in preds if c not in out_cols))
    cols, read_schema = _projected(schema, out_cols + extra)
    # the snapshot names the live generation dir — after a compaction
    # commit (rename-less pointer swap) it is not necessarily "data";
    # `as_of` scopes a batch-layout table to the batches committed then
    data_dir = os.path.join(path, snap.get("data_dir", "data"))
    max_batch = snap.get("max_batch") if as_of is not None else None
    out = _maybe_decode_blocks_arrow(spark, data_dir, cols, read_schema, verify, max_batch, preds)
    if out is None:
        blocks_df = blocks_relation(spark, path, snap, max_batch)
        for col, op, value in preds:
            if f"_min_{col}" in blocks_df.columns:
                blocks_df = blocks_df.where(_block_keep_condition(col, op, value))
        out = decode_table(blocks_df, schema, cols, verify=verify)
    if preds:
        out = out.where(_row_condition(preds))
    return out.drop(*extra) if extra else out


def read_manifest(spark: SparkSession, path: str, as_of: int | None = None) -> DataFrame:
    from pyspark.sql.utils import AnalysisException

    snap = read_snapshot(path, as_of=as_of) or {}
    man_dir = os.path.join(path, snap.get("manifest_dir", "manifest"))
    try:
        return spark.read.schema(MANIFEST_DDL).parquet(man_dir)
    except AnalysisException:
        # a table without a manifest dir (none committed yet) reads as an
        # empty manifest; real IO/corruption errors still raise
        return spark.createDataFrame([], MANIFEST_DDL)
