"""Distributed decode: encoded table → DataFrame.

Spark-first replacement for the reference's read path
(`NewParquetReader/Next/Scan`, /root/reference/cmd/parquetgen/gen/
template.go:235-382): the manifest scan is a parquet read of the blocks
files; per-partition decode is one mapInArrow stage; struct re-assembly
disappears because Arrow list/validity structures ARE the output
(SURVEY.md §3.2).

Column projection decodes only the requested payload columns — Catalyst
prunes the untouched binary columns out of the parquet scan entirely.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from parquet_spark.operators.encode import read_snapshot


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
    schema (from snapshot.json); projection via `columns`. `verify=True`
    checks each payload's crc32 against the block's recorded checksum
    before decoding (integrity gate for untrusted storage)."""
    from pyspark.sql import functions as F

    columns, out_schema = _projected(schema, columns)
    # schema-evolved tables: a column the snapshot knows but NO retained
    # block carries (or that older batches lack) decodes as nulls
    for c in columns:
        if c not in blocks_df.columns:
            blocks_df = blocks_df.withColumn(c, F.lit(None).cast("binary"))
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
    the default parallelism — the gate write_encoded uses too. On fused
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
    from parquet_spark.sources.arrow_scan import MIN_SPLIT_BYTES, _read_split, fused_scan, fused_splits, local_path

    block_rows = block_rows or DEFAULT_BLOCK_ROWS
    columns = [c for c in df.columns if c != BUCKET_COL]
    check_reserved_columns(columns)
    out_schema = StructType(
        [next(f for f in df.schema.fields if f.name == c) for c in columns]
    )
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    fused = fused_splits(df, par, block_rows)
    enc = _encode_fn(
        columns, block_rows, codecs, None,
        has_bucket=fused is None and BUCKET_COL in df.columns,
        positions=None if fused is not None else [df.columns.index(c) for c in columns],
    )
    dec = _decode_fn(columns, out_schema, False)
    if fused is not None:
        return fused_scan(
            spark, fused[0],
            lambda split, pf: _read_split(pf, *split[2:], columns, block_rows),
            lambda feed: dec(enc(feed)), out_schema,
        )
    if df.rdd.getNumPartitions() < par:
        try:
            sz = sum(os.path.getsize(p) for p in map(local_path, df.inputFiles()) if p)
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


def read_blocks(pf, rg: int, lo: int, hi: int, want: list[str]):
    """The `want` columns of rows [lo, hi) of row group `rg` of the open
    blocks file `pf` (`arrow_scan._read_split` coordinates). A payload
    column the file lacks (added to the schema later) reads as null
    payloads, which `_decode_fn` null-fills."""
    from parquet_spark.sources.arrow_scan import _read_split

    have = set(pf.schema_arrow.names)
    missing = [c for c in want if c not in have]
    for batch in _read_split(pf, rg, lo, hi, [c for c in want if c in have], 16384):
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
) -> DataFrame | None:
    """Fused decode of `list_blocks_files(data_dir, max_batch)`: each task
    reads its blocks slice with `read_blocks` straight into Arrow and runs
    `_decode_fn`, skipping the parquet → JVM row → Arrow copy of the
    payloads (bench sequences table, 300k rows: decode+agg 1.02 s →
    0.62 s). None keeps the Spark scan: under `ignoreCorruptFiles`, for a
    store that is not local (`fused_scan` opens local paths), and when
    there are no files or a footer is unreadable (the Spark scan raises)."""
    from pyarrow import fs as pafs

    from parquet_spark.sources.arrow_scan import _plan_splits_for_files, fused_scan, ignores_corrupt_files

    if ignores_corrupt_files(spark):
        return None  # only the Spark scan skips unreadable files
    fs, files = list_blocks_files(data_dir, max_batch)
    if not files or not isinstance(fs, pafs.LocalFileSystem):
        return None
    try:
        splits = _plan_splits_for_files(files, spark.sparkContext.defaultParallelism)
    except (OSError, ValueError):  # unreadable footer (pyarrow's
        # ArrowInvalid is a ValueError): the Spark scan reports it
        return None
    want = (["meta"] if verify else []) + ["n_rows"] + list(columns)
    # a fragmented table (many tiny block files — the state compact_table
    # exists to fix, and compact_table itself reads through here) packs
    # its splits into tasks by data size like Spark's own scan
    return fused_scan(
        spark, splits, lambda split, pf: read_blocks(pf, *split[1:], want),
        _decode_fn(list(columns), out_schema, verify), out_schema,
    )


_PRUNE_OPS = {">", ">=", "<", "<=", "=", "==", "!=", "in"}


def _bloom_keep_udf(probes: list[bytes]):
    """Arrow-batched keep-predicate over the blocks relation's
    `_bloom_<col>` column: keep a block iff ANY probe may be contained.
    Runs at METADATA scale (one row per block, after the min/max scan
    pruning), so a Python kernel here is fine; a missing/null filter
    keeps the block — pruning is an optimization, never correctness."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def keep(filt):
        from parquet_spark.stats import bloom as bl

        return filt.map(
            lambda f: True if f is None
            else any(bl.maybe_contains(bytes(f), p) for p in probes)
        )

    # real type objects, not strings: this module's `from __future__ import
    # annotations` would otherwise defeat pandas_udf's hint inference
    keep.__annotations__ = {"filt": pd.Series, "return": pd.Series}
    return pandas_udf(keep, "boolean")


def _block_keep_condition(col: str, op: str, value):
    """Can a block with [vmin, vmax] contain a row satisfying (col op value)?
    Blocks without stats (null vmin) are always kept — pruning is an
    optimization, never a correctness filter.

    The returned Column is NEVER NULL (review finding): a NULL literal
    among the values (or as the value) makes the comparison NULL under
    three-valued logic, and callers that split a relation into
    where(cond) / where(~cond) — delete_where, merge_into — would drop
    NULL-condition blocks from BOTH sides, silently losing data. NULL
    coalesces to True: keep the block."""
    from pyspark.sql import functions as F

    def _nn(c):  # pruning condition contract: NULL => keep
        return F.coalesce(c, F.lit(True))

    vmin, vmax = F.col(f"_min_{col}"), F.col(f"_max_{col}")
    if op == "in":
        # keep the block if ANY candidate value falls inside its range.
        # NULL candidates drop out: `col IN (..., NULL)` can never MATCH a
        # row under SQL semantics, so they contribute nothing to pruning —
        # and a NULL literal inside the range check would poison the whole
        # condition to NULL (the three-valued-logic hazard above)
        vals = [v for v in value if v is not None]
        if not vals:
            return _nn(F.lit(False) | vmin.isNull())
        if len(vals) > 16:
            # large candidate sets (merge_into key pruning): a flat array
            # literal + EXISTS keeps the expression tree depth O(1) —
            # OR-chains of hundreds of terms overflow Catalyst's stack
            cond = F.exists(
                F.array(*[F.lit(v) for v in vals]),
                lambda k: (vmin <= k) & (vmax >= k),
            )
            return _nn(cond | vmin.isNull())
        conds = [(vmin <= F.lit(v)) & (vmax >= F.lit(v)) for v in vals]
        while len(conds) > 1:
            conds = [a | b for a, b in zip(conds[::2], conds[1::2])] + (
                [conds[-1]] if len(conds) % 2 else []
            )
        return _nn(conds[0] | vmin.isNull())
    lit = F.lit(value)
    if op == ">":
        cond = vmax > lit
    elif op == ">=":
        cond = vmax >= lit
    elif op == "<":
        cond = vmin < lit
    elif op == "<=":
        cond = vmin <= lit
    elif op == "!=":
        # only an all-equal block pinned to the excluded value can be pruned
        cond = ~((vmin == lit) & (vmax == lit))
    else:  # = / ==
        cond = (vmin <= lit) & (vmax >= lit)
    return _nn(cond | vmin.isNull())


def read_encoded(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    where: tuple | None = None,
    verify: bool = False,
    as_of: int | None = None,
) -> DataFrame:
    """Open an encoded table (data + snapshot) and return the decoded
    DataFrame — the engine's `spark.read.parquet` analogue.

    `where=(column, op, value)` with op in {>, >=, <, <=, =, !=, in}
    (value is an iterable for `in`) prunes whole blocks by their min/max
    statistics BEFORE decode — and because the
    stats are plain typed columns of the blocks parquet, Catalyst pushes
    the range predicate into the scan (PushedFilters) and parquet
    row-group stats skip the payload IO entirely, the analogue of the
    reference's page-statistics metadata (/root/reference/parquet.go:
    164-169) actually being *consumed*. The exact row-level filter is
    applied after decode, so results equal decode-then-filter.

    `as_of=<sequence>` time-travels to a retained historical snapshot
    (see operators.encode.list_snapshots / maintain.expire_snapshots):
    the read plan resolves that snapshot's generation dirs, so the data
    it sees is exactly the committed state at that sequence."""
    from pyspark.sql import functions as F

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
    if where is None:
        # fused read; `as_of` scopes batch=N dirs like the filter below.
        # `where` reads keep the Spark scan, into which Catalyst pushes
        # the block pruning on the _min_/_max_ columns
        cols, out_schema = _projected(schema, columns)
        fused = _maybe_decode_blocks_arrow(
            spark, os.path.join(path, snap.get("data_dir", "data")), cols, out_schema, verify,
            snap.get("max_batch") if as_of is not None else None,
        )
        if fused is not None:
            return fused
    # the snapshot names the live generation dir — after a compaction
    # commit (rename-less pointer swap) it is not necessarily "data";
    # mergeSchema unions batch dirs written before a column was added
    blocks_df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, snap.get("data_dir", "data"))
    )
    if as_of is not None and snap.get("max_batch") is not None and "batch" in blocks_df.columns:
        # batch-layout tables append into the SAME generation dir; the
        # historical snapshot's high-water mark scopes the time travel to
        # the batches committed at that sequence
        blocks_df = blocks_df.where(F.col("batch") <= int(snap["max_batch"]))
    if where is not None:
        # one (col, op, value) triple or a list of them (AND semantics) —
        # every predicate contributes block pruning AND a row-level filter
        preds = [where] if isinstance(where, tuple) else list(where)
        # materialize 'in' candidate sets ONCE: both the block-pruning
        # condition and the row filter consume the value, and a one-shot
        # iterator drained by pruning would leave the row filter an empty
        # set (silently zero rows)
        preds = [
            (col, op, list(value) if op == "in" else value)
            for col, op, value in preds
        ]
        known = {f.name for f in schema.fields}
        cols = list(columns or [f.name for f in schema.fields])
        for col, op, _value in preds:
            if op not in _PRUNE_OPS:
                raise ValueError(f"where op {op!r} not in {sorted(_PRUNE_OPS)}")
            if col not in known:
                raise KeyError(f"where column {col!r} not in encoded table")
            if col not in cols:
                cols.append(col)
            if f"_min_{col}" in blocks_df.columns:
                blocks_df = blocks_df.where(_block_keep_condition(col, op, _value))
            if op in ("=", "==", "in") and f"_bloom_{col}" in blocks_df.columns:
                probes = list(_value) if op == "in" else [_value]
                pb = [p.encode() if isinstance(p, str) else p for p in probes]
                if probes and all(isinstance(p, bytes) for p in pb):
                    blocks_df = blocks_df.where(
                        _bloom_keep_udf(pb)(F.col(f"_bloom_{col}"))
                    )
        decoded = decode_table(blocks_df, schema, cols, verify=verify)
        # typed Column comparison, not SQL text: dates/timestamps/strings
        # with quotes all become proper literals instead of repr() fragments
        op_fns = {
            ">": lambda c, v: c > F.lit(v), ">=": lambda c, v: c >= F.lit(v),
            "<": lambda c, v: c < F.lit(v), "<=": lambda c, v: c <= F.lit(v),
            "=": lambda c, v: c == F.lit(v), "==": lambda c, v: c == F.lit(v),
            "!=": lambda c, v: c != F.lit(v),
            "in": lambda c, v: c.isin(*v) if len(v) else F.lit(False),
        }
        out = decoded
        for col, op, value in preds:
            out = out.where(op_fns[op](F.col(col), value))
        return out.select(*(columns or [f.name for f in schema.fields]))
    return decode_table(blocks_df, schema, columns, verify=verify)


def read_manifest(spark: SparkSession, path: str, as_of: int | None = None) -> DataFrame:
    from pyspark.sql.utils import AnalysisException

    snap = read_snapshot(path, as_of=as_of) or {}
    man_dir = os.path.join(path, snap.get("manifest_dir", "manifest"))
    try:
        return spark.read.parquet(man_dir)
    except AnalysisException:
        # an empty table writes no manifest parts (missing dir / no files
        # to infer a schema from); surface an empty relation with the
        # manifest schema instead. Real IO/corruption errors still raise.
        from parquet_spark.operators.encode import MANIFEST_DDL

        return spark.createDataFrame([], MANIFEST_DDL)
