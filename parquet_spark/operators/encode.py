"""Distributed encode: DataFrame → encoded-block DataFrame → table layout.

The Spark-first replacement for the reference's write path
(`Add/Write/Close`, /root/reference/cmd/parquetgen/gen/template.go:164-215,
/root/reference/parquet.go:217-260):

- reference row group          → Spark partition (one mapInArrow task)
- reference page               → one block of `block_rows` rows per column
- reference thrift footer      → manifest parquet + snapshot.json
- row-at-a-time Add            → never: whole Arrow batches in, blocks out

One output row per (partition, block): the per-column payloads sit in
separate *binary columns* of that row, so the blocks parquet file is itself
columnar — decoding a projection reads only the projected payload columns
(Catalyst column pruning does the work). No join is needed to re-align
columns on decode because row alignment is positional within the block.

Table layout (Iceberg-style semantics — manifest + immutable data files +
snapshot pointer; plain parquet paths are used because no Iceberg catalog
jars ship in this sandbox, the substitution is documented in SURVEY.md §7):

    table/
      data/      blocks parquet (payload binary columns)
      manifest/  per-(bucket, block, column) metrics + lineage
      snapshot.json   schema, fingerprint, config, version
"""

from __future__ import annotations

import json
import os
import time
import uuid
import zlib

import numpy as np
import pyarrow as pa

from pyspark.errors import SparkNoSuchElementException
from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_spark.operators.repartition import BUCKET_COL, salt_rule, salted_repartition

DEFAULT_BLOCK_ROWS = 16384

# parquet row-group size of every blocks writer (write_encoded, the
# streaming sink, maintain's copy-on-write commit); Spark's default is
# 128 MB. Block rows carry multi-MB binary payload cells, and N concurrent
# tasks each buffering a 128 MB row group on one heap cause humongous-
# object churn and full-GC stalls at high core counts (measured: 32-core
# encode of a 4.8M-row table spent more time in GC pauses than in work).
# Smaller row groups also give FINER row-group stats pruning on the
# _min_/_max_ columns — strictly better for reads.
BLOCKS_ROW_GROUP_BYTES = 32 << 20

MANIFEST_DDL = (
    "bucket int, part_id int, block_id long, column string, codec string, "
    "compression string, n_values long, n_nulls long, raw_bytes long, "
    "enc_bytes long, crc long, vmin string, vmax string"
)

# leaf types that get per-block min/max stats (the reference writes these
# per page into DataPageHeader.Statistics, /root/reference/parquet.go:164-169
# and gen/template_required.go:71-113; here they are ALSO top-level typed
# columns of the blocks parquet so Catalyst pushes range predicates into the
# scan and parquet row-group stats skip the heavy payload IO entirely)
_STATS_SPARK_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "date", "timestamp",
}


def check_reserved_columns(columns: list[str]) -> None:
    """Refuse input column names that collide with the block layout's
    reserved columns — shared by every path that runs `_encode_fn`
    (encode_table, decode.roundtrip_table) so the collision surfaces as a
    clear plan-time ValueError, not an executor-side duplicate-field
    KeyError at action time."""
    reserved = {"part_id", "block_id", "bucket", "n_rows", "meta"}
    bad = [c for c in columns
           if c in reserved or c.startswith(("_min_", "_max_", "_bloom_"))]
    if bad:
        raise ValueError(
            f"column name(s) {bad} collide with the block layout's reserved "
            f"columns ({sorted(reserved)} and _min_/_max_/_bloom_ prefixes) — "
            f"rename before encoding"
        )


def _block_bucket(tbl: pa.Table) -> int:
    """Bucket id of a single-bucket block table. The resume key assumes
    bucket contiguity (sortWithinPartitions upstream + the batch splitter);
    verify first == last so a dropped sort or a splitter regression fails
    loudly instead of silently mis-assigning blocks to buckets."""
    bcol = tbl.column(BUCKET_COL)
    n = tbl.num_rows
    bucket = int(bcol[0].as_py())
    if int(bcol[n - 1].as_py()) != bucket:
        raise ValueError(
            f"block spans buckets {bucket}..{int(bcol[n - 1].as_py())}: "
            "input is not sorted by __bucket within the partition"
        )
    return bucket


_MANIFEST_PA_SCHEMA = pa.schema([
    ("bucket", pa.int32()), ("part_id", pa.int32()), ("block_id", pa.int64()),
    ("column", pa.string()), ("codec", pa.string()), ("compression", pa.string()),
    ("n_values", pa.int64()), ("n_nulls", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("crc", pa.int64()), ("vmin", pa.string()), ("vmax", pa.string()),
])


def _encode_fn(columns: list[str], block_rows: int, codec_overrides: dict | None, compression: str | None, has_bucket: bool, stats_cols: list[str] | None = None, manifest_dir: str | None = None, bloom_cols: list[str] | None = None, positions: list[int] | None = None):
    # input columns are taken by position (`positions`, default: the first
    # len(columns)), not by name: Spark resolves names case-insensitively
    # and drops a no-op Project, so the batches may carry the file's
    # spelling of a name (`Id` for df column `id`)
    positions = positions or range(len(columns))
    codec_overrides = codec_overrides or {}
    stats_cols = stats_cols or []
    bloom_cols = bloom_cols or []

    def fn(batches):
        import pyarrow.compute as pc
        from pyspark import TaskContext

        from parquet_spark.codecs import blocks as blk
        from parquet_spark.util import worker_task_start

        worker_task_start()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        attempt = ctx.attemptNumber() if ctx else 0
        block_id = 0
        manifest_rows: list[tuple] = []

        def encode_block(tbl: pa.Table):
            nonlocal block_id
            n = tbl.num_rows
            bucket = _block_bucket(tbl) if has_bucket and n else -1
            payloads = []
            stat_arrays = []
            bloom_arrays = []
            metas = {}
            for pos, col in zip(positions, columns):
                arr = tbl.column(pos).combine_chunks()
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks() if arr.num_chunks != 1 else arr.chunk(0)
                payload = blk.encode_array(arr, codec=codec_overrides.get(col), compression=compression)
                raw_bytes = arr.nbytes
                info = blk.describe(payload)
                meta = {
                    "codec": info["codec"],
                    "compression": info["compression"],
                    "n_values": n,
                    "n_nulls": arr.null_count,
                    "raw_bytes": raw_bytes,
                    "enc_bytes": len(payload),
                    "crc": zlib.crc32(payload) & 0xFFFFFFFF,
                }
                if col in stats_cols:
                    mm = pc.min_max(arr)
                    vmin = mm["min"].as_py() if mm["min"].is_valid else None
                    vmax = mm["max"].as_py() if mm["max"].is_valid else None
                    if pa.types.is_floating(arr.type):
                        # pc.min_max skips NaN, but Spark orders NaN above
                        # every double — a block whose only rows matching
                        # (col > v) are NaN must NOT be pruned. Record
                        # vmax=NaN when any NaN is present (NaN >= v is true
                        # in Spark, so the block is kept); an all-NaN block
                        # gets vmin=NaN too (NaN < v is false → '<' prunes
                        # it, correctly, instead of inf/-inf garbage).
                        n_nan = pc.sum(pc.is_nan(arr)).as_py() or 0
                        if n_nan:
                            vmax = float("nan")
                            if n_nan == n - arr.null_count:
                                vmin = float("nan")
                    stat_arrays.append(pa.array([vmin], arr.type))
                    stat_arrays.append(pa.array([vmax], arr.type))
                    meta["vmin"] = None if vmin is None else str(vmin)
                    meta["vmax"] = None if vmax is None else str(vmax)
                if col in bloom_cols:
                    # per-block membership filter for equality pruning
                    # (stats/bloom.py — min/max can't prune '=' probes on
                    # high-cardinality unsorted strings)
                    from parquet_spark.stats import bloom as _bloom

                    dense = arr.drop_null() if arr.null_count else arr
                    vals = [v if isinstance(v, bytes) else v.encode() for v in dense.to_pylist()]
                    bloom_arrays.append(pa.array([_bloom.build(vals)], pa.binary()))
                metas[col] = meta
                if manifest_dir is not None:
                    manifest_rows.append((
                        bucket, pid, block_id, col, meta["codec"], meta["compression"],
                        n, arr.null_count, raw_bytes, len(payload), meta["crc"],
                        meta.get("vmin"), meta.get("vmax"),
                    ))
                payloads.append(payload)
            arrays = (
                [
                    pa.array([pid], pa.int32()),
                    pa.array([block_id], pa.int64()),
                    pa.array([bucket], pa.int32()),
                    pa.array([n], pa.int32()),
                    pa.array([json.dumps(metas)], pa.string()),
                ]
                + [pa.array([p], pa.binary()) for p in payloads]
                + stat_arrays
                + bloom_arrays
            )
            stat_names = [x for c in columns if c in stats_cols for x in (f"_min_{c}", f"_max_{c}")]
            bloom_names = [f"_bloom_{c}" for c in columns if c in bloom_cols]
            block_id += 1
            return pa.RecordBatch.from_arrays(
                arrays,
                names=["part_id", "block_id", "bucket", "n_rows", "meta"] + columns + stat_names + bloom_names,
            )

        pending: list[pa.RecordBatch] = []
        n_pending = 0
        current_bucket = None
        for b in batches:
            if b.num_rows == 0:
                continue
            if has_bucket:
                # split the batch at bucket boundaries (sorted within
                # partition) so a block never straddles buckets
                bvals = b.column(BUCKET_COL).to_numpy()
                cut = np.flatnonzero(np.diff(bvals)) + 1
                pieces = np.split(np.arange(len(bvals)), cut) if len(cut) else [np.arange(len(bvals))]
                segs = [(int(bvals[p[0]]), b.slice(int(p[0]), len(p))) for p in pieces]
            else:
                segs = [(None, b)]
            for seg_bucket, seg in segs:
                if has_bucket and seg_bucket != current_bucket:
                    if n_pending:
                        yield encode_block(pa.Table.from_batches(pending))
                        pending, n_pending = [], 0
                    current_bucket = seg_bucket
                pending.append(seg)
                n_pending += seg.num_rows
                while n_pending >= block_rows:
                    tbl = pa.Table.from_batches(pending)
                    yield encode_block(tbl.slice(0, block_rows))
                    rest = tbl.slice(block_rows)
                    pending = rest.to_batches() if rest.num_rows else []
                    n_pending = rest.num_rows
        if n_pending:
            yield encode_block(pa.Table.from_batches(pending))

        if manifest_dir is not None and manifest_rows:
            # side-band manifest part: written at generator end, so a task
            # that completed its data output has also recorded its metadata
            # — no second pass over the data dir is ever needed. The write
            # is all-or-nothing per store capability (tmp+rename on POSIX/
            # HDFS, complete-on-close PUT on object stores — tablefs), so
            # a killed attempt leaves no torn file; the publish step dedups
            # by partition id (retries write identical content).
            from parquet_spark import tablefs

            tbl = pa.Table.from_arrays(
                [pa.array([r[i] for r in manifest_rows], f.type) for i, f in enumerate(_MANIFEST_PA_SCHEMA)],
                schema=_MANIFEST_PA_SCHEMA,
            )
            tablefs.write_parquet_atomic(
                os.path.join(manifest_dir, f"part-{pid:05d}-{attempt}.parquet"), tbl
            )

    return fn


def encode_table(
    df: DataFrame,
    columns: list[str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    codecs: dict | None = None,
    compression: str | None = None,
    manifest_dir: str | None = None,
    bloom_cols: list[str] | None = None,
) -> DataFrame:
    """DataFrame → blocks DataFrame (one row per block, one binary payload
    column per encoded input column). Purely declarative — the encode runs
    inside one mapInArrow stage per partition when the result is consumed.

    `manifest_dir`: when set, each task also writes its manifest rows as a
    side-band parquet part file there while the blocks are being produced
    (one pass; see write_encoded); any tablefs-supported storage.
    `bloom_cols`: string/binary columns that additionally get a per-block
    Bloom filter (`_bloom_<col>`) for equality pruning (stats/bloom.py)."""
    has_bucket = BUCKET_COL in df.columns
    columns = columns or [c for c in df.columns if c != BUCKET_COL]
    check_reserved_columns(columns)
    bloom_cols = list(bloom_cols or [])
    stats_cols, out_ddl = _blocks_layout(df.schema, columns, bloom_cols)
    return df.mapInArrow(
        _encode_fn(
            columns, block_rows, codecs, compression, has_bucket, stats_cols, manifest_dir, bloom_cols,
            positions=[df.columns.index(c) for c in columns],
        ),
        out_ddl,
    )


def _blocks_layout(schema, columns: list[str], bloom_cols: list[str]) -> tuple[list[str], str]:
    """(stats columns, blocks relation DDL) of encoding `columns` of the
    Spark `schema` — shared by the Spark-feed (encode_table) and
    Arrow-feed (write_encoded's arrow mode) encode paths, which so refuse
    the same `bloom_cols`."""
    type_of = {f.name: f.dataType.simpleString() for f in schema.fields}
    stats_cols = [c for c in columns if type_of.get(c) in _STATS_SPARK_TYPES]
    for c in bloom_cols:
        if c not in columns:
            raise KeyError(f"bloom_cols column {c!r} not in encoded columns")
        if type_of.get(c) not in ("string", "binary"):
            raise TypeError(
                f"bloom_cols column {c!r} must be string/binary (membership "
                f"filters hash byte values), got {type_of.get(c)}"
            )
    return stats_cols, (
        "part_id int, block_id long, bucket int, n_rows int, meta string, "
        + ", ".join(f"`{c}` binary" for c in columns)
        + "".join(f", `_min_{c}` {type_of[c]}, `_max_{c}` {type_of[c]}" for c in stats_cols)
        + "".join(f", `_bloom_{c}` binary" for c in columns if c in bloom_cols)
    )


def manifest_from_blocks(blocks_df: DataFrame) -> DataFrame:
    """Explode the per-block meta JSON into the manifest relation."""
    meta_schema = (
        "map<string, struct<codec:string, compression:string, n_values:long, "
        "n_nulls:long, raw_bytes:long, enc_bytes:long, crc:long, "
        "vmin:string, vmax:string>>"
    )
    m = blocks_df.select(
        "bucket", "part_id", "block_id", F.explode(F.from_json("meta", meta_schema)).alias("column", "s")
    )
    return m.select(
        "bucket", "part_id", "block_id", "column",
        F.col("s.codec").alias("codec"),
        F.col("s.compression").alias("compression"),
        F.col("s.n_values").alias("n_values"),
        F.col("s.n_nulls").alias("n_nulls"),
        F.col("s.raw_bytes").alias("raw_bytes"),
        F.col("s.enc_bytes").alias("enc_bytes"),
        F.col("s.crc").alias("crc"),
        F.col("s.vmin").alias("vmin"),
        F.col("s.vmax").alias("vmax"),
    )


def _snapshot_path(path: str) -> str:
    return os.path.join(path, "snapshot.json")


def write_snapshot(path: str, schema_json: str, columns: list[str], fingerprint: str, extra: dict | None = None) -> None:
    """Publish the table's snapshot pointer. The write is all-or-nothing
    on every supported store (tablefs), so replacing a snapshot is an
    atomic pointer swap — the commit primitive compaction relies on.

    Every commit also lands an immutable copy in `snapshots/` keyed by a
    monotone sequence number (the Iceberg-style snapshot log): readers can
    time-travel with read_encoded(as_of=seq) for as long as the sequence
    is retained (maintain.expire_snapshots is the retention knob). The
    history copy is written BEFORE the pointer swap, so a crash between
    the two leaves an unreferenced history entry the next commit simply
    overwrites — never a live pointer without its history.

    Concurrency: the layout assumes a SINGLE committer per table at a
    time (the Iceberg-without-a-catalog trade-off — there is no compare-
    and-swap primitive on a bare object store). As a best-effort guard,
    the sequence allocation skips past any `snap-N.json` that already
    exists, so a racing committer that landed between our read and write
    cannot have its history entry silently overwritten; the live pointer
    is still last-writer-wins."""
    from parquet_spark import tablefs

    prev = read_snapshot(path)
    seq = int(prev.get("sequence", 0)) + 1 if prev else 1
    while tablefs.exists(os.path.join(path, "snapshots", f"snap-{seq:08d}.json")):
        seq += 1
    snap = {
        "version": 1,
        "sequence": seq,
        "parent_sequence": prev.get("sequence") if prev else None,
        "schema": json.loads(schema_json),
        "columns": columns,
        "fingerprint": fingerprint,
        "created_unix": int(time.time()),
    }
    if extra:
        snap.update(extra)
    payload = json.dumps(snap).encode()
    tablefs.mkdirs(os.path.join(path, "snapshots"))
    tablefs.write_bytes_atomic(os.path.join(path, "snapshots", f"snap-{seq:08d}.json"), payload)
    tablefs.write_bytes_atomic(_snapshot_path(path), payload)


def read_snapshot(path: str, as_of: int | None = None) -> dict | None:
    """Current snapshot, or — with `as_of` — the retained historical
    snapshot with that sequence number (time travel)."""
    from parquet_spark import tablefs

    if as_of is not None:
        try:
            return json.loads(
                tablefs.read_bytes(os.path.join(path, "snapshots", f"snap-{int(as_of):08d}.json"))
            )
        except FileNotFoundError:
            avail = [s["sequence"] for s in list_snapshots(path)]
            raise ValueError(
                f"snapshot sequence {as_of} not retained under {path}; "
                f"available: {avail or 'none'}"
            ) from None
    try:
        return json.loads(tablefs.read_bytes(_snapshot_path(path)))
    except FileNotFoundError:
        return None


def list_snapshots(path: str) -> list[dict]:
    """The retained snapshot log, oldest first. Legacy tables written
    before the log existed report just their live snapshot."""
    from parquet_spark import tablefs

    sdir = os.path.join(path, "snapshots")
    out = []
    if tablefs.is_dir(sdir):
        for name in sorted(tablefs.listdir(sdir)):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(json.loads(tablefs.read_bytes(os.path.join(sdir, name))))
    if not out:
        cur = read_snapshot(path)
        return [cur] if cur else []
    return out


def dataset_fingerprint(facts, explicit: str | None = None) -> str:
    """Lineage key for resumability, from `arrow_scan.PlanFacts` (no data
    scan): input files + per-file size/mtime + schema + the plan text and
    plan JSON without expression ids, so two filters of one file set
    differ, and so do two projections that differ only past the 25th item
    `toString()` prints. sha256,
    not crc32 — this key gates whether a resume APPENDS into an existing
    table, so a collision silently grafting the wrong lineage must be out
    of reach at fleet scale. Sizes/mtimes are folded in where the
    filesystem exposes them cheaply (local paths); remote URIs contribute
    path-only, which still pins the file *set*."""
    if explicit:
        return explicit
    import hashlib
    import re

    entries = []
    for f, local in zip(facts.files, facts.paths):
        try:
            st = os.stat(local)
            entries.append(f"{f}|{st.st_size}|{st.st_mtime_ns}")
        except (OSError, TypeError):  # no local path, or no such file
            entries.append(f)
    plan = re.sub(r"#\d+L?", "", facts.plan)
    h = hashlib.sha256(
        "\x00".join(["\n".join(entries), facts.schema.json(), plan, facts.plan_json]).encode()
    ).hexdigest()
    return f"fp-{h[:20]}-{len(entries)}"


# plan nodes that map each input partition to one output partition, row
# by row, and the leaves whose partitions no byte-based planner sized
_ROW_LOCAL_NODES = {
    "Project", "Filter", "Relation", "SubqueryAlias", "View", "ResolvedHint",
    "MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
}
_UNSIZED_LEAVES = {"LogicalRDD", "Range"}


def spark_feed_mode(facts, target_partitions: int) -> tuple[str, str]:
    """write_encoded's bucket_mode='auto' choice for the Spark feed, from
    the plan text of `arrow_scan.PlanFacts` alone: no Spark job. Returns
    (mode, reason). "partition" needs all of:

    - every plan node row-local (`_ROW_LOCAL_NODES`), so the input's
      partitions are its leaves' partitions;
    - every leaf a parquet/orc Relation (Spark's planner caps each file
      split at maxSplitBytes), a LogicalRDD or a Range;
    - npart >= max(2, min(target_partitions, cores) // 2), the
      parallelism the salted shuffle would give;
    - with a LogicalRDD or Range leaf, npart <= target_partitions: nobody
      sized those partitions, so never more buckets than salting makes.

    Anything else (joins, aggregates, key repartitions, cached relations,
    no JVM plan to read) is "salted"."""
    if not facts.plan:
        return "salted", "no JVM plan to read"
    unsized = False
    for line in facts.plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if node == "Relation" and not line.rstrip().endswith((" parquet", " orc")):
            return "salted", "a relation that is not a parquet/orc file scan"
        unsized |= node in _UNSIZED_LEAVES
        if node and node not in _ROW_LOCAL_NODES | _UNSIZED_LEAVES:
            return "salted", f"{node} in the plan is not row-local"
    npart = facts.npart
    want = min(target_partitions, facts.parallelism)
    if npart < max(2, want // 2):
        return "salted", f"{npart} input partition(s) underuse {want}-way parallelism"
    if unsized and npart > target_partitions:
        return "salted", f"{npart} generated partitions exceed target_partitions={target_partitions}"
    return "partition", f"row-local plan, {npart} input partitions encoded in place"


def write_mode(
    facts, target_partitions: int, cluster_col: str | None = None, block_rows: int = DEFAULT_BLOCK_ROWS
) -> tuple[str, tuple | None, str]:
    """The one bucket_mode='auto' decision, which write_encoded executes
    and explain_partitioning prints: (mode, fused, reason). "arrow", with
    `fused` = `arrow_scan.fused_splits`' (splits, plan), when the fused
    gate accepts the input for min(target_partitions, cores) tasks and no
    `cluster_col` has to order the rows; else `spark_feed_mode`'s choice
    and None."""
    from parquet_spark.sources.arrow_scan import fused_splits

    fused = None if cluster_col else fused_splits(facts, min(target_partitions, facts.parallelism), block_rows)
    if fused is not None:
        return "arrow", fused, f"local parquet relation, {len(fused[0])} row-group/range splits"
    mode, reason = spark_feed_mode(facts, target_partitions)
    return mode, None, reason


_SIZE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _parse_bytes_conf(v: str, default: int) -> int:
    """Parse a Spark size conf ('134217728', '128m', '128mb', '1g', '1gb').
    Two-letter suffixes are real Spark spellings — matching the trailing
    'b' before the unit letter (not after) is what makes '128mb' read as
    128 MiB instead of 128 bytes."""
    import re

    s = str(v).strip().lower()
    m = re.fullmatch(r"([0-9]+(?:\.[0-9]+)?)\s*([kmgtp]?)b?", s)
    if not m:
        return default
    num, unit = m.groups()
    try:
        return int(float(num) * _SIZE_UNITS[unit])
    except (ValueError, OverflowError):
        return default


def _publish_manifest(pending: str, man_dir: str, clear: bool) -> list[str]:
    """Move side-band manifest parts from the job's _pending dir into the
    manifest dir and return their published paths (none: the job wrote no
    block). `clear` wipes previous manifest content first (overwrite
    semantics). Dedups by partition id — task retries write identical rows
    under distinct attempt suffixes — and removes any stale _pending dirs
    left by crashed runs. All IO goes through tablefs (object-store
    capable); publish is NOT atomic and doesn't need to be, because no
    reader sees the manifest before the snapshot names it:
    - write_encoded: the data dir is the source of truth, and the resume
      heal re-derives the entries of a half-published manifest;
    - a copy-on-write commit (maintain) or a sink batch: a crash before
      the snapshot write leaves a generation (or batch dir) no snapshot
      references; the next compaction sweeps the generation, and the
      stream's checkpoint replays the batch into its own dirs."""
    from parquet_spark import tablefs

    tablefs.mkdirs(man_dir)
    for entry, entry_is_dir in tablefs.list_infos(man_dir):
        p = os.path.join(man_dir, entry)
        if p == pending:
            continue
        if entry_is_dir and entry.startswith("_pending-"):
            tablefs.delete_dir(p)  # stale crashed-run dir
        elif clear:
            tablefs.delete_dir(p) if entry_is_dir else tablefs.delete_file(p)
    # published names carry the run tag: a RESUME run's task pids overlap
    # the original run's, and un-tagged names would overwrite the prior
    # run's manifest parts on append
    tag = os.path.basename(pending)[len("_pending-"):]
    published = {}
    for fname in tablefs.listdir(pending):
        pid = fname.rsplit("-", 1)[0]
        if not fname.endswith(".parquet") or pid in published:
            continue
        published[pid] = os.path.join(man_dir, f"part-{tag}-{fname[len('part-'):]}")
        tablefs.move(os.path.join(pending, fname), published[pid])
    tablefs.delete_dir(pending)
    return list(published.values())


def _partition_plan_conf(spark: SparkSession) -> dict:
    """The session inputs that determine Spark's file-split planning. A
    partition-mode resume is only sound when the replanned splits equal the
    recorded run's — partition COUNT equality alone is a weak proxy (conf
    drift can move split boundaries while coincidentally preserving the
    count), so the snapshot records these and any mismatch forces a full
    re-encode."""
    conf = spark.conf

    def get(key: str) -> str:
        # no typed default: Spark validates defaults against the conf's
        # declared type, so an ''-default on an int conf raises. Known
        # optional keys return None; only an unknown, unset key raises.
        try:
            return str(conf.get(key))
        except SparkNoSuchElementException:
            return "<unset>"

    return {
        "maxPartitionBytes": get("spark.sql.files.maxPartitionBytes"),
        "openCostInBytes": get("spark.sql.files.openCostInBytes"),
        "filesMinPartitionNum": get("spark.sql.files.minPartitionNum"),
        "defaultParallelism": int(spark.sparkContext.defaultParallelism),
    }


def write_encoded(
    df: DataFrame,
    path: str,
    target_partitions: int | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    codecs: dict | None = None,
    compression: str | None = None,
    resume: bool = True,
    fingerprint: str | None = None,
    source_col: str = "source",
    salt_key: str = "doc_id",
    weight_col: str | None = "n_tok",
    cluster_col: str | None = None,
    bucket_mode: str = "auto",
    data_dirname: str = "data",
    manifest_dirname: str = "manifest",
    bloom_cols: list[str] | None = None,
) -> dict:
    """Full encode pipeline: partitioning → encode → data + manifest +
    snapshot. Resumable: re-running after a partial failure anti-joins the
    completed buckets out of the input and appends only the missing ones.
    `cluster_col` orders rows within each bucket so blocks carry tight
    min/max ranges on that column (see read_encoded(where=...)).

    bucket_mode="auto" (default) decides from the plan, with no Spark job
    before the data write (`write_mode`): "arrow" when
    `arrow_scan.fused_splits` accepts the input (and no `cluster_col`),
    else `spark_feed_mode`'s choice —
    "partition" (zero-shuffle, bucket = spark_partition_id: the plan shape
    of a plain parquet write) for a row-local plan over parquet/orc files,
    a LogicalRDD or a Range with enough partitions, "salted"
    (`repartition.salted_repartition`: a hash shuffle by (source_col,
    salt_key) onto exactly `target_partitions` buckets) for anything else.
    Accepted trade-off: no probe measures the rows, so a LogicalRDD source
    whose partitions are key-skewed encodes in place with one slow task,
    as Spark's own parquet write of it would. bucket_mode="salted" forces
    the shuffle (the resume key is then a pure function of (source,
    salt_key, target_partitions), which the snapshot records as its salt
    rule; a salted resume under another rule re-encodes into a fresh
    generation); bucket_mode="partition" forces zero-shuffle.
    `weight_col` is accepted and ignored: salted buckets are no longer
    weighted per source.

    The resume key is `fingerprint`, else `dataset_fingerprint` (input
    files, schema, plan text). Pass `fingerprint=` for content the plan
    does not show — a LogicalRDD or LocalRelation of other rows, a
    mapInArrow closure's seed — or a resume of another such input keeps
    buckets of the first.

    Partition-mode resume relies on Spark's deterministic partition
    planning (same input files + same session confs → same splits); the
    snapshot records the mode and partition count, and a resume whose
    current partition count differs from the recorded one falls back to a
    full re-encode instead of trusting stale bucket ids.

    `data_dirname`/`manifest_dirname` name the generation directories
    inside the table root (default "data"/"manifest"); the snapshot
    records them, and readers resolve through the snapshot — which makes
    the atomic snapshot write a rename-less commit primitive (compaction
    writes a fresh generation, then swaps the pointer).

    Returns a summary dict (buckets encoded/skipped, manifest path)."""
    from parquet_spark import tablefs
    from parquet_spark.sources.arrow_scan import _read_split, fused_scan, fused_splits, plan_facts

    if bucket_mode not in ("auto", "salted", "partition"):
        raise ValueError(f"bucket_mode {bucket_mode!r} not in ('auto', 'salted', 'partition')")
    spark = df.sparkSession
    facts = plan_facts(df)
    fp = dataset_fingerprint(facts, fingerprint)
    columns = facts.schema.fieldNames()
    bloom_cols = list(bloom_cols or [])
    if target_partitions is None:
        target_partitions = max(facts.parallelism * 2, 8)

    cur = read_snapshot(path)  # generation allocation must see the table
    snap = cur if resume else None  # resume logic must NOT (resume=False)

    def _fresh_generation(want_data: str, want_man: str) -> tuple[str, str]:
        # rewriting an existing table: allocate a fresh generation whenever
        # the target dir is referenced by ANY retained snapshot (not just
        # the live one — a third rewrite would otherwise clobber the dir a
        # historical sequence still points at) — copy-on-write keeps every
        # retained sequence readable (read_encoded(as_of=...)); superseded
        # generations are reclaimed only by maintain.expire_snapshots
        retained = {s.get("data_dir", "data") for s in list_snapshots(path)}
        retained.add(cur.get("data_dir", "data"))
        if want_data in retained:
            gen = uuid.uuid4().hex[:8]
            return f"data-{gen}", f"manifest-{gen}"
        return want_data, want_man

    if snap and snap.get("fingerprint") == fp:
        # resume must target the LIVE generation dirs (a compacted table's
        # data may live under data-<gen>), not the caller's defaults
        data_dirname = snap.get("data_dir", data_dirname)
        manifest_dirname = snap.get("manifest_dir", manifest_dirname)
    elif cur is not None:
        data_dirname, manifest_dirname = _fresh_generation(data_dirname, manifest_dirname)
    data_dir = os.path.join(path, data_dirname)
    man_dir = os.path.join(path, manifest_dirname)
    resuming = bool(snap and snap.get("fingerprint") == fp and tablefs.exists(data_dir))

    chosen = bucket_mode
    fused = None
    rule = salt_rule(target_partitions, source_col, salt_key)
    if resuming:
        # resume MUST reuse the recorded mode: a fresh choice could differ
        # and silently change what a bucket id means
        chosen = snap.get("bucket_mode", "salted")
        if chosen == "arrow":
            # want=0: any plan of >= 2 splits; a recorded plan has that many
            fused = fused_splits(facts, 0, block_rows)
            if fused is None or snap.get("partition_plan") != fused[1] or snap.get("n_buckets") != len(fused[0]):
                # split plan drifted (core count, block size, file set) —
                # recorded bucket ids don't describe this plan; re-encode
                resuming = False
                chosen = bucket_mode
                fused = None
        elif chosen == "partition" and (
            facts.npart != snap.get("n_buckets")
            or snap.get("partition_plan") != _partition_plan_conf(spark)
        ):
            # partition planning changed (different partition count OR
            # split-planning confs drifted — count equality alone can hide
            # shifted split boundaries that reassign rows across buckets) —
            # recorded bucket ids are meaningless; re-encode from scratch
            resuming = False
            chosen = bucket_mode
        elif chosen == "salted" and snap.get("salt_rule") != rule:
            # salted bucket ids are a function of the salt rule; under
            # another rule (another target_partitions or key, or a table
            # written before the rule was recorded) the recorded ids mean
            # something else — re-encode
            resuming = False
    if chosen == "auto":
        chosen, fused, _reason = write_mode(facts, target_partitions, cluster_col, block_rows)

    if chosen == "arrow":
        salted = None
        arrow_splits, arrow_plan = fused
        n_buckets = len(arrow_splits)
    elif chosen == "partition":
        salted = df.withColumn(BUCKET_COL, F.spark_partition_id())
        if cluster_col:
            salted = salted.sortWithinPartitions(cluster_col)
        n_buckets = max(facts.npart, 1)
    else:
        salted = salted_repartition(df, target_partitions, source_col, salt_key, cluster_col)
        n_buckets = target_partitions

    if snap is not None and not resuming and cur is not None:
        # a resume invalidated mid-flight (split- or partition-plan drift,
        # or a salt-rule mismatch, all above) had already aimed at the
        # LIVE generation dirs; overwriting them in place would tear the
        # live snapshot on a crash and break every retained sequence that
        # references the generation — re-point at a fresh generation and
        # keep copy-on-write intact
        data_dirname, manifest_dirname = _fresh_generation(data_dirname, manifest_dirname)
        data_dir = os.path.join(path, data_dirname)
        man_dir = os.path.join(path, manifest_dirname)

    skipped = 0
    mode = "overwrite"
    if resuming:
        # completed buckets come from the DATA dir (the source of truth —
        # a crash between the data and manifest writes must not cause a
        # re-encode and duplicate rows); the explicit-schema scan reads the
        # bucket column alone and infers no schema
        done = spark.read.schema("bucket int").parquet(data_dir).distinct()
        if chosen == "arrow":
            # split list is driver-side: filter completed bucket ids out
            # directly (bounded by the split count) instead of anti-joining
            done_ids = {r[0] for r in done.collect()}
            skipped = len(done_ids)
            if skipped:
                arrow_splits = [s for s in arrow_splits if s[0] not in done_ids]
                mode = "append"
        else:
            skipped = done.count()
            if skipped:
                salted = salted.join(F.broadcast(done.withColumnRenamed("bucket", BUCKET_COL)), BUCKET_COL, "left_anti")
                mode = "append"

    if skipped < n_buckets:
        # manifest rows are written SIDE-BAND by the encode tasks into a
        # _pending dir (invisible to parquet discovery) during the one data
        # write job, then published after the job commits — no second scan
        # of the data dir. Data remains the source of truth: a crash before
        # publish leaves the manifest behind, and the resume heal below
        # re-derives the missing entries from the data's meta column.
        pending = os.path.join(man_dir, f"_pending-{uuid.uuid4().hex[:8]}")
        tablefs.mkdirs(pending)
        if chosen == "arrow":
            # fused scan+encode: each task reads its splits with pyarrow and
            # tags their rows with the split's bucket; a task that packs
            # several splits closes a block at every bucket change, so the
            # blocks do not depend on the task count
            stats_cols, out_ddl = _blocks_layout(facts.schema, columns, bloom_cols)

            def read(split, pf):
                for batch in _read_split(pf, *split[2:], columns, block_rows):
                    yield batch.append_column(BUCKET_COL, pa.array([split[0]] * batch.num_rows, pa.int32()))

            enc = _encode_fn(columns, block_rows, codecs, compression, True, stats_cols, pending, bloom_cols)
            blocks = fused_scan(facts, arrow_splits, read, enc, out_ddl)
        else:
            blocks = encode_table(
                salted, columns=columns, block_rows=block_rows, codecs=codecs,
                compression=compression, manifest_dir=pending, bloom_cols=bloom_cols,
            )
        blocks.write.option("parquet.block.size", BLOCKS_ROW_GROUP_BYTES).mode(mode).parquet(data_dir)
        _publish_manifest(pending, man_dir, clear=(mode == "overwrite"))

    if mode == "append" and tablefs.exists(man_dir):
        # resume heal: append entries only for buckets the manifest does
        # not know yet (a crash between a previous run's data write and its
        # manifest publish leaves such gaps). Meta-only explicit-schema
        # scan — payload columns never touched.
        data_meta = spark.read.schema(
            "bucket int, part_id int, block_id long, meta string"
        ).parquet(data_dir)
        known = spark.read.schema(MANIFEST_DDL).parquet(man_dir).select("bucket").distinct()
        fresh = data_meta.join(F.broadcast(known), "bucket", "left_anti")
        if not fresh.isEmpty():
            manifest_from_blocks(fresh).write.mode("append").parquet(man_dir)
    write_snapshot(
        path, facts.schema.json(), columns, fp,
        {
            "n_buckets": n_buckets, "block_rows": block_rows, "bucket_mode": chosen,
            "target_partitions": target_partitions,
            "partition_plan": arrow_plan if chosen == "arrow" else _partition_plan_conf(spark),
            "data_dir": data_dirname, "manifest_dir": manifest_dirname,
            "bloom_cols": bloom_cols,
            **({"salt_rule": rule} if chosen == "salted" else {}),
        },
    )
    return {"fingerprint": fp, "buckets_total": n_buckets, "buckets_skipped": skipped, "path": path}


def append_encoded(
    df: DataFrame,
    path: str,
    target_partitions: int = 64,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    codecs: dict | None = None,
    source_col: str = "source",
    salt_key: str = "doc_id",
) -> dict:
    """Batch append: encode `df` as a new immutable batch directory
    (`data/batch=<n>`) next to the existing ones — the same layout and
    code path as the streaming sink, so batch and streaming ingestion
    compose on one table. `read_encoded` reads the union through parquet
    partition discovery (stats pruning included); `compact_table` folds
    fragmented batches back into full blocks. To replace a table
    wholesale use `write_encoded`; the flat and batch layouts must not be
    mixed under one path (this function refuses a flat table)."""
    import re

    from parquet_spark import tablefs
    from parquet_spark.streaming.encode_stream import StreamingEncoder

    # resolve the LIVE generation dirs through the snapshot: a compacted
    # table's data lives under data-<gen>, and appending into a literal
    # "data/" there would be invisible to every reader
    snap = read_snapshot(path) or {}
    data_dirname = snap.get("data_dir", "data")
    manifest_dirname = snap.get("manifest_dir", "manifest")
    data_dir = os.path.join(path, data_dirname)
    next_id = 0
    if tablefs.is_dir(data_dir):
        entries = tablefs.listdir(data_dir)
        ids = [int(m.group(1)) for d in entries if (m := re.match(r"batch=(\d+)$", d))]
        if not ids and any(not e.startswith(("_", ".")) for e in entries):
            raise ValueError(
                f"{path} holds a flat write_encoded table; append_encoded "
                "requires the batch layout (create the table with "
                "append_encoded or the streaming sink)"
            )
        next_id = max(ids, default=-1) + 1
    enc = StreamingEncoder(
        path, target_partitions=target_partitions, block_rows=block_rows,
        codecs=codecs, source_col=source_col, salt_key=salt_key,
        data_dirname=data_dirname, manifest_dirname=manifest_dirname,
    )
    enc(df, next_id)
    return {"path": path, "batch_id": next_id}
