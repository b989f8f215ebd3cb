"""Arrow-native parquet scan fused with the block encode (one mapInArrow).

Why this exists (r6 optimization round): `encode_table` over a Spark
parquet scan pays the JVM→Python Arrow conversion for every input row —
Spark's vectorized reader materializes internal rows, and the mapInArrow
feed transposes them back into Arrow batches row by row. Measured on the
6M-row lineitem projection (local[32], sf1.0): an *identity* mapInArrow
costs 2.5 s against a 0.27 s scan — the conversion, not the codecs, is the
whole roundtrip budget (spark_optimization_guide §4.1: "you cannot remove
that cost, but you control how many columns cross" — here we remove the
crossing itself for the scan side).

This operator applies the guide's §8.4 co-locate pattern instead: the
driver plans (file, row-group, row-range) splits, Spark distributes them
as one tiny row each, and every task reads its own slice with pyarrow
directly into Arrow batches — already columnar, zero JVM row traffic —
feeding the SAME `_encode_fn` kernels that `encode_table` uses. The
output relation is identical in shape and content semantics (one row per
block, binary payload columns), so `decode_table` consumes it unchanged.
Measured: the lineitem auto roundtrip drops 2.83 s → 1.51 s (interleaved
min, same session).

Scale behaviour (the rules are size-derived, not tuned to local[32]):

- **one gate**: `fused_splits` decides for every caller (write_encoded,
  decode.roundtrip_table, explain_partitioning) from the plan string and
  the footers, read once per op (`PlanFacts`). The fused feed runs when
  df is a bare local parquet relation or a plain-column projection of
  one, and the split plan below yields at least max(2, want // 2) splits
  (`want` = the tasks the caller would run); there is no row threshold.
  With `spark.sql.files.ignoreCorruptFiles` on, the Spark scan always
  runs, because only it skips unreadable files.
- **many files** (>= default parallelism): one split per file and the
  driver reads NO footers — planning is file listing only, the same
  metadata Spark's own planner needs. The 100 TB case lands here.
- **few files**: the driver reads those footers (bounded by the
  parallelism, so bounded work) and splits at row-group granularity;
  when there are fewer row groups than cores, each is range-sub-split
  into equal row ranges of at least `MIN_SPLIT_BYTES` (128 KB) of its
  compressed column-chunk bytes, read from the same footers. Bytes, not
  rows, are the unit: 9,000 wide text rows in one 1 MB row group split
  4 ways, as many narrow rows of the same bytes would. A task stops
  decoding its row group at the end of its range (iter_batches +
  break), so sub-splitting costs at most one extra partial decode of the
  leading rows, never a full redundant read of the file. Row groups
  without rows plan no split.
- **tasks**: splits are packed into tasks, not run one task each. Every
  Python task pays a fixed start-up cost before its kernel runs, so
  `fused_task_count` packs contiguous splits into about
  `spark.sql.files.maxPartitionBytes` of input per task, with a floor of
  full parallelism — one wave of tasks for any input up to
  parallelism x 128 MB.
"""

from __future__ import annotations

import dataclasses
import functools
import os
import re
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.java_gateway import JavaMember
from py4j.protocol import STATIC_PREFIX, Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from parquet_spark.operators.encode import DEFAULT_BLOCK_ROWS, _parse_bytes_conf

# The least input worth a split of its own, per core: a range sub-split
# holds at least this much of its row group's compressed bytes, and
# decode.roundtrip_table repartitions a Spark-fed input across the cores
# from this much input per core.
MIN_SPLIT_BYTES = 128 << 10


def list_parquet_files(path: str) -> list[str]:
    """Local parquet file or directory of part files, sorted for
    deterministic split planning."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    raise FileNotFoundError(path)


def local_path(uri: str) -> str | None:
    """The local path of a `file:` URI from `DataFrame.inputFiles()`
    (percent-decoded: a space arrives as %20), else None."""
    parts = urlparse(uri)
    return unquote(parts.path) if parts.scheme == "file" else None


@dataclasses.dataclass(frozen=True)
class PlanFacts:
    """What one op reads of its session and input DataFrame, each fact
    once (`session_facts`, `plan_facts`). The rules that decide the op
    read this record and ask the JVM nothing more. `npart`, `plan_json`
    and `file_splits` are computed on first use and kept."""

    spark: SparkSession
    parallelism: int  # defaultParallelism
    ignore_corrupt: bool  # spark.sql.files.ignoreCorruptFiles
    max_partition_bytes: int  # spark.sql.files.maxPartitionBytes
    df: DataFrame | None = None
    plan: str = ""  # optimized plan text; "" when there is no JVM plan
    files: tuple[str, ...] = ()  # sorted inputFiles() URIs
    paths: tuple[str | None, ...] = ()  # their local paths (`local_path`)
    schema: StructType | None = None

    @functools.cached_property
    def npart(self) -> int:
        """The input's partition count: a Spark-feed fact only."""
        return self.df.rdd.getNumPartitions()

    @functools.cached_property
    def plan_json(self) -> str:
        """The optimized plan's JSON without its expression-id objects
        (`exprId`, `resultId`), "" when there is no JVM plan: a fingerprint
        fact only. `plan` cuts lists past maxToStringFields to `... N more
        fields]`; the JSON lists every item."""
        try:
            js = self.df._jdf.queryExecution().optimizedPlan().toJSON()
        except (Py4JError, AttributeError):  # no input DataFrame or no JVM plan
            return ""
        return re.sub(r'\{"product-class":"org\.apache\.spark\.sql\.catalyst\.expressions\.ExprId"[^{}]*\}', "", js)

    @functools.cached_property
    def file_splits(self) -> list[tuple[str, int, int, int]] | None:
        """The fused gate's split plan [(file, rg, lo, hi)], or None for
        the Spark feed; `fused_splits` lists the conditions."""
        nodes = [line.lstrip(" +-:") for line in self.plan.splitlines()]
        # every projection item that is not a plain attribute is an Alias
        # and prints " AS "; a truncated list hides its items
        if len(nodes) == 2 and nodes[0].startswith("Project [") and not any(
            s in nodes[0] for s in (" AS ", " more fields]")
        ):
            nodes = nodes[1:]
        if len(nodes) != 1 or not nodes[0].startswith("Relation ") or not nodes[0].endswith(" parquet"):
            return None
        cols = self.schema.fieldNames()
        if self.ignore_corrupt or not cols or len(set(cols)) != len(cols) or not self.paths:
            return None
        if None in self.paths or not all(map(os.path.exists, self.paths)):
            return None
        files = sorted(self.paths)
        try:
            # the footers the planner reads: every file's when there are
            # few files, else only the first file's
            few = files if len(files) < self.parallelism else files[:1]
            footers = {f: pq.read_metadata(f) for f in few}
            if not _read_types_match(self.schema, [m.schema.to_arrow_schema() for m in footers.values()]):
                return None
            return _plan_splits_for_files(files, self.parallelism, footers)
        except (OSError, ValueError, NotImplementedError):  # unreadable
            # footer (pyarrow's ArrowInvalid is a ValueError): the Spark
            # scan reports it
            return None


def session_facts(spark: SparkSession) -> PlanFacts:
    """The session's share of `PlanFacts`, for an op without an input
    DataFrame (the blocks read)."""
    conf = spark.conf
    return PlanFacts(
        spark, spark.sparkContext.defaultParallelism,
        conf.get("spark.sql.files.ignoreCorruptFiles", "false").lower() == "true",
        _parse_bytes_conf(conf.get("spark.sql.files.maxPartitionBytes", "128m"), 128 << 20),
    )


def _input_files(df: DataFrame) -> tuple[str, ...]:
    """`df.inputFiles()`, sorted, in 3 py4j round trips whatever the file
    count. PySpark's own call converts the Java array one element at a
    time, 2 round trips a file; here the JVM wraps the array as a Scala
    Seq (a static member called without reflection lookups) and joins it
    with NUL, which no path holds."""
    wrap = JavaMember("genericWrapArray", None, STATIC_PREFIX + "scala.runtime.ScalaRunTime", df._jdf._gateway_client)
    joined = wrap(df._jdf.inputFiles()).mkString("\u0000")
    return tuple(sorted(joined.split("\u0000"))) if joined else ()


def plan_facts(df: DataFrame) -> PlanFacts:
    """`PlanFacts` of one op over `df`: one plan-text read, one
    `inputFiles()`, the session's facts and the schema."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except (Py4JError, AttributeError):  # no JVM plan (e.g. Spark Connect)
        plan = ""
    files = _input_files(df)
    return dataclasses.replace(
        session_facts(df.sparkSession), df=df, plan=plan, files=files,
        paths=tuple(map(local_path, files)), schema=df.schema,
    )


def fused_splits(
    facts: PlanFacts, want: int, block_rows: int = DEFAULT_BLOCK_ROWS
) -> tuple[list[tuple[int, str, int, int, int]], dict] | None:
    """The one fused-feed gate. Returns the bucketed split plan
    [(bucket, file, rg, lo, hi)] and the plan-identity dict the snapshot
    records, or None for the Spark feed. It decides from the plan string
    and the footers (`facts.file_splits`); the fused feed needs:

    - an optimized plan that is one local parquet `Relation`, optionally
      under one `Project` of plain columns (no ` AS `: no alias or
      computed column), with distinct column names — the only shapes a
      pyarrow read of the files reproduces exactly;
    - every column read by pyarrow with the Arrow type of its Spark field
      (`_read_types_match`); a partition or metadata column is in no
      footer, so it refuses too;
    - at least max(2, want // 2) splits, enough to occupy the `want`
      tasks the caller would otherwise run;
    - readable footers, and `spark.sql.files.ignoreCorruptFiles` off.

    A resume recomputes this plan and compares it for equality — any
    drift (file set, core count, block size) invalidates recorded bucket
    ids and forces a full re-encode, like partition-mode conf drift."""
    raw = facts.file_splits
    if raw is None or len(raw) < max(2, want // 2):
        return None
    splits = [(i, f, rg, lo, hi) for i, (f, rg, lo, hi) in enumerate(raw)]
    plan = {
        "mode": "arrow",
        "n_splits": len(splits),
        "parallelism": int(facts.parallelism),
        "block_rows": int(block_rows),
        "n_files": len(facts.files),
    }
    return splits, plan


def _same_type(a: pa.DataType, b: pa.DataType) -> bool:
    """Arrow type equality up to timestamp timezones, child nullability
    and list item names (pyarrow reads `element`, Spark says `item`)."""
    if pa.types.is_timestamp(a) and pa.types.is_timestamp(b):
        return a.unit == b.unit
    if a.id != b.id or a.num_fields != b.num_fields:
        return False
    if not a.num_fields:
        return a == b
    return all(
        _same_type(a.field(i).type, b.field(i).type)
        and (not pa.types.is_struct(a) or a.field(i).name == b.field(i).name)
        for i in range(a.num_fields)
    )


def _read_types_match(spark_schema, arrow_schemas: list[pa.Schema]) -> bool:
    """Every Spark field's Arrow type (`to_arrow_type`) equals the type
    pyarrow reads for the file column of that exact name, in every given
    footer schema. Otherwise the fused feed would hand the kernels other
    values than the Spark scan does: INT96 timestamps read as ns, unsigned
    and dictionary-typed columns, names that differ only in case."""
    from pyspark.sql.pandas.types import to_arrow_type

    try:
        want = [(f.name, to_arrow_type(f.dataType)) for f in spark_schema.fields]
    except TypeError:  # a Spark type without an Arrow mapping
        return False
    for schema in arrow_schemas:
        for name, t in want:
            i = schema.get_field_index(name)
            if i < 0 or not _same_type(schema.field(i).type, t):
                return False
    return True


def plan_arrow_splits(path: str, parallelism: int) -> list[tuple[str, int, int, int]]:
    """(file, row_group, lo, hi) splits. row_group == -1 means the whole
    file (many-files regime: the driver read no footer, the task will).
    lo/hi are row offsets within the row group; hi == -1 means to the end."""
    files = list_parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return _plan_splits_for_files(files, parallelism)


def _plan_splits_for_files(
    files: list[str], parallelism: int, footers: dict | None = None, preds: list[tuple] = ()
) -> list[tuple[str, int, int, int]]:
    """`footers`: FileMetaData by file, already read by the caller.
    `preds`: `where` triples of a blocks read; a row group whose footer
    stats exclude a match (`decode.row_group_keep`) plans no split."""
    from parquet_spark.operators.decode import row_group_keep

    if len(files) >= parallelism:
        return [(f, -1, 0, -1) for f in files]
    splits: list[tuple[str, int, int, int]] = []
    rg_meta = []  # (file, rg, n_rows, compressed column-chunk bytes)
    for f in files:
        meta = footers[f] if footers else pq.ParquetFile(f).metadata
        keep = row_group_keep(meta, preds)
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            if g.num_rows and keep[rg]:  # a row group without rows needs no read
                nbytes = sum(g.column(i).total_compressed_size for i in range(g.num_columns))
                rg_meta.append((f, rg, g.num_rows, nbytes))
    if not rg_meta or len(rg_meta) >= parallelism:
        return [(f, rg, 0, -1) for f, rg, _n, _b in rg_meta]
    # sub-split large row groups so every core gets work, into equal row
    # ranges of at least MIN_SPLIT_BYTES of the row group's compressed
    # bytes each, so per-split overhead stays amortized
    per_rg = max(1, -(-parallelism // len(rg_meta)))
    for f, rg, n, nbytes in rg_meta:
        k = max(1, min(per_rg, nbytes // MIN_SPLIT_BYTES, n))
        splits.extend((f, rg, i * n // k, (i + 1) * n // k) for i in range(k))
    return splits


def _read_split(pf, rg: int, lo: int, hi: int, cols: list[str], batch_rows: int):
    """Yield Arrow batches for rows [lo, hi) of one row group of the open
    ParquetFile `pf` (rg == -1: the whole file; hi == -1: to the end).
    Stops decoding at hi, so a sub-split pays at most the partial decode
    of its leading rows."""
    rgs = None if rg < 0 else [rg]
    end = float("inf") if hi < 0 else hi
    off = 0
    for batch in pf.iter_batches(batch_size=batch_rows, row_groups=rgs, columns=cols):
        n = batch.num_rows
        if off + n > lo and off < end:
            s = max(lo - off, 0)
            e = min(end - off, n)
            yield batch.slice(s, int(e - s))
        off += n
        if off >= end:
            break


def fused_task_count(facts: PlanFacts, splits: list[tuple]) -> int:
    """Tasks the fused scan packs `splits` into — Spark's own small-file
    rule: about `spark.sql.files.maxPartitionBytes` of input per task,
    never fewer tasks than the default parallelism, never more than
    splits. Splits end in (file, rg, lo, hi); each file counts once."""
    input_bytes = sum(os.path.getsize(f) for f in {s[-4] for s in splits})
    return max(1, min(len(splits), max(facts.parallelism, input_bytes // max(facts.max_partition_bytes, 1))))


def fused_scan(facts: PlanFacts, splits: list[tuple], read, kernel, out_schema) -> DataFrame:
    """The one task skeleton of every fused-scan operator. The split list
    ships as a broadcast and the tasks as a JVM-native Range of split ids
    (a parallelize()d Python RDD would add a second Python hop per task),
    so the task closure stays O(1) at any split count. The Range packs
    contiguous split ids into `fused_task_count` tasks; each task opens
    one ParquetFile per file (splits are file-ordered), feeds
    `read(split, pf)` batches for its splits to `kernel`, and yields
    the kernel's output batches."""
    bc = facts.spark.sparkContext.broadcast(list(splits))
    sdf = facts.spark.range(0, len(splits), numPartitions=fused_task_count(facts, splits))

    def gen(batches):
        import pyarrow.parquet as pq

        def feed():
            path = pf = None
            for b in batches:
                for sid in b.column("id").to_pylist():
                    split = bc.value[sid]
                    if split[-4] != path:
                        path = split[-4]
                        pf = pq.ParquetFile(path)
                    yield from read(split, pf)

        yield from kernel(feed())

    return sdf.mapInArrow(gen, out_schema)

