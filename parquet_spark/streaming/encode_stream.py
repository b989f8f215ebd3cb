"""Streaming ingestion → encoded table: continuous encode of arriving
sequence micro-batches.

The reference has no streaming surface (SURVEY.md §2.5), so this is pure
new capability: `readStream` sources feed the SAME batch encode operators
through `foreachBatch` — one code path for batch and streaming, which is
the idiomatic Structured Streaming pattern for sinks Spark doesn't ship
(our manifest+blocks table layout).

Each micro-batch appends:
  data/batch=<id>/      encoded blocks (one parquet dir per micro-batch)
  manifest/batch=<id>/  per-(bucket, block, column) metrics, written side-
                        band by the encode tasks as in write_encoded
with exactly-once semantics delegated to the checkpoint: a replayed batch
id overwrites its own directories instead of duplicating (idempotent
sink, the standard foreachBatch recipe).

A salted micro-batch takes write_encoded's salted repartition
(`repartition.salted_repartition`): no job of its own, and exactly
`target_partitions` buckets, one per encode task.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from parquet_spark import tablefs
from parquet_spark.operators.encode import (
    BLOCKS_ROW_GROUP_BYTES,
    BUCKET_COL,
    DEFAULT_BLOCK_ROWS,
    _publish_manifest,
    encode_table,
    read_snapshot,
    write_snapshot,
)
from parquet_spark.operators.repartition import salted_repartition


class StreamingEncoder:
    """foreachBatch sink: encode each micro-batch into the table layout.

    Usage:
        enc = StreamingEncoder(path, target_partitions=64)
        q = (df_stream.writeStream.foreachBatch(enc)
             .option("checkpointLocation", ckpt).start())
    """

    def __init__(
        self,
        path: str,
        target_partitions: int = 64,
        block_rows: int = DEFAULT_BLOCK_ROWS,
        codecs: dict | None = None,
        source_col: str = "source",
        salt_key: str = "doc_id",
        bucket_mode: str = "salted",
        data_dirname: str = "data",
        manifest_dirname: str = "manifest",
    ) -> None:
        if bucket_mode not in ("salted", "partition"):
            raise ValueError(f"bucket_mode {bucket_mode!r} not in ('salted', 'partition')")
        self.path = path
        # generation dirs: a compacted table's live data/manifest dirs are
        # snapshot-named (data-<gen>); append_encoded threads them through
        self.data_dirname = data_dirname
        self.manifest_dirname = manifest_dirname
        self.target_partitions = target_partitions
        self.block_rows = block_rows
        self.codecs = codecs
        self.source_col = source_col
        self.salt_key = salt_key
        self.bucket_mode = bucket_mode
        self._snapshot_written = False

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # a compaction/delete/merge that rewrote the table under a LIVE
        # stream swaps the snapshot to a generation this encoder does not
        # know; silently writing (and snapshotting) the stale dirname
        # would resurrect rewritten-away data — refuse loudly instead
        prev = read_snapshot(self.path) or {}
        if prev and prev.get("data_dir", "data") != self.data_dirname:
            raise RuntimeError(
                f"table {self.path} was rewritten under this stream (live "
                f"generation {prev.get('data_dir')!r} != sink's "
                f"{self.data_dirname!r}); restart the stream against the "
                "current snapshot"
            )
        columns = list(batch_df.columns)
        if self.bucket_mode == "partition":
            # zero-shuffle micro-batches: a batch replay overwrites its
            # WHOLE batch dir (idempotence is per-batch, not per-bucket),
            # so bucket ids need no cross-run stability and the batch's
            # source partitioning is used as-is — the minimum-latency
            # path for streams whose sources are byte-balanced (e.g.
            # Kafka with balanced partitions). Skewed streams keep the
            # default salted mode.
            salted = batch_df.withColumn(BUCKET_COL, F.spark_partition_id())
        else:
            salted = salted_repartition(batch_df, self.target_partitions, self.source_col, self.salt_key)
        # idempotent per-batch dirs: a checkpoint replay overwrites, never
        # dups — the data write in overwrite mode, the manifest publish by
        # clearing the batch's manifest dir
        data_dir = os.path.join(self.path, self.data_dirname, f"batch={batch_id}")
        man_dir = os.path.join(self.path, self.manifest_dirname, f"batch={batch_id}")
        pending = os.path.join(man_dir, f"_pending-{uuid.uuid4().hex[:8]}")
        tablefs.mkdirs(pending)
        blocks = encode_table(
            salted, columns=columns, block_rows=self.block_rows, codecs=self.codecs, manifest_dir=pending
        )
        blocks.write.option("parquet.block.size", BLOCKS_ROW_GROUP_BYTES).mode("overwrite").parquet(data_dir)
        if not _publish_manifest(pending, man_dir, clear=True):
            # no part published: an empty micro-batch leaves no batch dir
            # and no snapshot
            for d in (data_dir, man_dir):
                tablefs.delete_dir(d)
            return
        # snapshot per committed batch: the sequence log is what makes
        # read_encoded(as_of=...) meaningful on batch/streaming tables.
        # max_batch is monotone even across checkpoint replays (a replayed
        # old batch must not regress the visible high-water mark).
        # Additive schema evolution: the committed schema is the UNION of
        # the previous snapshot's fields and this batch's — a column an
        # earlier batch wrote stays readable (new blocks null-fill it) and
        # a column this batch adds null-fills the older blocks.
        schema = batch_df.schema
        if prev.get("schema"):
            old = StructType.fromJson(prev["schema"])
            by_new = {f.name: f for f in schema.fields}
            merged = []
            for f in old.fields:
                g = by_new.get(f.name)
                if g is not None and g.dataType != f.dataType:
                    raise ValueError(
                        f"schema evolution is additive-only: column {f.name!r} "
                        f"changed type {f.dataType.simpleString()} -> "
                        f"{g.dataType.simpleString()}"
                    )
                # a column absent from SOME batch decodes as null there, so
                # any field not present in every batch must be nullable —
                # conservatively: dropped-now or added-later fields
                nullable = True if g is None else (f.nullable or g.nullable)
                merged.append(StructField(f.name, f.dataType, nullable))
            old_names = {f.name for f in old.fields}
            merged += [
                StructField(f.name, f.dataType, True)
                for f in schema.fields if f.name not in old_names
            ]
            schema = StructType(merged)
        write_snapshot(
            self.path,
            schema.json(),
            [f.name for f in schema.fields],
            f"stream-{os.path.basename(self.path)}",
            {
                "streaming": True, "block_rows": self.block_rows,
                "data_dir": self.data_dirname, "manifest_dir": self.manifest_dirname,
                "max_batch": max(int(prev.get("max_batch", -1)), int(batch_id)),
            },
        )
        self._snapshot_written = True

