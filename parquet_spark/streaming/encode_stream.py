"""Streaming ingestion → encoded table: continuous encode of arriving
sequence micro-batches.

The reference has no streaming surface (SURVEY.md §2.5), so this is pure
new capability: `readStream` sources feed the SAME batch encode operators
through `foreachBatch` — one code path for batch and streaming, which is
the idiomatic Structured Streaming pattern for sinks Spark doesn't ship
(our manifest+blocks table layout).

Each micro-batch appends:
  data/batch=<id>/      encoded blocks (one parquet dir per micro-batch)
  manifest/batch=<id>/  per-(bucket, block, column) metrics
with exactly-once semantics delegated to the checkpoint: a replayed batch
id overwrites its own directory instead of duplicating (idempotent sink,
the standard foreachBatch recipe).

At cluster scale the stream's salted repartition reuses a bucket plan
computed once per `plan_refresh_batches` micro-batches (a plan per batch
would re-aggregate the stream constantly; source skew drifts slowly).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from parquet_spark.operators.encode import (
    DEFAULT_BLOCK_ROWS,
    encode_table,
    manifest_from_blocks,
    write_snapshot,
)
from parquet_spark.operators.repartition import plan_salted_buckets, with_salted_bucket

BUCKET_COL = "__bucket"


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
        weight_col: str | None = "n_tok",
        plan_refresh_batches: int = 10,
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
        self.weight_col = weight_col
        self.plan_refresh_batches = plan_refresh_batches
        self.bucket_mode = bucket_mode
        self._plan = None
        self._snapshot_written = False

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # a compaction/delete/merge that rewrote the table under a LIVE
        # stream swaps the snapshot to a generation this encoder does not
        # know; silently writing (and snapshotting) the stale dirname
        # would resurrect rewritten-away data — refuse loudly instead
        from parquet_spark.operators.encode import read_snapshot as _rs

        live = _rs(self.path)
        if live is not None and live.get("data_dir", "data") != self.data_dirname:
            raise RuntimeError(
                f"table {self.path} was rewritten under this stream (live "
                f"generation {live.get('data_dir')!r} != sink's "
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
            if self._plan is None or (batch_id % self.plan_refresh_batches) == 0:
                self._plan = plan_salted_buckets(
                    batch_df, self.target_partitions, self.source_col, self.weight_col
                )
            salted = with_salted_bucket(
                batch_df, self._plan, self.source_col, self.salt_key, BUCKET_COL
            )
            n_buckets = self._plan[-1][1] + self._plan[-1][2] if self._plan else self.target_partitions
            salted = salted.repartition(
                min(n_buckets, self.target_partitions), BUCKET_COL
            ).sortWithinPartitions(BUCKET_COL)
        blocks = encode_table(
            salted, columns=columns, block_rows=self.block_rows, codecs=self.codecs
        )
        # idempotent per-batch dirs: a checkpoint replay overwrites, never dups
        data_dir = os.path.join(self.path, self.data_dirname, f"batch={batch_id}")
        blocks.write.mode("overwrite").parquet(data_dir)
        spark = batch_df.sparkSession
        data_df = spark.read.parquet(data_dir)
        manifest_from_blocks(
            data_df.select("bucket", "part_id", "block_id", "meta")
        ).withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").parquet(
            os.path.join(self.path, self.manifest_dirname, f"batch={batch_id}")
        )
        # snapshot per committed batch: the sequence log is what makes
        # read_encoded(as_of=...) meaningful on batch/streaming tables.
        # max_batch is monotone even across checkpoint replays (a replayed
        # old batch must not regress the visible high-water mark).
        # Additive schema evolution: the committed schema is the UNION of
        # the previous snapshot's fields and this batch's — a column an
        # earlier batch wrote stays readable (new blocks null-fill it) and
        # a column this batch adds null-fills the older blocks.
        from pyspark.sql.types import StructType

        from parquet_spark.operators.encode import read_snapshot

        prev = read_snapshot(self.path) or {}
        schema = batch_df.schema
        if prev.get("schema"):
            from pyspark.sql.types import StructField

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

