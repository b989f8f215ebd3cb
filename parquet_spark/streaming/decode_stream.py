"""Structured Streaming SOURCE over an encoded table — the read-side
complement of `streaming.encode_stream.StreamingEncoder` (the sink).

A downstream consumer (e.g. a training-data loader) tails the table:
every batch committed by `append_encoded` or the streaming sink arrives
as new parquet block files under the live generation dir, and Spark's
file stream source hands exactly the unseen files to each micro-batch.
Decode is the SAME `decode_table` mapInArrow stage the batch reader uses
(operators/decode.py) — `mapInArrow` is streaming-capable, so the
streaming plan is scan → decode, identical in shape to the batch plan.

Spark-first replacement scope: the reference has no streaming surface at
all (SURVEY.md §2.5); this rounds out the engine's ingest/consume pair.

Semantics and limits (documented, enforced where cheap):

- The stream binds to the generation dir the snapshot names AT START.
  A compaction that swaps generations mid-stream does not redirect the
  running query (the file source's path is fixed); restart the query to
  pick up the new generation — same rule as the sink's stale-generation
  guard.
- Exactly-once per file: offsets are file names tracked in the query's
  `checkpointLocation` — standard file-source semantics, aligned with
  the table's append-only batch layout.
- The blocks schema comes from the snapshot (`decode.blocks_ddl`), not
  from the files, so a fresh table whose data dir holds no batch yet
  opens as a stream before its first batch lands, and the stream starts
  without a schema-inference job. Additive schema evolution works
  without a restart for every column the snapshot names at start: a
  file written before a column existed reads it as null, and
  `decode_table` decodes it as typed null rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from parquet_spark.operators.decode import blocks_ddl, decode_table
from parquet_spark.operators.encode import read_snapshot


def read_encoded_stream(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    verify: bool = False,
) -> DataFrame:
    """Open an encoded table as a streaming DataFrame that tails new
    batches. Pair with `.writeStream` and a `checkpointLocation`;
    `trigger(availableNow=True)` drains what exists and stops (the batch
    catch-up pattern), no trigger means continuous tailing.

    `max_files_per_trigger` bounds micro-batch size (each block file is
    one (bucket, batch) slice of ~block_rows·columns cells — the knob is
    back-pressure for slow sinks). `verify=True` crc-checks every payload
    against the manifest checksum before decode, same as the batch
    reader."""
    snap = read_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    schema = StructType.fromJson(snap["schema"])
    data_dir = os.path.join(path, snap.get("data_dir", "data"))
    reader = spark.readStream.schema(blocks_ddl(snap)).option("basePath", data_dir)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    blocks = reader.parquet(data_dir)
    return decode_table(blocks, schema, columns, verify=verify)
