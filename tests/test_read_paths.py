"""Every blocks reader returns the same rows.

For each table shape, three readers must agree on schema, row count and
CRC:

- `read_encoded` without `where`, which takes the fused read
  (Range → MapInArrow, pyarrow reading the blocks inside the decode task);
- `decode_table` over Spark's own scan of the generation dir
  (`mergeSchema`, and the `batch <= max_batch` filter for `as_of`);
- the Data Source reader (`spark.read.format("parquet_spark")`).
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

CASES = [
    "flat",
    "batches_evolved",
    "batches_as_of_first",
    "flat_as_of_before_rewrite",
    "temporal_decimal_struct",
    "flat_junk_temporary",
    "flat_verify",
]


def _crc(df):
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """case -> (path, as_of, verify, expected row count)."""
    from parquet_spark.operators.encode import append_encoded, list_snapshots, read_snapshot, write_encoded

    root = tmp_path_factory.mktemp("read_paths")
    out = {}

    def ids(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v"))

    flat = str(root / "flat")
    write_encoded(ids(0, 1500), flat, target_partitions=4, resume=False, block_rows=256)
    out["flat"] = (flat, None, False, 1500)
    out["flat_verify"] = (flat, None, True, 1500)

    junk = str(root / "junk")
    write_encoded(ids(0, 900), junk, target_partitions=2, resume=False, block_rows=128)
    data_dir = os.path.join(junk, read_snapshot(junk)["data_dir"])
    part = max((f for f in os.listdir(data_dir) if f.endswith(".parquet")),
               key=lambda f: os.path.getsize(os.path.join(data_dir, f)))
    os.makedirs(os.path.join(data_dir, "_temporary", "0"))
    shutil.copy(os.path.join(data_dir, part), os.path.join(data_dir, "_temporary", "0", "part-junk.parquet"))
    out["flat_junk_temporary"] = (junk, None, False, 900)

    evo = str(root / "evo")
    append_encoded(ids(0, 400), evo, target_partitions=2)
    seq1 = list_snapshots(evo)[-1]["sequence"]
    append_encoded(ids(400, 600).withColumn("score", F.col("doc_id") * 0.5), evo, target_partitions=2)
    out["batches_evolved"] = (evo, None, False, 600)
    out["batches_as_of_first"] = (evo, seq1, False, 400)

    rewrite = str(root / "rewrite")
    write_encoded(ids(0, 700), rewrite, target_partitions=2, resume=False)
    seq_old = list_snapshots(rewrite)[-1]["sequence"]
    write_encoded(ids(5000, 5300), rewrite, target_partitions=2, resume=False)
    out["flat_as_of_before_rewrite"] = (rewrite, seq_old, False, 700)

    t0 = dt.datetime(2024, 3, 1, 12, 30)
    rows = [
        (
            i,
            None if i % 11 == 0 else t0 + dt.timedelta(minutes=i),
            None if i % 13 == 0 else [t0 + dt.timedelta(hours=i), None],
            dt.date(2020, 1, 1) + dt.timedelta(days=i),
            decimal.Decimal(i * 7) / 100,
            None if i % 5 == 0 else (i,),
        )
        for i in range(300)
    ]
    typed = str(root / "typed")
    ddl = "k long, ts timestamp, tss array<timestamp>, d date, dec decimal(12,2), s struct<a: int not null>"
    write_encoded(spark.createDataFrame(rows, ddl), typed, target_partitions=2, resume=False, block_rows=64)
    out["temporal_decimal_struct"] = (typed, None, False, 300)
    return out


@pytest.mark.parametrize("case", CASES)
def test_readers_agree(spark, tables, case):
    from parquet_spark.operators.decode import decode_table, read_encoded
    from parquet_spark.operators.encode import read_snapshot
    from parquet_spark.sources.spark_datasource import register

    path, as_of, verify, n = tables[case]
    fused = read_encoded(spark, path, verify=verify, as_of=as_of)
    assert "Range (" in fused._jdf.queryExecution().executedPlan().toString()

    snap = read_snapshot(path, as_of=as_of)
    blocks = spark.read.option("mergeSchema", "true").parquet(os.path.join(path, snap["data_dir"]))
    if as_of is not None and "batch" in blocks.columns:
        blocks = blocks.where(F.col("batch") <= int(snap["max_batch"]))
    scan = decode_table(blocks, StructType.fromJson(snap["schema"]), verify=verify)

    register(spark)
    reader = spark.read.format("parquet_spark").option("verify", str(verify).lower())
    if as_of is not None:
        reader = reader.option("as_of", as_of)
    ds = reader.load(path)

    assert fused.schema == scan.schema == ds.schema
    assert fused.count() == scan.count() == ds.count() == n
    assert _crc(fused) == _crc(scan) == _crc(ds)


def test_missing_generation_keeps_spark_error(spark, tmp_path):
    """A snapshot whose generation dir is gone lists no blocks files: the
    read keeps the Spark scan, which raises its own error."""
    from pyspark.errors import AnalysisException

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded

    path = str(tmp_path / "t")
    write_encoded(spark.range(0, 100).withColumnRenamed("id", "k"), path, target_partitions=1, resume=False)
    data_dir = os.path.join(path, read_snapshot(path)["data_dir"])
    shutil.rmtree(data_dir)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        spark.read.parquet(data_dir)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_encoded(spark, path)
