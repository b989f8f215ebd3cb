"""r6 session-2 fusions are execution strategies, never semantics changes:

- `read_encoded` bare reads decode via a fused pyarrow blocks scan
  (Range + broadcast split plan, no JVM hop for payloads) and must equal
  the Spark-scan + decode_table path row for row.
- `roundtrip_table` runs encode+decode in ONE mapInArrow stage, over
  either feed, and must equal the two-stage chain.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _crc(df):
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0]


def _spark_scan_decode(spark, path, columns=None):
    """The pre-fusion read path, for equivalence baselines."""
    from parquet_spark.operators.decode import decode_table
    from parquet_spark.operators.encode import read_snapshot
    from pyspark.sql.types import StructType

    snap = read_snapshot(path)
    schema = StructType.fromJson(snap["schema"])
    blocks = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, snap.get("data_dir", "data"))
    )
    return decode_table(blocks, schema, columns)


def test_fused_read_matches_spark_scan(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t")
    write_encoded(sequences_df(spark, 3000, seed=7, n_partitions=3), path, target_partitions=4, resume=False)
    fused = read_encoded(spark, path)
    plain = _spark_scan_decode(spark, path)
    assert fused.schema == plain.schema
    assert fused.count() == plain.count() == 3000
    assert _crc(fused) == _crc(plain)
    # the fused plan is a Range->mapInArrow, not a parquet scan of blocks
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan
    assert "Scan parquet" not in plan


@pytest.mark.parametrize("verify", [False, True])
def test_fused_read_range_splits_one_wide_blocks_file(spark, tmp_path, verify):
    """One blocks file whose single row group holds >= parallelism x
    MIN_SPLIT_BYTES of payload: the bare read plans it into row ranges
    (byte floor) and still equals the Spark-scan decode, with and
    without verify."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.arrow_scan import MIN_SPLIT_BYTES, list_parquet_files, plan_arrow_splits

    rng = np.random.default_rng(9)
    hexes = np.frombuffer(b"0123456789abcdef", np.uint8)[rng.integers(0, 16, (400, 4096))]
    src = str(tmp_path / "wide.parquet")
    pq.write_table(pa.table({"k": pa.array(range(400), pa.int64()), "s": [r.tobytes().decode() for r in hexes]}), src)
    path = str(tmp_path / "t")
    # the filter keeps the input on the Spark feed: one bucket, one blocks file
    df = spark.read.parquet(src).where(F.col("k") >= 0)
    write_encoded(df, path, target_partitions=1, resume=False, block_rows=32)
    files = list_parquet_files(os.path.join(path, "data"))
    meta = pq.ParquetFile(files[0]).metadata
    par = spark.sparkContext.defaultParallelism
    assert len(files) == 1 and meta.num_row_groups == 1
    g = meta.row_group(0)
    assert sum(g.column(i).total_compressed_size for i in range(g.num_columns)) >= par * MIN_SPLIT_BYTES
    splits = plan_arrow_splits(os.path.join(path, "data"), par)
    assert len(splits) >= par and all(rg == 0 and hi > lo for _f, rg, lo, hi in splits)

    fused = read_encoded(spark, path, verify=verify)
    assert "Range (" in fused._jdf.queryExecution().executedPlan().toString()
    plain = _spark_scan_decode(spark, path)
    assert fused.count() == plain.count() == 400
    assert _crc(fused) == _crc(plain) == _crc(df)


def test_fused_read_projection(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t")
    write_encoded(sequences_df(spark, 1200, seed=8, n_partitions=2), path, target_partitions=2, resume=False)
    got = read_encoded(spark, path, columns=["doc_id", "n_tok"])
    assert got.columns == ["doc_id", "n_tok"]
    assert _crc(got) == _crc(_spark_scan_decode(spark, path, ["doc_id", "n_tok"]))
    with pytest.raises(KeyError, match="not in encoded table"):
        read_encoded(spark, path, columns=["nope"])


def test_batch_layout_reads_fused(spark, tmp_path):
    """append_encoded's batch layout partitions the generation dir into
    batch=N/ subdirs; the fused reader lists them too, and null-fills
    the column the first batch lacks."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded

    path = str(tmp_path / "evo")
    d1 = spark.range(0, 400).select(F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"))
    d2 = spark.range(400, 600).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"),
        (F.col("id") * 0.5).alias("score"),
    )
    append_encoded(d1, path, target_partitions=2)
    append_encoded(d2, path, target_partitions=2)
    back = read_encoded(spark, path)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "Range (" in plan
    assert back.count() == 600
    assert back.where(F.col("score").isNull()).count() == 400
    assert back.agg(F.sum("score")).collect()[0][0] == sum(i * 0.5 for i in range(400, 600))


def test_fused_read_per_file_null_fill(spark, tmp_path):
    """A FLAT blocks dir whose files carry different column sets (the
    shape a future compaction of evolved batches would produce): the
    fused per-file reader must null-fill the columns a file lacks,
    exactly like mergeSchema + decode's null scatter."""
    from parquet_spark.operators.decode import _maybe_decode_blocks_arrow
    from parquet_spark.operators.encode import encode_table
    from pyspark.sql.types import StructField, StructType

    d1 = spark.range(0, 400).select(F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"))
    d2 = spark.range(400, 600).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"),
        (F.col("id") * 0.5).alias("score"),
    )
    blocks_dir = str(tmp_path / "blocks")
    encode_table(d1.coalesce(1)).write.mode("append").parquet(blocks_dir)
    encode_table(d2.coalesce(1)).write.mode("append").parquet(blocks_dir)
    # nullability relaxed like append_encoded's snapshot merge does (a
    # non-nullable field would crash Spark's Arrow accessor on the
    # null-filled old blocks)
    merged = StructType([StructField(f.name, f.dataType, True) for f in d2.schema.fields])
    got = _maybe_decode_blocks_arrow(
        spark, blocks_dir, [f.name for f in merged.fields], merged, False
    )
    assert got is not None
    assert got.count() == 600
    assert got.where(F.col("score").isNull()).count() == 400
    assert got.agg(F.sum("score")).collect()[0][0] == sum(i * 0.5 for i in range(400, 600))


def test_fused_read_verify_detects_tamper(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t")
    write_encoded(sequences_df(spark, 800, seed=9, n_partitions=1), path, target_partitions=1, resume=False)
    assert read_encoded(spark, path, verify=True).count() == 800
    data_dir = os.path.join(path, read_snapshot(path).get("data_dir", "data"))
    part = next(
        os.path.join(data_dir, f) for f in sorted(os.listdir(data_dir)) if f.endswith(".parquet")
    )
    blob = bytearray(open(part, "rb").read())
    blob[len(blob) // 3] ^= 0xFF  # flip one payload byte mid-file
    open(part, "wb").write(bytes(blob))
    # the flip lands in a payload, so verify's crc32 check fires in the
    # decode task; a flip in snappy framing would fail pyarrow's page read
    with pytest.raises(PythonException, match="checksum mismatch decoding column|Corrupt snappy"):
        read_encoded(spark, path, verify=True).count()


def test_where_read_is_fused(spark, tmp_path):
    """A `where` read is the fused read: its blocks are pruned inside the
    decode task, and the row filter runs after the decode."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded

    path = str(tmp_path / "t")
    df = spark.range(0, 2000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_encoded(df, path, target_partitions=4, resume=False)
    got = read_encoded(spark, path, where=("k", ">", 1500))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Range (" in plan and "FileScan" not in plan
    assert got.count() == 499
    assert got.agg(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(1501, 2000))


def test_roundtrip_table_matches_two_stage(spark):
    from parquet_spark.operators.decode import decode_table, roundtrip_table
    from parquet_spark.operators.encode import encode_table

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )
    fused = roundtrip_table(df)
    plain = decode_table(encode_table(df), df.schema)
    assert fused.schema == plain.schema
    assert fused.count() == plain.count() == df.count()
    assert _crc(fused) == _crc(plain) == _crc(df)


def test_roundtrip_table_with_codec_override(spark):
    from parquet_spark.operators.decode import roundtrip_table

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    assert _crc(roundtrip_table(df, codecs={"text": "fsst"})) == _crc(df)


def test_roundtrip_table_rejects_reserved_columns(spark):
    """The fused roundtrip must surface block-layout name collisions as
    the same plan-time ValueError encode_table raises — not an opaque
    duplicate-field error inside an executor."""
    from parquet_spark.operators.decode import roundtrip_table

    df = spark.range(5).select(F.col("id").alias("n_rows"))
    with pytest.raises(ValueError, match="reserved"):
        roundtrip_table(df)


def test_fused_read_packs_fragmented_files(spark, tmp_path):
    """A fragmented table (many tiny block files) must not schedule one
    near-empty task per file: split packing follows data size with a
    floor of full parallelism, like Spark's own small-file bin-packing."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "frag")
    write_encoded(sequences_df(spark, 1600, seed=11, n_partitions=4), path, target_partitions=16, resume=False)
    fused = read_encoded(spark, path)
    par = spark.sparkContext.defaultParallelism
    assert fused.rdd.getNumPartitions() <= par
    assert fused.count() == 1600


def test_roundtrip_table_fused_projection_matches(spark):
    """A plain-column projection of a multi-split file takes the fused
    feed (pyarrow reads in a Range of split ids) and returns the input."""
    from parquet_spark.operators.decode import roundtrip_table

    cols = ["l_linestatus", "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"]
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(*cols)
    fused = roundtrip_table(df)
    assert "Range (" in fused._jdf.queryExecution().executedPlan().toString()
    assert fused.schema == df.schema
    assert fused.count() == df.count()
    assert _crc(fused) == _crc(df)
