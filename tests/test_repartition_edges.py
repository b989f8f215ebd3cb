"""Edge cases of the salted repartition: null sources must not lose rows,
struct-nested source paths must resolve, and a missing source or salt_key
must degrade to hashing what does resolve instead of failing."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_spark.operators.repartition import salted_repartition


def _buckets(df, key: str = "doc_id") -> dict:
    return {r[key]: r["__bucket"] for r in df.collect()}


def test_null_sources_keep_all_rows(spark):
    df = spark.createDataFrame(
        [("d1", "a"), ("d2", None), ("d3", "a"), ("d4", None)],
        "doc_id string, source string",
    )
    salted = salted_repartition(df, 4)
    assert salted.count() == 4
    assert salted.where(F.col("__bucket").isNull()).count() == 0
    assert salted.agg(F.max("__bucket")).collect()[0][0] < 4


def test_struct_nested_source_path(spark):
    df = spark.createDataFrame(
        [("d1", ("a", 10)), ("d2", ("b", 20))],
        "doc_id string, info struct<source:string, n_tok:int>",
    )
    salted = salted_repartition(df, 4, source_col="info.source")
    assert salted.count() == 2
    # the nested source resolved, so it is part of the hash key
    want = _buckets(df.repartition(4, "info.source", "doc_id").withColumn("__bucket", F.spark_partition_id()))
    assert _buckets(salted) == want


def test_missing_source_column_degrades_to_hash(spark):
    df = spark.createDataFrame([("d1",), ("d2",), ("d3",)], "doc_id string")
    salted = salted_repartition(df, 4, source_col="nope")
    assert salted.count() == 3
    # the source drops out of the hash key; the salt_key alone decides
    want = _buckets(df.repartition(4, "doc_id").withColumn("__bucket", F.spark_partition_id()))
    assert _buckets(salted) == want
    assert _buckets(salted_repartition(df, 4, source_col="nope + 1")) == want


def test_missing_salt_key_hashes_all_columns(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a")], "x int, source string")
    salted = salted_repartition(df, 2, salt_key="no_such")
    got = salted.select("x").orderBy("x").collect()
    assert [r.x for r in got] == [1, 2]
    # every hashable column replaces the salt_key, after the source
    want = _buckets(df.repartition(2, "source", "x", "source").withColumn("__bucket", F.spark_partition_id()), "x")
    assert _buckets(salted, "x") == want


def test_bucket_deterministic_across_calls(spark):
    df = spark.createDataFrame(
        [(f"d{i}", "s1" if i % 3 else "s2", i) for i in range(100)],
        "doc_id string, source string, n_tok int",
    )
    assert _buckets(salted_repartition(df, 8)) == _buckets(salted_repartition(df, 8))


def test_empty_dataframe_roundtrip(spark, tmp_path):
    """Encoding zero rows is valid: the table is created with its schema,
    reads back as an empty DataFrame, and resume treats it as complete."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    df = sequences_df(spark, 100, seed=1, n_partitions=2).limit(0)
    path = str(tmp_path / "empty_t")
    res = write_encoded(df, path, target_partitions=4, resume=False, fingerprint="fe")
    assert res["buckets_skipped"] == 0
    back = read_encoded(spark, path)
    assert back.count() == 0
    assert back.columns == df.columns


def test_salted_buckets_fill_every_partition(spark, tmp_path):
    """Bucket b is partition b, and hashing (source, salt_key) spreads the
    rows over every partition, so a salted write_encoded, an
    append_encoded and a streaming sink batch leave no empty blocks file.
    Hash-partitioning small bucket ids piled buckets onto a few
    partitions: 0..63 filled 37 of 64."""
    import glob
    import os

    import pyarrow.parquet as pq

    from parquet_spark.operators.encode import append_encoded, read_snapshot, write_encoded
    from parquet_spark.streaming.encode_stream import StreamingEncoder

    for p in (2, 4, 8, 16):
        df = spark.range(0, 400).select(F.col("id").alias("doc_id"), (F.col("id") % p).alias("source"))
        per_part = salted_repartition(df, p).groupBy(F.spark_partition_id().alias("pid")).agg(
            F.collect_set("__bucket").alias("b")).collect()
        assert sorted(r.pid for r in per_part) == list(range(p))
        assert all(r.b == [r.pid] for r in per_part)

    def nonempty_files(data_dir):
        return [pq.read_metadata(f).num_rows > 0 for f in glob.glob(os.path.join(data_dir, "*.parquet"))]

    path = str(tmp_path / "t")
    spark_df = spark.range(0, 900).select(F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v"))
    write_encoded(spark_df, path, target_partitions=2, resume=False, block_rows=128)
    assert read_snapshot(path)["bucket_mode"] == "salted"
    assert nonempty_files(os.path.join(path, read_snapshot(path)["data_dir"])) == [True, True]

    # 20 sources at the default target of 64 of append_encoded and the sink
    src = spark.range(0, 6400).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias("source")
    )
    appended, streamed = str(tmp_path / "appended"), str(tmp_path / "streamed")
    append_encoded(src, appended)
    StreamingEncoder(streamed)(src, 0)
    for table in (appended, streamed):
        assert nonempty_files(os.path.join(table, "data", "batch=0")) == [True] * 64
