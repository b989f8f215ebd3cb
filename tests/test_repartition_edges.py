"""Edge cases of the salted repartition: null/unseen sources must not lose
rows, struct-nested source paths must resolve, and missing source/weight
columns must degrade to uniform hash bucketing instead of failing."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_spark.operators.repartition import (
    plan_salted_buckets,
    salted_repartition,
    with_salted_bucket,
)


def test_null_sources_keep_all_rows(spark):
    df = spark.createDataFrame(
        [("d1", "a"), ("d2", None), ("d3", "a"), ("d4", None)],
        "doc_id string, source string",
    )
    salted, n_buckets = salted_repartition(df, 4, weight_col=None)
    assert salted.count() == 4
    assert salted.where(F.col("__bucket").isNull()).count() == 0
    assert salted.agg(F.max("__bucket")).collect()[0][0] < n_buckets


def test_source_unseen_by_plan_gets_fallback_bucket(spark):
    df = spark.createDataFrame([("d1", "a"), ("d2", "b")], "doc_id string, source string")
    plan = plan_salted_buckets(df.where("source = 'a'"), 4, weight_col=None)
    out = with_salted_bucket(df, plan)
    rows = {r.doc_id: r["__bucket"] for r in out.collect()}
    assert len(rows) == 2 and all(b is not None for b in rows.values())


def test_struct_nested_source_path(spark):
    df = spark.createDataFrame(
        [("d1", ("a", 10)), ("d2", ("b", 20))],
        "doc_id string, info struct<source:string, n_tok:int>",
    )
    salted, _ = salted_repartition(
        df, 4, source_col="info.source", weight_col="info.n_tok"
    )
    assert salted.count() == 2


def test_missing_source_column_degrades_to_hash(spark):
    df = spark.createDataFrame([("d1",), ("d2",), ("d3",)], "doc_id string")
    plan = plan_salted_buckets(df, 4, source_col="nope", weight_col="also_nope")
    assert plan == [(None, 0, 4)]
    salted, n = salted_repartition(df, 4, source_col="nope", weight_col="also_nope")
    assert n == 4 and salted.count() == 3


def test_missing_salt_key_hashes_all_columns(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a")], "x int, source string")
    salted, _ = salted_repartition(df, 2, salt_key="no_such", weight_col=None)
    got = salted.select("x").orderBy("x").collect()
    assert [r.x for r in got] == [1, 2]


def test_bucket_deterministic_across_calls(spark):
    df = spark.createDataFrame(
        [(f"d{i}", "s1" if i % 3 else "s2", i) for i in range(100)],
        "doc_id string, source string, n_tok int",
    )
    a, _ = salted_repartition(df, 8)
    b, _ = salted_repartition(df, 8)
    ba = {r.doc_id: r["__bucket"] for r in a.collect()}
    bb = {r.doc_id: r["__bucket"] for r in b.collect()}
    assert ba == bb


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


def test_murmur3_int_matches_spark_hash(spark):
    from parquet_spark.operators.repartition import murmur3_int

    ints = list(range(-150, 250)) + [2**31 - 1, -(2**31), 123_456_789]
    got = spark.createDataFrame([(i,) for i in ints], "k int").select("k", F.hash("k").alias("h")).collect()
    assert {r.k: r.h for r in got} == {i: murmur3_int(i) for i in ints}


def test_salted_buckets_fill_every_partition(spark, tmp_path):
    """Bucket b lands on partition b mod P, so with at least P buckets no
    partition is empty; hash-partitioning the small bucket ids piled
    buckets onto a few partitions."""
    import os

    import pyarrow.parquet as pq

    from parquet_spark.operators.encode import read_snapshot, write_encoded

    for p in (2, 4, 8, 16):
        df = spark.range(0, 400).select(F.col("id").alias("doc_id"), (F.col("id") % p).alias("source"))
        salted, n_buckets = salted_repartition(df, p, weight_col=None)
        assert n_buckets >= p
        per_part = salted.groupBy(F.spark_partition_id().alias("pid")).agg(
            F.collect_set("__bucket").alias("b")).collect()
        assert sorted(r.pid for r in per_part) == list(range(p))
        assert all(b % p == r.pid for r in per_part for b in r.b)

    path = str(tmp_path / "t")
    spark_df = spark.range(0, 900).select(F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v"))
    write_encoded(spark_df, path, target_partitions=2, resume=False, block_rows=128)
    assert read_snapshot(path)["bucket_mode"] == "salted"
    data_dir = os.path.join(path, read_snapshot(path)["data_dir"])
    files = [os.path.join(data_dir, f) for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert sorted(pq.read_metadata(f).num_rows > 0 for f in files) == [True, True]
