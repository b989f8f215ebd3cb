"""Per-block Bloom-filter stats for string-equality pruning.

min/max ranges prune equality poorly on high-cardinality unsorted string
columns (every block's range spans the probe); a per-block Bloom filter
prunes by membership. Parquet itself specifies bloom filters for exactly
this; the reference writes none. Opt-in via write_encoded(bloom_cols=...).
"""

import numpy as np
import pyarrow.parquet as pq
import pytest

from parquet_spark.stats import bloom


def test_bloom_no_false_negatives_and_sane_fp_rate():
    rng = np.random.default_rng(7)
    vals = [f"key-{i}-{rng.integers(1 << 30)}".encode() for i in range(5000)]
    filt = bloom.build(vals)
    assert all(bloom.maybe_contains(filt, v) for v in vals)  # never a false negative
    probes = [f"absent-{i}".encode() for i in range(2000)]
    fp = sum(bloom.maybe_contains(filt, p) for p in probes) / len(probes)
    assert fp < 0.05, fp  # ~10 bits/value, k=4 → ~1% expected


def test_bloom_deterministic_and_empty():
    vals = [b"a", b"b", b"c"]
    assert bloom.build(vals) == bloom.build(list(vals))
    assert bloom.build([]) == b""
    # empty filter (all-null block) can contain nothing
    assert not bloom.maybe_contains(b"", b"a")


def test_bloom_sizing_clamped():
    small = bloom.build([b"x"])
    assert len(small) * 8 == bloom.MIN_BITS
    big = bloom.build([str(i).encode() for i in range(50000)])
    assert len(big) * 8 == bloom.MAX_BITS


@pytest.fixture(scope="module")
def bloom_table(spark, tmp_path_factory):
    """High-cardinality string column, values interleaved so every block's
    [min, max] spans every probe — min/max pruning is useless here by
    construction; only the bloom can skip blocks."""
    from parquet_spark.operators.encode import write_encoded
    from pyspark.sql import functions as F

    path = str(tmp_path_factory.mktemp("bloom") / "t")
    df = (
        spark.range(0, 20000, 1, 4)
        .withColumn("key", F.concat(F.lit("k"), F.md5(F.col("id").cast("string"))))
        .withColumn("payload", F.col("id") * 2)
    )
    write_encoded(
        df, path, target_partitions=4, block_rows=1024, resume=False,
        weight_col=None, source_col="id % 4", salt_key="id",
        bloom_cols=["key"],
    )
    return path, df


def test_bloom_column_written_and_prunes_blocks(spark, bloom_table):
    import glob
    import os

    path, df = bloom_table
    files = glob.glob(os.path.join(path, "data", "*.parquet"))
    blocks = pq.read_table(files, columns=["_bloom_key", "n_rows"])
    filters = blocks.column("_bloom_key").to_pylist()
    assert all(f for f in filters)  # every block carries a filter
    probe = "k" + __import__("hashlib").md5(b"12345").hexdigest()
    keep = sum(bloom.maybe_contains(f, probe.encode()) for f in filters)
    # the probe lives in exactly one block; FPs may keep a few more, but
    # the overwhelming majority of blocks must be pruned
    assert keep >= 1
    assert keep <= max(2, len(filters) // 4), (keep, len(filters))


def test_bloom_read_equality_and_in_correct(spark, bloom_table):
    from parquet_spark.operators.decode import read_encoded

    path, df = bloom_table
    probe = "k" + __import__("hashlib").md5(b"777").hexdigest()
    got = read_encoded(spark, path, where=("key", "=", probe)).collect()
    assert len(got) == 1 and got[0]["id"] == 777 and got[0]["payload"] == 1554

    absent = "k" + "0" * 32
    assert read_encoded(spark, path, where=("key", "=", absent)).count() == 0

    probes = [
        "k" + __import__("hashlib").md5(str(i).encode()).hexdigest() for i in (5, 19999)
    ]
    got_in = sorted(
        r["id"] for r in read_encoded(spark, path, where=("key", "in", probes)).collect()
    )
    assert got_in == [5, 19999]


def test_bloom_requires_string_or_binary(spark, tmp_path):
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    df = sequences_df(spark, 200, seed=3, n_partitions=1)
    # the same rows as parquet files take the fused (arrow) feed
    df.repartition(4).write.parquet(str(tmp_path / "src"))
    for inp in (df, spark.read.parquet(str(tmp_path / "src"))):
        with pytest.raises(TypeError, match="bloom"):
            write_encoded(
                inp, str(tmp_path / "b"), target_partitions=1, resume=False,
                bloom_cols=["n_tok"],
            )


def test_bloomless_table_unaffected(spark, tmp_path):
    """Tables without bloom columns keep working through the same read
    path (keep-condition treats a missing/null filter as 'keep')."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "nb")
    df = sequences_df(spark, 1000, seed=5, n_partitions=2)
    write_encoded(df, path, target_partitions=2, resume=False, block_rows=256)
    want = df.where("source = 'src0'").count()
    got = read_encoded(spark, path, where=("source", "=", "src0")).count()
    assert got == want > 0


def test_bloom_prunes_blocks_inside_the_task(spark, bloom_table):
    """The task-side block filter (`read_blocks` + `block_keep`, shared by
    the fused read and the Data Source reader) skips the blocks whose
    bloom filter excludes the probe, although every block's [min, max]
    spans it."""
    from pyspark.sql.datasource import EqualTo

    from parquet_spark.sources.spark_datasource import EncodedTableReader, register

    path, df = bloom_table
    register(spark)
    schema = spark.read.format("parquet_spark").load(path).schema

    def rows_read(probe):
        r = EncodedTableReader({"path": path}, schema)
        r.pushFilters([EqualTo(("key",), probe)])
        return sum(b.num_rows for p in r.partitions() for b in r.read(p))

    assert rows_read("k" + "0" * 32) == 0
    probe = "k" + __import__("hashlib").md5(b"777").hexdigest()
    assert 0 < rows_read(probe) <= 3 * 1024  # its block, plus any false positives
