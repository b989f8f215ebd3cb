"""Every blocks reader returns the same rows.

For each table shape, three readers must agree on schema, row count and
CRC:

- `read_encoded` without `where`, which takes the fused read
  (Range → MapInArrow, pyarrow reading the blocks inside the decode task);
- `decode_table` over Spark's own scan of the generation dir
  (`mergeSchema`, and the `batch <= max_batch` filter for `as_of`);
- the Data Source reader (`spark.read.format("parquet_spark")`).

For each `where` case, four readers must agree: the fused `where` read,
the same read on the Spark scan (under `ignoreCorruptFiles`), the bare
read filtered by Spark, and the Data Source reader with `.where(...)`.
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

    from parquet_spark.sources.synth import sequences_df

    clustered = str(root / "clustered")
    write_encoded(
        sequences_df(spark, 3000, seed=21, n_partitions=2), clustered, target_partitions=4,
        resume=False, block_rows=128, cluster_col="n_tok", bloom_cols=["source"],
    )
    out["clustered"] = (clustered, None, False, 3000)

    nan = str(root / "nan")
    rows = [(i, float(i)) for i in range(200)] + [(200 + i, float("nan")) for i in range(20)]
    write_encoded(
        spark.createDataFrame(rows, "doc_id long, x double").repartition(1), nan, target_partitions=1,
        resume=False, block_rows=32, bucket_mode="partition", cluster_col="doc_id",
    )
    out["nan"] = (nan, None, False, 220)
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


WHERE_CASES = {
    "cluster_gt": ("clustered", [("n_tok", ">", 400)]),
    "cluster_in": ("clustered", [("n_tok", "in", [3, 77, 500, None])]),
    "bloom_eq": ("clustered", [("source", "=", "src3")]),
    "as_of": ("batches_as_of_first", [("doc_id", "<", 150)]),
    "column_older_batches_lack": ("batches_evolved", [("score", ">", 250.0)]),
    "nan_gt": ("nan", [("x", ">", 150.0)]),
    "nan_lt": ("nan", [("x", "<", 40.0), ("doc_id", "!=", 3)]),
    "null_literal": ("flat", [("v", "=", None)]),
    "null_in_candidate": ("flat", [("v", "in", [3, None])]),
    "verify": ("flat_verify", [("v", ">=", 5), ("doc_id", "<=", 1000)]),
}


def _cond(preds):
    cond = F.lit(True)
    for col, op, v in preds:
        c = F.col(col)
        piece = {
            ">": lambda: c > v, ">=": lambda: c >= v, "<": lambda: c < v, "<=": lambda: c <= v,
            "=": lambda: c == F.lit(v), "!=": lambda: c != v, "in": lambda: c.isin(*v),
        }[op]()
        cond = cond & piece
    return cond


@pytest.mark.parametrize("case", list(WHERE_CASES))
def test_where_readers_agree(spark, tables, case):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.sources.spark_datasource import register

    table, preds = WHERE_CASES[case]
    path, as_of, verify, _n = tables[table]
    fused = read_encoded(spark, path, where=preds, verify=verify, as_of=as_of)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    if case == "null_literal":  # Catalyst folds `v = NULL` to an empty relation
        assert plan.startswith("LocalTableScan <empty>"), plan
    else:
        assert "Range (" in plan and "ArrowEvalPython" not in plan, plan
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        scan = read_encoded(spark, path, where=preds, verify=verify, as_of=as_of)
        assert "Range (" not in scan._jdf.queryExecution().executedPlan().toString()
        scan_n, scan_crc = scan.count(), _crc(scan)
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    then = read_encoded(spark, path, verify=verify, as_of=as_of).where(_cond(preds))

    register(spark)
    reader = spark.read.format("parquet_spark").option("verify", str(verify).lower())
    if as_of is not None:
        reader = reader.option("as_of", as_of)
    ds = reader.load(path).where(_cond(preds))

    assert fused.schema == scan.schema == then.schema == ds.schema
    assert fused.count() == scan_n == then.count() == ds.count()
    assert _crc(fused) == scan_crc == _crc(then) == _crc(ds)
    if case != "null_literal":
        assert scan_n > 0


def test_where_read_plans_only_matching_row_groups(spark, tmp_path, monkeypatch):
    """On a blocks file whose row groups hold disjoint `n_tok` ranges, the
    fused `where` read plans splits only for the row groups that may
    match; a predicate beyond the max plans none and reads 0 rows."""
    import pyarrow.parquet as pq

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources import arrow_scan

    path = str(tmp_path / "t")
    df = spark.range(0, 4000).select(F.col("id").alias("doc_id"), F.col("id").alias("n_tok"))
    write_encoded(df.repartition(1), path, target_partitions=1, resume=False, block_rows=250,
                  bucket_mode="partition", cluster_col="n_tok")
    data_dir = os.path.join(path, read_snapshot(path)["data_dir"])
    files = [os.path.join(data_dir, f) for f in os.listdir(data_dir) if f.endswith(".parquet")]
    blocks = pq.read_table(files).sort_by("_min_n_tok")
    for f in files:
        os.remove(f)
    pq.write_table(blocks, os.path.join(data_dir, "part-00000.parquet"), row_group_size=4)
    assert pq.ParquetFile(os.path.join(data_dir, "part-00000.parquet")).metadata.num_row_groups == 4

    planned = []
    real = arrow_scan.fused_scan
    monkeypatch.setattr(arrow_scan, "fused_scan", lambda s, splits, *a: planned.append(len(splits)) or real(s, splits, *a))
    assert read_encoded(spark, path).count() == 4000
    got = read_encoded(spark, path, where=("n_tok", ">", 3500))
    assert got.count() == 499
    empty = read_encoded(spark, path, where=("n_tok", ">", 10_000))
    assert "Range (" in empty._jdf.queryExecution().executedPlan().toString()
    assert empty.count() == 0
    bare, pruned, none = planned
    assert 0 < pruned < bare and none == 0, planned
