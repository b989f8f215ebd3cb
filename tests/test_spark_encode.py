"""End-to-end Spark round-trips: the flagship invariant (tokens bit-identical
after encode→decode), compression vs plain parquet, projection pruning,
salted repartitioning, resumability (SURVEY.md §7 Phases 3-4)."""

import glob
import os

import numpy as np
import pyarrow.compute as pc
import pytest

from parquet_spark.operators.decode import read_encoded, read_manifest
from parquet_spark.operators.encode import write_encoded
from parquet_spark.operators.repartition import salted_repartition
from parquet_spark.sources.synth import sequences_df, write_sequences

N_ROWS = 4000


@pytest.fixture(scope="module")
def seq_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("seq") / "sequences")
    write_sequences(spark, p, N_ROWS, seed=42, n_partitions=4, mean_tokens=64)
    return p


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def test_roundtrip_bit_identical_and_compression(spark, seq_path, tmp_path):
    df = spark.read.parquet(seq_path)
    table_path = str(tmp_path / "enc")
    summary = write_encoded(df, table_path, target_partitions=8, fingerprint="t1")
    assert summary["buckets_skipped"] == 0

    decoded = read_encoded(spark, table_path)
    orig = df.orderBy("doc_id").toPandas()
    got = decoded.orderBy("doc_id").toPandas()
    assert list(orig["doc_id"]) == list(got["doc_id"])
    assert list(orig["source"]) == list(got["source"])
    assert list(orig["n_tok"]) == list(got["n_tok"])
    # flagship: token arrays bit-identical (north-rule per-row invariant)
    for a, b in zip(orig["tokens"], got["tokens"]):
        assert np.asarray(a, dtype=np.int32).tobytes() == np.asarray(b, dtype=np.int32).tobytes()

    # compressed size (payload bytes from manifest) ≤ plain parquet input
    man = read_manifest(spark, table_path)
    enc_bytes = man.groupBy().sum("enc_bytes").collect()[0][0]
    parquet_bytes = _dir_bytes(seq_path)
    assert enc_bytes <= parquet_bytes, (enc_bytes, parquet_bytes)


def test_projection_reads_single_column(spark, seq_path, tmp_path):
    df = spark.read.parquet(seq_path)
    table_path = str(tmp_path / "enc2")
    write_encoded(df, table_path, target_partitions=4, fingerprint="t2")
    only_ntok = read_encoded(spark, table_path, columns=["n_tok"])
    assert only_ntok.columns == ["n_tok"]
    got = sum(r.n_tok for r in only_ntok.collect())
    want = df.groupBy().sum("n_tok").collect()[0][0]
    assert got == want
    # the physical parquet scan of the blocks file must prune to the
    # projected payload column (+ nothing else)
    plan = only_ntok._jdf.queryExecution().executedPlan().toString()
    assert "tokens" not in plan.lower().replace("n_tok", "")


def test_salted_buckets_balance_and_determinism(spark, seq_path):
    df = spark.read.parquet(seq_path)
    b1 = salted_repartition(df, 16).groupBy("__bucket").count().orderBy("__bucket").collect()
    b2 = salted_repartition(df, 16).groupBy("__bucket").count().orderBy("__bucket").collect()
    assert b1 == b2  # deterministic
    # exactly 16 buckets, none far above the mean
    assert [r["__bucket"] for r in b1] == list(range(16))
    assert max(r["count"] for r in b1) <= 1.5 * N_ROWS / 16
    # hot source (zipf head ~27% of rows) must be spread over several buckets
    hot = salted_repartition(df.filter("source = 'src0'"), 16).select("__bucket").distinct().count()
    assert hot >= 3


def test_resume_skips_completed_buckets(spark, seq_path, tmp_path):
    df = spark.read.parquet(seq_path)
    table_path = str(tmp_path / "enc3")
    s1 = write_encoded(df, table_path, target_partitions=4, fingerprint="t3")
    assert s1["buckets_skipped"] == 0
    # re-run: everything already committed -> no work
    s2 = write_encoded(df, table_path, target_partitions=4, fingerprint="t3")
    assert s2["buckets_skipped"] >= s1["buckets_total"]

    # simulate a partial failure: drop half the buckets from data+manifest
    data = spark.read.parquet(os.path.join(table_path, "data"))
    buckets = sorted(r.bucket for r in data.select("bucket").distinct().collect())
    keep = buckets[: len(buckets) // 2]
    data.filter(data.bucket.isin(keep)).write.mode("overwrite").parquet(os.path.join(table_path, "data2"))
    import shutil

    shutil.rmtree(os.path.join(table_path, "data"))
    shutil.move(os.path.join(table_path, "data2"), os.path.join(table_path, "data"))
    from parquet_spark.operators.encode import manifest_from_blocks

    manifest_from_blocks(
        spark.read.parquet(os.path.join(table_path, "data")).select("bucket", "part_id", "block_id", "meta")
    ).write.mode("overwrite").parquet(os.path.join(table_path, "manifest"))

    s3 = write_encoded(df, table_path, target_partitions=4, fingerprint="t3")
    assert 0 < s3["buckets_skipped"] < s3["buckets_total"]
    # after resume the table must decode to the complete dataset
    decoded = read_encoded(spark, table_path, columns=["doc_id"])
    assert decoded.count() == N_ROWS
    assert decoded.distinct().count() == N_ROWS


def test_nullable_column_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    df = (
        sequences_df(spark, 500, seed=1, n_partitions=2, mean_tokens=16)
        .withColumn("maybe", F.when(F.col("n_tok") % 3 == 0, F.col("n_tok")).otherwise(F.lit(None)))
    )
    src = df.cache()
    table_path = str(tmp_path / "enc4")
    write_encoded(src, table_path, target_partitions=2, fingerprint="t4")
    got = read_encoded(spark, table_path).orderBy("doc_id").toPandas()
    want = src.orderBy("doc_id").toPandas()
    assert list(got["maybe"].fillna(-1)) == list(want["maybe"].fillna(-1))
    src.unpersist()


def test_manifest_codecs_and_metrics(spark, seq_path, tmp_path):
    df = spark.read.parquet(seq_path)
    table_path = str(tmp_path / "enc5")
    write_encoded(df, table_path, target_partitions=4, fingerprint="t5")
    man = read_manifest(spark, table_path).toPandas()
    assert set(man["column"]) == {"doc_id", "tokens", "n_tok", "source"}
    # source has ~20 distinct values -> dict must win on every block
    src_codecs = set(man[man["column"] == "source"]["codec"])
    assert src_codecs == {"dict"}
    assert (man["enc_bytes"] > 0).all()
    assert (man["n_values"] > 0).all()


def test_resume_appends_manifest_incrementally(spark, tmp_path):
    """Resume must append manifest entries for new buckets only — the
    historical manifest part-files stay byte-identical (at 10^6 blocks a
    full rebuild per resume would re-read and re-write every entry)."""
    import os

    from pyspark.sql import functions as F

    from parquet_spark.operators.decode import read_manifest
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "inc_t")
    df = sequences_df(spark, 4000, seed=12, n_partitions=4)
    # salted: 8 buckets, whatever the auto rule would pick for this input
    write_encoded(df, path, target_partitions=8, resume=False, fingerprint="fx", bucket_mode="salted")
    man_dir = os.path.join(path, "manifest")
    before = {
        f: os.path.getmtime(os.path.join(man_dir, f))
        for f in os.listdir(man_dir) if f.endswith(".parquet")
    }
    # drop some buckets' data to simulate a partial failure, then resume
    data_dir = os.path.join(path, "data")
    keep = spark.read.parquet(data_dir).where("bucket >= 4")
    victims = spark.read.parquet(data_dir).where("bucket < 4").count()
    assert victims > 0
    tmp_data = str(tmp_path / "data_keep")
    keep.write.parquet(tmp_data)
    import shutil

    shutil.rmtree(data_dir)
    os.rename(tmp_data, data_dir)
    # manifest still lists the dropped buckets — rewrite it to match data
    # (simulates crash after data write of remaining buckets, before manifest)
    from parquet_spark.operators.encode import manifest_from_blocks

    manifest_from_blocks(
        spark.read.parquet(data_dir).select("bucket", "part_id", "block_id", "meta")
    ).write.mode("overwrite").parquet(man_dir)
    before = {
        f: os.path.getmtime(os.path.join(man_dir, f))
        for f in os.listdir(man_dir) if f.endswith(".parquet")
    }
    res = write_encoded(df, path, target_partitions=8, resume=True, fingerprint="fx", bucket_mode="salted")
    assert 0 < res["buckets_skipped"] < res["buckets_total"]
    after_files = [f for f in os.listdir(man_dir) if f.endswith(".parquet")]
    # old manifest files untouched (same mtimes), new ones appended
    for f, mt in before.items():
        assert f in after_files and os.path.getmtime(os.path.join(man_dir, f)) == mt
    assert len(after_files) > len(before)
    # manifest is complete and consistent with the data dir
    man_buckets = {r["bucket"] for r in read_manifest(spark, path).select("bucket").distinct().collect()}
    data_buckets = {r["bucket"] for r in spark.read.parquet(data_dir).select("bucket").distinct().collect()}
    assert man_buckets == data_buckets
    assert read_manifest(spark, path).groupBy("bucket", "part_id", "block_id", "column").count().where(
        F.col("count") > 1
    ).isEmpty()


def test_append_encoded_batches_compose(spark, tmp_path):
    """Batch appends share the streaming sink's layout: each append is an
    immutable batch dir, read_encoded unions them (with stats pruning),
    and appending to a flat write_encoded table is refused loudly."""
    import pytest

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded, write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "appendable")
    r0 = append_encoded(sequences_df(spark, 300, seed=1, n_partitions=2), path, target_partitions=4)
    r1 = append_encoded(sequences_df(spark, 200, seed=2, n_partitions=2), path, target_partitions=4)
    assert (r0["batch_id"], r1["batch_id"]) == (0, 1)
    back = read_encoded(spark, path)
    assert back.count() == 500
    want = back.where("n_tok > 400").count()
    got = read_encoded(spark, path, where=("n_tok", ">", 400)).count()
    assert got == want

    flat = str(tmp_path / "flat")
    write_encoded(sequences_df(spark, 100, seed=3, n_partitions=2), flat, target_partitions=2, resume=False)
    with pytest.raises(ValueError, match="flat"):
        append_encoded(sequences_df(spark, 50, seed=4, n_partitions=1), flat)


def test_block_bucket_contiguity_guard():
    """The encode kernel takes a block's bucket from element 0 — valid only
    while blocks are single-bucket (upstream sort + batch splitter). The
    guard must fail loudly on a mixed-bucket block instead of silently
    mis-assigning the resume key."""
    import pyarrow as pa

    from parquet_spark.operators.encode import BUCKET_COL, _block_bucket

    ok = pa.table({BUCKET_COL: pa.array([3, 3, 3], pa.int32())})
    assert _block_bucket(ok) == 3
    mixed = pa.table({BUCKET_COL: pa.array([3, 3, 4], pa.int32())})
    with pytest.raises(ValueError, match="not sorted by __bucket"):
        _block_bucket(mixed)


def test_bucket_mode_auto_balanced_goes_zero_shuffle(spark, seq_path, tmp_path):
    """Balanced input partitions → auto picks partition mode: no shuffle,
    bucket = input partition id, snapshot records the mode. The filter
    keeps the input off the fused Arrow feed, which takes bare scans and
    plain projections (tests/test_arrow_scan.py covers that path)."""
    from parquet_spark.operators.encode import read_snapshot
    from pyspark.sql import functions as F

    df = spark.read.parquet(seq_path).filter(F.col("n_tok") >= 0)
    npart = df.rdd.getNumPartitions()
    path = str(tmp_path / "enc_pm")
    # small fixture: shrink block_rows so the anti-fragmentation guard
    # (rows/partition >= block_rows/4) doesn't veto partition mode
    write_encoded(df, path, target_partitions=npart, fingerprint="pm1", resume=False, block_rows=1024)
    snap = read_snapshot(path)
    assert snap["bucket_mode"] == "partition"
    assert snap["n_buckets"] == npart
    data = spark.read.parquet(os.path.join(path, "data"))
    buckets = {r["bucket"] for r in data.select("bucket").distinct().collect()}
    assert buckets == set(range(npart))
    # round-trip integrity unchanged by the zero-shuffle plan
    crc = lambda d: d.agg(F.sum(F.crc32(F.concat_ws(",", "doc_id", F.col("tokens").cast("string")))).alias("c")).collect()[0]["c"]
    assert crc(read_encoded(spark, path)) == crc(df)


def test_bucket_mode_auto_skewed_takes_salted_shuffle(spark, tmp_path):
    """One partition holding ~all the weight → auto falls back to the
    salted shuffle (explicit skew management, not AQE)."""
    from parquet_spark.operators.encode import read_snapshot

    # 8 partitions, but every row hash-routed to one of 2 → max weight
    # far above 2x the mean across the 8 planned partitions
    df = sequences_df(spark, 2000, seed=7, n_partitions=1, mean_tokens=32).repartition(8, "source")
    path = str(tmp_path / "enc_skew")
    write_encoded(df, path, target_partitions=8, fingerprint="sk1", resume=False)
    assert read_snapshot(path)["bucket_mode"] == "salted"


def test_partition_mode_resume_mismatched_partitions_reencodes(spark, seq_path, tmp_path):
    """A resume whose current partition count differs from the recorded
    one must NOT trust stale bucket ids — it re-encodes from scratch."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(seq_path)
    path = str(tmp_path / "enc_pm_resume")
    write_encoded(df, path, target_partitions=4, fingerprint="pmr", resume=False, bucket_mode="partition")
    # same fingerprint, different partitioning of the same rows
    df2 = df.coalesce(2)
    write_encoded(df2, path, target_partitions=4, fingerprint="pmr", resume=True, bucket_mode="partition")
    dec = read_encoded(spark, path)
    assert dec.count() == df.count()  # no dup/loss from stale bucket skips
    crc = lambda d: d.agg(F.sum(F.crc32(F.concat_ws(",", "doc_id", F.col("tokens").cast("string")))).alias("c")).collect()[0]["c"]
    assert crc(dec) == crc(df)


def test_parse_bytes_conf_two_letter_suffixes():
    """Spark accepts 'kb/mb/gb' size spellings; '128mb' must read as
    128 MiB, not 128 bytes (the latter makes `arrow_scan.fused_task_count`
    pack the fused scan into one task per split)."""
    from parquet_spark.operators.encode import _parse_bytes_conf

    assert _parse_bytes_conf("134217728", 0) == 128 << 20
    assert _parse_bytes_conf("128m", 0) == 128 << 20
    assert _parse_bytes_conf("128mb", 0) == 128 << 20
    assert _parse_bytes_conf("128MB", 0) == 128 << 20
    assert _parse_bytes_conf("4kb", 0) == 4 << 10
    assert _parse_bytes_conf("1gb", 0) == 1 << 30
    assert _parse_bytes_conf("1.5g", 0) == int(1.5 * (1 << 30))
    assert _parse_bytes_conf("2t", 0) == 2 << 40
    assert _parse_bytes_conf("512b", 0) == 512
    assert _parse_bytes_conf("garbage", 77) == 77
    assert _parse_bytes_conf("", 77) == 77


def test_fingerprint_sensitive_to_content_change(spark, tmp_path):
    """Same file names, different bytes → different fingerprint, and a
    resume against the stale table does a full re-encode instead of
    silently appending the wrong lineage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_spark.operators.encode import dataset_fingerprint, read_snapshot, write_encoded
    from parquet_spark.sources.arrow_scan import plan_facts

    src = tmp_path / "src"
    src.mkdir()
    f = str(src / "part-0.parquet")

    def make(n, dest=f):
        t = pa.table({
            "doc_id": pa.array([f"d{i}" for i in range(n)], pa.string()),
            "tokens": pa.array([[i, i + 1] for i in range(n)], pa.list_(pa.int32())),
            "n_tok": pa.array([2] * n, pa.int32()),
            "source": pa.array(["s0"] * n, pa.string()),
        })
        pq.write_table(t, dest)

    make(100)
    df1 = spark.read.parquet(str(src))
    fp1 = dataset_fingerprint(plan_facts(df1))
    path = str(tmp_path / "enc_fp")
    s = write_encoded(df1, path, target_partitions=2, resume=True, block_rows=64)
    assert read_snapshot(path)["fingerprint"] == fp1
    # the same input built again has the same fingerprint, so it resumes
    again = spark.read.parquet(str(src))
    assert dataset_fingerprint(plan_facts(again)) == fp1
    assert write_encoded(again, path, target_partitions=2, block_rows=64)["buckets_skipped"] == s["buckets_total"]

    make(150)  # same name, different content/size
    df2 = spark.read.parquet(str(src))
    fp2 = dataset_fingerprint(plan_facts(df2))
    assert fp2 != fp1
    s = write_encoded(df2, path, target_partitions=2, resume=True, block_rows=64)
    assert s["buckets_skipped"] == 0  # full re-encode, no stale append
    assert read_encoded(spark, path).count() == 150

    # Spark percent-encodes the space in the file URI; the stat must
    # still see the file, or only the path would enter the fingerprint
    spaced = tmp_path / "dir with space"
    spaced.mkdir()
    make(100, str(spaced / "part-0.parquet"))
    fp_space = dataset_fingerprint(plan_facts(spark.read.parquet(str(spaced))))
    make(150, str(spaced / "part-0.parquet"))
    assert dataset_fingerprint(plan_facts(spark.read.parquet(str(spaced)))) != fp_space


def _wide_projections(spark, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    pq.write_table(pa.table({f"c{i}": pa.array(range(i, i + 100), pa.int64()) for i in range(30)}), path)
    wide = spark.read.parquet(path)
    first = wide.select(*[f"c{i}" for i in range(29)])
    assert " more fields]" in first._jdf.queryExecution().optimizedPlan().toString()
    return first, wide.select(*[f"c{i}" for i in range(28)], F.col("c29").alias("c28"))


def test_derived_fingerprint_is_stable_across_builds(spark, tmp_path):
    """The same input built twice keeps one fingerprint, whatever its
    leaf: the plan JSON's expression ids (`exprId`, a Python UDF's
    `resultId`) are stripped as the plan text's are."""
    from parquet_spark.operators.encode import dataset_fingerprint
    from parquet_spark.sources.arrow_scan import plan_facts

    src = str(tmp_path / "wide.parquet")
    _wide_projections(spark, src)
    lookup = lambda: spark.createDataFrame([("src0", 1), ("src1", 2)], "source string, rank int")  # noqa: E731
    for build in (
        lambda: spark.read.parquet(src).selectExpr(*[f"c{i}" for i in range(28)], "c29 AS c28"),
        lambda: sequences_df(spark, 100, seed=1, n_partitions=2),
        lookup,
        lambda: sequences_df(spark, 100, seed=1, n_partitions=2).join(lookup(), "source"),
    ):
        assert dataset_fingerprint(plan_facts(build())) == dataset_fingerprint(plan_facts(build()))


@pytest.mark.parametrize("inputs", ["filters_of_one_file_set", "ranges", "projections_past_25_fields"])
def test_derived_fingerprint_tells_plans_apart(spark, tmp_path, inputs):
    """Two inputs with the same files and schema differ in their plan: a
    default resume=True write of the second encodes the second's rows,
    where a fingerprint of files and schema alone resumed into the
    first's buckets. The plan text cuts lists past 25 fields, so two
    projections of one 30-column file that differ only in their 29th
    item print the same; the plan JSON tells them apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    for i in range(8):
        pq.write_table(pa.table({"a": pa.array(range(i * 500, (i + 1) * 500), pa.int64())}), str(src / f"p{i}.parquet"))
    first, second = {
        "filters_of_one_file_set": lambda: (
            spark.read.parquet(str(src)).where("a < 1000"), spark.read.parquet(str(src)).where("a >= 1000")
        ),
        "ranges": lambda: (spark.range(0, 100), spark.range(0, 5000)),
        "projections_past_25_fields": lambda: _wide_projections(spark, str(tmp_path / "wide.parquet")),
    }[inputs]()
    path = str(tmp_path / "tbl")
    write_encoded(first, path, target_partitions=4, block_rows=256)
    s = write_encoded(second, path, target_partitions=4, block_rows=256)
    assert s["buckets_skipped"] == 0
    got = read_encoded(spark, path)
    crc = F.sum(F.crc32(F.col(second.columns[-1]).cast("string")))
    assert got.count() == second.count()
    assert got.agg(crc).collect() == second.agg(crc).collect()


def test_partition_mode_resume_rejects_plan_conf_drift(spark, seq_path, tmp_path):
    """Partition count equality is a weak resume proxy: if the recorded
    split-planning confs differ from the session's, recorded bucket ids
    may map to different rows — the resume must fall back to a full
    re-encode."""
    import json

    from pyspark.sql import functions as F

    from parquet_spark.operators.encode import read_snapshot, write_encoded

    df = spark.read.parquet(seq_path)
    path = str(tmp_path / "enc_plan_drift")
    write_encoded(df, path, target_partitions=4, fingerprint="pd1", resume=False, bucket_mode="partition")
    snap_file = os.path.join(path, "snapshot.json")
    with open(snap_file) as fh:
        snap = json.load(fh)
    assert "partition_plan" in snap
    # simulate conf drift recorded at write time (same partition count)
    snap["partition_plan"]["maxPartitionBytes"] = "64MB"
    with open(snap_file, "w") as fh:
        json.dump(snap, fh)
    s = write_encoded(df, path, target_partitions=4, fingerprint="pd1", resume=True, bucket_mode="partition")
    assert s["buckets_skipped"] == 0
    dec = read_encoded(spark, path)
    assert dec.count() == df.count()
    crc = lambda d: d.agg(F.sum(F.crc32(F.concat_ws(",", "doc_id", F.col("tokens").cast("string")))).alias("c")).collect()[0]["c"]
    assert crc(dec) == crc(df)


def test_resume_manifest_parts_never_collide(spark, seq_path, tmp_path):
    """A resume run's task pids overlap the original run's; published
    manifest part names must carry the run tag so append never overwrites
    the prior run's parts (which would silently drop manifest rows until
    the next heal)."""
    import shutil

    from pyspark.sql import functions as F

    df = spark.read.parquet(seq_path)
    path = str(tmp_path / "enc_collide")
    write_encoded(df, path, target_partitions=4, fingerprint="mc1", resume=False)
    man_dir = os.path.join(path, "manifest")
    before = set(os.listdir(man_dir))
    # drop one bucket's data to force a partial resume that re-encodes it
    data = spark.read.parquet(os.path.join(path, "data"))
    keep = data.where(F.col("bucket") != 0)
    tmp_new = str(tmp_path / "data_new")
    keep.write.parquet(tmp_new)
    shutil.rmtree(os.path.join(path, "data"))
    os.rename(tmp_new, os.path.join(path, "data"))
    # original manifest parts stay in place — collision bait for the
    # resume run's overlapping task pids
    write_encoded(df, path, target_partitions=4, fingerprint="mc1", resume=True)
    after = set(os.listdir(man_dir))
    assert before <= after, "resume overwrote pre-existing manifest parts"
    man = read_manifest(spark, path)
    got = {r["bucket"] for r in man.select("bucket").distinct().collect()}
    data_buckets = {r["bucket"] for r in spark.read.parquet(os.path.join(path, "data")).select("bucket").distinct().collect()}
    assert got >= data_buckets


def test_decimal_write_read_encoded_with_pruning(spark, tmp_path):
    """DecimalType end-to-end: encode → decode preserves exact values
    (sums in decimal domain), and a typed Decimal predicate prunes and
    filters correctly."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded

    df = spark.range(20000).select(
        F.col("id"),
        (F.col("id") * F.lit(1.5)).cast("decimal(12,2)").alias("price"),
        (F.col("id") * F.col("id") * F.lit(1234567.89)).cast("decimal(38,10)").alias("big"),
    )
    path = str(tmp_path / "dec_tbl")
    write_encoded(df, path)
    back = read_encoded(spark, path)
    assert back.count() == 20000
    a = df.agg(F.sum("price"), F.sum("big")).collect()[0]
    b = back.agg(F.sum("price"), F.sum("big")).collect()[0]
    assert a == b
    pruned = read_encoded(spark, path, where=("price", ">", Decimal("25000.00")))
    assert pruned.count() == df.where(F.col("price") > 25000).count()


def test_snapshot_sequence_skips_existing_history(spark, tmp_path):
    """Regression (advisor finding): sequence allocation must skip past any
    snap-N.json that already exists, so a racing committer's history entry
    is never silently overwritten (single-committer is still the documented
    contract; this is the best-effort guard)."""
    import json

    from parquet_spark.operators.encode import read_snapshot

    df = sequences_df(spark, 200, seed=7, n_partitions=2)
    path = str(tmp_path / "seqskip")
    write_encoded(df, path, target_partitions=2, fingerprint="sq1", resume=False)
    assert read_snapshot(path)["sequence"] == 1
    # plant a foreign committer's history entry at the next sequence
    foreign = os.path.join(path, "snapshots", "snap-00000002.json")
    with open(foreign, "w") as fh:
        json.dump({"sequence": 2, "marker": "foreign"}, fh)
    write_encoded(df.limit(100), path, target_partitions=2, fingerprint="sq2", resume=False)
    assert read_snapshot(path)["sequence"] == 3
    assert json.load(open(foreign))["marker"] == "foreign"  # untouched


def test_map_column_roundtrip(spark, tmp_path):
    """map<string,string> metadata columns (routine in LLM training tables;
    the reference rejects maps outright — README.md limitation) encode
    through the same block pipeline: salted fallback must not hash the
    map (Spark forbids it) and decode must return MapType bit-exact."""
    from pyspark.sql import functions as F

    df = spark.range(500).select(
        F.col("id"),
        F.map_from_arrays(
            F.array(F.lit("lang"), F.concat(F.lit("k"), (F.col("id") % 7).cast("string"))),
            F.array((F.col("id") % 3).cast("string"), F.col("id").cast("string")),
        ).alias("attrs"),
    ).withColumn(
        "attrs", F.when(F.col("id") % 11 == 0, F.lit(None)).otherwise(F.col("attrs"))
    )
    path = str(tmp_path / "maptbl")
    write_encoded(df, path, target_partitions=2)
    dec = read_encoded(spark, path)
    assert dec.schema["attrs"].dataType.simpleString() == "map<string,string>"
    canon = lambda d: d.select(  # noqa: E731 — map_entries: order-stable canonical form
        F.sum(F.crc32(F.to_json(F.struct(F.col("id"), F.map_entries("attrs"))))).alias("c")
    ).collect()[0][0]
    assert canon(dec) == canon(df)
    assert dec.count() == 500


def test_reserved_column_names_rejected(spark):
    """User columns colliding with the block layout's own columns must fail
    loudly at plan time, not produce a corrupt blocks table."""
    from pyspark.sql import functions as F

    from parquet_spark.operators.encode import encode_table

    df = spark.range(10).select(F.col("id"), F.lit("x").alias("meta"))
    with pytest.raises(ValueError, match="meta"):
        encode_table(df)
    df2 = spark.range(10).select(F.col("id"), F.lit(1).alias("_min_id"))
    with pytest.raises(ValueError, match="_min_id"):
        encode_table(df2)


def test_partition_plan_conf_keys_and_error_propagation(spark):
    from pyspark.errors import SparkNoSuchElementException

    from parquet_spark.operators.encode import _partition_plan_conf

    plan = _partition_plan_conf(spark)
    assert set(plan) == {"maxPartitionBytes", "openCostInBytes", "filesMinPartitionNum", "defaultParallelism"}
    assert plan["defaultParallelism"] == spark.sparkContext.defaultParallelism

    class _Conf:
        def __init__(self, err):
            self.err = err

        def get(self, key):
            raise self.err

    class _Session:
        def __init__(self, err):
            self.conf = _Conf(err)
            self.sparkContext = spark.sparkContext

    unset = _partition_plan_conf(_Session(SparkNoSuchElementException(message="unset")))
    assert unset["maxPartitionBytes"] == "<unset>"
    with pytest.raises(RuntimeError, match="conf backend down"):
        _partition_plan_conf(_Session(RuntimeError("conf backend down")))


def test_salted_resume_without_salt_rule_reencodes(spark, tmp_path):
    """A salted table whose snapshot lacks the hash rule (the per-source
    weighted plan wrote such tables, and its bucket ids meant something
    else) re-encodes into a fresh generation instead of keeping buckets;
    under the recorded rule every bucket is kept."""
    import json

    from parquet_spark.operators.encode import read_snapshot

    df = sequences_df(spark, 3000, seed=5, n_partitions=4, mean_tokens=16)
    path = str(tmp_path / "legacy")
    write_encoded(df, path, target_partitions=4, fingerprint="lg1", resume=False, bucket_mode="salted")
    assert write_encoded(df, path, target_partitions=4, fingerprint="lg1", bucket_mode="salted")["buckets_skipped"] == 4
    snap = read_snapshot(path)
    assert snap["salt_rule"] == {"rule": "hash", "source_col": "source", "salt_key": "doc_id", "partitions": 4}
    del snap["salt_rule"]
    with open(os.path.join(path, "snapshot.json"), "w") as f:
        json.dump(snap, f)

    s = write_encoded(df, path, target_partitions=4, fingerprint="lg1", bucket_mode="salted")
    assert s["buckets_skipped"] == 0
    new = read_snapshot(path)
    assert new["data_dir"] != snap["data_dir"] and new["salt_rule"]["partitions"] == 4
    back = read_encoded(spark, path, columns=["doc_id"])
    assert back.count() == 3000 and back.distinct().count() == 3000
    assert read_encoded(spark, path, as_of=snap["sequence"]).count() == 3000


def test_salted_write_runs_no_job_before_its_data_write(spark, tmp_path, monkeypatch):
    """A salted write is one Spark job: the hash shuffle runs inside the
    data write, with no weight aggregation or other job before it."""
    from pyspark.sql.readwriter import DataFrameWriter

    from parquet_spark.operators.encode import read_snapshot

    sc = spark.sparkContext
    group = f"salted-write-{os.getpid()}"
    jobs_at_write = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        jobs_at_write.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    lookup = spark.createDataFrame([(f"src{i}", i) for i in range(20)], "source string, rank int")
    df = sequences_df(spark, 2000, seed=3, n_partitions=4, mean_tokens=16).join(lookup, "source")
    path = str(tmp_path / "one_job")
    sc.setJobGroup(group, "salted write")
    try:
        write_encoded(df, path, target_partitions=4, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert read_snapshot(path)["bucket_mode"] == "salted"
    assert jobs_at_write[0] == 0
    assert sc.statusTracker().getJobIdsForGroup(group)
