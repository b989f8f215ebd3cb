"""The Arrow-native fused scan+encode must produce the exact rows the
Spark-scan encode path produces — it is an execution strategy, never a
semantics change (r6 optimization; see sources/arrow_scan.py)."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_spark.operators.decode import decode_table, roundtrip_table
from parquet_spark.operators.encode import encode_table
from parquet_spark.sources.arrow_scan import MIN_SPLIT_BYTES, list_parquet_files, plan_arrow_splits

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _crc(df):
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0]


def _fused(df):
    """df, after asserting it reads through the fused feed (a Range of
    split ids), not a Spark file scan."""
    assert "Range (" in df._jdf.queryExecution().executedPlan().toString()
    return df


def test_fused_scan_matches_spark_scan(spark):
    path = f"{SF_DIR}/lineitem.parquet"
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"]
    df = spark.read.parquet(path).select(*cols)
    fused = _fused(roundtrip_table(df))
    plain = decode_table(encode_table(df), df.schema)
    assert fused.count() == plain.count() == df.count()
    assert _crc(fused) == _crc(plain)
    assert fused.schema == plain.schema


def test_fused_scan_with_codec_overrides(spark, tmp_path):
    # documents is one small row group (the Spark feed); rewritten with 4
    # row groups it plans into 4 splits and takes the fused feed
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pq.read_table(f"{SF_DIR}/documents.parquet"), path, row_group_size=125)
    df = spark.read.parquet(path).select("doc_id", "text")
    fused = _fused(roundtrip_table(df, codecs={"text": "fsst"}))
    assert _crc(fused) == _crc(df)


def test_fused_scan_small_blocks_many_splits(spark):
    # block_rows smaller than the table forces multi-block tasks; the
    # split ranges must tile the file exactly once
    path = f"{SF_DIR}/orders.parquet"
    cols = ["o_orderkey", "o_orderdate"]
    df = spark.read.parquet(path).select(*cols)
    fused = _fused(roundtrip_table(df, block_rows=1024))
    assert fused.count() == df.count()
    assert _crc(fused) == _crc(df)


def test_plan_splits_tile_rows_exactly():
    path = f"{SF_DIR}/lineitem.parquet"
    splits = plan_arrow_splits(path, parallelism=32)
    meta = pq.ParquetFile(path).metadata
    covered = 0
    for f, rg, lo, hi in splits:
        n = meta.row_group(rg).num_rows if rg >= 0 else meta.num_rows
        end = n if hi < 0 else hi
        assert 0 <= lo <= end <= n
        covered += end - lo
    assert covered == meta.num_rows


def _hex_table(n_rows: int, row_chars: int, seed: int) -> pa.Table:
    """n_rows of random hex text: barely compressible, so the footer's
    compressed bytes track row_chars."""
    rng = np.random.default_rng(seed)
    buf = np.frombuffer(b"0123456789abcdef", np.uint8)[rng.integers(0, 16, n_rows * row_chars)].tobytes().decode()
    return pa.table({
        "k": pa.array(range(n_rows), pa.int64()),
        "s": [buf[i * row_chars : (i + 1) * row_chars] for i in range(n_rows)],
    })


def _rg_bytes(path: str, rg: int = 0) -> int:
    g = pq.ParquetFile(path).metadata.row_group(rg)
    return sum(g.column(i).total_compressed_size for i in range(g.num_columns))


def _assert_tiles(splits, n_rows):
    """Contiguous (lo, hi) ranges covering [0, n_rows) once."""
    assert [lo for _f, _rg, lo, _hi in splits] == [0] + [hi for *_x, hi in splits[:-1]]
    assert splits[-1][3] == n_rows


@pytest.mark.parametrize("par", [4, 32])
def test_plan_splits_byte_floor_splits_one_wide_row_group(tmp_path, par):
    """A one-row-group file of few wide rows and >= parallelism x
    MIN_SPLIT_BYTES splits into >= parallelism row ranges (the old row
    floor kept it whole); with more cores than its bytes allow, every
    range still holds MIN_SPLIT_BYTES, give or take one row."""
    path = str(tmp_path / "wide.parquet")
    pq.write_table(_hex_table(400, 4096, 1), path)
    n, nbytes = pq.ParquetFile(path).metadata.num_rows, _rg_bytes(path)
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    assert 4 * MIN_SPLIT_BYTES <= nbytes < 32 * MIN_SPLIT_BYTES
    splits = plan_arrow_splits(path, parallelism=par)
    assert all(rg == 0 for _f, rg, _lo, _hi in splits)
    _assert_tiles(splits, n)
    assert len(splits) == min(par, nbytes // MIN_SPLIT_BYTES)
    assert len(splits) >= 4
    assert all((hi - lo + 1) * nbytes / n >= MIN_SPLIT_BYTES for _f, _rg, lo, hi in splits)


def test_plan_splits_small_file_stays_one_split(tmp_path):
    """Under 2 x MIN_SPLIT_BYTES a row group is not worth two splits,
    however many rows it has."""
    path = str(tmp_path / "small.parquet")
    pq.write_table(_hex_table(10000, 6, 2), path)
    assert MIN_SPLIT_BYTES <= _rg_bytes(path) < 2 * MIN_SPLIT_BYTES
    assert plan_arrow_splits(path, parallelism=4) == [(path, 0, 0, 10000)]


def test_plan_splits_zero_row_row_groups_plan_no_reads(tmp_path):
    """Row groups without rows get no split, in either planner regime;
    a file with no row groups at all plans nothing."""
    t = _hex_table(3000, 256, 3)
    empty = t.slice(0, 0)
    path = str(tmp_path / "holes.parquet")
    with pq.ParquetWriter(path, t.schema) as w:
        for part in (empty, t, empty, t, empty):
            w.write_table(part)
    meta = pq.ParquetFile(path).metadata
    assert [meta.row_group(i).num_rows for i in range(5)] == [0, 3000, 0, 3000, 0]
    # two row groups with rows at parallelism 2: one whole-group split each
    assert plan_arrow_splits(path, parallelism=2) == [(path, 1, 0, -1), (path, 3, 0, -1)]
    # parallelism 8: both are range-split, and only they
    splits = plan_arrow_splits(path, parallelism=8)
    assert {rg for _f, rg, _lo, _hi in splits} == {1, 3}
    for rg in (1, 3):
        _assert_tiles([s for s in splits if s[1] == rg], 3000)
    none_path = str(tmp_path / "none.parquet")
    pq.ParquetWriter(none_path, t.schema).close()
    assert plan_arrow_splits(none_path, parallelism=4) == []


def test_plan_splits_many_files_no_footer_reads(tmp_path):
    import pyarrow as pa

    for i in range(8):
        pq.write_table(pa.table({"x": list(range(10))}), str(tmp_path / f"p{i}.parquet"))
    splits = plan_arrow_splits(str(tmp_path), parallelism=4)
    # many-files regime: one whole-file split each, no row-group detail
    assert len(splits) == 8
    assert all(rg == -1 and lo == 0 and hi == -1 for _f, rg, lo, hi in splits)


def test_plan_splits_missing_path():
    with pytest.raises(FileNotFoundError):
        plan_arrow_splits("/nonexistent/nowhere", parallelism=4)


# ---------------------------------------------------------- write path (r6)

def _crc_seq(df):
    return df.agg(
        F.sum(F.crc32(F.concat_ws(",", "doc_id", F.col("tokens").cast("string")))).alias("c")
    ).collect()[0]["c"]


def test_write_encoded_arrow_mode_roundtrip(spark, tmp_path):
    """auto on a bare local parquet scan of 4 files (4 splits) selects
    the Arrow feed; the table it writes is bit-identical on decode and
    fully resumable."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import write_sequences

    inp = str(tmp_path / "seq")
    write_sequences(spark, inp, 3000, seed=11, n_partitions=4, mean_tokens=48)
    df = spark.read.parquet(inp)
    path = str(tmp_path / "tbl")
    r = write_encoded(df, path, target_partitions=4, resume=False, block_rows=512)
    snap = read_snapshot(path)
    assert snap["bucket_mode"] == "arrow"
    assert r["buckets_total"] == snap["n_buckets"]
    assert _crc_seq(read_encoded(spark, path)) == _crc_seq(df)
    # stats sidecar columns present for pruned reads
    data = spark.read.parquet(path + "/data")
    assert "_min_n_tok" in data.columns and "_max_n_tok" in data.columns
    # resume: same plan -> everything skipped
    r2 = write_encoded(df, path, target_partitions=4, resume=True, block_rows=512)
    assert r2["buckets_skipped"] == r2["buckets_total"] == r["buckets_total"]
    assert _crc_seq(read_encoded(spark, path)) == _crc_seq(df)


def test_write_encoded_arrow_resume_plan_drift_reencodes(spark, tmp_path):
    """A resume whose recomputed split plan differs from the recorded one
    (here: different block_rows) must re-encode rather than trust stale
    bucket ids."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import write_sequences

    inp = str(tmp_path / "seq")
    write_sequences(spark, inp, 2000, seed=12, n_partitions=4, mean_tokens=48)
    df = spark.read.parquet(inp)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, target_partitions=4, fingerprint="ar1", resume=False, block_rows=512)
    assert read_snapshot(path)["bucket_mode"] == "arrow"
    s = write_encoded(df, path, target_partitions=4, fingerprint="ar1", resume=True, block_rows=256)
    assert s["buckets_skipped"] == 0  # plan drift -> full re-encode
    assert _crc_seq(read_encoded(spark, path)) == _crc_seq(df)
    assert read_encoded(spark, path).count() == df.count()


# ------------------------------------------------ task packing (one wave)

def _max_stage_tasks(spark, group, fn):
    """Run fn under a job group; the largest task count of its stages."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    return out, max(st.getStageInfo(s).numTasks for s in stages)


def _eight_files(spark, tmp_path, n_rows=4000, seed=21):
    from parquet_spark.sources.synth import write_sequences

    inp = str(tmp_path / "seq8")
    write_sequences(spark, inp, n_rows, seed=seed, n_partitions=8, mean_tokens=24)
    assert len(list_parquet_files(inp)) == 8
    return inp


def test_roundtrip_packs_splits_into_one_wave(spark, tmp_path):
    """8 files at parallelism 4: 8 whole-file splits, packed into at most
    4 tasks, rows unchanged."""
    inp = _eight_files(spark, tmp_path)
    par = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(inp)
    assert len(plan_arrow_splits(inp, par)) == 8
    fused = _fused(roundtrip_table(df))
    n, tasks = _max_stage_tasks(spark, "rt-pack", fused.count)
    assert n == df.count()
    assert tasks <= par
    assert _crc_seq(fused) == _crc_seq(df)


def test_write_encoded_arrow_packs_buckets_into_one_wave(spark, tmp_path):
    """Arrow-mode write of an 8-file input: 8 buckets (one per split) are
    encoded by at most `parallelism` tasks, and every block stays inside
    one bucket."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.plans import explain_partitioning

    inp = _eight_files(spark, tmp_path)
    df = spark.read.parquet(inp)
    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "tbl")
    r, tasks = _max_stage_tasks(
        spark, "write-pack",
        lambda: write_encoded(df, path, target_partitions=4, resume=False, block_rows=256),
    )
    assert read_snapshot(path)["bucket_mode"] == "arrow"
    assert r["buckets_total"] == 8
    assert tasks <= par
    # the prediction comes from the same task-count helper the scan uses
    line = explain_partitioning(df, target_partitions=4)
    assert f"8 row-group/range splits in {min(8, par)} tasks" in line
    data = pq.read_table(path + "/data", columns=["part_id", "bucket", "n_rows"]).to_pandas()
    assert data["part_id"].nunique() <= par
    assert data["bucket"].nunique() == 8
    # one bucket per file: a block never spans two buckets in one task
    rows = [pq.ParquetFile(f).metadata.num_rows for f in list_parquet_files(inp)]
    assert len(data) == sum(-(-n // 256) for n in rows)
    assert _crc_seq(read_encoded(spark, path)) == _crc_seq(df)


def test_write_encoded_arrow_partial_resume(spark, tmp_path):
    """Lose one task's output (its blocks part file, which holds several
    buckets, and its manifest part): a resume re-encodes exactly those
    buckets, duplicates none, and the table decodes to the input."""
    from parquet_spark.operators.decode import read_encoded, read_manifest
    from parquet_spark.operators.encode import read_snapshot, write_encoded

    inp = _eight_files(spark, tmp_path, seed=22)
    df = spark.read.parquet(inp)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, target_partitions=4, fingerprint="pr1", resume=False, block_rows=256)
    assert read_snapshot(path)["bucket_mode"] == "arrow"
    data_dir, man_dir = os.path.join(path, "data"), os.path.join(path, "manifest")

    def buckets_by_file(d):
        return {
            f: set(pq.read_table(os.path.join(d, f), columns=["bucket"]).column(0).to_pylist())
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    def rows_per_bucket():
        t = pq.read_table(data_dir, columns=["bucket", "n_rows"]).to_pandas()
        return t.groupby("bucket")["n_rows"].sum().to_dict()

    before_rows = rows_per_bucket()
    before = buckets_by_file(data_dir)
    victim, lost = next((f, b) for f, b in sorted(before.items()) if len(b) >= 2)
    os.remove(os.path.join(data_dir, victim))
    man_victims = [f for f, b in buckets_by_file(man_dir).items() if b & lost]
    assert len(man_victims) == 1  # one manifest part per task
    os.remove(os.path.join(man_dir, man_victims[0]))

    r = write_encoded(df, path, target_partitions=4, fingerprint="pr1", resume=True, block_rows=256)
    assert r["buckets_total"] == 8
    assert r["buckets_skipped"] == 8 - len(lost)
    after = buckets_by_file(data_dir)
    fresh = {f: b for f, b in after.items() if f not in before}
    assert set().union(*fresh.values()) == lost  # only the lost buckets re-encoded
    assert rows_per_bucket() == before_rows  # no bucket written twice
    man = read_manifest(spark, path).groupBy("bucket", "column").agg(F.sum("n_values").alias("n"))
    assert {(row["bucket"], row["n"]) for row in man.where(F.col("column") == "doc_id").collect()} == set(
        before_rows.items()
    )
    assert _crc_seq(read_encoded(spark, path)) == _crc_seq(df)


# ------------------------------------------------- zero-row-group inputs

def _zero_row_group_files(src_schema, d, n):
    os.makedirs(d, exist_ok=True)
    for i in range(n):
        pq.ParquetWriter(os.path.join(d, f"part-{i}.parquet"), src_schema).close()
    assert all(pq.ParquetFile(f).metadata.num_row_groups == 0 for f in list_parquet_files(d))


def test_roundtrip_zero_row_group_files(spark, tmp_path):
    """Files with no row groups at all plan to no splits (not a
    ZeroDivisionError) and round-trip to the empty result, bare and
    projected."""
    import pyarrow as pa

    d = str(tmp_path / "t.parquet")
    _zero_row_group_files(pa.schema([("k", pa.int64()), ("s", pa.string())]), d, 2)
    assert plan_arrow_splits(d, parallelism=4) == []
    df = spark.read.parquet(d)
    for src in (df, df.select("s", "k")):
        got = roundtrip_table(src)
        assert got.schema == src.schema
        assert got.count() == 0


def test_read_encoded_zero_row_group_blocks(spark, tmp_path):
    """An encoded table whose blocks files hold no row groups reads as
    empty through read_encoded, like the Spark scan of the same files."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded

    path = str(tmp_path / "tbl")
    df = spark.range(0, 300).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    write_encoded(df, path, target_partitions=2, resume=False)
    data_dir = os.path.join(path, "data")
    files = list_parquet_files(data_dir)
    schema = pq.ParquetFile(files[0]).schema_arrow
    for f in files:
        os.remove(f)
    _zero_row_group_files(schema, data_dir, 2)
    got = read_encoded(spark, path)
    assert got.schema == df.schema
    assert got.count() == 0
    assert spark.read.parquet(data_dir).count() == 0
