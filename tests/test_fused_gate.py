"""One gate, `arrow_scan.fused_splits`, chooses between the fused Arrow
feed and the Spark feed for write_encoded, roundtrip_table and
explain_partitioning; on the Spark feed, `encode.spark_feed_mode` picks
partition or salted mode. Both decide from one `arrow_scan.plan_facts`
read per op. The callers must agree for every input shape, and every
feed and mode must return the input's rows."""

from __future__ import annotations

import contextlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_spark.operators.decode import decode_table, read_encoded, roundtrip_table
from parquet_spark.operators.encode import read_snapshot, write_encoded
from parquet_spark.plans import explain_partitioning
from parquet_spark.sources.arrow_scan import fused_splits, list_parquet_files, plan_facts
from parquet_spark.sources.synth import sequences_df

N = 4000


def _crc(df):
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0]


def _table(lo: int, hi: int) -> pa.Table:
    k = pa.array(range(lo, hi), pa.int64())
    return pa.table({
        "k": k,
        "s": pa.array([f"w{i % 37}" for i in range(lo, hi)]),
        "v": pa.array([i * 0.25 for i in range(lo, hi)]),
    })


def _dir4(d):
    os.makedirs(d)
    for i in range(4):
        pq.write_table(_table(i * N // 4, (i + 1) * N // 4), os.path.join(d, f"part-{i}.parquet"))
    return d


def _one_file(d, row_group_size):
    os.makedirs(d)
    pq.write_table(_table(0, N), os.path.join(d, "t.parquet"), row_group_size=row_group_size)
    return d


def _wide_one_file(d):
    """Few wide rows of random hex text (barely compressible) in one
    row group: 160 rows, ~640 KB of column-chunk bytes."""
    os.makedirs(d)
    rng = np.random.default_rng(5)
    hexes = np.frombuffer(b"0123456789abcdef", np.uint8)[rng.integers(0, 16, (160, 4096))]
    pq.write_table(
        pa.table({"k": pa.array(range(160), pa.int64()), "s": [r.tobytes().decode() for r in hexes]}),
        os.path.join(d, "t.parquet"),
    )
    return d


def _typed_file(d, table, **write_opts):
    """One file of 8 row groups: enough splits for the fused feed, were
    the gate to accept its column types."""
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, "t.parquet"), row_group_size=table.num_rows // 8, **write_opts)
    return d


def _int96(d):
    ts = pa.array([1_000_001 + i * 1_000_003 for i in range(N)], pa.timestamp("us"))
    return _typed_file(d, pa.table({"k": range(N), "ts": ts}), use_deprecated_int96_timestamps=True)


def _unsigned(d):
    return _typed_file(d, pa.table({
        "u8": pa.array([i % 256 for i in range(N)], pa.uint8()),
        "u32": pa.array([i * 1_000_003 % (1 << 32) for i in range(N)], pa.uint32()),
    }))


def _dictionary(d):
    return _typed_file(d, pa.table({"k": range(N), "s": pa.array([f"w{i % 37}" for i in range(N)]).dictionary_encode()}))


def _case_names(d):
    return _typed_file(d, pa.table({"Id": range(N), "Val": [i * 0.5 for i in range(N)]}))


def _hive(d):
    """Two hive partitions, p=0 and p=1: the partition column is in no
    footer."""
    for p in range(2):
        _typed_file(os.path.join(d, f"p={p}"), _table(p * N // 2, (p + 1) * N // 2))
    return d


def _wide_alias(d):
    """30 columns: the optimized plan prints a Project of more than 25
    items truncated, which hides an alias past the 25th."""
    return _typed_file(d, pa.table({f"c{i}": range(i, N + i) for i in range(30)}))


def _zero_rg(d):
    os.makedirs(d)
    for i in range(2):
        pq.ParquetWriter(os.path.join(d, f"part-{i}.parquet"), _table(0, 0).schema).close()
    return d


# (input files, DataFrame on them, expected feed)
SHAPES = {
    "dir_4_files": (_dir4, lambda df: df, "fused"),
    "small_one_row_group": (lambda d: _one_file(d, N), lambda df: df, "spark"),
    # one row group, but >= 4 x MIN_SPLIT_BYTES: range splits by bytes
    "wide_one_row_group": (_wide_one_file, lambda df: df, "fused"),
    # Spark reports this directory as .../dir%20with%20space%25/t.parquet
    "percent_encoded_path": (
        lambda d: _one_file(os.path.join(d, "dir with space%"), N // 4), lambda df: df, "fused"
    ),
    "plain_projection": (lambda d: _one_file(d, N // 4), lambda df: df.select("k", "v"), "fused"),
    "reordered_projection": (lambda d: _one_file(d, N // 4), lambda df: df.select("v", "s", "k"), "fused"),
    # the aliased and computed columns reuse data column names: only the
    # plan, not the names, tells the gate that a file read would differ
    "aliased_projection": (
        lambda d: _one_file(d, N // 4), lambda df: df.select(F.col("v").alias("k"), F.col("k").alias("v")), "spark"
    ),
    "computed_projection": (
        lambda d: _one_file(d, N // 4), lambda df: df.select("k", (F.col("v") * 2).alias("v")), "spark"
    ),
    "filtered": (lambda d: _one_file(d, N // 4), lambda df: df.where(F.col("k") % 3 != 0), "spark"),
    # the gate reads the plan string; the footers refuse what it cannot see
    "hive_partitioned": (_hive, lambda df: df, "spark"),
    "hive_partitioned_data_columns": (_hive, lambda df: df.select("k", "s", "v"), "fused"),
    "metadata_column": (lambda d: _one_file(d, N // 4), lambda df: df.select("*", "_metadata"), "spark"),
    "wide_projection_alias_past_25": (
        _wide_alias, lambda df: df.select(*[f"c{i}" for i in range(28)], F.col("c29").alias("c28")), "spark"
    ),
    "zero_row_groups": (_zero_rg, lambda df: df, "spark"),
    # pyarrow reads these columns with other types than Spark's fields
    # (ns timestamps, unsigned and dictionary types) or other names
    "int96_timestamps": (_int96, lambda df: df, "spark"),
    "unsigned_ints": (_unsigned, lambda df: df, "spark"),
    "dictionary_strings": (_dictionary, lambda df: df, "spark"),
    "case_differing_names": (_case_names, lambda df: df.select("id", "val"), "spark"),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_gate_agreement(spark, tmp_path, shape):
    """explain_partitioning names the mode write_encoded records (arrow,
    partition or salted); roundtrip_table reads from a Range exactly when
    fused_splits returns splits; both decode to the input."""
    make, view, want_feed = SHAPES[shape]
    df = view(spark.read.parquet(make(str(tmp_path / "in"))))
    par = spark.sparkContext.defaultParallelism
    fused = fused_splits(plan_facts(df), par)
    assert (fused is not None) == (want_feed == "fused")

    rt = roundtrip_table(df)
    assert ("Range (" in rt._jdf.queryExecution().executedPlan().toString()) == (fused is not None)
    assert rt.count() == df.count()
    assert _crc(rt) == _crc(df)

    path = str(tmp_path / "tbl")
    predicted = explain_partitioning(df)
    write_encoded(df, path, resume=False)
    recorded = read_snapshot(path)["bucket_mode"]
    assert predicted.split()[0] == recorded
    assert (recorded == "arrow") == (fused is not None)
    dec = read_encoded(spark, path)
    assert dec.count() == df.count()
    assert _crc(dec) == _crc(df)


def _seq(spark, n_partitions=4):
    return sequences_df(spark, 2000, seed=3, n_partitions=n_partitions)


# (DataFrame, target_partitions, expected bucket_mode)
MODES = {
    "filter_multi_file_scan": (
        lambda spark, d: spark.read.parquet(_dir4(d)).where(F.col("k") % 3 != 0), 8, "partition"
    ),
    "generated": (lambda spark, d: _seq(spark), 8, "partition"),
    "repartition_by_key": (lambda spark, d: _seq(spark).repartition(8, "source"), 8, "salted"),
    "join": (
        lambda spark, d: _seq(spark).join(_seq(spark).select("doc_id", F.lit(1).alias("one")), "doc_id"), 8, "salted"
    ),
    "generated_over_target": (lambda spark, d: _seq(spark, 8), 4, "salted"),
}


@pytest.mark.parametrize("shape", sorted(MODES))
def test_spark_feed_mode(spark, tmp_path, shape):
    """Inputs the fused gate refuses: the plan alone picks partition or
    salted mode, explain_partitioning names it, a partition-mode write
    runs one Spark job (the data write, no probe), and either mode
    decodes to the input."""
    make, tp, want = MODES[shape]
    df = make(spark, str(tmp_path / "in"))
    sc = spark.sparkContext
    assert fused_splits(plan_facts(df), sc.defaultParallelism) is None
    assert explain_partitioning(df, target_partitions=tp).split()[0] == want
    path = str(tmp_path / "tbl")
    sc.setJobGroup(f"mode-{shape}", "write_encoded")
    try:
        write_encoded(df, path, target_partitions=tp, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert read_snapshot(path)["bucket_mode"] == want
    if want == "partition":
        assert len(sc.statusTracker().getJobIdsForGroup(f"mode-{shape}")) == 1
    dec = read_encoded(spark, path)
    assert dec.count() == df.count()
    assert _crc(dec) == _crc(df)


# ------------------------------------ spark.sql.files.ignoreCorruptFiles

@pytest.fixture
def ignore_corrupt(spark):
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    yield
    spark.conf.unset("spark.sql.files.ignoreCorruptFiles")


def _truncate(path):
    """Cut the file in half. Its Hadoop `.crc` sidecar goes too: with a
    stale sidecar the local filesystem fails the read with a checksum
    error before the parquet reader sees the file."""
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_ignore_corrupt_input_file(spark, tmp_path, ignore_corrupt):
    """A truncated input file is skipped, as the Spark scan skips it:
    roundtrip_table and write_encoded return the intact files' rows."""
    d = _dir4(str(tmp_path / "in"))
    _truncate(list_parquet_files(d)[-1])
    df = spark.read.parquet(d)
    assert fused_splits(plan_facts(df), spark.sparkContext.defaultParallelism) is None
    intact = N * 3 // 4
    assert df.count() == intact

    rt = roundtrip_table(df)
    assert rt.count() == intact
    assert _crc(rt) == _crc(df)

    path = str(tmp_path / "tbl")
    write_encoded(df, path, resume=False)
    dec = read_encoded(spark, path)
    assert dec.count() == intact
    assert _crc(dec) == _crc(df)


def test_ignore_corrupt_blocks_file(spark, tmp_path):
    """A truncated blocks file of an encoded table: a bare read_encoded
    returns what the Spark scan of the blocks returns, the rows of the
    intact blocks files, and raises nothing."""
    path = str(tmp_path / "tbl")
    df = spark.read.parquet(_dir4(str(tmp_path / "in")))
    write_encoded(df, path, resume=False)
    data_dir = os.path.join(path, read_snapshot(path).get("data_dir", "data"))
    files = list_parquet_files(data_dir)
    assert len(files) >= 2
    victim = files[-1]
    lost = sum(pq.read_table(victim, columns=["n_rows"]).column(0).to_pylist())
    _truncate(victim)
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = read_encoded(spark, path)
        assert "Range (" not in got._jdf.queryExecution().executedPlan().toString()
        assert got.count() == N - lost
        blocks = spark.read.option("mergeSchema", "true").parquet(data_dir)
        assert _crc(got) == _crc(decode_table(blocks, df.schema))
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")


def test_cluster_col_agreement(spark, tmp_path):
    """A clustered write sorts rows within buckets, which the fused read
    does not: a bare parquet input takes the Spark feed, and
    explain_partitioning names the mode write_encoded records."""
    df = spark.read.parquet(_dir4(str(tmp_path / "in")))
    predicted = explain_partitioning(df, cluster_col="k")
    assert explain_partitioning(df).split()[0] == "arrow"
    path = str(tmp_path / "tbl")
    write_encoded(df, path, resume=False, cluster_col="k")
    assert predicted.split()[0] == read_snapshot(path)["bucket_mode"] != "arrow"
    assert _crc(read_encoded(spark, path)) == _crc(df)


@contextlib.contextmanager
def _py4j_commands(spark):
    """The py4j commands sent while the block runs (a spy on the gateway
    client's `send_command`)."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []
    client.send_command = lambda command, *a, **k: sent.append(command) or send(command, *a, **k)
    try:
        yield sent
    finally:
        client.send_command = send


def test_explain_reads_each_fact_once(spark, tmp_path):
    """explain_partitioning on one file of 8 row groups reads its plan
    facts once (plan text, inputFiles(), session confs): as many py4j
    round trips bare as projected, and at most 16."""
    d = _typed_file(str(tmp_path / "in"), _table(0, N))
    counts = []
    for view in (lambda df: df, lambda df: df.select("v", "k")):
        df = view(spark.read.parquet(d))
        explain_partitioning(df)  # warm-up
        with _py4j_commands(spark) as sent:
            line = explain_partitioning(df)
        assert line.startswith("arrow fused"), line
        counts.append(len(sent))
    assert counts[0] == counts[1] <= 16, counts


def test_write_reads_input_files_once(spark, tmp_path):
    """One write_encoded calls inputFiles() once. The arrow path never
    asks for the input's partition count; the Spark feed asks once."""
    d = _dir4(str(tmp_path / "in"))
    for view, mode, npart_reads in (
        (lambda df: df, "arrow", 0),
        (lambda df: df.where(F.col("k") % 3 != 0), "partition", 1),
    ):
        df = view(spark.read.parquet(d))
        path = str(tmp_path / f"tbl-{mode}")
        with _py4j_commands(spark) as sent:
            write_encoded(df, path, target_partitions=8, resume=False)
        assert read_snapshot(path)["bucket_mode"] == mode
        assert sum("\ninputFiles\n" in c for c in sent) == 1
        assert sum("\njavaToPython\n" in c for c in sent) == npart_reads


_PYSPARK_OWN = {"broadcast", "range", "mapInArrow"}


def _engine_call(frame) -> bool:
    """Whether a py4j command sent from `frame` is the engine's own: a
    `parquet_spark` frame is on the stack, with no PySpark DataFrame
    builder (`range`, `mapInArrow`, `broadcast`) above it."""
    while frame is not None:
        name = frame.f_code.co_filename
        if os.sep + "parquet_spark" + os.sep in name:
            return True
        if os.sep + "pyspark" + os.sep in name and frame.f_code.co_name in _PYSPARK_OWN:
            return False
        frame = frame.f_back
    return False


def test_plan_facts_calls_do_not_grow_with_files(spark, tmp_path):
    """`plan_facts` reads inputFiles() in a fixed number of py4j round
    trips: the engine's own calls of a roundtrip_table build and of
    explain_partitioning are the same on 1 file (64 row groups) and on
    64 files, and at most 10."""
    table = _table(0, 6400)
    one, many = tmp_path / "one", tmp_path / "many"
    one.mkdir()
    many.mkdir()
    pq.write_table(table, str(one / "t.parquet"), row_group_size=100)
    for i in range(64):
        pq.write_table(table.slice(i * 100, 100), str(many / f"part-{i:02d}.parquet"))
    client = spark.sparkContext._gateway._gateway_client
    send, engine = client.send_command, []

    def spy(command, *a, **k):
        engine.append(_engine_call(sys._getframe(1)))
        return send(command, *a, **k)

    for op in (roundtrip_table, explain_partitioning):
        counts = []
        for d in (one, many):
            df = spark.read.parquet(str(d))
            assert explain_partitioning(df).startswith("arrow fused")
            assert len(plan_facts(df).files) == len(list_parquet_files(str(d)))
            op(df)  # warm-up
            engine.clear()
            client.send_command = spy
            try:
                op(df)
            finally:
                client.send_command = send
            counts.append(sum(engine))
        assert counts[0] == counts[1] <= 10, (op.__name__, counts)
