"""`decode.blocks_relation`: every engine read of a table's blocks is typed
from the snapshot (`decode.blocks_ddl`), so no read infers a schema.

- building the relation, flat or batch layout, with or without
  `max_batch`, and opening `read_encoded_stream` run no Spark job;
- the maintenance ops stay within the Spark jobs
  `tools/maintenance_jobs_probe.py` measures on its inputs at 20k rows;
- a blocks file whose stats columns do not match the snapshot's types
  raises or keeps its blocks, and never loses or adds rows;
- a generation dir without data files reads as an empty table with the
  snapshot's schema.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from parquet_spark.operators.decode import blocks_relation, list_blocks_files, read_encoded
from parquet_spark.operators.encode import append_encoded, read_snapshot, write_encoded
from parquet_spark.operators.maintain import delete_where, fragmentation
from parquet_spark.sources.synth import sequences_df
from parquet_spark.streaming.decode_stream import read_encoded_stream

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn's result, the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"blocks-relation-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _crc(df):
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("blocks_relation")
    src = sequences_df(spark, 3000, seed=21, n_partitions=2, mean_tokens=16)
    flat = str(d / "flat")
    write_encoded(src, flat, target_partitions=4, resume=False, bloom_cols=["source"])
    batches = str(d / "batches")
    for i in range(3):
        append_encoded(src.where(F.crc32("doc_id") % 3 == i), batches, target_partitions=2)
    return {"flat": flat, "batches": batches}


@pytest.mark.parametrize("layout", ["flat", "batches"])
@pytest.mark.parametrize("max_batch", [None, 1])
def test_blocks_relation_runs_no_job(spark, tables, layout, max_batch):
    path = tables[layout]
    snap = read_snapshot(path)
    blocks, jobs = _jobs(spark, lambda: blocks_relation(spark, path, snap, max_batch))
    assert jobs == 0
    assert "batch" not in blocks.columns
    assert {"part_id", "block_id", "bucket", "n_rows", "meta", "_min_n_tok", "_max_n_tok"} <= set(blocks.columns)
    if layout == "flat":
        assert "_bloom_source" in blocks.columns
    # the relation holds the blocks files list_blocks_files plans
    _fs, files = list_blocks_files(os.path.join(path, snap["data_dir"]), max_batch)
    want = sum(pq.read_metadata(f).num_rows for f in files)
    assert blocks.count() == want > 0
    rows = blocks.agg(F.sum("n_rows")).collect()[0][0]
    assert rows == sum(pq.read_table(f, columns=["n_rows"]).column(0).to_numpy().sum() for f in files)


def test_read_encoded_stream_opens_without_a_job(spark, tables):
    stream, jobs = _jobs(spark, lambda: read_encoded_stream(spark, tables["batches"]))
    assert jobs == 0 and stream.isStreaming
    assert stream.columns == ["doc_id", "tokens", "n_tok", "source"]


def _probe():
    spec = importlib.util.spec_from_file_location(
        "maintenance_jobs_probe", os.path.join(ROOT, "tools", "maintenance_jobs_probe.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# Spark jobs per op that tools/maintenance_jobs_probe.py measures on its
# inputs at 20k rows (CHANGES.md), as upper bounds
PROBE_JOBS_20K = {"fragmentation": 2, "delete_where": 8, "merge_into": 14, "compact_table": 13}


def test_maintenance_jobs_within_probe_counts(spark, tmp_path):
    probe = _probe()
    inp = probe._inputs(spark, str(tmp_path), 20_000)
    ops = probe._ops(spark, inp)
    for name, bound in PROBE_JOBS_20K.items():
        table, op = ops[name]
        path = str(tmp_path / name)
        shutil.copytree(inp[table], path)
        _out, jobs = _jobs(spark, lambda: op(path))
        assert jobs <= bound, (name, jobs)


def _rewrite_one_blocks_file(path: str, edit) -> str:
    """Rewrite the first blocks file of the table with pyarrow, through
    `edit(table)`; the Hadoop checksum sidecar of the old bytes goes."""
    data_dir = os.path.join(path, read_snapshot(path)["data_dir"])
    _fs, files = list_blocks_files(data_dir)
    victim = files[0]
    pq.write_table(edit(pq.read_table(victim)), victim)
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return victim


def _retype_stats(typ):
    def edit(t):
        for name in ("_min_n_tok", "_max_n_tok"):
            i = t.schema.get_field_index(name)
            t = t.set_column(i, name, t.column(i).cast(typ))
        return t
    return edit


def _drop_stats(t):
    return t.drop_columns(["_min_n_tok", "_max_n_tok"])


STATS_EDITS = {"long": _retype_stats(pa.int64()), "string": _retype_stats(pa.string()), "missing": _drop_stats}
WHERE = ("n_tok", ">", 20)


def _raises_or_equals(fn, want):
    """`fn()` raises a Spark error or returns `want`."""
    try:
        got = fn()
    except (Py4JJavaError, PySparkException):
        return "raised"
    assert got == want
    return "equal"


@pytest.mark.parametrize("edit", sorted(STATS_EDITS))
def test_stats_type_differs_from_snapshot(spark, tmp_path, edit):
    """A blocks file whose `_min_n_tok`/`_max_n_tok` do not have the
    snapshot's type (or are absent) never changes a result: the read
    raises, or the stats read as unknown and the blocks are kept."""
    src = sequences_df(spark, 4000, seed=3, n_partitions=2, mean_tokens=16)
    path = str(tmp_path / "t")
    write_encoded(src, path, target_partitions=4, resume=False, cluster_col="n_tok")
    _rewrite_one_blocks_file(path, STATS_EDITS[edit])
    matched = src.where(F.col(WHERE[0]) > WHERE[2])
    want = (matched.count(), _crc(matched))

    def where_read():
        df = read_encoded(spark, path, where=WHERE)
        return df.count(), _crc(df)

    assert _raises_or_equals(where_read, want) == "equal"  # the fused read
    if edit == "missing":
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        try:
            assert _raises_or_equals(where_read, want) == "equal"
        finally:
            spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    snap = read_snapshot(path)
    remaining = src.where(~(F.col(WHERE[0]) > WHERE[2]))
    outcome = _raises_or_equals(
        lambda: (delete_where(spark, path, WHERE)["remaining"], _crc(read_encoded(spark, path))),
        (remaining.count(), _crc(remaining)),
    )
    if outcome == "raised":  # the table is left as it was
        assert read_snapshot(path)["sequence"] == snap["sequence"]
        assert read_encoded(spark, path).count() == src.count()


@pytest.mark.xfail(strict=True, reason="ignoreCorruptFiles skips a file whose stats the scan cannot read (CHANGES.md FOUND)")
@pytest.mark.parametrize("edit", ["long", "string"])
def test_stats_type_differs_ignore_corrupt_where(spark, tmp_path, edit):
    """The Spark-scan fallback under ignoreCorruptFiles reads the pruning
    stats; a file whose stats have another type fails that read and is
    skipped as corrupt, rows and all, though a read without `where`
    returns its rows."""
    src = sequences_df(spark, 4000, seed=3, n_partitions=2, mean_tokens=16)
    path = str(tmp_path / "t")
    write_encoded(src, path, target_partitions=4, resume=False, cluster_col="n_tok")
    _rewrite_one_blocks_file(path, STATS_EDITS[edit])
    want = src.where(F.col(WHERE[0]) > WHERE[2]).count()
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = read_encoded(spark, path, where=WHERE).count()
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    assert got == want


def test_empty_generation_reads_empty(spark, tmp_path):
    """A generation dir that exists but holds no data files reads as 0
    rows with the snapshot's schema; maintenance sees 0 blocks."""
    path = str(tmp_path / "t")
    src = sequences_df(spark, 500, seed=5, n_partitions=1, mean_tokens=8)
    write_encoded(src, path, target_partitions=2, resume=False)
    snap = read_snapshot(path)
    data_dir = os.path.join(path, snap["data_dir"])
    for f in os.listdir(data_dir):
        if not os.path.isdir(os.path.join(data_dir, f)):
            os.remove(os.path.join(data_dir, f))
    got = read_encoded(spark, path)
    assert got.schema == StructType.fromJson(snap["schema"])
    assert got.count() == 0
    assert fragmentation(spark, path)["n_blocks"] == 0


def test_payload_column_named_batch_survives_rewrite(spark, tmp_path):
    """`batch` is a payload column of a flat table, not the batch
    layout's partition column: a copy-on-write rewrite keeps its values."""
    path = str(tmp_path / "t")
    df = spark.range(0, 200).select(F.col("id").alias("k"), (F.col("id") * 3).alias("batch"))
    write_encoded(df, path, target_partitions=2, resume=False)
    assert delete_where(spark, path, ("k", "<", 10))["remaining"] == 190
    got = read_encoded(spark, path)
    assert got.where(F.col("batch").isNull()).count() == 0
    assert _crc(got) == _crc(df.where(F.col("k") >= 10))
