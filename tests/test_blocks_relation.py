"""`decode.blocks_relation`: every engine read of a table's blocks is typed
from the snapshot (`decode.blocks_ddl`), so no read infers a schema.

- building the relation, flat or batch layout, with or without
  `max_batch`, and opening `read_encoded_stream` run no Spark job;
- the maintenance ops stay within the Spark jobs
  `tools/maintenance_jobs_probe.py` measures on its inputs at 20k rows;
- a blocks file whose stats columns do not match the snapshot's types
  raises or keeps its blocks, and never loses or adds rows;
- a generation dir without data files reads as an empty table with the
  snapshot's schema;
- the rewrite ops read every blocks file or raise, under
  `spark.sql.files.ignoreCorruptFiles` too, and never read the
  generation they commit; the streaming sink runs one data job per batch.
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

from parquet_spark.operators import decode, maintain
from parquet_spark.operators.decode import blocks_relation, list_blocks_files, read_encoded
from parquet_spark.operators.encode import append_encoded, read_snapshot, write_encoded
from parquet_spark.operators.maintain import compact_table, delete_where, fragmentation, merge_into
from parquet_spark.sources.synth import sequences_df
from parquet_spark.streaming.decode_stream import read_encoded_stream
from parquet_spark.streaming.encode_stream import StreamingEncoder

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
PROBE_JOBS_20K = {"fragmentation": 2, "delete_where": 3, "merge_into": 9, "compact_table": 4}


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


def test_sink_batch_jobs(spark, tmp_path):
    """One 20k-row micro-batch is one data job: the salted shuffle's map
    stage and the write."""
    src = sequences_df(spark, 20_000, seed=11, n_partitions=4, mean_tokens=32)
    enc = StreamingEncoder(str(tmp_path / "t"), target_partitions=8)
    _out, jobs = _jobs(spark, lambda: enc(src, 0))
    assert jobs <= 2
    assert enc._snapshot_written and read_encoded(spark, str(tmp_path / "t")).count() == 20_000


def test_sink_empty_batch_leaves_no_trace(spark, tmp_path):
    """An empty micro-batch writes no batch dir and no snapshot, before
    and after a non-empty one."""
    path = str(tmp_path / "t")
    src = sequences_df(spark, 500, seed=5, n_partitions=2, mean_tokens=8)
    empty = src.where("false")
    enc = StreamingEncoder(path, target_partitions=2)
    enc(empty, 0)
    assert not enc._snapshot_written
    assert read_snapshot(path) is None
    assert not os.path.exists(os.path.join(path, "data", "batch=0"))
    enc(src, 1)
    seq = read_snapshot(path)["sequence"]
    enc(empty, 2)
    assert read_snapshot(path)["sequence"] == seq
    for d in ("data", "manifest"):
        assert sorted(os.listdir(os.path.join(path, d))) == ["batch=1"]
    assert _crc(read_encoded(spark, path)) == _crc(src)


def test_rewrite_ops_never_read_what_they_wrote(spark, tmp_path, monkeypatch):
    """No Spark read of delete_where, merge_into or incremental
    compact_table lies under the generation the op commits."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    parquet = DataFrameReader.parquet
    relation = decode.blocks_relation

    def spy_parquet(self, *paths, **kw):
        reads.extend(paths)
        return parquet(self, *paths, **kw)

    def spy_relation(spark, path, snap, *a, **kw):
        reads.append(os.path.join(path, snap.get("data_dir", "data")))
        return relation(spark, path, snap, *a, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)
    monkeypatch.setattr(maintain, "blocks_relation", spy_relation)
    monkeypatch.setattr(decode, "blocks_relation", spy_relation)
    probe = _probe()
    inp = probe._inputs(spark, str(tmp_path), 8_000)
    ops = probe._ops(spark, inp)
    for name in ("delete_where", "merge_into", "compact_table"):
        table, op = ops[name]
        path = str(tmp_path / name)
        shutil.copytree(inp[table], path)
        reads.clear()
        op(path)
        snap = read_snapshot(path)
        written = [os.path.join(path, snap[k]) for k in ("data_dir", "manifest_dir")]
        assert reads, name
        bad = [r for r in reads if any(r == w or r.startswith(w + os.sep) for w in written)]
        assert not bad, (name, bad)


def _one_blocks_file(path: str) -> str:
    """The first blocks file of the table; the Hadoop checksum sidecar of
    its bytes goes, so an edit of them reads as the edit itself."""
    data_dir = os.path.join(path, read_snapshot(path)["data_dir"])
    _fs, files = list_blocks_files(data_dir)
    victim = files[0]
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return victim


def _rewrite_one_blocks_file(path: str, edit) -> str:
    """Rewrite the first blocks file of the table with pyarrow, through
    `edit(table)`."""
    victim = _one_blocks_file(path)
    pq.write_table(edit(pq.read_table(victim)), victim)
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


def _count(spark, path):
    try:
        return read_encoded(spark, path).count()
    except (Py4JJavaError, PySparkException):
        return "raised"


@pytest.mark.parametrize("edit", ["long", "string", "truncated"])
def test_rewrite_ops_never_skip_a_file(spark, tmp_path, edit):
    """Under ignoreCorruptFiles, a blocks file a rewrite op's scan cannot
    read (stats of another type than the snapshot's, or a truncated file)
    makes delete_where, merge_into and compact_table raise and leave the
    table as it was, or return the right rows: it never falls out of the
    rewrite."""
    src = sequences_df(spark, 4000, seed=3, n_partitions=2, mean_tokens=16)
    table = str(tmp_path / "t")
    write_encoded(src, table, target_partitions=4, resume=False, cluster_col="n_tok")
    if edit == "truncated":
        victim = _one_blocks_file(table)
        with open(victim, "r+b") as f:
            f.truncate(os.path.getsize(victim) // 2)
    else:
        _rewrite_one_blocks_file(table, STATS_EDITS[edit])
    updates = src.where(F.crc32("doc_id") % 8 == 0).withColumn("n_tok", F.col("n_tok") + 1)
    merged = src.join(updates.select("doc_id"), "doc_id", "left_anti").unionByName(updates)
    remaining = src.where(~(F.col(WHERE[0]) > WHERE[2]))
    ops = {
        "delete_where": (lambda p: delete_where(spark, p, WHERE)["remaining"], remaining),
        "merge_into": (lambda p: merge_into(spark, p, updates, key_col="doc_id")["total"], merged),
        "compact_table": (lambda p: compact_table(spark, p)["after"]["n_rows"], src),
    }
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        for name, (op, want) in ops.items():
            path = str(tmp_path / name)
            shutil.copytree(table, path)
            seq, n = read_snapshot(path)["sequence"], _count(spark, path)
            outcome = _raises_or_equals(
                lambda: (op(path), _crc(read_encoded(spark, path))), (want.count(), _crc(want))
            )
            if outcome == "raised":
                assert read_snapshot(path)["sequence"] == seq, name
                assert _count(spark, path) == n, name
            else:
                assert edit != "truncated", name
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")


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
