"""Structured Streaming encode: micro-batches land in the table layout and
decode back bit-identically; a replayed batch id does not duplicate data."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def workdir(tmp_path):
    d = str(tmp_path / "stream_table")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _crc(df):
    return df.agg(
        F.sum(F.crc32(F.concat_ws(",", F.col("doc_id"), F.col("tokens").cast("string"))))
    ).collect()[0][0]


def test_stream_encode_roundtrip(spark, workdir, tmp_path):
    from parquet_spark.sources.synth import sequences_df
    from parquet_spark.operators.decode import read_encoded, read_manifest
    from parquet_spark.streaming.encode_stream import StreamingEncoder

    src = sequences_df(spark, 3000, seed=11, n_partitions=4)
    enc = StreamingEncoder(workdir, target_partitions=8)

    # drive the foreachBatch sink directly with three micro-batches (the
    # same call path writeStream uses; a rate-source run is exercised below)
    batches = src.randomSplit([1.0, 1.0, 1.0], seed=5)
    for i, b in enumerate(batches):
        enc(b, i)

    out = read_encoded(spark, workdir)
    assert out.count() == 3000
    assert _crc(out) == _crc(src)

    def manifest_rows():
        man = read_manifest(spark, workdir).where("column = 'doc_id'")
        assert "batch_id" not in man.columns and "batch" in man.columns
        return man.agg(F.sum("n_values")).collect()[0][0]

    assert manifest_rows() == 3000

    # replay batch 1 (checkpoint recovery path): no duplication, in the
    # data and in the side-band manifest
    enc(batches[1], 1)
    out2 = read_encoded(spark, workdir)
    assert out2.count() == 3000
    assert _crc(out2) == _crc(src)
    assert manifest_rows() == 3000


def test_stream_with_real_writestream(spark, workdir, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.streaming.encode_stream import StreamingEncoder

    # rate source → shape into the sequences schema → encode sink
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "500").load()
        .select(
            F.concat(F.lit("doc-"), F.col("value")).alias("doc_id"),
            F.array_repeat((F.col("value") % 100).cast("int"), 5).alias("tokens"),
            F.lit(5).cast("int").alias("n_tok"),
            F.concat(F.lit("src"), (F.col("value") % 3)).alias("source"),
        )
    )
    enc = StreamingEncoder(workdir, target_partitions=4)
    q = (
        stream.writeStream.foreachBatch(enc)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        import time

        # poll, never processAllAvailable(): with a CONTINUOUS rate source
        # "all available" is a moving target and that call can block
        # unboundedly (observed: a 14-minute suite hang) — the 1s trigger
        # delivers batches on its own and the deadline stays enforceable
        deadline = time.time() + 60
        while time.time() < deadline and not enc._snapshot_written:
            time.sleep(0.5)
    finally:
        q.stop()
    assert enc._snapshot_written, "stream never delivered a non-empty batch"
    out = read_encoded(spark, workdir)
    assert out.count() > 0
    assert out.columns == ["doc_id", "tokens", "n_tok", "source"]
    assert out.filter(F.size("tokens") != 5).count() == 0


def test_streaming_dedup_exact_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches:
    a duplicate arriving in a LATER batch must be dropped, and each key is
    emitted exactly once. maxFilesPerTrigger=1 forces the two files into
    separate micro-batches."""
    import os

    from parquet_spark.streaming.dedup_stream import streaming_dedup_exact

    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "Alpha  Beta")],  # 3 dups 1
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon zeta"), (12, "gamma delta")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    out = streaming_dedup_exact(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM dedup_stream_t").collect()
    got = {r["doc_id"] for r in rows}
    # first occurrences only: 1 (not 3/10), 2 (not 12), 11
    assert got == {1, 2, 11}, rows
    assert len(rows) == 3


def test_stream_encode_partition_mode(spark, workdir):
    """Zero-shuffle streaming: bucket = batch partition id. Batch replays
    overwrite whole batch dirs, so bucket ids need no cross-run stability
    — round-trip and idempotence must hold exactly as in salted mode."""
    from parquet_spark.sources.synth import sequences_df
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.streaming.encode_stream import StreamingEncoder

    src = sequences_df(spark, 2000, seed=21, n_partitions=4)
    enc = StreamingEncoder(workdir, target_partitions=8, bucket_mode="partition")
    batches = src.randomSplit([1.0, 1.0], seed=9)
    for i, b in enumerate(batches):
        enc(b, i)
    out = read_encoded(spark, workdir)
    assert out.count() == 2000
    assert _crc(out) == _crc(src)
    enc(batches[0], 0)  # replay → no dup
    assert read_encoded(spark, workdir).count() == 2000


def test_session_window_boundary_matches_batch_sessionize(spark):
    """Spark's session_window and our batch sessionize agree: an event at
    EXACTLY the gap stays in-session, strictly-greater splits, and the
    native window's end is last-event + gap."""
    import datetime as dt

    from parquet_spark.pipeline.events import session_stats_windowed

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 1, t0, 1.0), (2, 1, t0 + 30 * m, 9.0),          # exactly gap: one session
        (3, 2, t0, 2.0), (4, 2, t0 + 31 * m, 3.0),          # beyond gap: two sessions
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["t_start"]): r
        for r in session_stats_windowed(df, gap_minutes=30).collect()
    }
    assert got[(1, t0)]["n_events"] == 2 and got[(1, t0)]["max_value"] == 9.0
    assert got[(1, t0)]["t_end"] == t0 + 60 * m  # last event (12:30) + gap
    assert got[(2, t0)]["n_events"] == 1
    assert got[(2, t0 + 31 * m)]["n_events"] == 1
    assert len(got) == 3


def test_streaming_session_window_append_with_watermark(spark, tmp_path):
    """Watermarked streaming sessionization: append mode emits a session
    only once the watermark passes its close; sentinel files advance the
    watermark deterministically (maxFilesPerTrigger=1 → one batch each)."""
    import datetime as dt
    import os

    from parquet_spark.pipeline.events import session_stats_windowed

    src = str(tmp_path / "evsrc")
    os.makedirs(src)
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    real = spark.createDataFrame(
        [(1, 1, t0, 1.0), (2, 1, t0 + 5 * m, 7.0), (3, 2, t0 + 2 * m, 2.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    s1 = spark.createDataFrame(
        [(90, 90, t0 + dt.timedelta(hours=5), 0.0)], real.schema
    )
    s2 = spark.createDataFrame(
        [(91, 91, t0 + dt.timedelta(hours=10), 0.0)], real.schema
    )
    real.coalesce(1).write.parquet(src + "/f1")
    s1.coalesce(1).write.parquet(src + "/f2")
    s2.coalesce(1).write.parquet(src + "/f3")

    stream = (
        spark.readStream.schema(real.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f*")
    )
    sess = session_stats_windowed(stream, gap_minutes=30, watermark="0 seconds")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["user_id"]: r for r in spark.sql("SELECT * FROM sess_out").collect()}
    # both real sessions emitted closed; the last sentinel's own session
    # is still open (watermark never passed it) and must NOT appear
    assert 1 in out and out[1]["n_events"] == 2 and out[1]["max_value"] == 7.0
    assert out[1]["t_end"] == t0 + 35 * m
    assert 2 in out and out[2]["n_events"] == 1
    assert 91 not in out


# ------------------------------------------------- streaming SOURCE (tail)


def test_stream_source_tails_batches(spark, workdir, tmp_path):
    """read_encoded_stream: availableNow drains existing batches; a second
    start with the SAME checkpoint sees only batches appended since —
    exactly-once tailing over the table layout."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded
    from parquet_spark.sources.synth import sequences_df
    from parquet_spark.streaming.decode_stream import read_encoded_stream

    src = sequences_df(spark, 2000, seed=23, n_partitions=4)
    b1 = src.where(F.col("n_tok") % 2 == 0)
    b2 = src.where(F.col("n_tok") % 2 != 0)
    append_encoded(b1, workdir, target_partitions=4)

    ckpt = str(tmp_path / "ckpt")
    out1 = str(tmp_path / "out1")
    q = (
        read_encoded_stream(spark, workdir)
        .writeStream.format("parquet")
        .option("path", out1)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got1 = spark.read.parquet(out1)
    assert got1.count() == b1.count()
    assert _crc(got1) == _crc(b1)

    # append a second batch; a new run on the same checkpoint processes
    # ONLY the new files
    append_encoded(b2, workdir, target_partitions=4)
    q = (
        read_encoded_stream(spark, workdir)
        .writeStream.format("parquet")
        .option("path", out1)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_all = spark.read.parquet(out1)
    assert got_all.count() == src.count()
    assert _crc(got_all) == _crc(read_encoded(spark, workdir))


def test_stream_source_projection_and_missing_snapshot(spark, workdir, tmp_path):
    from parquet_spark.operators.encode import append_encoded
    from parquet_spark.sources.synth import sequences_df
    from parquet_spark.streaming.decode_stream import read_encoded_stream

    with pytest.raises(FileNotFoundError):
        read_encoded_stream(spark, str(tmp_path / "nope"))

    append_encoded(
        sequences_df(spark, 1500, seed=29, n_partitions=4), workdir, target_partitions=4
    )
    sdf = read_encoded_stream(spark, workdir, columns=["doc_id", "n_tok"])
    assert sdf.isStreaming and sdf.columns == ["doc_id", "n_tok"]
    out = str(tmp_path / "out_proj")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_proj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 1500 and set(got.columns) == {"doc_id", "n_tok"}


def test_stream_source_fresh_table_before_first_batch(spark, tmp_path):
    """A snapshot with no committed data files yet must still open as a
    stream source (fresh/empty table bootstrap — r5 ADVICE finding): the
    blocks schema derives from the snapshot instead of a parquet
    inference over an empty dir."""
    import os

    from parquet_spark.operators.encode import write_snapshot
    from parquet_spark.streaming.decode_stream import read_encoded_stream

    path = str(tmp_path / "fresh")
    os.makedirs(os.path.join(path, "data"))
    schema_json = (
        '{"type":"struct","fields":['
        '{"name":"doc_id","type":"string","nullable":true,"metadata":{}},'
        '{"name":"n_tok","type":"integer","nullable":true,"metadata":{}}]}'
    )
    write_snapshot(path, schema_json, ["doc_id", "n_tok"], "fp-fresh")
    stream = read_encoded_stream(spark, path)
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == ["doc_id", "n_tok"]
