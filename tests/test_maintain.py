"""Compaction (Iceberg rewrite_data_files analogue): fragmented tables are
rewritten at full block size with identical content."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _crc(df):
    return df.select(
        F.sum(F.crc32(F.concat_ws(",", "doc_id", F.col("tokens").cast("string"), "n_tok", "source"))).alias("c")
    ).collect()[0]["c"]


def test_compact_fragmented_table(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.maintain import compact_table, fragmentation
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "frag")
    df = sequences_df(spark, 5000, seed=21, n_partitions=2)
    # 128-row blocks = heavy fragmentation vs the 4096 target
    from parquet_spark.operators.encode import write_encoded

    write_encoded(df, path, target_partitions=4, block_rows=128, resume=False)
    orig_crc = _crc(read_encoded(spark, path))
    before = fragmentation(spark, path, 4096)
    assert before["fill_ratio"] < 0.5

    rep = compact_table(spark, path, block_rows=4096, target_partitions=2)
    assert rep["compacted"]
    assert rep["after"]["n_blocks"] < rep["before"]["n_blocks"]
    assert rep["after"]["fill_ratio"] > rep["before"]["fill_ratio"]
    assert rep["after"]["n_rows"] == rep["before"]["n_rows"] == 5000
    assert _crc(read_encoded(spark, path)) == orig_crc


def test_compact_noop_when_already_full(spark, tmp_path):
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import compact_table
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "full")
    # blocks never straddle buckets, so "compact" means full relative to a
    # block size the per-bucket row counts can actually fill
    write_encoded(sequences_df(spark, 4000, seed=22, n_partitions=2), path, target_partitions=2, block_rows=64, resume=False)
    rep = compact_table(spark, path, block_rows=64)
    assert not rep["compacted"]


def test_compact_commits_by_snapshot_pointer_swap(spark, tmp_path):
    """Compaction must commit rename-less: the rewrite lands in fresh
    generation dirs and ONE atomic snapshot write swaps the pointer —
    no directory renames (the scheme an object store can execute). The
    superseded generation is RETAINED for time travel (snapshot log);
    expire_snapshots is the explicit reclaim."""
    import json
    import os

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.operators.maintain import compact_table
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "gen_t")
    df = sequences_df(spark, 3000, seed=31, n_partitions=2)
    write_encoded(df, path, target_partitions=4, block_rows=128, resume=False)
    assert read_snapshot(path).get("data_dir", "data") == "data"
    orig_crc = _crc(read_encoded(spark, path))

    rep = compact_table(spark, path, block_rows=2048, target_partitions=2)
    assert rep["compacted"]
    snap = read_snapshot(path)
    assert snap["data_dir"].startswith("data-")
    assert snap["manifest_dir"].startswith("manifest-")
    entries = set(os.listdir(path))
    assert snap["data_dir"] in entries and snap["manifest_dir"] in entries
    # the old generation is retained for as_of reads until expiry
    assert "data" in entries and "manifest" in entries
    assert _crc(read_encoded(spark, path)) == orig_crc
    from parquet_spark.operators.maintain import expire_snapshots

    out = expire_snapshots(path, keep_last=1)
    entries = set(os.listdir(path))
    assert "data" not in entries and "manifest" not in entries  # reclaimed
    assert _crc(read_encoded(spark, path)) == orig_crc


def test_crashed_compaction_leaves_table_live_and_next_sweeps(spark, tmp_path):
    """A compaction that dies before the snapshot write must leave the old
    table fully readable; the orphaned generation dirs are swept by the
    next successful compaction."""
    import os

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot
    from parquet_spark.operators.maintain import compact_table
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "crash_gen")
    df = sequences_df(spark, 2000, seed=32, n_partitions=2)
    write_encoded(df, path, target_partitions=4, block_rows=128, resume=False)
    orig_crc = _crc(read_encoded(spark, path))
    # simulate the crash artifact: an orphaned half-written generation
    os.makedirs(os.path.join(path, "data-deadbeef"))
    os.makedirs(os.path.join(path, "manifest-deadbeef"))
    with open(os.path.join(path, "data-deadbeef", "junk.parquet"), "wb") as f:
        f.write(b"torn")
    # old table still live (snapshot untouched)
    assert _crc(read_encoded(spark, path)) == orig_crc
    rep = compact_table(spark, path, block_rows=2048, target_partitions=2)
    assert rep["compacted"]
    entries = set(os.listdir(path))
    assert "data-deadbeef" not in entries and "manifest-deadbeef" not in entries
    snap = read_snapshot(path)
    assert snap["data_dir"] in entries
    assert _crc(read_encoded(spark, path)) == orig_crc


def test_resume_targets_live_generation_after_compaction(spark, tmp_path):
    """write_encoded resume on a compacted table must operate on the
    snapshot's generation dirs, not the default names."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.operators.maintain import compact_table
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "resume_gen")
    df = sequences_df(spark, 2000, seed=33, n_partitions=2)
    write_encoded(df, path, target_partitions=4, block_rows=128, resume=False, fingerprint="rg1")
    compact_table(spark, path, block_rows=2048, target_partitions=2, bucket_mode="salted")
    assert read_snapshot(path)["data_dir"].startswith("data-")
    # same plan inputs as the compaction → bucket ids correspond → skip-all
    s = write_encoded(df, path, target_partitions=2, resume=True, fingerprint="rg1", bucket_mode="salted")
    assert s["buckets_skipped"] == s["buckets_total"] > 0  # found the live gen
    assert read_encoded(spark, path).count() == 2000
    # DIFFERENT target_partitions → recomputed salted plan no longer
    # matches the recorded one → full re-encode, never a partial skip
    s2 = write_encoded(df, path, target_partitions=7, resume=True, fingerprint="rg1", bucket_mode="salted")
    assert s2["buckets_skipped"] == 0
    assert read_encoded(spark, path).count() == 2000
    assert read_encoded(spark, path).select("doc_id").distinct().count() == 2000


def test_append_after_compaction_targets_live_generation(spark, tmp_path):
    """After compaction the live data dir is generation-named; an append
    must resolve it through the snapshot — writing into a literal 'data/'
    would be invisible to every reader. A compacted (now flat) table
    refuses the append LOUDLY instead of silently losing rows."""
    import pytest

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded, read_snapshot
    from parquet_spark.operators.maintain import compact_table
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "batch_gen")
    append_encoded(sequences_df(spark, 300, seed=41, n_partitions=2), path, target_partitions=4)
    append_encoded(sequences_df(spark, 200, seed=42, n_partitions=2), path, target_partitions=4)
    assert read_encoded(spark, path).count() == 500
    rep = compact_table(spark, path, block_rows=1024, target_partitions=2)
    assert rep["compacted"]
    assert read_snapshot(path)["data_dir"].startswith("data-")
    assert read_encoded(spark, path).count() == 500
    with pytest.raises(ValueError, match="flat"):
        append_encoded(sequences_df(spark, 50, seed=43, n_partitions=1), path)
    # the pre-compaction generation is retained for time travel; after
    # expiry nothing is left in a stale literal 'data/' dir
    import os

    from parquet_spark.operators.maintain import expire_snapshots

    expire_snapshots(path, keep_last=1)
    assert not os.path.exists(os.path.join(path, "data"))
    assert read_encoded(spark, path).count() == 500


def test_recover_table_after_interrupted_swap(spark, tmp_path):
    """Simulate a crash between compact_table's two renames: the table is
    parked at <path>.old; read_encoded must recover it transparently."""
    import os

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "crash_t")
    df = sequences_df(spark, 500, seed=9, n_partitions=2)
    write_encoded(df, path, target_partitions=2, resume=False)
    os.rename(path, path + ".old")  # the mid-swap crash state
    assert read_encoded(spark, path).count() == 500
    assert os.path.exists(os.path.join(path, "snapshot.json"))
    assert not os.path.exists(path + ".old")


def test_time_travel_and_expire(spark, tmp_path):
    """Snapshot log (Iceberg-style): every commit lands an immutable
    sequence; read_encoded(as_of=) sees exactly the state at that
    sequence (across appends AND a compaction pointer swap); only
    expire_snapshots reclaims history, after which the expired sequence
    refuses with the available list."""
    from pyspark.sql import functions as F

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded, list_snapshots, read_snapshot
    from parquet_spark.operators.maintain import compact_table, expire_snapshots

    path = str(tmp_path / "tt")
    df1 = spark.range(0, 1000).select(F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v"))
    df2 = spark.range(1000, 1500).select(F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v"))
    append_encoded(df1, path, target_partitions=4)
    s1 = read_snapshot(path)["sequence"]
    append_encoded(df2, path, target_partitions=4)
    s2 = read_snapshot(path)["sequence"]
    assert [s["sequence"] for s in list_snapshots(path)] == [s1, s2]
    assert read_encoded(spark, path, as_of=s1).count() == 1000
    assert read_encoded(spark, path, as_of=s2).count() == 1500
    # compaction rewrites into a fresh generation; history stays readable
    rep = compact_table(spark, path, min_fill_ratio=1.1)
    assert rep["compacted"]
    assert read_encoded(spark, path, as_of=s1).count() == 1000
    assert read_encoded(spark, path).count() == 1500
    # retention is explicit: expire drops old sequences + their generations
    out = expire_snapshots(path, keep_last=1)
    assert s1 in out["expired"] and "data" in out["removed_dirs"]
    with pytest.raises(ValueError, match="not retained"):
        read_encoded(spark, path, as_of=s1)
    assert read_encoded(spark, path).count() == 1500


def test_flat_rewrite_is_copy_on_write(spark, tmp_path):
    """Re-running write_encoded with different data must NOT overwrite the
    live generation in place: the old sequence stays readable until
    expired."""
    from pyspark.sql import functions as F

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded

    path = str(tmp_path / "cow")
    # explicit fingerprints name the two inputs; the derived ones differ
    # too, because the Range bounds are in the plan text they hash
    df1 = spark.range(0, 500).select(F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v"))
    write_encoded(df1, path, target_partitions=2, fingerprint="v1")
    s1 = read_snapshot(path)["sequence"]
    df2 = spark.range(0, 900).select(F.col("id").alias("doc_id"), (F.col("id") * 3).alias("v"))
    write_encoded(df2, path, target_partitions=2, fingerprint="v2")
    snap2 = read_snapshot(path)
    assert snap2["data_dir"] != "data"  # fresh generation, not in-place
    assert read_encoded(spark, path).count() == 900
    assert read_encoded(spark, path, as_of=s1).count() == 500
    assert read_encoded(spark, path, as_of=s1).agg(F.sum("v")).collect()[0][0] == sum(
        i * 2 for i in range(500)
    )


def test_additive_schema_evolution_on_batch_appends(spark, tmp_path):
    """A later append may ADD nullable columns: older blocks decode them
    as nulls, a column dropped from a later batch stays readable, and a
    type change is refused loudly (additive-only contract)."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded, read_snapshot

    path = str(tmp_path / "evo")
    d1 = spark.range(0, 1000).select(F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"))
    # score is NON-NULLABLE in the batch schema: the merged snapshot must
    # relax it to nullable, else Spark's Arrow accessor crashes on the
    # null-filled old blocks (regression caught by the verify drive)
    d2 = spark.range(1000, 1500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"),
        F.concat(F.lit("s"), F.col("id") % 3).alias("lang"),
        (F.col("id") * 0.5).alias("score"),
    )
    append_encoded(d1, path, target_partitions=4)
    s1 = read_snapshot(path)["sequence"]
    append_encoded(d2, path, target_partitions=4)
    back = read_encoded(spark, path)
    assert back.columns == ["doc_id", "v", "lang", "score"]
    assert back.count() == 1500
    assert back.where(F.col("lang").isNull()).count() == 1000
    assert back.where(F.col("score").isNotNull()).count() == 500
    assert back.agg(F.sum("score")).collect()[0][0] == sum(i * 0.5 for i in range(1000, 1500))
    assert read_encoded(spark, path, columns=["lang"]).count() == 1500
    # time travel to before the column existed: the old schema applies
    assert "lang" not in read_encoded(spark, path, as_of=s1).columns
    # a batch that DROPS the column keeps it readable (null-filled)
    d3 = spark.range(1500, 1700).select(F.col("id").alias("doc_id"), (F.col("id") % 5).alias("v"))
    append_encoded(d3, path, target_partitions=2)
    back3 = read_encoded(spark, path)
    assert back3.columns == ["doc_id", "v", "lang", "score"]
    assert back3.where(F.col("lang").isNull()).count() == 1200
    # type changes are not evolution — refuse before writing a snapshot
    d4 = spark.range(0, 10).select(F.col("id").alias("doc_id"), F.col("id").cast("string").alias("v"))
    with pytest.raises(ValueError, match="additive-only"):
        append_encoded(d4, path, target_partitions=1)


def test_delete_where_copy_on_write(spark, tmp_path):
    """Row deletes commit a fresh generation atomically: matching rows
    vanish, NULL predicate evaluations survive (null-safe), the
    pre-delete sequence stays time-travelable, and expiry completes the
    erasure."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.operators.maintain import delete_where, expire_snapshots

    path = str(tmp_path / "dw")
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v"),
        F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id") * 1.0).alias("score"),
    )
    write_encoded(df, path, target_partitions=4)
    s1 = read_snapshot(path)["sequence"]
    rep = delete_where(spark, path, ("v", "=", 3))
    assert rep["deleted"] == df.where(F.col("v") == 3).count()
    assert rep["blocks_rewritten"] > 0
    assert read_encoded(spark, path).where(F.col("v") == 3).count() == 0
    # '>' over NULL scores must not delete the null rows
    delete_where(spark, path, ("score", ">", 2500.0))
    want_nulls = df.where(F.col("score").isNull() & (F.col("v") != 3)).count()
    assert read_encoded(spark, path).where(F.col("score").isNull()).count() == want_nulls
    # erasure completes only at expiry (time travel until then)
    assert read_encoded(spark, path, as_of=s1).count() == 5000
    expire_snapshots(path, keep_last=1)
    with pytest.raises(ValueError, match="not retained"):
        read_encoded(spark, path, as_of=s1)


def test_merge_into_upsert(spark, tmp_path):
    """Upsert: same-key rows replaced, new keys appended, one commit;
    duplicate keys inside the update set are refused."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import merge_into

    path = str(tmp_path / "mrg")
    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"), (F.col("id") * 10).alias("v"))
    write_encoded(df, path, target_partitions=4)
    updates = spark.range(1500, 2500).select(F.col("id").alias("doc_id"), F.lit(-1).alias("v"))
    rep = merge_into(spark, path, updates, key_col="doc_id")
    assert (rep["updated"], rep["inserted"], rep["total"]) == (500, 500, 2500)
    assert rep["blocks_copied"] + rep["blocks_rewritten"] > 0
    back = read_encoded(spark, path)
    assert back.where(F.col("v") == -1).count() == 1000
    assert back.where((F.col("doc_id") < 1500) & (F.col("v") != F.col("doc_id") * 10)).count() == 0
    dup = updates.unionByName(updates.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        merge_into(spark, path, dup, key_col="doc_id")
    with pytest.raises(KeyError, match="missing"):
        merge_into(spark, path, updates.select("doc_id"), key_col="doc_id")


def test_delete_where_copies_untouched_blocks(spark, tmp_path):
    """Stats-pruned copy-on-write: a selective delete on a clustered
    column must COPY the non-matching blocks byte-for-byte (no decode)
    and rewrite only the blocks whose min/max admit a match."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import delete_where

    path = str(tmp_path / "dwp")
    df = spark.range(0, 60000).select(F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v"))
    write_encoded(df, path, target_partitions=4, block_rows=2000, cluster_col="doc_id")
    rep = delete_where(spark, path, ("doc_id", "<", 5000))
    assert rep["deleted"] == 5000
    assert rep["blocks_copied"] > rep["blocks_rewritten"] > 0
    back = read_encoded(spark, path)
    assert back.count() == 55000 and back.where(F.col("doc_id") < 5000).count() == 0
    # stats pruning still works on the mixed copied+rewritten generation
    assert read_encoded(spark, path, where=("doc_id", "<", 10000)).count() == 5000


def test_third_rewrite_does_not_clobber_retained_generation(spark, tmp_path):
    """Regression (review finding): generation allocation must consult ALL
    retained snapshots, not just the live one — otherwise the third
    rewrite lands back in 'data' and silently corrupts sequence 1's
    time travel."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded

    path = str(tmp_path / "trw")
    mk = lambda n, m: spark.range(0, n).select(
        F.col("id").alias("doc_id"), (F.col("id") * m).alias("v")
    )
    write_encoded(mk(400, 1), path, target_partitions=2, fingerprint="g1")
    s1 = read_snapshot(path)["sequence"]
    write_encoded(mk(500, 2), path, target_partitions=2, fingerprint="g2")
    write_encoded(mk(600, 3), path, target_partitions=2, fingerprint="g3")
    # sequence 1 must still read its own 400 rows, bit-exact
    old = read_encoded(spark, path, as_of=s1)
    assert old.count() == 400
    assert old.agg(F.sum("v")).collect()[0][0] == sum(range(400))
    assert read_encoded(spark, path).count() == 600
    # resume=False rewrites get the same protection
    write_encoded(mk(700, 4), path, target_partitions=2, resume=False, fingerprint="g4")
    assert read_encoded(spark, path, as_of=s1).count() == 400
    assert read_encoded(spark, path).count() == 700


def test_invalidated_resume_is_copy_on_write(spark, tmp_path):
    """Regression (advisor finding): a resume that is INVALIDATED mid-flight
    (partition-plan conf drift / salted-plan mismatch) had already aimed at
    the live generation dirs; the re-encode must allocate a fresh generation
    instead of overwriting the live one in place — a crash mid-rewrite must
    never tear the generation retained snapshots point at."""
    import json

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded

    path = str(tmp_path / "invres")
    df = spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("v")
    )
    write_encoded(df, path, target_partitions=4, fingerprint="ir1", resume=False, bucket_mode="partition")
    s1 = read_snapshot(path)
    old_dir = s1.get("data_dir", "data")
    # simulate split-planning conf drift recorded at write time: the resume
    # fingerprint matches, but the recorded partition plan no longer does
    snap_file = os.path.join(path, "snapshot.json")
    snap = json.loads(open(snap_file).read())
    snap["partition_plan"]["maxPartitionBytes"] = "64MB"
    open(snap_file, "w").write(json.dumps(snap))

    write_encoded(df, path, target_partitions=4, fingerprint="ir1", resume=True, bucket_mode="partition")
    s2 = read_snapshot(path)
    assert s2["data_dir"] != old_dir, "invalidated resume overwrote the live generation"
    # the superseded generation is intact for time travel
    assert read_encoded(spark, path, as_of=s1["sequence"]).count() == 2000
    assert read_encoded(spark, path).count() == 2000


def test_compact_preserves_bloom_cols(spark, tmp_path):
    """Regression (advisor finding): compacting a bloom-enabled table must
    re-stamp the per-block bloom filters and carry bloom_cols into the new
    snapshot — not silently drop equality pruning."""
    import glob as _glob

    import pyarrow.parquet as pq

    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.operators.maintain import compact_table

    path = str(tmp_path / "cbloom")
    df = spark.range(0, 8000, 1, 2).select(
        F.md5(F.col("id").cast("string")).alias("key"), F.col("id").alias("v")
    )
    write_encoded(
        df, path, target_partitions=4, block_rows=128, resume=False,
        weight_col=None, source_col="v % 4", salt_key="v", bloom_cols=["key"],
    )
    rep = compact_table(spark, path, block_rows=4096, target_partitions=2,
                        weight_col=None, source_col="v % 4", salt_key="v")
    assert rep["compacted"]
    snap = read_snapshot(path)
    assert snap.get("bloom_cols") == ["key"]
    files = _glob.glob(os.path.join(path, snap["data_dir"], "*.parquet"))
    blooms = pq.read_table(files, columns=["_bloom_key"]).column("_bloom_key").to_pylist()
    assert blooms and all(blooms), "compaction dropped the per-block bloom filters"


def test_merge_into_copies_untouched_blocks(spark, tmp_path):
    """Block-granular copy-on-write upsert: planting updates inside ONE
    block's key range of a clustered table must copy every other block
    byte-for-byte (same manifest crc) and rewrite only the hit block."""
    from parquet_spark.operators.decode import read_encoded, read_manifest
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import merge_into

    path = str(tmp_path / "mrgc")
    df = spark.range(0, 60000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 10).alias("v")
    )
    write_encoded(df, path, target_partitions=4, block_rows=2000, cluster_col="doc_id")
    man_before = read_manifest(spark, path).select(
        "bucket", "part_id", "block_id", "column", "crc"
    ).toPandas()
    n_blocks_before = len(man_before) // man_before["column"].nunique()

    updates = spark.createDataFrame(
        [(100, -1), (150, -2), (42000, -3)], "doc_id long, v long"
    )
    rep = merge_into(spark, path, updates, key_col="doc_id")
    assert (rep["updated"], rep["inserted"], rep["total"]) == (3, 0, 60000)
    # 3 point keys hit at most ~2 clustered blocks (the re-encode may
    # split the touched rows into a few short blocks); everything else copies
    assert rep["blocks_rewritten"] <= 8
    assert rep["blocks_copied"] >= n_blocks_before - 3

    # copied blocks are byte-identical: their manifest crc rows reappear
    man_after = read_manifest(spark, path).select(
        "bucket", "part_id", "block_id", "column", "crc"
    ).toPandas()
    keys = ["bucket", "part_id", "block_id", "column", "crc"]
    same = man_before.merge(man_after, on=keys)
    n_cols = man_before["column"].nunique()
    assert len(same) >= rep["blocks_copied"] * n_cols

    back = read_encoded(spark, path)
    assert back.count() == 60000
    got = {r["doc_id"]: r["v"] for r in back.where(F.col("v") < 0).collect()}
    assert got == {100: -1, 150: -2, 42000: -3}
    # stats pruning still works over the mixed copied+rewritten generation
    assert read_encoded(spark, path, where=("doc_id", "<", 1000)).count() == 1000


def test_merge_into_additive_column_evolves(spark, tmp_path):
    """Updates carrying an extra column evolve the schema additively:
    copied blocks (written before the column existed) null-fill on read."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import merge_into

    path = str(tmp_path / "mrga")
    df = spark.range(0, 8000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 10).alias("v")
    )
    write_encoded(df, path, target_partitions=2, block_rows=1000, cluster_col="doc_id")
    updates = spark.createDataFrame([(10, -1, "fixed")], "doc_id long, v long, note string")
    rep = merge_into(spark, path, updates, key_col="doc_id")
    assert rep["blocks_copied"] > 0  # old-schema blocks really were copied
    back = read_encoded(spark, path)
    assert back.schema["note"].dataType.simpleString() == "string"
    assert back.where(F.col("note").isNotNull()).count() == 1
    assert back.where(F.col("doc_id") == 10).collect()[0]["note"] == "fixed"
    assert back.count() == 8000


def test_incremental_compaction_copies_full_blocks(spark, tmp_path):
    """Incremental compaction (the 100-TB maintenance shape): blocks
    already at full size COPY byte-for-byte; only the fragmented tail
    decodes and re-packs into full blocks. Content is crc-identical and
    fill ratio improves."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded
    from parquet_spark.operators.maintain import compact_table, fragmentation
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "inc_compact")
    big = sequences_df(spark, 4000, seed=41, n_partitions=2)
    append_encoded(big, path, target_partitions=2, block_rows=512)
    # fragmented tail: many tiny appends
    for i in range(4):
        tiny = sequences_df(spark, 60, seed=50 + i, n_partitions=1)
        append_encoded(tiny, path, target_partitions=1, block_rows=512)
    crc_before = read_encoded(spark, path).agg(
        F.sum(F.crc32(F.concat_ws(",", "doc_id", F.col("tokens").cast("string"))))
    ).collect()[0][0]
    n_before = read_encoded(spark, path).count()
    frag_before = fragmentation(spark, path, 512)

    rep = compact_table(spark, path, min_fill_ratio=0.95)
    assert rep["compacted"]
    assert rep["blocks_copied"] > 0 and rep["blocks_rewritten"] > 0
    assert rep["after"]["fill_ratio"] > frag_before["fill_ratio"]

    back = read_encoded(spark, path)
    assert back.count() == n_before
    crc_after = back.agg(
        F.sum(F.crc32(F.concat_ws(",", "doc_id", F.col("tokens").cast("string"))))
    ).collect()[0][0]
    assert crc_after == crc_before
    # already-compact table: second sweep is a no-op
    rep2 = compact_table(spark, path, min_fill_ratio=0.5)
    assert not rep2["compacted"]


def test_incremental_compaction_converges(spark, tmp_path):
    """Review finding: a table whose blocks all sit between
    copy_fill_ratio and min_fill_ratio must NOT be rewritten every sweep
    (copy-the-world with zero improvement) — the sweep declines."""
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.operators.maintain import compact_table

    path = str(tmp_path / "conv")
    df = spark.range(0, 1920).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9).alias("v")
    )
    # one partition at block_rows=512 → blocks 512,512,512,384: mean fill
    # 0.9375 (below min_fill_ratio 0.95), only ONE partial tail block
    # (below copy_fill_ratio) — nothing to merge, the sweep must decline
    write_encoded(df, path, target_partitions=1, block_rows=512,
                  resume=False, bucket_mode="partition")
    seq_before = read_snapshot(path)["sequence"]
    rep = compact_table(spark, path, min_fill_ratio=0.95)
    assert not rep["compacted"]
    assert read_snapshot(path)["sequence"] == seq_before  # no new generation
    # an explicit block_rows change is plan-affecting → full rewrite path
    # (incremental would copy the 512-row blocks unchanged and never
    # re-block them to the requested 2048)
    rep2 = compact_table(spark, path, block_rows=2048, target_partitions=1,
                         min_fill_ratio=0.95)
    assert rep2["compacted"] and "blocks_copied" not in rep2
    assert rep2["after"]["mean_rows_per_block"] > 512  # actually re-blocked


def test_merge_into_null_key_among_many_does_not_lose_blocks(spark, tmp_path):
    """Review finding (reproduced pre-fix: 180/200 rows silently lost):
    a NULL key among >16 update keys made the stats-pruning condition
    evaluate NULL under three-valued logic, and blocks falling through
    the where(c)/where(~c) split vanished from the new generation."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import merge_into

    path = str(tmp_path / "nullkey")
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9).alias("v")
    )
    write_encoded(df, path, target_partitions=2, block_rows=10,
                  resume=False, cluster_col="doc_id")
    keys = [0, 199] + list(range(1000, 1015)) + [None]  # 18 keys, one NULL
    updates = spark.createDataFrame(
        [(k, -1) for k in keys], "doc_id long, v long"
    )
    rep = merge_into(spark, path, updates, key_col="doc_id")
    back = read_encoded(spark, path)
    # 200 originals, 2 updated in place, 15 inserted numeric + 1 NULL-key insert
    assert back.count() == 200 + 16
    assert back.where(F.col("doc_id").isin(0, 199)).agg(F.sum("v")).collect()[0][0] == -2
    assert rep["inserted"] == 16 and rep["updated"] == 2
    # the NULL key must not degrade pruning either: only the blocks
    # holding keys 0 and 199 rewrite, the middle blocks copy
    assert rep["blocks_copied"] > rep["blocks_rewritten"] > 0


def test_delete_where_in_with_null_candidate_many_values(spark, tmp_path):
    """Same three-valued-logic hazard through delete_where's 'in' path
    with >16 candidates including a NULL: non-matching blocks must be
    copied, never dropped."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import delete_where

    path = str(tmp_path / "nullin")
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9).alias("v")
    )
    write_encoded(df, path, target_partitions=2, block_rows=10,
                  resume=False, cluster_col="doc_id")
    vals = [0, 1, 199] + list(range(5000, 5014)) + [None]  # 18, one NULL
    rep = delete_where(spark, path, ("doc_id", "in", vals))
    assert rep["deleted"] == 3
    assert read_encoded(spark, path).count() == 197


def test_incremental_compaction_preserves_fingerprint(spark, tmp_path):
    """Both compaction forms must leave the SAME resume semantics: the
    snapshot keeps the source fingerprint, so a later
    write_encoded(resume=True) of the same source recognizes the table
    (r5 ADVICE finding: incremental committed 'compact-<gen>' while the
    full rewrite preserved the fingerprint)."""
    from parquet_spark.operators.encode import append_encoded, read_snapshot
    from parquet_spark.operators.maintain import compact_table
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "inc_fp")
    big = sequences_df(spark, 3000, seed=61, n_partitions=2)
    append_encoded(big, path, target_partitions=2, block_rows=512)
    for i in range(3):
        append_encoded(sequences_df(spark, 50, seed=70 + i, n_partitions=1), path, target_partitions=1, block_rows=512)
    fp_before = read_snapshot(path)["fingerprint"]
    rep = compact_table(spark, path, min_fill_ratio=0.95)
    assert rep["compacted"] and "blocks_copied" in rep  # incremental path ran
    assert read_snapshot(path)["fingerprint"] == fp_before


def test_merge_into_single_pass_over_updates(spark, tmp_path):
    """The metadata prechecks (dup-check, count, min/max) fused into ONE
    job over a PERSISTED updates frame (r5 VERDICT nit #3): an expensive
    derived updates DataFrame must evaluate its rows once for the
    metadata, not once per precheck. The accumulator counts every row
    evaluation of the updates plan across all merge-internal jobs."""
    from pyspark.sql import functions as F

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import merge_into
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "merge_once")
    df = sequences_df(spark, 1200, seed=81, n_partitions=2).select("doc_id", "n_tok", "source")
    write_encoded(df, path, target_partitions=2, resume=False, weight_col=None)

    acc = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def counted(v):
        acc.add(1)
        return v

    updates = (
        df.where(F.col("n_tok") % 3 == 0)
        .select("doc_id", counted(F.col("n_tok")).alias("n_tok"), "source")
    )
    n_updates = updates.count()
    acc.value = 0
    merge_into(spark, path, updates, key_col="doc_id")
    # persisted: one materialization (cache fill) + nothing else; without
    # the persist this reads ~4x n_updates (dup check, count, min/max agg,
    # keys collect) plus the rewrite passes
    assert acc.value <= 2 * n_updates, f"updates evaluated {acc.value / n_updates:.1f}x"
    assert read_encoded(spark, path).count() == df.count()
