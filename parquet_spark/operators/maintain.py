"""Table maintenance: compaction of fragmented encoded tables.

Streaming ingestion (streaming/encode_stream.py) and small incremental
appends leave buckets with many short blocks; short blocks hurt both
compression (per-block headers, dictionaries, symbol tables amortize over
fewer values) and decode throughput (more per-block Python dispatch).
`compact_table` rewrites the table at full block size — the analogue of
Iceberg's rewrite_data_files maintenance action, committed the Iceberg
way: the rewrite lands in FRESH generation directories
(`data-<gen>/`, `manifest-<gen>/`) inside the table root, invisible to
readers because the live snapshot still points at the old generation;
the commit is then ONE atomic snapshot.json replacement (tablefs: tmp +
rename on POSIX/HDFS, complete-on-close PUT on object stores). No
directory renames anywhere, so the scheme works on S3/GCS where rename
does not exist. A crash before the snapshot write leaves the old table
fully live plus an orphaned generation, which the next compaction sweeps.

delete_where, merge_into and incremental compact_table commit through
`_commit_cow`, which, like write_encoded, writes in one data job and
never reads back what it wrote.

`recover_table` remains for the legacy two-rename layout (`<path>.old`)
written by older engine versions.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession

from parquet_spark import tablefs
from parquet_spark.operators.decode import blocks_relation, read_encoded
from parquet_spark.operators.encode import (
    DEFAULT_BLOCK_ROWS,
    read_snapshot,
    write_encoded,
)


def fragmentation(spark: SparkSession, path: str, block_rows: int | None = None) -> dict:
    """Fragmentation report: blocks, rows, mean rows/block, fill ratio."""
    from pyspark.sql import functions as F

    snap = read_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    agg = (
        blocks_relation(spark, path, snap)
        .agg(F.count("*").alias("n_blocks"), F.sum("n_rows").alias("n_rows"))
        .collect()[0]
    )
    target = block_rows or snap.get("block_rows", DEFAULT_BLOCK_ROWS)
    return _frag_report(int(agg["n_blocks"]), int(agg["n_rows"] or 0), target)


def _frag_report(n_blocks: int, n_rows: int, target: int) -> dict:
    mean = n_rows / n_blocks if n_blocks else 0.0
    return {
        "n_blocks": n_blocks,
        "n_rows": n_rows,
        "mean_rows_per_block": round(mean, 1),
        "target_block_rows": target,
        "fill_ratio": round(mean / target, 4) if target else 0.0,
    }


def recover_table(path: str) -> bool:
    """Crash recovery for the LEGACY two-rename swap layout: if `path` has
    no snapshot but `<path>.old` holds a complete table, move it back.
    Current compactions commit via snapshot pointer swap and never need
    this. Returns True if a recovery happened."""
    old = path.rstrip("/") + ".old"
    has_snap = tablefs.exists(os.path.join(path, "snapshot.json"))
    if not has_snap and tablefs.exists(os.path.join(old, "snapshot.json")):
        tablefs.delete_dir(path)  # partial dir, if any
        tablefs.move(old, path)
        return True
    return False


def _retained_generation_dirs(path: str) -> set[str]:
    """Generation dirs referenced by the live snapshot OR any retained
    history sequence — those must survive a sweep so
    read_encoded(as_of=...) keeps working until snapshots are expired."""
    from parquet_spark.operators.encode import list_snapshots

    live: set[str] = set()
    for s in list_snapshots(path) + list(filter(None, [read_snapshot(path)])):
        live.add(s.get("data_dir", "data"))
        live.add(s.get("manifest_dir", "manifest"))
    return live


def _sweep_orphan_generations(path: str) -> list[str]:
    """Delete generation dirs referenced by NO retained snapshot (the live
    one included) — leftovers of crashed compactions and of expired
    snapshots. Generations still reachable through the snapshot log are
    kept (time travel); use expire_snapshots to reclaim them. Returns the
    removed dir names."""
    live = _retained_generation_dirs(path)
    removed = []
    for entry, entry_is_dir in tablefs.list_infos(path):
        if entry_is_dir and entry not in live and (entry in ("data", "manifest") or entry.startswith(("data-", "manifest-"))):
            tablefs.delete_dir(os.path.join(path, entry))
            removed.append(entry)
    return removed


def delete_where(
    spark: SparkSession,
    path: str,
    where,
) -> dict:
    """Copy-on-write row delete (the Iceberg delete analogue, and the
    GDPR/right-to-erasure primitive): rows matching `where` — one
    (col, op, value) triple or a list ANDed together, the same predicate
    language as read_encoded — are removed and the result commits as a
    FRESH generation with one atomic snapshot pointer swap. Readers never
    see a partial state; the pre-delete sequence stays time-travelable
    until expire_snapshots reclaims it (after which the deleted rows'
    bytes are actually gone — run expiry to complete an erasure request).

    Scale shape: per-block min/max (and the delete predicate's own
    semantics) split the table at METADATA cost into blocks that cannot
    contain a match — copied into the new generation byte-for-byte, no
    decode — and blocks that might, which alone are decoded, filtered,
    and re-encoded. A selective delete on a clustered column costs
    O(matching blocks), not O(table).

    Batch-layout tables flatten: the new generation has no batch= dirs,
    so later append_encoded calls refuse loudly (same as after
    compact_table) and a live StreamingEncoder halts at its next batch
    (stale-generation guard) instead of resurrecting deleted rows.
    Returns {deleted, remaining, blocks_copied, blocks_rewritten}."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from parquet_spark.operators.decode import _block_keep_condition, _row_condition, _where_preds, decode_table

    snap = read_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    schema = StructType.fromJson(snap["schema"])
    preds = _where_preds(where, schema)
    if not preds:
        raise ValueError("delete_where requires at least one predicate")
    # a batch-layout table flattens: the new generation is a flat rewrite
    blocks = blocks_relation(spark, path, snap, strict=True)
    # a block MAY hold a match only if every ANDed predicate's stats range
    # admits one; blocks without stats conservatively count as touched
    may = F.lit(True)
    for col, op, value in preds:
        if f"_min_{col}" in blocks.columns:
            may = may & _block_keep_condition(col, op, value)
    touched, untouched, account = _split_blocks(blocks, may)
    rows = decode_table(touched, schema)
    # null-safe survivor set: a NULL predicate evaluation did not MATCH
    survivors = rows.where(~_row_condition(preds).eqNullSafe(F.lit(True)))
    remaining, block_counts = _commit_cow(
        spark, path, snap, schema.json(), [f.name for f in schema.fields],
        untouched, survivors, account, "delete",
    )
    return {"deleted": account["rows"] - remaining, "remaining": remaining, **block_counts}


def _split_blocks(blocks, may) -> tuple:
    """Exhaustive touched/untouched split for copy-on-write rewrites, and
    the old generation's account from one aggregate: {rows, blocks,
    copied_rows, copied_blocks}, the untouched side being the copied one.
    `where(c)` and `where(~c)` BOTH drop NULL-condition rows under
    three-valued logic — a block falling through the split would silently
    vanish from the new generation (review finding; _block_keep_condition
    is itself never-NULL now, this guards the split regardless). NULL
    coalesces to touched — the decode-and-filter side, which is always
    semantically safe."""
    from pyspark.sql import functions as F

    m = F.coalesce(may, F.lit(True))
    account = blocks.agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("rows"),
        F.count("*").alias("blocks"),
        F.coalesce(F.sum(F.when(~m, F.col("n_rows"))), F.lit(0)).alias("copied_rows"),
        F.count(F.when(~m, 1)).alias("copied_blocks"),
    ).collect()[0]
    return blocks.where(m), blocks.where(~m), {k: int(v) for k, v in account.asDict().items()}


def _commit_cow(
    spark: SparkSession,
    path: str,
    snap: dict,
    schema_json: str,
    columns: list[str],
    untouched,
    new_rows,
    account: dict,
    fingerprint_prefix: str,
    bloom_cols: list | None = None,
    block_rows: int | None = None,
    keep_fingerprint: bool = False,
) -> tuple[int, dict]:
    """Shared copy-on-write commit of delete_where/merge_into/compact_table:
    encode the rewritten rows and union them with the byte-identical
    untouched blocks into a FRESH generation in one data job, publish its
    manifest, then swap the snapshot pointer atomically. Spark reads
    nothing the commit wrote: the rewritten blocks' manifest parts are
    written side-band by their encode tasks, the copied blocks' rows come
    from the old generation's meta column (no job when none is copied),
    and the counts come from `account` (`_split_blocks`) plus the
    published parts, read on the driver. Returns the new generation's
    rows and its {blocks_copied, blocks_rewritten}.

    `keep_fingerprint` preserves the prior snapshot's fingerprint —
    correct for commits that do not change logical content (compaction),
    so a later write_encoded(resume=True) of the same source still
    recognizes the table; content-changing commits (delete/merge) must
    NOT keep it, or such a resume would append duplicate rows."""
    import pyarrow.parquet as pq

    from parquet_spark.operators.encode import (
        BLOCKS_ROW_GROUP_BYTES,
        _publish_manifest,
        encode_table,
        manifest_from_blocks,
        write_snapshot,
    )

    block_rows = block_rows or snap.get("block_rows", DEFAULT_BLOCK_ROWS)
    bloom_cols = bloom_cols if bloom_cols is not None else (snap.get("bloom_cols") or [])
    gen = uuid.uuid4().hex[:8]
    extra = {"block_rows": block_rows, "data_dir": f"data-{gen}",
             "manifest_dir": f"manifest-{gen}", "bloom_cols": bloom_cols}
    man_dir = os.path.join(path, extra["manifest_dir"])
    pending = os.path.join(man_dir, f"_pending-{gen}")
    tablefs.mkdirs(pending)
    new_blocks = encode_table(
        new_rows, columns=columns, block_rows=block_rows, bloom_cols=bloom_cols, manifest_dir=pending
    )
    union = untouched.unionByName(new_blocks, allowMissingColumns=True)
    union.write.option("parquet.block.size", BLOCKS_ROW_GROUP_BYTES).parquet(os.path.join(path, extra["data_dir"]))
    if account["copied_blocks"]:
        manifest_from_blocks(untouched.select("bucket", "part_id", "block_id", "meta")).write.mode("append").parquet(man_dir)
    # every block carries every column: one manifest row per block
    rows_written = blocks_written = 0
    for part in _publish_manifest(pending, man_dir, clear=False):
        fs, p, _ = tablefs.resolve(part)
        n_values = pq.read_table(p, filesystem=fs, columns=["n_values"], filters=[("column", "=", columns[0])])[0]
        rows_written += sum(n_values.to_pylist())
        blocks_written += len(n_values)
    fp = snap.get("fingerprint") if keep_fingerprint and snap.get("fingerprint") else f"{fingerprint_prefix}-{gen}"
    write_snapshot(path, schema_json, columns, fp, extra)
    return account["copied_rows"] + rows_written, {"blocks_copied": account["copied_blocks"], "blocks_rewritten": blocks_written}


def merge_into(
    spark: SparkSession,
    path: str,
    updates,
    key_col: str = "doc_id",
    **encode_kwargs,
) -> dict:
    """Copy-on-write upsert (the Iceberg MERGE analogue): rows of
    `updates` replace same-key rows of the table, new keys append — in
    ONE rewrite commit, so readers see either the old table or the fully
    merged one. Requires `updates` to cover the table's schema (additive
    extra columns are fine: the batch layout's evolution rules apply on
    read); duplicate keys WITHIN `updates` are rejected — last-writer
    ambiguity inside one commit is a bug, not a semantics.

    Scale shape (same stats-pruned copy-on-write as delete_where): blocks
    whose key-column min/max range cannot contain ANY update key copy into
    the new generation byte-for-byte without decode; only intersecting
    blocks decode, anti-join against the update keys, and re-encode
    alongside the updates. Small update sets (≤1000 keys) refine the range
    check to per-key membership, so a point-upsert into a clustered table
    rewrites O(1) blocks, not O(table). Tables without stats on the key
    column (or with a key type outside the stats set) conservatively
    rewrite everything — pruning is an optimization, never correctness.
    Batch-layout tables flatten (appends then refuse loudly; a live
    stream halts at its stale-generation guard).
    Returns {updated, inserted, total, blocks_copied, blocks_rewritten}."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from parquet_spark.operators.decode import _block_keep_condition, decode_table

    snap = read_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    if key_col not in updates.columns:
        raise KeyError(f"key column {key_col!r} not in updates")
    schema = StructType.fromJson(snap["schema"])
    table_cols = [f.name for f in schema.fields]
    missing = [c for c in table_cols if c not in updates.columns]
    if missing:
        raise KeyError(f"updates missing table column(s) {missing}")
    # `updates` is consumed several times (metadata agg, optional keys
    # collect, anti-join, union into the rewrite) — an expensive derived
    # frame would otherwise recompute on every pass (r5 review nit #3).
    # Persist once; released after the commit.
    updates = updates.persist()
    try:
        # flattens a batch layout, as delete_where does
        blocks = blocks_relation(spark, path, snap, strict=True)
        # ONE metadata job instead of three (dup-check, count, min/max):
        # per-key counts then a single fused aggregate
        meta = (
            updates.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum("c").alias("n"),
                F.max("c").alias("maxc"),
                F.min(key_col).alias("lo"),
                F.max(key_col).alias("hi"),
            )
            .collect()[0]
        )
        if meta["maxc"] is not None and int(meta["maxc"]) > 1:
            raise ValueError(
                f"updates carry duplicate {key_col!r} keys — resolve before merging"
            )
        n_updates = int(meta["n"] or 0)

        if f"_min_{key_col}" in blocks.columns:
            lo, hi = meta["lo"], meta["hi"]
            may = _block_keep_condition(key_col, ">=", lo) & _block_keep_condition(
                key_col, "<=", hi
            )
            if n_updates <= 1000:
                keys = [r[0] for r in updates.select(key_col).collect()]
                may = may & _block_keep_condition(key_col, "in", keys)
        else:
            may = F.lit(True)  # no stats on the key: every block may hold a match
        touched, untouched, account = _split_blocks(blocks, may)

        survivors = decode_table(touched, schema).join(
            updates.select(key_col), key_col, "left_anti"
        )
        merged = survivors.select(*table_cols).unionByName(
            updates, allowMissingColumns=True
        )
        out_schema_json = merged.schema.json()  # additive update columns evolve in
        bloom_override = encode_kwargs.pop("bloom_cols", None)
        rows_override = encode_kwargs.pop("block_rows", None)
        if encode_kwargs:
            raise TypeError(
                f"merge_into supports bloom_cols/block_rows overrides only, "
                f"got {sorted(encode_kwargs)}"
            )
        total, block_counts = _commit_cow(
            spark, path, snap, out_schema_json, list(merged.columns),
            untouched, merged, account, "merge",
            bloom_cols=bloom_override, block_rows=rows_override,
        )
    finally:
        updates.unpersist()
    inserted = total - account["rows"]
    return {"updated": n_updates - inserted, "inserted": inserted, "total": total, **block_counts}


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Retention: drop all but the newest `keep_last` snapshot sequences
    (the live one is always kept), then reclaim generation dirs no
    retained sequence references — the Iceberg expire-snapshots analogue
    and the ONLY operation that deletes historical data. Returns
    {expired: [seq...], kept: [seq...], removed_dirs: [...]}."""
    from parquet_spark.operators.encode import list_snapshots

    cur = read_snapshot(path)
    if cur is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    snaps = list_snapshots(path)
    keep_last = max(int(keep_last), 1)
    keep_seqs = {s["sequence"] for s in snaps[-keep_last:] if "sequence" in s}
    if cur.get("sequence") is not None:
        keep_seqs.add(cur["sequence"])
    expired = []
    for s in snaps:
        seq = s.get("sequence")
        if seq is not None and seq not in keep_seqs:
            tablefs.delete_file(os.path.join(path, "snapshots", f"snap-{seq:08d}.json"))
            expired.append(seq)
    removed = _sweep_orphan_generations(path)
    return {"expired": expired, "kept": sorted(keep_seqs), "removed_dirs": sorted(removed)}


def compact_table(
    spark: SparkSession,
    path: str,
    block_rows: int | None = None,
    target_partitions: int | None = None,
    min_fill_ratio: float = 0.5,
    incremental: bool = True,
    copy_fill_ratio: float = 0.9,
    **encode_kwargs,
) -> dict:
    """Refold `path` at full block size if its mean block fill is below
    `min_fill_ratio`. Returns the before/after report; no-op (and no
    rewrite) when the table is already compact.

    `incremental=True` (default) is the 100-TB shape: blocks already at
    ≥ `copy_fill_ratio` × target rows COPY into the new generation
    byte-for-byte (no decode — same `_commit_cow` path as delete_where),
    and only the fragmented tail decodes, round-robins into
    full-block-sized partitions, and re-encodes. A streaming table whose
    history is mostly compacted pays O(fragmented tail), not O(table),
    per maintenance sweep. `incremental=False` keeps the full rewrite
    through `write_encoded` (re-salting, re-clustering — use it when the
    PARTITIONING needs redoing, not just the block packing); passing
    plan-affecting arguments (`target_partitions`, or any write_encoded
    kwarg like bucket_mode/cluster_col) selects the full rewrite
    automatically, since incremental compaction preserves the existing
    partitioning by construction."""
    if incremental and (
        target_partitions is not None or block_rows is not None or encode_kwargs
    ):
        # an explicit block_rows is also plan-affecting: shrinking the
        # target must re-block the existing full blocks, which the
        # incremental path would copy unchanged (review finding)
        incremental = False
    snap = read_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot.json under {path}")
    target = block_rows or snap.get("block_rows", DEFAULT_BLOCK_ROWS)

    if incremental:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from parquet_spark.operators.decode import decode_table

        schema = StructType.fromJson(snap["schema"])
        blocks = blocks_relation(spark, path, snap, strict=True)  # flattens, like delete
        # exhaustive split (NULL n_rows → repack side, which fails loudly
        # in decode rather than silently dropping the block)
        frag, full, account = _split_blocks(blocks, F.col("n_rows") < int(target * copy_fill_ratio))
        before = _frag_report(account["blocks"], account["rows"], target)
        # with at most one block to repack (every block already >=
        # copy_fill_ratio × target, or a single partial tail block), a sweep
        # would copy the WHOLE table into a new generation with zero
        # improvement, forever — converge by declining instead
        if before["fill_ratio"] >= min_fill_ratio or account["blocks"] - account["copied_blocks"] <= 1:
            return {"compacted": False, "before": before, "after": before}
        rows = decode_table(frag, schema)
        # repack: ~8 full blocks per partition so the re-encode emits full
        # blocks regardless of how many tiny source files the tail spans
        n_parts = max(1, (account["rows"] - account["copied_rows"]) // (target * 8))
        rows = rows.repartition(n_parts)
        # preserve the source fingerprint, matching the full-rewrite path:
        # compaction changes layout, not content, so resume semantics must
        # not depend on which compaction form ran (r5 ADVICE finding)
        n_rows, block_counts = _commit_cow(
            spark, path, snap, schema.json(), [f.name for f in schema.fields],
            full, rows, account, "compact", block_rows=target, keep_fingerprint=True,
        )
        _sweep_orphan_generations(path)
        after = _frag_report(sum(block_counts.values()), n_rows, target)
        return {"compacted": True, "before": before, "after": after, **block_counts}

    before = fragmentation(spark, path, target)
    if before["fill_ratio"] >= min_fill_ratio:
        return {"compacted": False, "before": before, "after": before}

    # the read plan is lazy over the OLD generation; the write streams into
    # a fresh one — old data is untouched until the pointer swap commits
    gen = uuid.uuid4().hex[:8]
    df = read_encoded(spark, path)
    write_encoded(
        df,
        path,
        target_partitions=target_partitions,
        block_rows=target,
        resume=False,
        fingerprint=snap.get("fingerprint"),
        data_dirname=f"data-{gen}",
        manifest_dirname=f"manifest-{gen}",
        bloom_cols=encode_kwargs.pop("bloom_cols", snap.get("bloom_cols") or None),
        **encode_kwargs,
    )
    # write_encoded's final atomic snapshot write IS the commit; everything
    # the new snapshot doesn't reference is now garbage
    _sweep_orphan_generations(path)
    after = fragmentation(spark, path, target)
    return {"compacted": True, "before": before, "after": after}
