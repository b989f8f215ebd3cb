"""Table inspector — the `parquetgen -metadata` / `-pageheaders` analogue
(/root/reference/cmd/parquetgen/main.go:36-39,51-80): dump an encoded
table's snapshot, per-column codec/size rollup, and per-block "page
headers" without decoding any values.

Usage:
    python -m parquet_spark.tools snapshot     <table_path>
    python -m parquet_spark.tools metadata     <table_path>
    python -m parquet_spark.tools blocks       <table_path> [column]
    python -m parquet_spark.tools verify       <table_path>
    python -m parquet_spark.tools parquet-meta <file.parquet>

All output is JSON lines (machine-readable, like the reference CLI's JSON
dumps). `metadata`/`blocks` only read the manifest and the blocks' `meta`
column — the payload binary columns are pruned out of the scan.
`parquet-meta` parses a standards Parquet file's thrift footer with the
engine's own raw reader (sources/parquet_raw.py) — works on any writer's
output, no Spark session needed.
"""

from __future__ import annotations

import json
import sys


def _spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.appName("parquet_spark-inspect")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_snapshot(path: str) -> None:
    from parquet_spark.operators.encode import read_snapshot

    snap = read_snapshot(path)
    if snap is None:
        raise SystemExit(f"no snapshot.json under {path}")
    print(json.dumps(snap))


def cmd_snapshots(path: str) -> None:
    """One JSON line per retained snapshot sequence (the time-travel log)."""
    from parquet_spark.operators.encode import list_snapshots

    for s in list_snapshots(path):
        print(json.dumps({
            "sequence": s.get("sequence"), "parent": s.get("parent_sequence"),
            "created_unix": s.get("created_unix"), "data_dir": s.get("data_dir", "data"),
            "max_batch": s.get("max_batch"), "fingerprint": s.get("fingerprint"),
        }))


def cmd_metadata(path: str) -> None:
    """Per-column rollup: codec mix, raw/encoded bytes, ratio, null counts."""
    from pyspark.sql import functions as F

    from parquet_spark.operators.decode import read_manifest

    spark = _spark()
    m = read_manifest(spark, path)
    roll = (
        m.groupBy("column", "codec", "compression")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum("n_values").alias("n_values"),
            F.sum("n_nulls").alias("n_nulls"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .withColumn("ratio", F.round(F.col("raw_bytes") / F.col("enc_bytes"), 3))
        .orderBy("column", "codec")
    )
    for r in roll.collect():
        print(json.dumps(r.asDict()))


def cmd_blocks(path: str, column: str | None = None) -> None:
    """Per-block manifest rows — the page-header walk."""
    from parquet_spark.operators.decode import read_manifest

    spark = _spark()
    m = read_manifest(spark, path)
    if column:
        m = m.where(m["column"] == column)
    for r in m.orderBy("bucket", "part_id", "block_id", "column").collect():
        print(json.dumps(r.asDict()))


def cmd_verify(path: str) -> None:
    """Integrity sweep: decode EVERY payload block with its crc32 gate on
    (operators/decode.py) — corruption raises loudly; success prints the
    row count and per-column block totals. The distributed analogue of a
    reader-side footer+page checksum walk."""
    from pyspark.sql import functions as F

    from parquet_spark.operators.decode import blocks_relation, read_encoded, read_manifest

    spark = _spark()
    n = read_encoded(spark, path, verify=True).count()
    man = read_manifest(spark, path)
    per_col = {
        r["column"]: int(r["n"])
        for r in man.groupBy("column").agg(F.count("*").alias("n")).collect()
    }
    out = {"path": path, "rows": int(n), "crc": "ok", "blocks_per_column": per_col}

    # bloom sidecar consistency: every value in a bloom-enabled block must
    # probe positive against that block's own filter — a false NEGATIVE
    # means equality pruning would silently drop real rows
    from parquet_spark.operators.encode import read_snapshot

    snap = read_snapshot(path) or {}
    bloom_cols = snap.get("bloom_cols") or []
    if bloom_cols:
        blocks = blocks_relation(spark, path, snap)

        def probe(batches):
            import pyarrow as pa

            from parquet_spark.codecs import blocks as blk
            from parquet_spark.stats import bloom as B

            for b in batches:
                misses = checked = 0
                for i in range(b.num_rows):
                    for c in bloom_cols:
                        filt = b.column(f"_bloom_{c}")[i].as_py()
                        if not filt:
                            # blocks copied byte-for-byte from a pre-bloom
                            # generation carry a NULL sidecar; the reader
                            # treats that as "keep" — so does the probe
                            # (review finding: counting these as false
                            # negatives flagged healthy tables CORRUPT)
                            continue
                        arr = blk.decode_array(b.column(c)[i].as_py()).drop_null()
                        for v in arr.to_pylist():
                            checked += 1
                            vb = v if isinstance(v, bytes) else v.encode()
                            if not B.maybe_contains(filt, vb):
                                misses += 1
                yield pa.RecordBatch.from_arrays(
                    [pa.array([misses], pa.int64()), pa.array([checked], pa.int64())],
                    ["misses", "checked"],
                )

        agg = (
            blocks.select(*bloom_cols, *[f"_bloom_{c}" for c in bloom_cols])
            .mapInArrow(probe, "misses long, checked long")
            .agg(F.sum("misses").alias("m"), F.sum("checked").alias("k"))
            .collect()[0]
        )
        out["bloom"] = {
            "columns": bloom_cols,
            "values_checked": int(agg["k"] or 0),
            "false_negatives": int(agg["m"] or 0),
        }
        if int(agg["m"] or 0):
            out["bloom"]["status"] = "CORRUPT"
            print(json.dumps(out))
            raise SystemExit(2)
        out["bloom"]["status"] = "ok"
    print(json.dumps(out))


def cmd_parquet_meta(path: str) -> None:
    """Footer summary of any standards Parquet file, via the raw parser."""
    from parquet_spark.sources import parquet_raw as praw

    meta = praw.read_metadata(path)["meta"]
    type_names = {0: "BOOLEAN", 1: "INT32", 2: "INT64", 3: "INT96", 4: "FLOAT", 5: "DOUBLE", 6: "BYTE_ARRAY", 7: "FIXED"}
    rep_names = {0: "REQUIRED", 1: "OPTIONAL", 2: "REPEATED"}
    out = {
        "version": meta.get(1),
        "num_rows": meta.get(3),
        "created_by": (meta.get(6) or b"").decode(errors="replace"),
        "n_row_groups": len(meta.get(4, [])),
        "schema": [
            {
                "name": e[4].decode(),
                "type": type_names.get(e.get(1), e.get(1)),
                "repetition": rep_names.get(e.get(3), e.get(3)),
            }
            for e in meta.get(2, [])[1:]
        ],
    }
    print(json.dumps(out))
    for gi, rg in enumerate(meta.get(4, [])):
        for chunk in rg.get(1, []):
            cm = chunk.get(3, {})
            print(json.dumps({
                "row_group": gi,
                "column": ".".join(p.decode() for p in cm.get(3, [])),
                "type": type_names.get(cm.get(1), cm.get(1)),
                "codec_id": cm.get(4),
                "num_values": cm.get(5),
                "uncompressed": cm.get(6),
                "compressed": cm.get(7),
                "data_page_offset": cm.get(9),
                "dict_page_offset": cm.get(11),
            }))


def main(argv: list[str]) -> None:
    if len(argv) < 2 or argv[0] not in ("snapshot", "snapshots", "metadata", "blocks", "verify", "parquet-meta"):
        print(__doc__)
        raise SystemExit(2)
    cmd, path = argv[0], argv[1]
    if cmd == "snapshot":
        cmd_snapshot(path)
    elif cmd == "snapshots":
        cmd_snapshots(path)
    elif cmd == "metadata":
        cmd_metadata(path)
    elif cmd == "verify":
        cmd_verify(path)
    elif cmd == "parquet-meta":
        cmd_parquet_meta(path)
    else:
        cmd_blocks(path, argv[2] if len(argv) > 2 else None)


if __name__ == "__main__":
    main(sys.argv[1:])
