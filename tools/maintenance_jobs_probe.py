"""Spark jobs and wall time of the table-maintenance ops in one checkout.

Inputs, written by the checkout under test into `<work_dir>`:
- `seq`: 200k `sequences_df` rows (mean 32 tokens, seed 7), written with
  `write_encoded(cluster_col="n_tok", target_partitions=8)`;
- `frag`: the same rows appended in 6 `append_encoded` batches of
  `target_partitions=8` (48 blocks, fill about 0.25);
- `sink`: the `sink_batch` op's table.

Ops, each on a fresh copy of its input (the copy is not timed; `sink_batch`
starts from no table):
- `read_count`: `read_encoded(spark, seq).count()`;
- `fragmentation` of `frag`;
- `delete_where(seq, ("n_tok", ">", 120))`;
- `merge_into(seq, updates)`: the 500 rows whose `doc_id` row number is a
  multiple of 400, with `n_tok + 1`, keyed on `doc_id`;
- `compact_table(frag)`, incremental;
- `read_encoded_stream` of `frag`: building the streaming DataFrame, no
  query started;
- `sink_batch`: a `StreamingEncoder(target_partitions=8)` called on 20k
  `sequences_df` rows (seed 11) as batch 0 of a new table;
- `sink_empty_batch`: the same encoder called on an empty frame as batch
  1 of `sink`, the table `sink_batch` writes.

Jobs are counted with `setJobGroup` and
`statusTracker().getJobIdsForGroup`. Each op runs `--reps` times; every
rep's jobs and wall seconds are recorded. Each op's line also carries
what the op left: the last rep's returned dict and, per rep, the CRC of
the table's decoded rows and the SHA-1 of its manifest's (column, codec,
n_values, enc_bytes, crc) multiset, with the manifest's enc_bytes sum
and the blocks count, so two checkouts can be compared for identical
results.

Appends one JSON line per op to `--out` (default: stdout only).

Usage:
  python tools/maintenance_jobs_probe.py <repo> <work_dir> [--reps 2] [--cpus 4] [--rows 200000] [--session 1] [--label parent] [--out plans/r07/maintenance_jobs_ab.jsonl]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time


def _crc(df) -> int:
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return int(df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0] or 0)


def _table_state(spark, path: str) -> dict:
    """Decoded-rows CRC, manifest multiset digest, enc_bytes and blocks."""
    import pyarrow.parquet as pq

    from parquet_spark.operators.decode import read_encoded, read_manifest
    from parquet_spark.operators.encode import read_snapshot

    rows = sorted(
        tuple(r) for r in read_manifest(spark, path).select("column", "codec", "n_values", "enc_bytes", "crc").collect()
    )
    data_dir = os.path.join(path, read_snapshot(path).get("data_dir", "data"))
    blocks = 0
    for root, dirs, files in os.walk(data_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        blocks += sum(pq.read_metadata(os.path.join(root, f)).num_rows for f in files if f.endswith(".parquet"))
    return {
        "crc": _crc(read_encoded(spark, path)),
        "manifest_sha1": hashlib.sha1(repr(rows).encode()).hexdigest(),
        "enc_bytes": sum(r[3] for r in rows),
        "blocks": blocks,
    }


def _inputs(spark, work_dir: str, n_rows: int) -> dict:
    from pyspark.sql import functions as F

    from parquet_spark.operators.encode import append_encoded, write_encoded
    from parquet_spark.sources.synth import sequences_df
    from parquet_spark.streaming.encode_stream import StreamingEncoder

    src = sequences_df(spark, n_rows, seed=7, n_partitions=4, mean_tokens=32)
    seq = os.path.join(work_dir, "seq")
    write_encoded(src, seq, target_partitions=8, resume=False, cluster_col="n_tok")
    frag = os.path.join(work_dir, "frag")
    shutil.rmtree(frag, ignore_errors=True)
    row_no = F.substring("doc_id", -12, 12).cast("long")
    for i in range(6):
        append_encoded(src.where(row_no % 6 == i), frag, target_partitions=8)
    updates = src.where(row_no % 400 == 0).withColumn("n_tok", F.col("n_tok") + 1)
    sink_rows = sequences_df(spark, 20_000, seed=11, n_partitions=4, mean_tokens=32)
    sink = os.path.join(work_dir, "sink")
    shutil.rmtree(sink, ignore_errors=True)
    StreamingEncoder(sink, target_partitions=8)(sink_rows, 0)
    return {"seq": seq, "frag": frag, "sink": sink, "updates": updates, "sink_rows": sink_rows}


def _ops(spark, inp: dict) -> dict:
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.maintain import compact_table, delete_where, fragmentation, merge_into
    from parquet_spark.streaming.decode_stream import read_encoded_stream
    from parquet_spark.streaming.encode_stream import StreamingEncoder

    def sink(rows, batch_id):
        def op(p):
            StreamingEncoder(p, target_partitions=8)(rows, batch_id)
            return {"batches": sorted(os.listdir(os.path.join(p, "data")))}
        return op

    return {
        "read_count": ("seq", lambda p: {"rows": read_encoded(spark, p).count()}),
        "fragmentation": ("frag", lambda p: fragmentation(spark, p)),
        "delete_where": ("seq", lambda p: delete_where(spark, p, ("n_tok", ">", 120))),
        "merge_into": ("seq", lambda p: merge_into(spark, p, inp["updates"], key_col="doc_id")),
        "compact_table": ("frag", lambda p: compact_table(spark, p)),
        "read_encoded_stream": ("frag", lambda p: {"columns": read_encoded_stream(spark, p).columns}),
        "sink_batch": (None, sink(inp["sink_rows"], 0)),
        "sink_empty_batch": ("sink", sink(inp["sink_rows"].where("false"), 1)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo")
    ap.add_argument("work_dir")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--session", type=int, default=1)
    ap.add_argument("--label", help="names the checkout in the output (default: its commit, `+dirty` with uncommitted edits)")
    ap.add_argument("--out")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    # the Python workers import the engine from the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    commit = subprocess.run(["git", "-C", repo, "rev-parse", "--short", "HEAD"], capture_output=True, text=True).stdout.strip()
    if subprocess.run(["git", "-C", repo, "diff", "--quiet", "HEAD"]).returncode:
        commit += "+dirty"  # uncommitted edits of tracked files

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    os.makedirs(args.work_dir, exist_ok=True)
    inp = _inputs(spark, args.work_dir, args.rows)
    for name, (table, op) in _ops(spark, inp).items():
        jobs, walls, states, result = [], [], [], None
        for rep in range(args.reps):
            path = os.path.join(args.work_dir, f"{name}-{rep}")
            shutil.rmtree(path, ignore_errors=True)
            if table:
                shutil.copytree(inp[table], path)
            group = f"probe-{name}-{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            result = op(path)
            walls.append(round(time.perf_counter() - t0, 3))
            sc.setJobGroup("probe-state", "probe-state")
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            states.append(_table_state(spark, path))
        line = {
            "label": args.label or commit, "commit": commit, "session": args.session, "op": name,
            "cpus": args.cpus, "rows": args.rows, "jobs": jobs, "wall_s": walls,
            "result": result, "states": states,
        }
        print(json.dumps(line), flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(line) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
