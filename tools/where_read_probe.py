"""Build cost of `read_encoded(where=...)` in one checkout of this repo.

Writes a 300k-row `sequences_df` table (bloom filters on `source`) into
`<work_dir>`, then times two reads, a range predicate on `n_tok` and a
bloom equality on `source`, `--reps` times each:

- build ms: the `read_encoded` call alone, which plans the read;
- py4j calls: round trips to the JVM during that call, counted with a
  spy on the gateway client's `send_command`;
- build + count s: the call plus `.count()`;
- rows, and the executed plan.

Prints the minimum of the reps, one block per read, and the table's
shape (blocks files, blocks, row groups).

Usage:
  python tools/where_read_probe.py <repo> <work_dir> [--reps 7] [--cpus 4]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

READS = {
    "n_tok > 100": [("n_tok", ">", 100)],
    "bloom source = src3": [("source", "=", "src3")],
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo")
    ap.add_argument("work_dir")
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    # the Python workers import the engine from the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))

    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from parquet_spark.operators.decode import list_blocks_files, read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import sequences_df

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(args.work_dir, "seq300k")
    write_encoded(sequences_df(spark, 300_000, seed=11, n_partitions=4), path,
                  target_partitions=4, resume=False, bloom_cols=["source"])
    _fs, files = list_blocks_files(os.path.join(path, read_snapshot(path)["data_dir"]))
    metas = [pq.read_metadata(f) for f in files]
    print(f"table: {len(files)} blocks files, {sum(m.num_rows for m in metas)} blocks, "
          f"{sum(m.num_row_groups for m in metas)} row groups, local[{args.cpus}], min of {args.reps}")

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def spy(*a, **k):
        calls[0] += 1
        return send(*a, **k)

    client.send_command = spy
    for name, where in READS.items():
        read_encoded(spark, path, where=where).count()  # warm-up
        builds, totals, n_calls = [], [], []
        for _ in range(args.reps):
            calls[0] = 0
            t0 = time.perf_counter()
            df = read_encoded(spark, path, where=where)
            builds.append(time.perf_counter() - t0)
            n_calls.append(calls[0])
            rows = df.count()
            totals.append(time.perf_counter() - t0)
        client.send_command = send
        plan = df._jdf.queryExecution().executedPlan().toString()
        client.send_command = spy
        print(f"\n== {name}\nbuild_ms: {min(builds) * 1e3:.0f}\npy4j_calls: {min(n_calls)}\n"
              f"build_plus_count_s: {min(totals):.2f}\nrows: {rows}\nplan:\n{plan}")
    client.send_command = send
    spark.stop()


if __name__ == "__main__":
    main()
