"""Driver-side build cost of engine ops in one checkout of this repo.

`where` part: writes a 300k-row `sequences_df` table (bloom filters on
`source`) into `<work_dir>`, then times two reads, a range predicate on
`n_tok` and a bloom equality on `source`, `--reps` times each:

- build ms: the `read_encoded` call alone, which plans the read;
- py4j calls: round trips to the JVM during that call, counted with a
  spy on the gateway client's `send_command`;
- build + count s: the call plus `.count()`;
- rows, and the executed plan.

`builds` part: writes two parquet inputs of the same 80k rows (columns
`a` int64, `b` double), one file of 8 row groups and 8 files of one row
group, and times the plan-building calls alone, no data job:

- `explain_partitioning` on the file, bare and `select("b", "a")`, and
  on the 8 files;
- `roundtrip_table` on the file (it returns a DataFrame, so no job);
- `write_encoded` of the 8 files up to its data job: the parquet write
  of the blocks is stopped before it starts.

Each call is warmed up once. For each it prints build ms and py4j calls
(minimum of the reps), and the calls the engine makes itself by engine
function: a call is the engine's when a `parquet_spark` frame is on its
stack with no PySpark `broadcast`, `range` or `mapInArrow` frame above
it. `inputFiles` counts the `inputFiles()` calls.

Prints the minimum of the reps, one block per read or call.

Usage:
  python tools/where_read_probe.py <repo> <work_dir> [--reps 7] [--cpus 4] [--part all|where|builds]
"""

from __future__ import annotations

import argparse
import collections
import itertools
import os
import sys
import time

READS = {
    "n_tok > 100": [("n_tok", ">", 100)],
    "bloom source = src3": [("source", "=", "src3")],
}
_PYSPARK_OWN = {"broadcast", "range", "mapInArrow"}


class _Spy:
    """Counts py4j round trips through the gateway client's
    `send_command`, total and by engine function."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.send = self.client.send_command
        self.calls, self.engine, self.input_files = 0, collections.Counter(), 0

    def __enter__(self):
        self.calls, self.engine, self.input_files = 0, collections.Counter(), 0
        self.client.send_command = self._spy
        return self

    def __exit__(self, *exc):
        self.client.send_command = self.send

    def _spy(self, command, *a, **k):
        self.calls += 1
        self.input_files += "\ninputFiles\n" in command
        f = sys._getframe(1)
        while f is not None:
            name = f.f_code.co_filename
            if os.sep + "parquet_spark" + os.sep in name:
                self.engine[f.f_code.co_name] += 1
                break
            if os.sep + "pyspark" + os.sep in name and f.f_code.co_name in _PYSPARK_OWN:
                break
            f = f.f_back
        return self.send(command, *a, **k)


def where_reads(spark, work_dir: str, reps: int, cpus: int) -> None:
    import pyarrow.parquet as pq

    from parquet_spark.operators.decode import list_blocks_files, read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = os.path.join(work_dir, "seq300k")
    write_encoded(sequences_df(spark, 300_000, seed=11, n_partitions=4), path,
                  target_partitions=4, resume=False, bloom_cols=["source"])
    _fs, files = list_blocks_files(os.path.join(path, read_snapshot(path)["data_dir"]))
    metas = [pq.read_metadata(f) for f in files]
    print(f"table: {len(files)} blocks files, {sum(m.num_rows for m in metas)} blocks, "
          f"{sum(m.num_row_groups for m in metas)} row groups, local[{cpus}], min of {reps}")

    spy = _Spy(spark)
    for name, where in READS.items():
        read_encoded(spark, path, where=where).count()  # warm-up
        builds, totals, n_calls = [], [], []
        for _ in range(reps):
            with spy:
                t0 = time.perf_counter()
                df = read_encoded(spark, path, where=where)
                builds.append(time.perf_counter() - t0)
            n_calls.append(spy.calls)
            rows = df.count()
            totals.append(time.perf_counter() - t0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"\n== {name}\nbuild_ms: {min(builds) * 1e3:.0f}\npy4j_calls: {min(n_calls)}\n"
              f"build_plus_count_s: {min(totals):.2f}\nrows: {rows}\nplan:\n{plan}")


class _Stop(Exception):
    """Raised in place of write_encoded's data job."""


def plan_builds(spark, work_dir: str, reps: int, cpus: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from parquet_spark.operators.decode import roundtrip_table
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.plans import explain_partitioning

    n = 80_000
    table = pa.table({"a": pa.array(range(n), pa.int64()), "b": pa.array([i * 0.5 for i in range(n)])})
    one, eight = os.path.join(work_dir, "one_file"), os.path.join(work_dir, "eight_files")
    os.makedirs(one, exist_ok=True)
    os.makedirs(eight, exist_ok=True)
    pq.write_table(table, os.path.join(one, "t.parquet"), row_group_size=n // 8)
    for i in range(8):
        pq.write_table(table.slice(i * n // 8, n // 8), os.path.join(eight, f"part-{i}.parquet"))
    print(f"\nbuilds: {n} rows, one file of 8 row groups and 8 files, local[{cpus}], min of {reps}")

    writes = itertools.count()

    def write_build(df):
        try:
            write_encoded(df, os.path.join(work_dir, f"write-{next(writes)}"), resume=False)
        except _Stop:
            pass

    real_parquet = DataFrameWriter.parquet

    def stop(*a, **kw):
        raise _Stop

    cases = {
        "explain_partitioning, one file, bare": (one, lambda df: df, explain_partitioning),
        'explain_partitioning, one file, select("b", "a")': (one, lambda df: df.select("b", "a"), explain_partitioning),
        "explain_partitioning, 8 files": (eight, lambda df: df, explain_partitioning),
        "roundtrip_table, one file": (one, lambda df: df, roundtrip_table),
        "write_encoded up to its data job, 8 files": (eight, lambda df: df, write_build),
    }
    spy = _Spy(spark)
    DataFrameWriter.parquet = stop
    try:
        for name, (path, view, op) in cases.items():
            df = view(spark.read.parquet(path))
            op(df)  # warm-up
            builds, counts = [], []
            for _ in range(reps):
                with spy:
                    t0 = time.perf_counter()
                    op(df)
                    builds.append(time.perf_counter() - t0)
                counts.append((spy.calls, sum(spy.engine.values()), dict(spy.engine), spy.input_files))
            calls, engine, by_fn, input_files = min(counts, key=lambda c: c[0])
            print(f"\n== {name}\nbuild_ms: {min(builds) * 1e3:.0f}\npy4j_calls: {calls}\n"
                  f"engine_calls: {engine} {dict(sorted(by_fn.items()))}\ninputFiles: {input_files}")
    finally:
        DataFrameWriter.parquet = real_parquet


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo")
    ap.add_argument("work_dir")
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--part", choices=("all", "where", "builds"), default="all")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    # the Python workers import the engine from the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.part in ("all", "where"):
        where_reads(spark, args.work_dir, args.reps, args.cpus)
    if args.part in ("all", "builds"):
        plan_builds(spark, args.work_dir, args.reps, args.cpus)
    spark.stop()


if __name__ == "__main__":
    main()
