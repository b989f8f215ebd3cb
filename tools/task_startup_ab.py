"""Interleaved A/B of Python-task start-up in two checkouts of this repo.

Three kinds of record, appended as JSON lines to one file:

- `perfbench`: `perfbench/run.py --trace 0` for both workloads, one
  seed per pair, the first side alternating from pair to pair;
- `trace`: `perfbench/run.py --trace 1` for both workloads on both sides
  (one seed), keeping the per-layer metrics that show task start-up and
  the counts that show which path ran;
- `latency`: one Spark session per side and pair. A roundtrip of a
  4-row-group file runs the codec kernels in the session's Python
  workers; then a 4-task JVM-only job (the floor) and a 4-task identity
  `mapInArrow` are timed `--reps` times each, the kernel job rerun
  before every rep. Records the medians. Then a 16-task stage of an
  instrumented identity kernel (defined here, not in the engine; it runs
  the checkout's engine task start-up) runs `--reps` times, and records
  per task: the worker CPU (`time.process_time`) from the previous
  kernel exit in the same worker to this kernel's entry, which holds
  PySpark's between-task work (the daemon's `gc.collect()`, the next
  task's set-up), and the wall time from kernel entry to the first input
  batch.

Usage:
  python tools/task_startup_ab.py perfbench <parent_repo> <change_repo> <out.jsonl> [--pairs 5] [--seed 301]
  python tools/task_startup_ab.py trace <parent_repo> <change_repo> <out.jsonl> [--seed 141]
  python tools/task_startup_ab.py latency <parent_repo> <change_repo> <work_dir> <out.jsonl> [--pairs 5] [--reps 7]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SCRIPT = os.path.abspath(__file__)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
WORKLOADS = ("seq_ingest", "flat_roundtrip")
TRACE_KEYS = (
    "spark.engine.task_run_s", "ops.engine_s", "sources.feed_s",
    "sources.splits", "operators.encode.tasks", "sources.fused_ops", "sources.filescan_ops",
    "operators.encode.mode_arrow", "operators.encode.mode_partition", "operators.encode.mode_salted",
)


def _perfbench(repo: str, workload: str, seed: int, trace: int) -> dict:
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "10", "--trace", str(trace)],
        cwd=repo, capture_output=True, text=True,
    )
    out = json.loads(res.stdout.strip().splitlines()[-1])
    return {
        "correct": out["correct"], "attempted": out["attempted"], "failed": out["failed"],
        "metrics": {k: v["value"] for k, v in out["metrics"].items() if not trace or k in TRACE_KEYS},
    }


def _sides(parent: str, change: str, first_parent: bool) -> list[tuple[str, str]]:
    sides = [("parent", parent), ("change", change)]
    return sides if first_parent else sides[::-1]


def _emit(f, rec: dict) -> None:
    line = json.dumps(rec)
    f.write(line + "\n")
    f.flush()
    print(line, flush=True)


def latency_run(repo: str, work: str, side: str, pair: int, reps: int) -> dict:
    sys.path.insert(0, repo)
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from parquet_spark.operators.decode import roundtrip_table

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"task-startup-ab-{side}")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    src = os.path.join(work, "rg4")
    if not os.path.exists(src):
        os.makedirs(src)
        n = 40_000
        pq.write_table(pa.table({"k": pa.array(range(n), pa.int64())}), os.path.join(src, "t.parquet"),
                       row_group_size=n // 4)
    df = spark.read.parquet(src)

    def identity(batches):
        yield from batches

    def kernel_job():
        return roundtrip_table(df).count()

    def jvm_only():
        return spark.range(0, 4, numPartitions=4).collect()

    def map_in_arrow():
        return spark.range(0, 4, numPartitions=4).mapInArrow(identity, "id long").collect()

    def instrumented(batches):
        """Identity kernel that times its own task boundary. The worker's
        last kernel exit is kept on the `sys` module, which outlives
        tasks in a reused worker."""
        import os
        import sys
        import time

        import pyarrow as pa

        from parquet_spark import util
        from parquet_spark.codecs import blocks  # noqa: F401  (the kernels' heap)

        cpu_in, wall_in = time.process_time(), time.perf_counter()
        last = getattr(sys, "_task_startup_ab_exit", None)
        getattr(util, "worker_task_start", util.drop_spark_archive_importers)()
        first_batch = None
        try:
            for b in batches:
                if first_batch is None:
                    first_batch = time.perf_counter() - wall_in
            yield pa.RecordBatch.from_pydict({
                "pid": [os.getpid()],
                "between_cpu_s": [None if last is None else cpu_in - last],
                "first_batch_s": [first_batch],
            })
        finally:
            sys._task_startup_ab_exit = time.process_time()

    def instrumented_job():
        return spark.range(0, 16, numPartitions=16).mapInArrow(
            instrumented, "pid long, between_cpu_s double, first_batch_s double"
        ).collect()

    for op in (kernel_job, jvm_only, map_in_arrow):  # warm-up
        op()
    times = {"jvm_only_s": [], "map_in_arrow_s": []}
    for _ in range(reps):
        kernel_job()
        for key, op in (("jvm_only_s", jvm_only), ("map_in_arrow_s", map_in_arrow)):
            t0 = time.perf_counter()
            op()
            times[key].append(time.perf_counter() - t0)
    tasks = {"between_cpu_s": [], "first_batch_s": []}
    instrumented_job()  # warm-up: every worker records a first exit
    for _ in range(reps):
        for r in instrumented_job():
            for key in tasks:
                if getattr(r, key) is not None:
                    tasks[key].append(getattr(r, key))
    spark.stop()
    rec = {"kind": "latency", "side": side, "pair": pair, "cpus": CPUS}
    for key, ts in {**times, **tasks}.items():
        rec[key] = statistics.median(ts)
        rec[key.replace("_s", "_times_s")] = ts
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=("perfbench", "trace", "latency", "latency-run"))
    ap.add_argument("args", nargs="+")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--reps", type=int, default=7)
    a = ap.parse_args()
    if a.kind == "latency-run":
        repo, work, side, pair = a.args
        print(json.dumps(latency_run(repo, work, side, int(pair), a.reps)), flush=True)
        return
    parent, change = a.args[:2]
    out = a.args[-1]
    with open(out, "a") as f:
        if a.kind == "perfbench":
            seed0 = a.seed or 301
            for pair in range(a.pairs):
                for w, workload in enumerate(WORKLOADS):
                    for side, repo in _sides(parent, change, (pair + w) % 2 == 0):
                        rec = _perfbench(repo, workload, seed0 + pair, 0)
                        _emit(f, {"kind": "perfbench", "side": side, "workload": workload,
                                  "seed": seed0 + pair, "pair": pair, "cpus": CPUS, **rec})
        elif a.kind == "trace":
            seed = a.seed or 141
            for w, workload in enumerate(WORKLOADS):
                for side, repo in _sides(parent, change, w % 2 == 0):
                    rec = _perfbench(repo, workload, seed, 1)
                    _emit(f, {"kind": "trace", "side": side, "workload": workload, "seed": seed,
                              "cpus": CPUS, **rec})
        else:
            work = a.args[2]
            os.makedirs(work, exist_ok=True)
            for pair in range(a.pairs):
                for side, repo in _sides(parent, change, pair % 2 == 0):
                    res = subprocess.run(
                        [sys.executable, SCRIPT, "latency-run", repo, work, side, str(pair), "--reps", str(a.reps)],
                        check=True, capture_output=True, text=True, cwd=repo,
                        env={**os.environ, "PYTHONPATH": repo},
                    )
                    _emit(f, json.loads(res.stdout.strip().splitlines()[-1]))


if __name__ == "__main__":
    main()
