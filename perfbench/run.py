"""Benchmark of the parquet_spark engine: one command, one driver process
at local[<cpus>], a closed loop with one client.

    python3 perfbench/run.py --workload seq_ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, measured with tracing off; with
--trace 1 they are the per-layer ones (layers.py), and the spans go to
.perfbench_work/trace-<workload>-<seed>.json. Progress and per-op
timings go to stderr. BENCHMARK.json lists the metrics, README.md next
to this file defines them.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import workloads as W
from tracing import RssSampler, Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = tuple(W.WORKLOADS)
N_PREPARE = 3  # input preparations per run; setup_s takes their median
# Untimed warm-up before the timed loop: at least WARMUP_CYCLES whole
# cycles and WARMUP_S seconds. The first ops of a session run up to 2x
# slower (JIT, Python worker start) and level off within a few cycles.
WARMUP_S = 8.0
WARMUP_CYCLES = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: bool):
    """The benchmark's Spark session. Every path Spark writes is inside
    `work`; the event log is on only in the traced run."""
    from pyspark.sql import SparkSession

    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the engine, and the benchmark's own task
    # functions by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    n = cpus()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("parquet_spark-perfbench")
        .config("spark.driver.memory", "3g")
        # no hsperfdata file in /tmp: the run writes only inside its checkout
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_log).lower())
        .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stops Spark and waits for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


class Loop:
    """Closed loop, one client: the next op starts when the previous one
    and its output check are done. Op types alternate, and the order
    flips every cycle so no type always runs first."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.times: dict[str, list[float]] = {}
        self.untraced_times: dict[str, list[float]] = {}
        self.cycles: list[dict[str, float]] = []  # op name -> seconds, per cycle
        self.traced: dict[str, list[dict]] = {}
        self.log = log

    def run_op(self, op, i: int, traced: bool = False) -> None:
        """Runs and checks one op; a failed op's time is dropped."""
        self.attempted += 1
        self.tracer.active = traced
        try:
            with self.tracer.span(op.name, op=f"{op.name}#{i}") as rec:
                t0 = time.perf_counter()
                out = op.run(i)
                dt = time.perf_counter() - t0
            op.check(out)
        except Exception as e:  # the loop must go on and count the failure
            self.failed += 1
            log(f"op {op.name}#{i} failed: {e!r}")
            traceback.print_exc(file=sys.stderr)
            return
        finally:
            self.tracer.active = False
        self.times.setdefault(op.name, []).append(dt)
        self.cycles[-1][op.name] = dt
        if rec is None:
            self.untraced_times.setdefault(op.name, []).append(dt)
        else:
            self.traced.setdefault(op.name, []).append(rec)

    def measure(self, ops, seconds: float, start: int, trace: bool = False, cycles: int = 1) -> int:
        """Cycles through `ops` until `seconds` have passed and at least
        `cycles` cycles ran, finishing the cycle in progress. In the
        traced run cycles alternate between traced and untraced ops,
        which gives the tracing overhead. Returns the next op number."""
        i, cycle = start, 0
        deadline = time.perf_counter() + seconds
        while cycle < cycles or time.perf_counter() < deadline:
            self.cycles.append({})
            for op in ops if cycle % 2 == 0 else ops[::-1]:
                self.run_op(op, i, traced=trace and cycle % 2 == 1)
                i += 1
            cycle += 1
        return i


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
        sizes: dict | None = None, t_session: float = 0.0) -> dict:
    """One benchmark run on an existing session. Returns the result object."""
    sizes = {**W.SIZES, **(sizes or {})}
    tracer = Tracer(spark.sparkContext)
    loop = Loop(tracer)
    wl = W.WORKLOADS[workload]

    preps = []
    for _ in range(N_PREPARE):
        t0 = time.perf_counter()
        inp = wl.prepare(work, seed, sizes)
        preps.append(time.perf_counter() - t0)
    state: dict = {"modes": [], "kept": []}  # modes: write_encoded bucket modes
    t0 = time.perf_counter()
    wl.facts(spark, inp, state)  # also the session's first jobs: Python workers start here
    t_facts = time.perf_counter() - t0
    ops = wl.ops(spark, inp, work, state, tracer)
    t0 = time.perf_counter()
    nxt = loop.measure(ops, WARMUP_S, start=0, cycles=WARMUP_CYCLES)
    t_warm = time.perf_counter() - t0
    loop.times.clear()
    loop.untraced_times.clear()
    loop.cycles.clear()
    setup_s = t_session + median(preps) + t_facts + t_warm
    log(f"setup {setup_s:.2f}s (session {t_session:.2f}, prepare {[round(p, 2) for p in preps]}, "
        f"facts {t_facts:.2f}, warm-up {t_warm:.2f})")

    with RssSampler() as rss:
        loop.measure(ops, seconds, start=nxt, trace=trace, cycles=2 if trace else 1)
    t0 = time.perf_counter()
    log(f"peak rss {rss.peak_bytes / 1e6:.0f} MB, python {rss.peak_py_bytes / 1e6:.0f} MB")
    for name, ts in loop.times.items():
        log(f"{name}: {len(ts)} ops, s = {[round(t, 3) for t in ts]}")

    crc_ok, enc, raw = wl.finish(spark, inp, state)
    log(f"finish {time.perf_counter() - t0:.2f}s")
    if not crc_ok:
        log("decoded-vs-input checksum mismatch")
    engine, ref = (op.name for op in ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "vs_parquet": (median([c[ref] / c[engine] for c in loop.cycles if engine in c and ref in c]), "ratio"),
        "bytes_per_raw_byte": (enc / raw, "ratio"),
        "size_vs_parquet": (enc / sum(t.parquet_bytes for t in inp.tables), "ratio"),
        "peak_rss_mb": (rss.peak_py_bytes / 1e6, "MB"),
    }
    if trace:
        from layers import layer_metrics

        metrics, events = layer_metrics(spark, tracer, loop, inp, ops, state, work)
        tracer.dump(os.path.join(os.path.dirname(work), f"trace-{workload}-{seed}.json"), events)

    return {
        "correct": loop.failed == 0 and crc_ok,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {
            k: {"value": None if isinstance(v, float) and math.isnan(v) else v, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "parquet_spark" / "__init__.py").is_file():
        log(f"no parquet_spark package in {ROOT}; run from the root of a full checkout")
        return 2
    sys.path.insert(1, str(ROOT))
    base = ROOT / ".perfbench_work"
    work = str(base / f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_session(work, event_log=bool(args.trace))
        import parquet_spark.operators.decode  # noqa: F401  (engine import counts in setup)
        import parquet_spark.operators.encode  # noqa: F401

        result = run(spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
                     t_session=time.perf_counter() - t_start)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
