"""Outside-in tracing for the traced benchmark run.

Spans wrap the benchmark's own calls into the engine's public functions;
nothing inside `parquet_spark/` is instrumented. Each span tags the Spark
jobs it launches with `setJobGroup(<span id>)`, so job, stage and task
counts come from the status tracker, and per-stage task metrics and the
executed plans come from the Spark event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, op id) in memory. While
    `active` is false every span is a no-op, so traced and untraced ops
    run the same code."""

    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._status_counts(rec["id"]))

    def _status_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def subtree(self, rec: dict) -> list[dict]:
        """`rec` and every span below it."""
        out, frontier = [rec], {rec["id"]}
        for s in self.spans:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def self_time(self, rec: dict) -> float:
        """Span duration minus its direct children's (children of one span
        run one after another on the driver thread, so they never overlap)."""
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"])
        return (rec["end"] - rec["start"]) - kids

    def dump(self, path: str, events: "EventLog") -> None:
        """Writes the spans, each with its own jobs' Spark task metrics."""
        out = [{**s, "spark": events.span_metrics([s["id"]])} for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


class EventLog:
    """Per-job and per-stage facts parsed from the Spark event log."""

    def __init__(self, sc):
        # the listener bus is asynchronous; drain it so the log holds every
        # job that has returned (job and stage ends flush the log writer)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        events_dir = sc.getConf().get("spark.eventLog.dir").removeprefix("file://")
        app = sc.applicationId
        path = next(
            os.path.join(events_dir, f)
            for f in sorted(os.listdir(events_dir))
            if f.startswith(app)
        )
        self.jobs: dict[int, dict] = {}
        self.job_ms: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a last line still being written
                self._add(ev)

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "execution": int(ex) if ex is not None else None,
                "stages": list(ev.get("Stage IDs", [])),
            }
            self.job_ms[ev["Job ID"]] = -ev.get("Submission Time", 0)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.job_ms:
            self.job_ms[ev["Job ID"]] += ev.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(ev["Stage ID"], {
                "tasks": 0, "failed": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_write_bytes": 0, "records_read": 0,
            })
            st["tasks"] += 1
            if (ev.get("Task Info") or {}).get("Failed"):
                st["failed"] += 1
            m = ev.get("Task Metrics") or {}
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            # the adaptive update carries the re-planned (final) physical plan
            self.plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")

    def span_metrics(self, groups: list[str]) -> dict:
        """Summed task metrics of every job launched under `groups`."""
        want = set(groups)
        out = {"task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "failed_tasks": 0, "records_read": 0}
        for job in self.jobs.values():
            if job["group"] not in want:
                continue
            for sid in job["stages"]:
                st = self.stages.get(sid)
                if st is None:
                    continue  # skipped stage: no tasks ran
                out["task_run_s"] += st["run_ms"] / 1e3
                out["task_cpu_s"] += st["cpu_ns"] / 1e9
                out["gc_s"] += st["gc_ms"] / 1e3
                out["shuffle_write_mb"] += st["shuffle_write_bytes"] / 1e6
                out["failed_tasks"] += st["failed"]
                out["records_read"] += st["records_read"]
        return out

    def job_seconds(self, groups: list[str]) -> float:
        """Summed wall time of the jobs launched under `groups`."""
        want = set(groups)
        return sum(
            max(self.job_ms.get(j, 0), 0) for j, job in self.jobs.items() if job["group"] in want
        ) / 1e3

    def plan_shape(self, groups: list[str]) -> str:
        """'fused' when the executed plans read their input inside a
        Python task (Range -> MapInArrow, no file scan), 'filescan' when a
        plan scans parquet in the JVM, '' when no SQL execution ran."""
        want = set(groups)
        plans = [
            self.plans.get(job["execution"], "")
            for job in self.jobs.values()
            if job["group"] in want and job["execution"] is not None
        ]
        if not plans:
            return ""
        if any("FileScan" in p or "Scan parquet" in p for p in plans):
            return "filescan"
        return "fused" if any("MapInArrow" in p for p in plans) else "other"


_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree() -> list[tuple[str, int]]:
    """(command name, RSS bytes) of this process and every process below
    it: the driver JVM and Spark's Python workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, list[str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue  # the process ended while the tree was read
        fields = tail.split()
        stats[int(d)] = (head.split("(", 1)[-1], fields)
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            name, f = stats[pid]
            out.append((name, int(f[21]) * _PAGE))
    return out


class RssSampler:
    """Peak summed RSS of the process tree (`process_tree`), sampled every
    `interval_s`; `peak_py_bytes` counts the Python processes alone (the
    driver and Spark's Python workers, where the engine's kernels run)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_py_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = process_tree()
            self.peak_bytes = max(self.peak_bytes, sum(rss for _n, rss in tree))
            self.peak_py_bytes = max(self.peak_py_bytes, sum(rss for n, rss in tree if n.startswith("python")))
            self._stop.wait(self.interval_s)
