"""Per-layer metrics of the traced run (`--trace 1`).

Two sources feed them:

- the workload's own ops (the engine op and the reference parquet
  write), traced on every other cycle: Spark task metrics per op from
  the event log, the engine op's executed plan shape (fused Range ->
  MapInArrow vs FileScan), the write_encoded decisions, the time outside
  any Spark job, and the tracing overhead;
- stage-isolation probes, run once per input table of the workload:
  each times one public function of one layer from outside.

A metric is summed over the workload's input tables. Every name is
emitted on every workload; a codec or column a workload does not have
reads 0. README.md next to this file says which end-to-end metric each
one should move.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Codecs and columns with a metric of their own; a codec outside the list
# counts under "other". Names are made name-safe: list<for_bp> -> list-for_bp.
CODECS = ("plain", "dict", "rle", "for_bp", "delta_bp", "alp", "fsst", "list-for_bp", "list-dict", "other")
COLUMNS = (
    "doc_id", "tokens", "n_tok", "source",
    "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus", "text",
)
# per-block kernel timings take at most this many blocks per column
KERNEL_BLOCKS = 8

# write_encoded arguments for tables without the sequence columns that the
# salted bucket plan defaults to (source, doc_id, n_tok). documents has no
# low-cardinality column to salt on, so it keeps its input partitioning.
WRITE_ARGS = {
    "lineitem": {"source_col": "l_returnflag", "salt_key": "l_orderkey", "weight_col": None},
    "documents": {"bucket_mode": "partition"},
}


def name_safe(codec: str) -> str:
    s = re.sub(r"[^A-Za-z0-9_.-]+", "-", codec).strip("-")
    return s if s in CODECS else "other"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _first_block(path: str, columns: list[str], rows: int) -> pa.Table:
    f = path if os.path.isfile(path) else os.path.join(path, sorted(
        x for x in os.listdir(path) if x.endswith(".parquet"))[0])
    return pa.Table.from_batches([next(pq.ParquetFile(f).iter_batches(batch_size=rows, columns=columns))])


def choose_codecs(block: pa.Table) -> dict:
    """The stats layer's public calls on one block per column."""
    from parquet_spark.stats.analyze import block_stats, string_stats
    from parquet_spark.stats.chooser import choose_float_codec, choose_int_codec, choose_string_codec

    out = {}
    for name in block.column_names:
        arr = block.column(name).combine_chunks()
        if pa.types.is_list(arr.type):
            arr = arr.flatten()
        if pa.types.is_string(arr.type):
            off = np.frombuffer(arr.buffers()[1], np.int32)[arr.offset:arr.offset + len(arr) + 1]
            data = np.frombuffer(arr.buffers()[2], np.uint8)
            out[name] = choose_string_codec(string_stats(off, data))
        elif pa.types.is_floating(arr.type):
            out[name] = choose_float_codec(block_stats(arr.to_numpy()))
        else:
            vals = arr.to_numpy()
            out[name] = choose_int_codec(block_stats(vals), vals.itemsize)
    return out


def _overlaps(rows, where: list[tuple]) -> int:
    """Blocks whose manifest min/max can hold a row of the range `where`."""
    (col, _, lo), (_, _, hi) = where
    conv = type(lo)
    n = 0
    for r in rows:
        if r["column"] == col and r["vmin"] is not None and r["vmax"] is not None:
            if not (conv(r["vmax"]) < lo or conv(r["vmin"]) > hi):
                n += 1
    return n


def _expected_rows(path: str, where: list[tuple]) -> int:
    (col, _, lo), (_, _, hi) = where
    v = pq.read_table(path, columns=[col]).column(col)
    return int(pc.sum(pc.and_(pc.greater_equal(v, lo), pc.less_equal(v, hi))).as_py() or 0)


def _kernel_times(data_dir: str, t, acc: dict) -> None:
    """Driver-side, one thread: decode_array / encode_array on the first
    blocks of each column of an encoded table, keyed by the codec the
    block records."""
    from parquet_spark.codecs import blocks as blk

    files = sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    tbl = pa.concat_tables(pq.read_table(f, columns=t.columns) for f in files)
    for col in t.columns:
        cells = [c for c in tbl.column(col).to_pylist()[:KERNEL_BLOCKS] if c is not None]
        for payload in cells:
            codec = name_safe(blk.describe(payload)["codec"])
            t0 = time.perf_counter()
            arr = blk.decode_array(payload)
            t1 = time.perf_counter()
            blk.encode_array(arr, codec=(t.codecs or {}).get(col))
            t2 = time.perf_counter()
            a = acc.setdefault(codec, [0.0, 0.0, 0])
            a[0] += t2 - t1
            a[1] += t1 - t0
            a[2] += arr.nbytes


class Probes:
    """Stage-isolation legs on one workload's input tables."""

    def __init__(self, spark, tracer, loop, state: dict, work: str):
        self.spark, self.tr, self.loop, self.state, self.work = spark, tracer, loop, state, work
        self.m: dict[str, float] = {}
        self.kernels: dict[str, list] = {}
        self.man_bytes: dict[str, list] = {}
        self.blocks: dict[str, int] = {}
        self.spans: dict[str, list[dict]] = {}

    def add(self, key: str, v: float) -> None:
        self.m[key] = self.m.get(key, 0.0) + v

    def timed(self, name: str, table: str, fn):
        with self.tr.span(name, op=f"probe:{table}") as rec:
            out = fn()
        self.spans.setdefault(name, []).append(rec)
        return out, rec["end"] - rec["start"]

    def table(self, t) -> None:
        from pyspark.sql import functions as F

        from parquet_spark.operators.decode import read_encoded, read_manifest
        from parquet_spark.operators.encode import encode_table, read_snapshot, write_encoded
        from parquet_spark.sources.arrow_scan import plan_arrow_splits

        spark, d = self.spark, os.path.join(self.work, f"probe-{t.name}")
        df = spark.read.parquet(t.path)
        par = spark.sparkContext.defaultParallelism

        _, scan = self.timed("sources.scan", t.name, lambda: _noop(df))
        _, feed = self.timed("sources.feed", t.name, lambda: _noop(df.mapInArrow(_identity, df.schema)))
        splits, plan = self.timed("sources.plan", t.name, lambda: plan_arrow_splits(t.path, par))
        self.add("sources.scan_s", scan)
        self.add("sources.feed_s", feed - scan)
        self.add("sources.plan_s", plan)
        self.add("sources.splits", len(splits))

        block = _first_block(t.path, t.columns, 16384)
        _, choose = self.timed("stats.choose", t.name, lambda: choose_codecs(block))
        self.add("stats.choose_s", choose)

        _, table_s = self.timed("operators.encode.table", t.name, lambda: _noop(encode_table(df, codecs=t.codecs)))
        _, sink = self.timed(
            "operators.encode.sink", t.name,
            lambda: encode_table(df, codecs=t.codecs).write.mode("overwrite").parquet(os.path.join(d, "sink")),
        )
        path = os.path.join(d, "table")
        summary, write = self.timed(
            "operators.encode.write_encoded", t.name,
            lambda: write_encoded(df, path, codecs=t.codecs, resume=False, **WRITE_ARGS.get(t.name, {})),
        )
        self.add("operators.encode.table_s", table_s)
        self.add("operators.encode.sink_s", sink - table_s)
        self.add("operators.encode.commit_s", write - sink)
        self.add("operators.encode.buckets", summary["buckets_total"])

        snap, snap_s = self.timed("tablefs.read_snapshot", t.name, lambda: read_snapshot(path))
        rows, man_s = self.timed("tablefs.read_manifest", t.name, lambda: read_manifest(spark, path).collect())
        self.add("tablefs.read_snapshot_s", snap_s)
        self.add("tablefs.read_manifest_s", man_s)
        self.state["modes"].append(snap["bucket_mode"])
        for r in rows:
            acc = self.man_bytes.setdefault(r["column"], [0, 0])
            acc[0] += r["enc_bytes"]
            acc[1] += r["raw_bytes"]
            c = name_safe(r["codec"])
            self.blocks[c] = self.blocks.get(c, 0) + 1

        _, full = self.timed(
            "operators.decode.full", t.name,
            lambda: read_encoded(spark, path).agg(*[F.count(F.col(c)) for c in t.columns]).collect(),
        )
        n_sel, sel = self.timed(
            "operators.decode.selective", t.name, lambda: read_encoded(spark, path, where=t.where).count()
        )
        self.add("operators.decode.full_s", full)
        self.add("operators.decode.selective_s", sel)
        self.add("operators.decode.blocks_overlap", _overlaps(rows, t.where))
        self.loop.attempted += 1
        want = _expected_rows(t.path, t.where)
        if n_sel != want:
            self.loop.failed += 1
            self.loop.log(f"selective read of {t.name}: {n_sel} rows, want {want}")

        _, ref = self.timed(
            "ref.parquet_write", t.name,
            lambda: df.write.mode("overwrite").option("compression", "snappy").parquet(os.path.join(d, "ref")),
        )
        self.add("ref.parquet_write_s", ref)
        _kernel_times(os.path.join(path, snap.get("data_dir", "data")), t, self.kernels)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spark, tracer, loop, inp, ops, state: dict, work: str):
    """Runs the probes, reads the event log, and returns
    ({name: (value, unit)}, EventLog)."""
    from tracing import EventLog

    tracer.active = True
    p = Probes(spark, tracer, loop, state, work)
    for t in inp.tables:
        p.table(t)
    events = EventLog(spark.sparkContext)

    out: dict[str, tuple] = {}
    for k in ("sources.scan_s", "sources.feed_s", "sources.plan_s", "stats.choose_s",
              "operators.encode.table_s", "operators.encode.sink_s", "operators.encode.commit_s",
              "tablefs.read_snapshot_s", "tablefs.read_manifest_s", "operators.decode.full_s",
              "operators.decode.selective_s", "ref.parquet_write_s"):
        out[k] = (p.m[k], "s")
    for k in ("sources.splits", "operators.encode.buckets", "operators.decode.blocks_overlap"):
        out[k] = (int(p.m[k]), "count")

    # job/stage/task counts, by span, from the status tracker
    for layer, names in (("operators.encode", ["operators.encode.write_encoded"]),
                         ("operators.decode", ["operators.decode.full", "operators.decode.selective"])):
        recs = [r for n in names for r in p.spans[n]]
        for c in ("jobs", "stages", "tasks"):
            out[f"{layer}.{c}"] = (sum(r[c] for r in recs), "count")
    sel = [r["id"] for r in p.spans["operators.decode.selective"]]
    out["operators.decode.blocks_read"] = (events.span_metrics(sel)["records_read"], "count")

    # codec kernels and manifest byte ratios
    for c in CODECS:
        enc_s, dec_s, nbytes = p.kernels.get(c, (0.0, 0.0, 0))
        out[f"codecs.{c}.encode_mb_s"] = (nbytes / 1e6 / enc_s if enc_s else 0.0, "MB/s")
        out[f"codecs.{c}.decode_mb_s"] = (nbytes / 1e6 / dec_s if dec_s else 0.0, "MB/s")
        out[f"codecs.blocks.{c}"] = (p.blocks.get(c, 0), "count")
    for col in COLUMNS:
        enc, raw = p.man_bytes.get(col, (0, 0))
        out[f"codecs.{col}.enc_ratio"] = (enc / raw if raw else 0.0, "ratio")

    # the workload's own ops: path, decisions, Spark task metrics, overhead
    shapes = []
    for role, op in zip(("engine", "ref"), ops):
        recs = loop.traced.get(op.name, [])
        per_op = []
        for r in recs:
            groups = [s["id"] for s in tracer.subtree(r)]
            per_op.append((r, events.span_metrics(groups), events.job_seconds(groups)))
            if role == "engine":  # one shape per engine call that ran Spark jobs
                for c in (s for s in tracer.spans if s["parent"] == r["id"]):
                    shapes.append(events.plan_shape([s["id"] for s in tracer.subtree(c)]))
        for m in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb"):
            out[f"spark.{role}.{m}"] = (_med([x[1][m] for x in per_op]), "s" if m.endswith("_s") else "MB")
        out[f"spark.{role}.failed_tasks"] = (sum(x[1]["failed_tasks"] for x in per_op), "count")
        wall = [r["end"] - r["start"] for r in recs]
        out[f"ops.{role}_s"] = (_med(loop.times.get(op.name, [])), "s")
        out[f"trace.{role}.unattributed_s"] = (_med([tracer.self_time(r) for r in recs]), "s")
        out[f"trace.{role}.outside_jobs_s"] = (_med([w - x[2] for w, x in zip(wall, per_op)]), "s")
        out[f"trace.{role}.overhead_s"] = (_med(wall) - _med(loop.untraced_times.get(op.name, [])), "s")
    out["sources.fused_ops"] = (shapes.count("fused"), "count")
    out["sources.filescan_ops"] = (shapes.count("filescan"), "count")
    for mode in ("arrow", "partition", "salted"):
        out[f"operators.encode.mode_{mode}"] = (state["modes"].count(mode), "count")
    return out, events
