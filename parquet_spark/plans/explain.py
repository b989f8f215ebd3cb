"""Human-readable encode plans: which codec each column would get and why.

`explain_encode(df)` runs the SAME sampled-stats + chooser code the real
encode path runs inside mapInArrow (parquet_spark/codecs/blocks.py), but on
a driver-side sample, and returns one row per column:

    column | dtype | codec | reason | est_bytes_per_value | ndv_sample | mean_run

This is diagnostic tooling (the `parquetgen -metadata` analogue,
/root/reference/cmd/parquetgen/main.go:36-39 — but *predictive* rather than
after-the-fact): it never scans the full table — one `limit(sample_rows)`
collect, vectorized locally.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from parquet_spark.stats import analyze, chooser
from parquet_spark.util import bit_length


def _int_reason(st: dict, codec: str, itemsize: int) -> str:
    width = bit_length(int(st["vmax"]) - int(st["vmin"]))
    if codec == "for_bp":
        return f"range fits {width} bits after min-subtract (vs {itemsize * 8} plain)"
    if codec == "delta_bp":
        return f"sorted/sequential: zigzag deltas fit {st.get('zz_width', 0)} bits"
    if codec == "rle":
        return f"mean run {st['mean_run']:.1f} >= 4 collapses runs"
    if codec == "dict":
        return f"sampled ndv {st['ndv']}/{st.get('sample_n', st['n'])} is low"
    return "no structure beats fixed-width"


def _plan_for_array(arr: pa.Array) -> dict:
    typ = arr.type
    dense = arr.drop_null() if arr.null_count else arr
    if pa.types.is_list(typ):
        inner = _plan_for_array(dense.flatten())
        inner["codec"] = f"list<{inner['codec']}>"
        inner["reason"] = "per-list lengths + child values; " + inner["reason"]
        return inner
    if pa.types.is_struct(typ):
        subs = {typ.field(i).name: _plan_for_array(dense.field(i)) for i in range(typ.num_fields)}
        return {
            "codec": "struct<" + ",".join(f"{k}:{v['codec']}" for k, v in subs.items()) + ">",
            "reason": "one child block per leaf field, each with its own codec",
            "est_bytes_per_value": round(sum(v["est_bytes_per_value"] for v in subs.values()), 2),
            "ndv_sample": None, "mean_run": None,
        }
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        sa = dense.cast(pa.string()) if pa.types.is_large_string(typ) else dense
        buffers = sa.buffers()
        off = (
            np.frombuffer(buffers[1], dtype=np.int32, count=len(sa) + 1, offset=sa.offset * 4)
            if len(sa)
            else np.zeros(1, np.int32)
        )
        base = int(off[0])
        data = (
            np.frombuffer(buffers[2], dtype=np.uint8, count=int(off[-1]) - base, offset=base)
            if buffers[2] is not None and int(off[-1]) - base > 0
            else np.zeros(0, np.uint8)
        )
        st = analyze.string_stats((off - base).astype(np.int32), data)
        codec = chooser.choose_string_codec(st)
        reason = {
            "dict": f"sampled ndv {st['ndv']}/{st.get('sample_n', st['n'])} is low",
            "fsst": f"avg len {st.get('avg_len', 0):.0f}B, shared substrings pay for a symbol table",
            "plain": "high cardinality — plain + zstd trial beats a symbol table on size and speed",
        }[codec]
        est = {"dict": 2.0, "fsst": st.get("avg_len", 0.0) * 0.6, "plain": st.get("avg_len", 0.0)}[codec]
        return {"codec": codec, "reason": reason, "est_bytes_per_value": round(est, 2),
                "ndv_sample": st["ndv"], "mean_run": None}
    if pa.types.is_boolean(typ):
        return {"codec": "plain", "reason": "1 bit/value bitmap", "est_bytes_per_value": 0.125,
                "ndv_sample": 2, "mean_run": None}
    if pa.types.is_floating(typ):
        from parquet_spark.codecs import alp

        vals = np.asarray(dense)
        st = analyze.block_stats(vals.view(np.uint32 if vals.itemsize == 4 else np.uint64))
        e_alp = alp.find_exponent(vals)
        if e_alp is not None:
            ints = alp.mantissas(vals, e_alp)
            width = bit_length(int(ints.max()) - int(ints.min())) if len(ints) else 0
            return {"codec": "alp", "reason": f"decimal floats: exact x10^{e_alp} mantissas fit {width} bits",
                    "est_bytes_per_value": round(width / 8.0, 2), "ndv_sample": st["ndv"], "mean_run": None}
        codec = chooser.choose_float_codec(st)
        reason = (
            f"sampled ndv {st['ndv']} is low (dict over bit patterns)"
            if codec == "dict"
            else "float payloads are near-unique; plain + general compression"
        )
        return {"codec": codec, "reason": reason, "est_bytes_per_value": float(vals.itemsize),
                "ndv_sample": st["ndv"], "mean_run": round(st["mean_run"], 2)}
    # ints / timestamps / dates
    if pa.types.is_timestamp(typ):
        vals = np.asarray(dense.cast(pa.int64()), dtype=np.int64)
    elif pa.types.is_date32(typ):
        vals = np.asarray(dense.cast(pa.int32()), dtype=np.int32)
    else:
        vals = np.asarray(dense)
    st = analyze.block_stats(vals)
    codec = chooser.choose_int_codec(st, vals.itemsize)
    width = bit_length(int(st["vmax"]) - int(st["vmin"])) if st["n"] else 0
    est = {"plain": float(vals.itemsize), "for_bp": width / 8.0,
           "rle": 3.0 / max(st["mean_run"], 1.0), "dict": max(1, bit_length(max(st["ndv"] - 1, 1))) / 8.0,
           "bitpack": width / 8.0, "delta_bp": st.get("zz_width", 0) / 8.0}[codec]
    return {"codec": codec, "reason": _int_reason(st, codec, vals.itemsize),
            "est_bytes_per_value": round(est, 3), "ndv_sample": st["ndv"],
            "mean_run": round(st["mean_run"], 2)}


def explain_encode(df: DataFrame, sample_rows: int = 16384) -> list[dict]:
    """Per-column predicted codec plan from a driver-side sample."""
    tbl = pa.Table.from_batches(df.limit(sample_rows)._collect_as_arrow())
    out = []
    for i, name in enumerate(tbl.column_names):
        arr = tbl.column(i).combine_chunks()
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
        plan = _plan_for_array(arr)
        plan.update(column=name, dtype=str(tbl.schema.field(i).type))
        out.append(plan)
    return out


def explain_partitioning(
    df: DataFrame, target_partitions: int | None = None, cluster_col: str | None = None
) -> str:
    """One-line account of write_encoded's bucket_mode='auto' choice: it
    formats `encode.write_mode`, the function write_encoded decides with,
    so the first word is the mode write_encoded records: arrow, partition
    or salted. Runs no Spark job."""
    from parquet_spark.operators.encode import write_mode
    from parquet_spark.sources.arrow_scan import fused_task_count, plan_facts

    facts = plan_facts(df)
    mode, fused, reason = write_mode(facts, target_partitions or max(facts.parallelism * 2, 8), cluster_col)
    if fused is not None:
        return (
            f"arrow fused scan+encode: {reason} in {fused_task_count(facts, fused[0])} tasks, "
            f"read with pyarrow in-task (no JVM row feed, no shuffle)"
        )
    if mode == "partition":
        return f"partition mode, zero-shuffle: {reason}"
    return f"salted shuffle: {reason}"


def plan_summary(df: DataFrame, sample_rows: int = 16384) -> str:
    """Formatted multi-line plan (what `.explain("formatted")` is to Catalyst)."""
    rows = explain_encode(df, sample_rows)
    lines = ["== Encode Plan (sampled) =="]
    for r in rows:
        lines.append(
            f"  {r['column']:<20s} {r['dtype']:<16s} -> {r['codec']:<12s} "
            f"~{r['est_bytes_per_value']}B/val  ({r['reason']})"
        )
    lines.append(f"  partitioning: {explain_partitioning(df)}")
    return "\n".join(lines)
