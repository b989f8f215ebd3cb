"""The benchmark's workloads: seeded input generation, the timed ops, and
the untimed checks of every op's output.

Each workload has one engine op and one reference op, Spark's own snappy
parquet write of the same input. The loop in `run.py` alternates them,
so each pair samples the same stretch of host load:

- `seq_ingest`: `write_encoded` of a nested token table. Write path
  only: no decode runs in a timed op.
- `flat_roundtrip`: `roundtrip_auto_all` (lineitem) then
  `roundtrip_fsst_text` (documents) from `__spark_entry__.queries()`,
  each followed by a count. Encode and decode kernels, the fused Arrow
  scan (lineitem is above the fused-row gate) and the Spark feed
  (documents is below it); no table IO or commit.

Inputs are written inside the work directory, from the seed alone.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

# Default input sizes. seq_rows is at the engine's fused-row gate
# (arrow_scan.MIN_FUSED_ROWS, 200k rows and up) so write_encoded takes the
# path it takes on the 300k-row table of bench.py; lineitem_rows is above
# it and documents below it, so flat_roundtrip covers both sides of it.
SIZES = {
    "seq_rows": 200_000,
    "seq_mean_tokens": 32,
    "seq_files": 8,
    "lineitem_rows": 300_000,
    "documents": 9_000,
}

LINEITEM_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"]
DOCUMENTS_COLS = ["doc_id", "text"]
_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


class CheckFailed(Exception):
    """An op returned, but its output is wrong."""


@dataclass
class Op:
    name: str
    run: Callable[[int], object]  # op number -> output
    check: Callable[[object], None]  # raises on a wrong output


@dataclass
class Table:
    """One input table of a workload, as the layer probes see it."""

    name: str
    path: str
    columns: list[str]
    rows: int
    raw_bytes: int
    parquet_bytes: int
    codecs: dict | None
    where: list[tuple]  # a ~1% range predicate, for the selective-read probe


@dataclass
class Inputs:
    tables: list[Table]
    extra: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith((".crc", "_SUCCESS")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _range_where(col: str, sorted_vals: np.ndarray, rng: np.random.Generator) -> list[tuple]:
    n = len(sorted_vals)
    width = max(1, n // 100)
    lo = int(rng.integers(0, max(1, n - width)))
    vlo, vhi = sorted_vals[lo], sorted_vals[min(n - 1, lo + width)]
    if isinstance(vlo, np.generic):
        vlo, vhi = vlo.item(), vhi.item()
    return [(col, ">=", vlo), (col, "<=", vhi)]


def _table(name, path, columns, codecs, where_col, rng) -> Table:
    t = pq.read_table(path, columns=columns)
    keys = np.sort(t.column(where_col).to_numpy(zero_copy_only=False))
    return Table(
        name=name, path=path, columns=columns, rows=t.num_rows, raw_bytes=t.nbytes,
        parquet_bytes=dir_bytes(path), codecs=codecs,
        where=_range_where(where_col, keys, rng),
    )


def _check_parquet_rows(path: str, t: Table) -> None:
    """Rows in Spark's parquet output equal the input's; removes the output."""
    files = [f for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
    rows = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in files)
    shutil.rmtree(path, ignore_errors=True)
    if rows != t.rows:
        raise CheckFailed(f"reference parquet of {t.name} has {rows} rows, input {t.rows}")


def checksum(df) -> int:
    """Order-independent checksum of a DataFrame's rows: a sum of 31-bit
    row hashes over every column."""
    from pyspark.sql import functions as F

    return df.agg(F.sum(F.xxhash64(*df.columns).bitwiseAND(0x7FFFFFFF))).collect()[0][0]


# ------------------------------------------------------------ seq_ingest


def prepare_seq(work: str, seed: int, sizes: dict) -> Inputs:
    """The engine's own sequence generator (`synth.generate_batch`, the
    kernel of `write_sequences`), one parquet file per generator
    partition, written driver-side with pyarrow's default snappy."""
    from parquet_spark.sources.synth import generate_batch

    path = os.path.join(work, "seq_input")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n, parts = sizes["seq_rows"], sizes["seq_files"]
    per = -(-n // parts)
    for p in range(parts):
        lo, hi = p * per, min(n, (p + 1) * per)
        batches = [
            generate_batch(s, min(65536, hi - s), seed=seed, mean_tokens=sizes["seq_mean_tokens"])
            for s in range(lo, hi, 65536)
        ]
        pq.write_table(pa.Table.from_batches(batches), os.path.join(path, f"part-{p:05d}.parquet"))
    rng = np.random.default_rng((seed, 1))
    return Inputs([_table("sequences", path, ["doc_id", "tokens", "n_tok", "source"], None, "doc_id", rng)])


def seq_ops(spark, inp: Inputs, work: str, state: dict, tr) -> list[Op]:
    from parquet_spark.operators.encode import read_snapshot, write_encoded

    t = inp.tables[0]
    seq = spark.read.parquet(t.path)

    def encode(i):
        path = os.path.join(work, f"enc-{i}")
        with tr.span("operators.encode.write_encoded"):
            return path, write_encoded(seq, path, resume=False)

    def check_encode(out):
        path, _summary = out
        snap = read_snapshot(path)
        if snap is None:
            raise CheckFailed(f"{path}: no snapshot after write_encoded")
        man = pads.dataset(os.path.join(path, snap.get("manifest_dir", "manifest")), format="parquet").to_table()
        per_col = man.group_by("column").aggregate([("n_values", "sum")])
        got = dict(zip(per_col.column("column").to_pylist(), per_col.column("n_values_sum").to_pylist()))
        want = {c: t.rows for c in t.columns}
        if got != want:
            raise CheckFailed(f"manifest n_values {got} != input rows {want}")
        state["modes"].append(snap.get("bucket_mode"))
        if "enc_bytes" not in state:
            state["enc_bytes"] = int(np.sum(man.column("enc_bytes").to_numpy()))
            state["payload_raw_bytes"] = int(np.sum(man.column("raw_bytes").to_numpy()))
        state["kept"].append(path)  # encoded tables that passed their check
        while len(state["kept"]) > 1:
            shutil.rmtree(state["kept"].pop(0), ignore_errors=True)

    def parquet_write(i):
        path = os.path.join(work, f"pq-{i}")
        with tr.span("ref.parquet_write"):
            seq.write.mode("overwrite").option("compression", "snappy").parquet(path)
        return path

    def check_parquet(path):
        _check_parquet_rows(path, t)

    return [Op("write_encoded", encode, check_encode), Op("parquet_write", parquet_write, check_parquet)]


CRC_COLS = ["doc_id", "tokens"]  # what bench.py's roundtrip_crc_match compares


def seq_facts(spark, inp: Inputs, state: dict) -> None:
    state["input_crc"] = checksum(spark.read.parquet(inp.tables[0].path).select(*CRC_COLS))


def seq_finish(spark, inp: Inputs, state: dict) -> tuple[bool, float, float]:
    """Decoded-vs-input checksum over doc_id and tokens, on the last table
    that passed its check; and the byte counts of the first one."""
    from parquet_spark.operators.decode import read_encoded

    ok = bool(state["kept"]) and checksum(
        read_encoded(spark, state["kept"][-1]).select(*CRC_COLS)
    ) == state["input_crc"]
    return ok, state.get("enc_bytes", math.nan), state.get("payload_raw_bytes", math.nan)


# -------------------------------------------------------- flat_roundtrip


def prepare_flat(work: str, seed: int, sizes: dict) -> Inputs:
    """sf0.1-shaped `lineitem` and `documents` projections (the columns
    the two roundtrip queries read), drawn from the seed with the value
    distributions of the repository's sf0.1 test tables. lineitem is
    written in 8 row groups, the layout tools/gen_sf_big.py writes."""
    d = os.path.join(work, "flat")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = np.random.default_rng((seed, 2))
    n = sizes["lineitem_rows"]
    li = pa.table({
        "l_orderkey": rng.integers(0, max(1, n // 4), n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
    })
    li_path = os.path.join(d, "lineitem.parquet")
    pq.write_table(li, li_path, row_group_size=n // 8 + 1)
    m = sizes["documents"]
    n_words = rng.integers(10, 101, m)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    text = [" ".join(words[e - k:e]) for e, k in zip(ends, n_words)]
    docs = pa.table({"doc_id": np.arange(m, dtype=np.int64), "text": text})
    doc_path = os.path.join(d, "documents.parquet")
    pq.write_table(docs, doc_path)
    wr = np.random.default_rng((seed, 3))
    return Inputs(
        [
            _table("lineitem", li_path, LINEITEM_COLS, None, "l_orderkey", wr),
            _table("documents", doc_path, DOCUMENTS_COLS, {"text": "fsst"}, "doc_id", wr),
        ],
        {"dir": d},
    )


def flat_ops(spark, inp: Inputs, work: str, state: dict, tr) -> list[Op]:
    from pyspark.sql import functions as F

    from __spark_entry__ import queries

    q = queries()
    plan = list(zip(("roundtrip_auto_all", "roundtrip_fsst_text"), inp.tables))

    def roundtrips(i):
        counts = []
        for qname, _t in plan:
            with tr.span(f"queries.{qname}"):
                df = q[qname](spark, inp.extra["dir"])
            with tr.span("spark.count"):
                counts.append(df.agg(F.count("*")).collect()[0][0])
        return counts

    def check_roundtrips(counts):
        want = [t.rows for _q, t in plan]
        if counts != want:
            raise CheckFailed(f"roundtrips returned {counts} rows, inputs {want}")

    def parquet_write(i):
        paths = []
        with tr.span("ref.parquet_write"):
            for t in inp.tables:
                paths.append(os.path.join(work, f"pq-{t.name}-{i}"))
                spark.read.parquet(t.path).write.mode("overwrite").option("compression", "snappy").parquet(paths[-1])
        return paths

    def check_parquet(paths):
        for t, path in zip(inp.tables, paths):
            _check_parquet_rows(path, t)

    return [Op("roundtrips", roundtrips, check_roundtrips), Op("parquet_write", parquet_write, check_parquet)]


def flat_facts(spark, inp: Inputs, state: dict) -> None:
    """Encoded payload bytes and Arrow raw bytes of both projections, with
    the queries' codec settings: `blocks.encode_array` on the engine's
    default block size, driver-side (no Spark job)."""
    from parquet_spark.codecs.blocks import encode_array
    from parquet_spark.operators.encode import DEFAULT_BLOCK_ROWS

    enc = raw = 0
    for t in inp.tables:
        tbl = pq.read_table(t.path, columns=t.columns)
        for lo in range(0, tbl.num_rows, DEFAULT_BLOCK_ROWS):
            block = tbl.slice(lo, DEFAULT_BLOCK_ROWS)
            for col in t.columns:
                arr = block.column(col).combine_chunks()
                enc += len(encode_array(arr, codec=(t.codecs or {}).get(col)))
                raw += arr.nbytes
    state["enc_bytes"], state["payload_raw_bytes"] = enc, raw


def flat_finish(spark, inp: Inputs, state: dict) -> tuple[bool, float, float]:
    # each roundtrip op's row counts were checked as it ran
    return True, state["enc_bytes"], state["payload_raw_bytes"]


@dataclass
class Workload:
    prepare: Callable  # (work, seed, sizes) -> Inputs; timed, repeated
    facts: Callable  # (spark, inputs, state); untimed reference facts, once
    ops: Callable  # (spark, inputs, work, state, tracer) -> [engine op, reference op]
    finish: Callable  # (spark, inputs, state) -> (checksum ok, encoded bytes, raw bytes)


WORKLOADS = {
    "seq_ingest": Workload(prepare_seq, seq_facts, seq_ops, seq_finish),
    "flat_roundtrip": Workload(prepare_flat, flat_facts, flat_ops, flat_finish),
}
