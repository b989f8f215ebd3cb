"""Interleaved A/B of the shapes whose feed the fused-feed gate decides.

Times ten ops in two checkouts of this repo, one Spark session per run:

- `write_encoded` of a 100k-row, 8-file nested token table,
- `write_encoded` of a 4k-row, 4-file nested token table,
- `write_encoded` of a filter over the 100k-row, 8-file table,
- `write_encoded` of a filter over a 48k-row, 8-file table,
- `write_encoded` of a filter over a 36k-row, 3-file table whose first
  file carries 8x the `n_tok` weight of the others at the same bytes,
- `write_encoded` of a 200k-row, 4-partition `sequences_df` generator,
- `write_encoded` of that generator joined to a 20-row source lookup, at
  `target_partitions=8`: the join takes salted mode,
- `roundtrip_delta_sorted` at sf0.1 (orders, 150k rows),
- `roundtrip_auto_all` at sf0.01 (lineitem, 60k rows),
- `roundtrip_fsst_text` at sf0.1 (documents, 5k wide rows in one
  590 KB row group).

The filters, the generator and the join take the Spark feed, where
write_encoded picks partition or salted mode. The file sizes put the
three filters on the three outcomes of the split-packing check that
decided before the plan-only rule: a verdict of balanced (1.6 MB per
partition), no verdict with a balanced row probe, and no verdict with a
weight-skewed probe (partitions under 1 MB).

Each run warms every op once, then times it `--reps` times and records
the median, the feed or write mode it took and a CRC of its output
against the input.
Runs alternate between the checkouts, and the first side of each pair
alternates too, so both sides sample the same stretch of host load.

Usage:
  python tools/fused_gate_ab.py pairs <parent_repo> <change_repo> <work_dir> <out.jsonl> [--pairs 10]
  python tools/fused_gate_ab.py run <repo> <work_dir> <side> <pair>   (one session, prints one JSON line)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SCRIPT = os.path.abspath(__file__)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))


def _crc(df, cols):
    from pyspark.sql import functions as F

    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *parts)))).collect()[0][0]


def run(repo: str, work: str, side: str, pair: int, reps: int) -> dict:
    sys.path.insert(0, repo)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"fused-gate-ab-{side}")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from __spark_entry__ import queries
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import sequences_df

    q = queries()
    ops = {}
    sources = {
        name: spark.read.parquet(os.path.join(work, name)) for name in ("write_100k_8files", "write_4k_4files")
    }
    for name, inp in (
        ("write_filter_100k_8files", "write_100k_8files"),
        ("write_filter_48k_8files", "write_48k_8files"),
        ("write_filter_36k_3files_weight_skew", "skew_36k_3files"),
    ):
        sources[name] = spark.read.parquet(os.path.join(work, inp)).where("n_tok % 5 != 0")
    sources["write_gen_200k_4parts"] = sequences_df(spark, 200_000, seed=9, n_partitions=4, mean_tokens=32)
    lookup = spark.createDataFrame([(f"src{i}", i) for i in range(20)], "source string, src_rank int")
    sources["write_join_200k_salted"] = sources["write_gen_200k_4parts"].join(lookup, "source")
    write_args = {"write_join_200k_salted": {"target_partitions": 8}}
    for name, src in sources.items():

        def write(src=src, name=name):
            out = os.path.join(work, f"out-{side}-{name}-{uuid.uuid4().hex[:8]}")
            write_encoded(src, out, resume=False, **write_args.get(name, {}))
            return out

        def check(out, src=src):
            cols = ["doc_id", "tokens"]
            return read_snapshot(out)["bucket_mode"], _crc(read_encoded(spark, out), cols) == _crc(src, cols)

        ops[name] = (write, check)
    for name, sf, table in (
        ("roundtrip_delta_sorted_sf0.1", "sf0.1", "orders"),
        ("roundtrip_auto_all_sf0.01", "sf0.01", "lineitem"),
        ("roundtrip_fsst_text_sf0.1", "sf0.1", "documents"),
    ):
        qname = name.rsplit("_", 1)[0]
        sf_dir = os.path.join(TESTDATA, sf)

        def roundtrip(qname=qname, sf_dir=sf_dir):
            df = q[qname](spark, sf_dir)
            df.count()
            return df

        def check(df, sf_dir=sf_dir, table=table):
            src = spark.read.parquet(f"{sf_dir}/{table}.parquet").select(*df.columns)
            plan = df._jdf.queryExecution().executedPlan().toString()
            return ("fused" if "Range (" in plan else "spark"), _crc(df, df.columns) == _crc(src, df.columns)

        ops[name] = (roundtrip, check)

    def cleanup(out):
        if isinstance(out, str):
            shutil.rmtree(out, ignore_errors=True)

    rec = {"side": side, "pair": pair, "cpus": CPUS, "ops": {}}
    for name, (op, check) in ops.items():
        out = op()  # warm-up, untimed check
        feed, crc_ok = check(out)
        cleanup(out)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = op()
            times.append(time.perf_counter() - t0)
            cleanup(out)
        rec["ops"][name] = {"median_s": statistics.median(times), "times_s": times, "feed": feed, "crc_ok": crc_ok}
    spark.stop()
    return rec


def prepare(repo: str, work: str) -> None:
    sys.path.insert(0, repo)
    from pyspark.sql import SparkSession

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from parquet_spark.sources.arrow_scan import list_parquet_files
    from parquet_spark.sources.synth import write_sequences

    spark = SparkSession.builder.master(f"local[{CPUS}]").config("spark.ui.enabled", "false").getOrCreate()
    write_sequences(spark, os.path.join(work, "write_100k_8files"), 100_000, seed=7, n_partitions=8, mean_tokens=32)
    write_sequences(spark, os.path.join(work, "write_4k_4files"), 4_000, seed=8, n_partitions=4, mean_tokens=32)
    write_sequences(spark, os.path.join(work, "write_48k_8files"), 48_000, seed=11, n_partitions=8, mean_tokens=32)
    skew = os.path.join(work, "skew_36k_3files")
    write_sequences(spark, skew, 36_000, seed=10, n_partitions=3, mean_tokens=32)
    spark.stop()
    # weight skew without byte skew: the first file's rows claim 8x n_tok
    first = list_parquet_files(skew)[0]
    t = pq.read_table(first)
    i = t.schema.get_field_index("n_tok")
    heavy = pc.multiply(t.column(i), pa.scalar(8, t.schema.field(i).type))
    pq.write_table(t.set_column(i, t.schema.field(i), heavy), first)
    # the Hadoop checksum sidecar no longer matches the rewritten file
    os.remove(os.path.join(skew, f".{os.path.basename(first)}.crc"))


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if args[0] == "run":
        _, repo, work, side, pair = args
        print(json.dumps(run(repo, work, side, int(pair), reps)), flush=True)
        return
    _, parent, change, work, out = args[:5]
    n_pairs = int(args[args.index("--pairs") + 1]) if "--pairs" in args else 10
    os.makedirs(work, exist_ok=True)
    if not os.path.exists(os.path.join(work, "skew_36k_3files")):
        subprocess.run([sys.executable, SCRIPT, "prepare", change, work], check=True)
    with open(out, "a") as f:
        for pair in range(n_pairs):
            sides = [("parent", parent), ("change", change)]
            for side, repo in sides if pair % 2 == 0 else sides[::-1]:
                res = subprocess.run(
                    [sys.executable, SCRIPT, "run", repo, work, side, str(pair), "--reps", str(reps)],
                    check=True, capture_output=True, text=True, cwd=repo,
                )
                line = res.stdout.strip().splitlines()[-1]
                f.write(line + "\n")
                f.flush()
                print(line, flush=True)


if __name__ == "__main__":
    if sys.argv[1] == "prepare":
        prepare(sys.argv[2], sys.argv[3])
    else:
        main()
