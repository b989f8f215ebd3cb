"""Smoke test of the benchmark harness at tiny input sizes.

    python3 -m pytest perfbench/tests -q

Checks that every metric BENCHMARK.json names is printed with its unit,
that the output checks run, and that a forced bad output fails the run.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run as bench  # noqa: E402

bench.WARMUP_S = 0.0  # tiny inputs: the warm-up cycles are enough
TINY = {"seq_rows": 3000, "seq_mean_tokens": 16, "seq_files": 2, "lineitem_rows": 4000, "documents": 300}
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = bench.start_session(work, event_log=True)
    yield spark, work
    bench.stop_session(spark)


def _run(session, workload: str, trace: bool) -> dict:
    spark, work = session
    d = os.path.join(work, f"{workload}-{int(trace)}-{len(os.listdir(work))}")
    os.makedirs(d)
    out = bench.run(spark, workload, seed=3, seconds=0.1, trace=trace, work=d, sizes=TINY)
    json.dumps(out)  # the result must be printable as JSON
    return out


def _assert_metrics(out: dict, spec: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 4
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    for name, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), name


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_end_to_end_metrics_print_with_units(session, workload):
    out = _run(session, workload, trace=False)
    _assert_metrics(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_per_layer_metrics_print_with_units(session, workload):
    out = _run(session, workload, trace=True)
    _assert_metrics(out, SPEC["per_layer"])
    assert out["metrics"]["operators.encode.jobs"]["value"] >= 1
    assert out["metrics"]["spark.engine.task_run_s"]["value"] > 0


def test_forced_bad_write_fails_the_run(session, monkeypatch):
    import parquet_spark.operators.encode as enc

    real = enc.write_encoded

    def drops_a_row(df, path, **kw):
        return real(df.limit(max(df.count() - 1, 0)), path, **kw)

    monkeypatch.setattr(enc, "write_encoded", drops_a_row)
    out = _run(session, "seq_ingest", trace=False)
    assert out["correct"] is False
    assert out["failed"] >= 1
    assert out["metrics"]["vs_parquet"]["value"] is None  # no write passed its check


def test_forced_bad_roundtrip_fails_the_run(session, monkeypatch):
    import __spark_entry__

    real = __spark_entry__.queries

    def short_queries():
        q = dict(real())
        rt = q["roundtrip_fsst_text"]
        q["roundtrip_fsst_text"] = lambda spark, d: rt(spark, d).where("doc_id > 0")
        return q

    monkeypatch.setattr(__spark_entry__, "queries", short_queries)
    out = _run(session, "flat_roundtrip", trace=False)
    assert out["correct"] is False
    assert out["failed"] >= 1


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        SPEC["command"] + ["--workload", "seq_ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
