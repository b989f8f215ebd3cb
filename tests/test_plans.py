"""Encode-plan explain: predictions must match what encode_table actually
chooses (same stats + chooser code on both sides)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


def test_explain_matches_actual_encode(spark):
    from parquet_spark.operators.encode import encode_table, manifest_from_blocks
    from parquet_spark.plans import explain_encode
    from parquet_spark.sources.synth import sequences_df

    df = sequences_df(spark, 4000, seed=3, n_partitions=2)
    plan = {p["column"]: p for p in explain_encode(df)}
    assert set(plan) == {"doc_id", "tokens", "n_tok", "source"}

    man = manifest_from_blocks(encode_table(df))
    actual = {
        r["column"]: r["codec"]
        for r in man.groupBy("column", "codec").count().collect()
    }
    for col, predicted in plan.items():
        pc, ac = predicted["codec"], actual[col]
        # list columns report as list<child codec>; chooser runs per block so
        # the plan (one global sample) must agree on the codec family
        assert pc.split("<")[0] == ac.split("<")[0] or pc == ac, (col, pc, ac)


def test_plan_summary_formatting(spark):
    from parquet_spark.plans import plan_summary
    from parquet_spark.sources.synth import sequences_df

    s = plan_summary(sequences_df(spark, 1000, seed=3, n_partitions=1))
    assert s.startswith("== Encode Plan")
    assert "tokens" in s and "doc_id" in s


def test_explain_reasons_are_populated(spark):
    from parquet_spark.plans import explain_encode

    df = spark.range(10000).select(
        (F.col("id") % 8).alias("low_card"),
        (F.col("id") + 1000000).alias("narrow_range"),
        F.concat(F.lit("user-"), F.col("id")).alias("prefixed"),
        (F.col("id") < 5000).alias("flag"),
    )
    plan = {p["column"]: p for p in explain_encode(df)}
    assert all(p["reason"] for p in plan.values())
    assert plan["low_card"]["codec"] in ("dict", "for_bp", "rle")
    # sequential narrow-range ints: delta_bp (2-bit zigzag deltas) now
    # beats for_bp (14-bit offsets); either is a sound choice
    assert plan["narrow_range"]["codec"] in ("for_bp", "delta_bp")
    assert plan["flag"]["codec"] == "plain" and plan["flag"]["est_bytes_per_value"] == 0.125


def test_encode_pipeline_single_shuffle(spark):
    """The 100-TB shape claim in README: write_encoded's lineage is ONE
    wide shuffle (the salted repartition) followed by a mapInArrow encode
    — no hidden Exchange is allowed to sneak in between."""
    from parquet_spark.operators.encode import encode_table
    from parquet_spark.operators.repartition import salted_repartition
    from parquet_spark.sources.synth import sequences_df

    df = sequences_df(spark, 2000, seed=3, n_partitions=4)
    salted = salted_repartition(df, 8)
    plan = encode_table(salted)._jdf.queryExecution().executedPlan().toString()
    n_shuffles = plan.count("Exchange ") - plan.count("BroadcastExchange ")
    assert n_shuffles == 1, plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "mapInArrow" in plan, plan


def test_explain_partitioning_modes(spark, tmp_path):
    from parquet_spark.plans import explain_partitioning, plan_summary
    from parquet_spark.sources.synth import sequences_df, write_sequences

    p = str(tmp_path / "seqs")
    write_sequences(spark, p, 2000, seed=2, n_partitions=4)
    scan = spark.read.parquet(p)
    line = explain_partitioning(scan, target_partitions=4)
    # bare scan now predicts the Arrow fused feed (r6); never underuse
    assert "arrow" in line or "zero-shuffle" in line
    assert "salted shuffle" in explain_partitioning(scan.coalesce(1), target_partitions=64)
    # a generated df is row-local over a LogicalRDD with 8 <= 8 partitions:
    # encoded in place, no probe job
    gen = sequences_df(spark, 1000, seed=3, n_partitions=8)
    assert "zero-shuffle" in explain_partitioning(gen, target_partitions=8)
    assert "partitioning:" in plan_summary(scan)
