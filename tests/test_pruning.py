"""Physical-plan checks: decode projections must prune unread payload
columns at the parquet scan (Catalyst column pruning through mapInArrow),
and encode must stay a single shuffle."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def encoded_table(spark, tmp_path_factory):
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path_factory.mktemp("enc") / "table")
    df = sequences_df(spark, 3000, seed=9, n_partitions=2)
    write_encoded(df, path, target_partitions=4, resume=False)
    return path


def test_decode_projection_prunes_scan(spark, tmp_path):
    """Column pruning must hold on BOTH decode paths (r6 session 2: bare
    reads fuse the blocks scan into the decode task via pyarrow, so there
    is no parquet-scan ReadSchema to inspect). The behavioral proof:
    corrupt the heavy `tokens` payloads in place — a projection that does
    not ask for them must succeed (their bytes are never read/decoded),
    while a full read must fail on the garbage."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import read_snapshot, write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "table")
    df = sequences_df(spark, 3000, seed=9, n_partitions=2)
    write_encoded(df, path, target_partitions=4, resume=False)
    want_sum = df.agg(F.sum("n_tok")).collect()[0][0]
    data_dir = os.path.join(path, read_snapshot(path).get("data_dir", "data"))
    for part in sorted(os.listdir(data_dir)):
        if not part.endswith(".parquet"):
            continue
        f = os.path.join(data_dir, part)
        tbl = pq.read_table(f)
        idx = tbl.column_names.index("tokens")
        garbage = pa.array([b"\xde\xad\xbe\xef"] * len(tbl), pa.binary())
        pq.write_table(tbl.set_column(idx, "tokens", garbage), f)
    proj = read_encoded(spark, path, columns=["n_tok"])
    assert proj.agg(F.sum("n_tok")).collect()[0][0] == want_sum
    with pytest.raises(Exception, match="corrupt block payload"):
        read_encoded(spark, path).count()


def test_decode_pruned_read_scan_has_readschema(spark, encoded_table):
    """Pruned (`where=`) reads that keep the Spark blocks scan (here under
    ignoreCorruptFiles): Catalyst column pruning must reach the parquet
    ReadSchema: only the projected payload column and the stats/filter
    columns it needs, not the heavy unasked-for payloads."""
    from parquet_spark.operators.decode import read_encoded

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        proj = read_encoded(
            spark, encoded_table, columns=["n_tok"], where=("doc_id", ">", -1)
        )
        plan = proj._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    rs = read_schema[0]
    assert "n_tok" in rs
    assert "tokens" not in rs, rs


def test_decode_full_reads_all_payloads(spark, encoded_table):
    from parquet_spark.operators.decode import read_encoded

    full = read_encoded(spark, encoded_table)
    # bare reads take the fused pyarrow blocks scan: Range feed, no
    # parquet scan node (equivalence with the Spark-scan decode is pinned
    # in test_fused_decode.py)
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan
    assert full.columns == ["doc_id", "tokens", "n_tok", "source"]
    assert full.count() == 3000


def test_encode_is_single_shuffle(spark):
    from parquet_spark.operators.encode import encode_table
    from parquet_spark.operators.repartition import salted_repartition
    from parquet_spark.sources.synth import sequences_df

    df = sequences_df(spark, 2000, seed=9, n_partitions=2)
    salted = salted_repartition(df, 4)
    blocks = encode_table(salted)
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    # exactly one Exchange moving the data (the salted repartition), and
    # no join: the bucket is the partition id, not a looked-up plan
    n_exchange = sum(
        1 for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
    )
    assert n_exchange == 1, plan
    assert "BroadcastExchange" not in plan and "Join" not in plan, plan


def test_pipeline_joins_broadcast_small_side(spark):
    from parquet_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    knn = similarity.knn_bruteforce(emb, k=5, n_queries=10)
    plan = knn._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
