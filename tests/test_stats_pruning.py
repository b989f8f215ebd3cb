"""Per-block min/max statistics (reference page-statistics analogue,
parquet.go:164-169) and stats-backed block pruning on decode."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_blocks_carry_typed_minmax(spark):
    from parquet_spark.operators.encode import encode_table
    from parquet_spark.sources.synth import sequences_df

    df = sequences_df(spark, 3000, seed=5, n_partitions=2)
    blocks = encode_table(df)
    row = blocks.select("_min_n_tok", "_max_n_tok", "_min_doc_id", "_max_doc_id").first()
    assert row["_min_n_tok"] <= row["_max_n_tok"]
    assert row["_min_doc_id"] <= row["_max_doc_id"]


def test_manifest_carries_vmin_vmax(spark, tmp_path):
    from parquet_spark.operators.decode import read_manifest
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t")
    write_encoded(sequences_df(spark, 2000, seed=5, n_partitions=2), path, target_partitions=4, resume=False)
    m = read_manifest(spark, path).where("column = 'n_tok'")
    r = m.select(F.min("vmin").isNotNull().alias("has_min"), F.min("vmax").isNotNull().alias("has_max")).first()
    assert r["has_min"] and r["has_max"]


def test_block_pruning_skips_blocks(spark):
    from parquet_spark.operators.decode import _block_keep_condition
    from parquet_spark.operators.encode import encode_table
    from parquet_spark.sources.synth import sequences_df

    # `row` is monotone within each generated partition, so small blocks
    # have tight, disjoint ranges — the clustered case pruning is built for
    df = sequences_df(spark, 20000, seed=5, n_partitions=2).withColumn(
        "row", F.substring("doc_id", 7, 12).cast("long")
    )
    blocks = encode_table(df, block_rows=2048).cache()
    total = blocks.count()
    kept = blocks.where(_block_keep_condition("row", ">", 17000)).count()
    assert kept < total, (kept, total)
    blocks.unpersist()


def test_where_equals_decode_then_filter(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t2")
    df = sequences_df(spark, 4000, seed=6, n_partitions=2)
    write_encoded(df, path, target_partitions=4, resume=False)
    want = sorted(
        r["doc_id"] for r in read_encoded(spark, path).where("n_tok > 400").select("doc_id").collect()
    )
    got = sorted(r["doc_id"] for r in read_encoded(spark, path, where=("n_tok", ">", 400)).select("doc_id").collect())
    assert got == want and len(got) > 0
    # projection + where on a column outside the projection
    got2 = read_encoded(spark, path, columns=["doc_id"], where=("n_tok", ">", 400))
    assert got2.columns == ["doc_id"]
    assert sorted(r["doc_id"] for r in got2.collect()) == want
    # string predicate
    w_src = sorted(
        r["doc_id"] for r in read_encoded(spark, path).where("source = 'src0'").select("doc_id").collect()
    )
    g_src = sorted(
        r["doc_id"]
        for r in read_encoded(spark, path, columns=["doc_id"], where=("source", "=", "src0")).collect()
    )
    assert g_src == w_src


def _pushed_filters(plan: str) -> str:
    """The `PushedFilters: [...]` list of the plan's scan; Spark cuts a
    long list short with `...`."""
    import re

    m = re.search(r"PushedFilters: \[(.*?)(?:\]|\.\.\.)(?:, |$)", plan, re.M)
    assert m, plan
    return m.group(1)


def test_where_predicate_is_pushed_to_scan(spark, tmp_path):
    """Reads that keep the Spark scan (here under ignoreCorruptFiles)
    prune with `_block_keep_condition`, which Spark pushes into the
    parquet scan of the blocks."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t3")
    write_encoded(sequences_df(spark, 2000, seed=7, n_partitions=2), path, target_partitions=4, resume=False)
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        for where, stats_col in (
            (("n_tok", ">", 100), "_max_n_tok"),
            (("n_tok", "in", [5, 50, 500]), "_min_n_tok"),
            # more than 16 candidates: EXISTS plus the pushable envelope
            (("n_tok", "in", list(range(20))), "_min_n_tok"),
            (("source", "=", "src3"), "_min_source"),
        ):
            plan = read_encoded(spark, path, where=where)._jdf.queryExecution().executedPlan().toString()
            assert "Range (" not in plan, plan
            pushed = _pushed_filters(plan)
            assert pushed.strip() and stats_col in pushed, (where, plan)
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")


def test_where_bad_inputs(spark, tmp_path):
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "t4")
    write_encoded(sequences_df(spark, 500, seed=8, n_partitions=1), path, target_partitions=2, resume=False)
    with pytest.raises(KeyError):
        read_encoded(spark, path, where=("nope", ">", 1))
    with pytest.raises(ValueError):
        read_encoded(spark, path, where=("n_tok", "like", 1))


def test_cluster_col_makes_pruning_effective(spark, tmp_path):
    """With cluster_col, blocks inside each bucket carry tight disjoint
    ranges, so a selective range predicate prunes most block rows."""
    from parquet_spark.operators.decode import _block_keep_condition, read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "tc")
    # ~20 buckets (>=1 per source) x many 512-row blocks; the predicate's
    # rows live in ~1 block per bucket, so kept ~= n_buckets << n_blocks
    df = sequences_df(spark, 60000, seed=9, n_partitions=4)
    write_encoded(df, path, target_partitions=4, block_rows=512, resume=False, cluster_col="n_tok")
    blocks = spark.read.parquet(path + "/data").cache()
    total = blocks.count()
    hi = df.agg(F.expr("percentile_approx(n_tok, 0.98)")).collect()[0][0]
    kept = blocks.where(_block_keep_condition("n_tok", ">", int(hi))).count()
    assert kept < total / 2, (kept, total)
    # and results still exact
    want = df.where(f"n_tok > {int(hi)}").count()
    got = read_encoded(spark, path, where=("n_tok", ">", int(hi))).count()
    assert got == want
    blocks.unpersist()


def test_nan_blocks_not_pruned(spark, tmp_path):
    """Spark orders NaN above every double: a block whose only rows
    matching (x > v) are NaN must survive pruning, and an all-NaN block
    must still prune for '<'. Pruned results == decode-then-filter."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded

    rows = (
        [(i, 1.0 + i * 0.001) for i in range(3000)]            # low block(s)
        + [(10_000 + i, float("nan")) for i in range(3000)]    # all-NaN block
    )
    df = spark.createDataFrame(rows, "doc_id long, x double").repartition(1)
    path = str(tmp_path / "nan_t")
    write_encoded(
        df, path, target_partitions=1, block_rows=1024, resume=False,
        source_col="doc_id % 2", salt_key="doc_id", weight_col=None, cluster_col="x",
    )
    plain = read_encoded(spark, path)
    for op, v in ((">", 100.0), (">=", 100.0), ("<", 0.5), ("<", 2.0), ("=", 1.5)):
        got = sorted(r["doc_id"] for r in read_encoded(spark, path, where=("x", op, v)).collect())
        want = sorted(
            r["doc_id"] for r in plain.where(f"x {'=' if op == '=' else op} {v}").collect()
        )
        assert got == want, (op, v, len(got), len(want))
    # NaN rows really are returned for > (Spark NaN-largest semantics)
    assert len(read_encoded(spark, path, where=("x", ">", 100.0)).collect()) == 3000


def test_where_filter_handles_dates_and_quotes(spark, tmp_path):
    """Typed Column filter (not SQL text): date literals and strings with
    quotes must round-trip through read_encoded(where=...)."""
    import datetime

    from pyspark.sql import functions as F

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.date_add(F.lit(datetime.date(2020, 1, 1)), F.col("id").cast("int")).alias("d"),
        F.concat(F.lit("it's \""), F.col("id").cast("string")).alias("s"),
    )
    path = str(tmp_path / "dq_t")
    write_encoded(df, path, target_partitions=2, block_rows=64, resume=False,
                  source_col="doc_id % 2", salt_key="doc_id", weight_col=None)
    got = read_encoded(spark, path, where=("d", ">", datetime.date(2020, 6, 1))).count()
    want = df.where(F.col("d") > F.lit(datetime.date(2020, 6, 1))).count()
    assert got == want > 0
    got_s = read_encoded(spark, path, where=("s", "=", "it's \"7")).collect()
    assert [r["doc_id"] for r in got_s] == [7]


def test_where_multi_predicate(spark, tmp_path):
    """A list of (col, op, value) predicates ANDs together: each one both
    prunes blocks by its min/max and filters rows; results must equal
    decode-then-filter."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "mp_t")
    df = sequences_df(spark, 4000, seed=8, n_partitions=2)
    write_encoded(df, path, target_partitions=4, block_rows=512, resume=False)
    plain = read_encoded(spark, path)
    want = sorted(
        r["doc_id"]
        for r in plain.where("n_tok > 300 AND n_tok <= 450").select("doc_id").collect()
    )
    got = sorted(
        r["doc_id"]
        for r in read_encoded(
            spark, path, where=[("n_tok", ">", 300), ("n_tok", "<=", 450)]
        ).select("doc_id").collect()
    )
    assert got == want and len(got) > 0


def test_where_in_and_not_equal(spark, tmp_path):
    """`in` (iterable of candidates) and `!=` predicates: block pruning
    keeps any block whose [vmin, vmax] could hold a candidate ('in') or
    isn't pinned to the excluded value ('!='); results equal
    decode-then-filter."""
    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.sources.synth import sequences_df

    path = str(tmp_path / "in_t")
    df = sequences_df(spark, 4000, seed=9, n_partitions=2)
    write_encoded(df, path, target_partitions=4, block_rows=512, resume=False)
    plain = read_encoded(spark, path)

    want_in = sorted(
        r["doc_id"] for r in plain.where("source IN ('src0', 'src7')").select("doc_id").collect()
    )
    got_in = sorted(
        r["doc_id"]
        for r in read_encoded(spark, path, where=("source", "in", ["src0", "src7"]))
        .select("doc_id").collect()
    )
    assert got_in == want_in and len(got_in) > 0

    want_ne = plain.where("source != 'src0'").count()
    got_ne = read_encoded(spark, path, where=("source", "!=", "src0")).count()
    assert got_ne == want_ne > 0

    # empty candidate list: no rows, no error
    assert read_encoded(spark, path, where=("source", "in", [])).count() == 0

    # one-shot generator of candidates: must behave like the list —
    # the predicate is consumed by BOTH block pruning and the row filter,
    # so a drained iterator would silently return zero rows
    gen = (s for s in ["src0", "src7"])
    got_gen = sorted(
        r["doc_id"]
        for r in read_encoded(spark, path, where=("source", "in", gen))
        .select("doc_id").collect()
    )
    assert got_gen == want_in


def test_block_keep_matches_column_form(spark):
    """`block_keep` (Arrow, the fused read and the Data Source reader) and
    `_block_keep_condition` (Spark, the Spark scan and maintain) keep the
    same blocks: every op, int/float/string/date stats, null bounds, NULL
    literals, empty and long `in` lists. On a NaN bound the Arrow rule
    keeps, so there it keeps at least what the Column keeps."""
    import datetime as dt

    import pyarrow as pa

    from parquet_spark.operators.decode import _PRUNE_OPS, _block_keep_condition, block_keep

    d = dt.date
    nan, inf = float("nan"), float("inf")
    bounds = {  # column -> (arrow type, Spark type, [(vmin, vmax)] per block)
        "a": (pa.int32(), "int", [(1, 5), (10, 20), (None, None), (5, 5), (-3, 0), (7, 7)]),
        "x": (pa.float64(), "double", [(1.0, 2.0), (1.0, nan), (nan, nan), (None, None), (-inf, 0.5), (2.0, 2.0)]),
        "s": (pa.string(), "string", [("a", "f"), ("m", "p"), (None, None), ("q", "q"), ("", "b"), ("zz", "zzz")]),
        "d": (pa.date32(), "date", [(d(2020, 1, 1), d(2020, 1, 9)), (d(2021, 5, 1), d(2021, 6, 1)), (None, None),
                                    (d(2020, 1, 9), d(2020, 1, 9)), (d(1999, 1, 1), d(2000, 1, 1)),
                                    (d(2020, 3, 1), d(2020, 3, 2))]),
    }
    values = {
        "a": [0, 5, 12, 25, None],
        "x": [0.5, 1.5, 2.0, 3.0, None],
        "s": ["a", "c", "n", "zz", None],
        "d": [d(2020, 1, 5), d(2020, 1, 9), d(2021, 1, 1), None],
    }
    n = 6
    stats = pa.table({
        f"{k}{c}": pa.array([b[i] for b in blocks], t)
        for c, (t, _st, blocks) in bounds.items() for i, k in enumerate(("_min_", "_max_"))
    })
    cases = []
    for c, vals in values.items():
        for op in sorted(_PRUNE_OPS - {"in"}):
            cases += [(c, op, v) for v in vals]
        cases += [(c, "in", [v]) for v in vals]
        cases += [(c, "in", []), (c, "in", [None]), (c, "in", vals), (c, "in", vals[:2] * 9)]
    cases.append(("a", "in", list(range(100, 130)) + [None, 7]))
    cases.append(("s", "in", [f"k{i}" for i in range(20)] + ["n"]))

    ddl = ", ".join(f"`{k}{c}` {st}" for c, (_t, st, _b) in bounds.items() for k in ("_min_", "_max_"))
    sdf = spark.createDataFrame([(i, *stats.slice(i, 1).to_pylist()[0].values()) for i in range(n)], f"i int, {ddl}")
    rows = sdf.select("i", *[_block_keep_condition(*cs).alias(f"k{j}") for j, cs in enumerate(cases)]).orderBy("i").collect()
    nan_rows = {i for i, (lo, hi) in enumerate(bounds["x"][2]) if lo != lo or hi != hi}
    for j, (c, op, v) in enumerate(cases):
        want = [r[f"k{j}"] for r in rows]
        got = block_keep(stats, [(c, op, v)]).to_pylist()
        assert None not in want, (c, op, v, want)
        for i in range(n):
            if c == "x" and i in nan_rows:
                assert got[i] or not want[i], (c, op, v, i, got, want)
            else:
                assert got[i] == want[i], (c, op, v, i, got, want)
    # a stats column the blocks lack keeps every block
    assert block_keep(stats, [("zz", ">", 1)]).to_pylist() == [True] * n
    # ANDed predicates
    both = block_keep(stats, [("a", ">", 4), ("s", "<", "n")]).to_pylist()
    assert both == [a and s for a, s in zip(block_keep(stats, [("a", ">", 4)]).to_pylist(),
                                            block_keep(stats, [("s", "<", "n")]).to_pylist())]
