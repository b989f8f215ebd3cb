"""Explicit skew management: salted repartitioning for hot `source` values
and long token arrays (north-rule requirement — AQE alone is not relied on).

The plan: one cheap aggregation computes per-source weight (bytes ≈ sum of
n_tok); each source gets a salt-bucket count proportional to its weight, so
a source holding 30% of all tokens lands in ~30% of the buckets instead of
one hot partition. The bucket id is deterministic in (source, doc_id), which
also makes it the resumable-checkpoint key (operators/encode.py).

The per-source table is tiny (≈ distinct sources) and is broadcast; nothing
here scales with row count except the one distributed agg.

`source_col` / `salt_key` / `weight_col` accept any column expression a
DataFrame can resolve — flat names, dotted struct paths (`info.source`),
or SQL expressions. If the source or weight column doesn't resolve, the
planner degrades to unweighted hash bucketing instead of failing (the skew
defense is an optimization, not a correctness requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.utils import AnalysisException

_SRC = "__src"


def plan_salted_buckets(
    df: DataFrame,
    target_partitions: int,
    source_col: str = "source",
    weight_col: str | None = "n_tok",
) -> list[tuple[str, int, int]]:
    """Returns [(source, bucket_offset, n_salts)]; total buckets ≈
    target_partitions, proportional to per-source weight. A single
    [(None, 0, target_partitions)] entry means "no usable source column —
    hash everything uniformly"."""
    # plain-name columns absent from the frame degrade WITHOUT round-
    # tripping an AnalysisException through the JVM (which logs a scary
    # ERROR even when caught); expressions still take the try/except path
    cols_ci = {c.lower() for c in df.columns}  # Spark resolves case-insensitively
    if weight_col is not None and weight_col.isidentifier() and weight_col.lower() not in cols_ci:
        weight_col = None
    if source_col.isidentifier() and source_col.lower() not in cols_ci:
        return [(None, 0, target_partitions)]
    try:
        w = F.sum(F.expr(weight_col)).alias("w") if weight_col else F.count("*").alias("w")
        rows = df.groupBy(F.expr(source_col).cast("string").alias(_SRC)).agg(w).collect()
    except AnalysisException:
        if weight_col is not None:
            # weight column missing -> retry with row counts
            return plan_salted_buckets(df, target_partitions, source_col, None)
        return [(None, 0, target_partitions)]
    if not rows:  # empty input: uniform hash plan (encode of 0 rows is valid)
        return [(None, 0, target_partitions)]
    rows.sort(key=lambda r: (r[_SRC] is None, r[_SRC]))
    total = sum(r["w"] for r in rows if r["w"] is not None) or 1
    plan: list[tuple[str, int, int]] = []
    offset = 0
    for r in rows:
        k = max(1, round(target_partitions * (r["w"] or 0) / total))
        plan.append((r[_SRC], offset, k))
        offset += k
    return plan


def _hashable_cols(df: DataFrame) -> list:
    """Columns usable inside xxhash64 — Spark forbids hashing MAP types
    (unstable hashcodes), so map-bearing columns are excluded from the
    whole-row salt. The salt only drives bucket BALANCE; dropping a
    column narrows the entropy source, never correctness."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    cols = [F.col(f.name) for f in df.schema.fields if not has_map(f.dataType)]
    # all-map row shape: constant salt is still deterministic and valid,
    # just unbalanced — a one-column map table is not an encode target
    return cols or [F.lit(0)]


def with_salted_bucket(
    df: DataFrame,
    plan: list[tuple[str, int, int]],
    source_col: str = "source",
    salt_key: str = "doc_id",
    bucket_col: str = "__bucket",
) -> DataFrame:
    """Attach the deterministic bucket id: offset(source) +
    pmod(xxhash64(salt_key), n_salts(source))."""
    spark = df.sparkSession
    if salt_key.isidentifier() and salt_key.lower() not in {c.lower() for c in df.columns}:
        salt = F.xxhash64(*_hashable_cols(df))
    else:
        try:
            df.select(F.expr(salt_key))
            salt = F.xxhash64(F.expr(salt_key))
        except AnalysisException:
            salt = F.xxhash64(*_hashable_cols(df))
    if len(plan) == 1 and plan[0][0] is None:
        # unweighted fallback: uniform hash over target buckets
        return df.withColumn(bucket_col, F.pmod(salt, F.lit(plan[0][2])).cast("int"))
    n_buckets = plan[-1][1] + plan[-1][2]
    plan_df = spark.createDataFrame(plan, f"{_SRC} string, __offset int, __k int")
    left = df.withColumn(_SRC, F.expr(source_col).cast("string"))
    # null-safe left join: null sources and sources unseen by the plan
    # (e.g. new data on a resumed table) still get a deterministic bucket
    out = (
        left.join(F.broadcast(plan_df), left[_SRC].eqNullSafe(plan_df[_SRC]), "left")
        .drop(plan_df[_SRC])
        .withColumn(
            bucket_col,
            F.coalesce(
                (F.col("__offset") + F.pmod(salt, F.col("__k"))).cast("int"),
                F.pmod(salt, F.lit(n_buckets)).cast("int"),
            ),
        )
        .drop(_SRC, "__offset", "__k")
    )
    return out


def salted_repartition(
    df: DataFrame,
    target_partitions: int,
    source_col: str = "source",
    salt_key: str = "doc_id",
    weight_col: str | None = "n_tok",
    bucket_col: str = "__bucket",
    cluster_col: str | None = None,
) -> tuple[DataFrame, int]:
    """repartition(P, bucket) + sortWithinPartitions(bucket) so each encode
    task sees whole buckets contiguously (blocks never straddle buckets —
    the property the resumable checkpoint relies on).

    `cluster_col` additionally orders rows by that column INSIDE each
    bucket: bucket contiguity (the resume key) is untouched, but
    consecutive blocks get tight disjoint min/max ranges on the cluster
    column, which is what makes stats-backed block pruning
    (read_encoded(where=...)) skip real IO on range predicates."""
    plan = plan_salted_buckets(df, target_partitions, source_col, weight_col)
    n_buckets = plan[-1][1] + plan[-1][2] if plan else target_partitions
    out = with_salted_bucket(df, plan, source_col, salt_key, bucket_col)
    sort_cols = [bucket_col] + ([cluster_col] if cluster_col else [])
    # bucket b goes to partition b mod P: hash-partitioning the bucket ids
    # themselves would collide (Murmur3 of 0..P-1 fills 5 of 8 partitions)
    n_parts = min(n_buckets, target_partitions)
    keys = ",".join(map(str, partition_keys(n_parts)))
    key = F.expr(f"element_at(array({keys}), pmod(`{bucket_col}`, {n_parts}) + 1)")
    return (
        out.repartition(n_parts, key).sortWithinPartitions(*sort_cols),
        n_buckets,
    )


def murmur3_int(value: int, seed: int = 42) -> int:
    """Spark's `hash()` of an int column value (Murmur3_x86_32.hashInt)."""
    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    k = rotl((value & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF, 15) * 0x1B873593 & 0xFFFFFFFF
    h = (rotl(seed ^ k, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & 0xFFFFFFFF
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def partition_keys(n: int) -> list[int]:
    """The smallest int whose Spark hash lands on each of `n` hash
    partitions: `repartition(n, keys[j])` sends its rows to partition j."""
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n:
        keys.setdefault(murmur3_int(k) % n, k)
        k += 1
    return [keys[j] for j in range(n)]
