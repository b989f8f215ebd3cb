"""Explicit skew management: the salted repartition for hot `source`
values and long token arrays (north-rule requirement — AQE alone is not
relied on).

One rule and no job of its own: hash-partition the rows onto exactly
`target_partitions` partitions by (source, salt_key), tag each row with
its partition id as its bucket, and sort within the partition by
`cluster_col`, else by the source. A hot source lands in every bucket,
because its salt keys hash apart; the sort keeps each source's rows in
runs inside a block, which is where the compression locality comes from
(row order inside a partition, not the number of buckets a source gets).
Bucket b is partition b by construction, so every bucket is one encode
task and no partition is left empty by colliding bucket ids. The bucket
id is a pure function of (source, salt_key, target_partitions), which
makes it the resumable-checkpoint key (operators/encode.py; `salt_rule`
is what the snapshot records).

`source_col` / `salt_key` accept any column expression a DataFrame can
resolve — flat names, dotted struct paths (`info.source`), or SQL
expressions. A source that does not resolve drops out of the rule, and a
salt_key that does not resolve is replaced by every hashable column (the
skew defense is an optimization, not a correctness requirement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.utils import AnalysisException

BUCKET_COL = "__bucket"


def _resolve(df: DataFrame, expr: str) -> Column | None:
    """`expr` as a Column of `df`, or None when it does not resolve."""
    # plain-name columns absent from the frame are refused WITHOUT round-
    # tripping an AnalysisException through the JVM (which logs a scary
    # ERROR even when caught); expressions still take the try/except path
    if expr.isidentifier() and expr.lower() not in {c.lower() for c in df.columns}:
        return None
    try:
        df.select(F.expr(expr))
    except AnalysisException:
        return None
    return F.expr(expr)


def _hashable_cols(df: DataFrame) -> list:
    """Columns Spark can hash — it forbids hashing MAP types (unstable
    hashcodes), so map-bearing columns are excluded from the whole-row
    salt. The salt only drives bucket BALANCE; dropping a column narrows
    the entropy source, never correctness."""
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


def salt_rule(target_partitions: int, source_col: str, salt_key: str) -> dict:
    """What a salted bucket id is a function of. write_encoded records it
    in the snapshot; a salted resume requires the recorded rule equal."""
    return {"rule": "hash", "source_col": source_col, "salt_key": salt_key, "partitions": target_partitions}


def salted_repartition(
    df: DataFrame,
    target_partitions: int,
    source_col: str = "source",
    salt_key: str = "doc_id",
    cluster_col: str | None = None,
) -> DataFrame:
    """repartition(target_partitions, source, salt_key), then `__bucket`
    = spark_partition_id(), then sortWithinPartitions(cluster_col or
    source). Each encode task sees one whole bucket, so blocks never
    straddle buckets — the property the resumable checkpoint relies on.

    `cluster_col` orders rows by that column inside each bucket instead
    of the source: consecutive blocks get tight disjoint min/max ranges on
    it, which is what makes stats-backed block pruning
    (read_encoded(where=...)) skip real IO on range predicates."""
    source = _resolve(df, source_col)
    salt = _resolve(df, salt_key)
    keys = ([] if source is None else [source]) + ([salt] if salt is not None else _hashable_cols(df))
    out = df.repartition(target_partitions, *keys).withColumn(BUCKET_COL, F.spark_partition_id())
    order = cluster_col or source
    return out if order is None else out.sortWithinPartitions(order)
