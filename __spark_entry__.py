"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: encode the documents table of sf0.001 through the
engine (stats-driven codec auto-selection), decode it back, and return the
per-column reconciliation (codec, bytes, row-equality) as a DataFrame.

`queries()` — one entry per implemented operator from SURVEY.md §2:
  roundtrip_* queries push real columns through encode→decode (the engine's
  E1-E16 replacements) and return the original values — the DuckDB oracle is
  the identity query, so a value-hash match proves bit-exact round-trips.
  stats_* queries are the engine's statistics operators (T1-T7) in their
  SQL-expressible form.

`oracle_sql()` — DuckDB equivalents with identical column aliases.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from parquet_spark.operators.decode import roundtrip_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: encode documents, decode, reconcile."""
    from parquet_spark.operators.decode import decode_table
    from parquet_spark.operators.encode import encode_table, manifest_from_blocks

    df = _t(spark, "/root/testdata/sf0.001", "documents")
    blocks = encode_table(df).cache()
    decoded = decode_table(blocks, df.schema)
    n_orig = df.count()
    n_dec = decoded.count()
    man = manifest_from_blocks(blocks)
    out = man.groupBy("column", "codec", "compression").agg(
        F.sum("n_values").alias("n_values"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
    ).withColumn("rows_original", F.lit(n_orig)).withColumn("rows_decoded", F.lit(n_dec))
    return out.orderBy("column")


# --------------------------------------------------------------- queries

def _crc_df(df: DataFrame) -> int:
    """Order-independent content checksum used by merged queries to assert
    two engine paths produced identical values before returning one of
    them to the driver's oracle compare."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.agg(F.sum(F.crc32(F.concat_ws("\x1f", *cols)))).collect()[0][0]


def _q_roundtrip_codecs_forced(spark, sf_dir):
    """Forced-codec round-trip across one projection — each column pins a
    different codec (RLE, FOR+bitpack, PLAIN, dictionary; reference
    encodings E1-E15), so one oracle row certifies all four kernels.
    Consolidates the former roundtrip_dict_strings / roundtrip_rle_ints /
    roundtrip_forbp_ints / roundtrip_plain_floats queries (r1-r4 green)."""
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice", "l_returnflag"
    )
    return roundtrip_table(
        df,
        codecs={
            "l_orderkey": "rle", "l_partkey": "for_bp", "l_linenumber": "rle",
            "l_extendedprice": "plain", "l_returnflag": "dict",
        },
    )


def _q_roundtrip_delta_sorted(spark, sf_dir):
    # from sf0.1 up, orders plans into enough row-range splits for the
    # fused feed, which keeps file order within each split: that is what
    # keeps the o_orderkey deltas narrow (a repartition would widen them)
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return roundtrip_table(df, codecs={"o_orderkey": "delta_bp"})


def _q_roundtrip_fsst_text(spark, sf_dir):
    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return roundtrip_table(df, codecs={"text": "fsst"})


def _q_roundtrip_map(spark, sf_dir):
    """map<string,string> through the PSB1 block pipeline (round 5; the
    reference rejects maps outright — /root/reference/README.md
    limitation). Variable-length maps (map_filter drops null-valued
    entries) + every-11th-doc NULL map exercise offsets and validity;
    the round-tripped map flattens to (doc_id, mkey, mval) rows so a
    plain-SQL oracle certifies the values."""
    d = _t(spark, sf_dir, "documents")
    attrs = F.map_filter(
        F.map_from_arrays(
            F.array(F.lit("source"), F.lit("lang"), F.lit("nc")),
            F.array(F.col("source"), F.col("lang"), F.col("n_chars").cast("string")),
        ),
        lambda _, v: v.isNotNull(),
    )
    df = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None)).otherwise(attrs).alias("attrs"),
    )
    rt = roundtrip_table(df)
    e = rt.select("doc_id", F.explode(F.map_entries("attrs")).alias("kv"))
    return e.select(
        "doc_id", F.col("kv.key").alias("mkey"), F.col("kv.value").alias("mval")
    )


def _q_roundtrip_alp_decimal_floats(spark, sf_dir):
    """Price-like doubles (2 decimals) auto-select the ALP codec: exact
    10^e mantissas + int codec; the oracle is the identity, proving the
    rescale is bit-lossless."""
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    return roundtrip_table(df)


def _q_roundtrip_optional_nulls(spark, sf_dir):
    df = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "click", F.lit(None).cast("double")).otherwise(F.col("value")).alias("v"),
    )
    return roundtrip_table(df)


def _q_roundtrip_temporal_bool(spark, sf_dir):
    """BOOLEAN bitpack (E4/E5) + timestamp columns through the block
    engine in one projection. Consolidates the former roundtrip_bool /
    roundtrip_timestamps queries (r1-r4 green)."""
    df = _t(spark, sf_dir, "events").select(
        "event_id", "ts", (F.col("value") > 10.0).alias("big")
    )
    return roundtrip_table(df)


def _q_roundtrip_auto_all(spark, sf_dir):
    """Auto-chooser across a mixed-type projection — no overrides."""
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )
    return roundtrip_table(df)


def _q_roundtrip_nested_struct(spark, sf_dir):
    """Nested struct + repeated group through the block tree (the engine's
    Dremel-shredding replacement): pack lineitem fields into a struct and a
    list, round-trip, then project the leaves back for the SQL oracle."""
    df = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_linenumber",
            F.struct("l_partkey", "l_returnflag").alias("s"),
            F.array("l_quantity", "l_extendedprice").alias("a"),
        )
    )
    rt = roundtrip_table(df)
    return rt.select(
        "l_orderkey", "l_linenumber",
        F.col("s.l_partkey").alias("l_partkey"),
        F.col("s.l_returnflag").alias("l_returnflag"),
        F.col("a")[0].alias("l_quantity"),
        F.col("a")[1].alias("l_extendedprice"),
    )


def _q_roundtrip_embeddings(spark, sf_dir):
    """array<float> embeddings through the recursive block tree (list
    child block of float32 leaves) — float payloads must round-trip
    bit-exactly, the same invariant the token arrays carry. The result is
    posexploded to scalar (vec_id, idx, val) rows so the driver harness can
    canonicalize it (pandas cannot sort a raw list column), and element-wise
    float32 bit-equality is a stronger check than a whole-array hash.

    Also covers the REPEATED-column standards-Parquet interop leg (the
    former interop_parquet_list query, r3-r4 green): the raw writer shreds
    the same array<float> column into rep/def level streams inside real v1
    data pages (reference fields.go:232-271, dremel/write_repeated.go:
    104-127), pyarrow re-reads the file, and the query asserts the interop
    values checksum-match the block-engine round-trip before returning."""
    import tempfile

    import pyarrow.parquet as pq

    from parquet_spark.sources import parquet_raw

    df = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    flat = lambda d: d.select(
        "vec_id", F.posexplode("embedding").alias("idx", "val"), "label"
    ).withColumn("idx", F.col("idx").cast("int"))
    out = flat(roundtrip_table(df))
    path = tempfile.mkdtemp(prefix="psq-interop-") + "/list.parquet"
    parquet_raw.write_file(path, df.toArrow(), compression="snappy")
    interop = flat(spark.createDataFrame(pq.read_table(path)))
    assert _crc_df(interop) == _crc_df(out), "list interop diverged from block roundtrip"
    return out


def _q_roundtrip_uint64_extremes(spark, sf_dir):
    """Unsigned-integer parity at the Spark boundary: the reference
    supports uint32/uint64 end-to-end (/root/reference/README.md:116-129,
    cmd/parquetgen/gen/template.go:464-481); Spark has no unsigned types,
    so the engine's documented mapping is uint64 ≡ two's-complement long
    (the Arrow codec layer is unsigned-exact, tests/test_delta.py etc.).
    Values hug both int64 extremes so for_bp/delta see full-width ranges."""
    i64_min, i64_max = -(2**63), 2**63 - 1
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit(i64_min) + F.col("o_orderkey"))
        .otherwise(F.lit(i64_max) - F.col("o_orderkey"))
        .alias("u64"),
    )
    return roundtrip_table(df)


def _q_roundtrip_decimal(spark, sf_dir):
    """DecimalType through the block engine (codecs/blocks.py decimal128
    branch): unscaled 128-bit values as two 64-bit word streams with
    independent codec auto-selection — low-precision money columns cost
    int64 bytes because the high words are pure sign extension. The
    result is projected to an exact unscaled BIGINT (cents) because
    DuckDB's pandas bridge renders DECIMAL as lossy float64; a corrupted
    decimal round-trip would shift the integers.

    Also covers DECIMAL standards-Parquet interop (the former
    interop_parquet_decimal query, r4 green): the raw writer stores the
    same decimals as minimal-length big-endian FLBA with the DECIMAL
    converted type, pyarrow re-reads the file, and the query asserts the
    interop values checksum-match the block-engine round-trip."""
    import tempfile

    import pyarrow.parquet as pq

    from parquet_spark.sources import parquet_raw

    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        ((F.col("l_orderkey") * 100 + F.col("l_linenumber")).cast("decimal(16,0)") / 100)
        .cast("decimal(16,2)")
        .alias("price_dec"),
    )
    cents = lambda d: d.select(
        "l_orderkey", "l_linenumber",
        (F.col("price_dec") * 100).cast("long").alias("price_cents"),
    )
    out = cents(roundtrip_table(df))
    path = tempfile.mkdtemp(prefix="psq-interop-") + "/dec.parquet"
    parquet_raw.write_file(path, df.toArrow(), compression="snappy")
    interop = cents(spark.createDataFrame(pq.read_table(path)))
    assert _crc_df(interop) == _crc_df(out), "decimal interop diverged from block roundtrip"
    return out


def _q_roundtrip_pruned_read(spark, sf_dir):
    """Stats-backed block pruning through the full table layout: encode
    orders (clustered on o_totalprice), read back with a range predicate
    that skips whole blocks by their min/max — results must equal the
    plain SQL filter (the oracle)."""
    import tempfile

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded

    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="psq-pruned-") + "/t"
    write_encoded(
        df, path, target_partitions=8, block_rows=2048, resume=False,
        source_col="o_orderkey % 4", salt_key="o_orderkey",
        cluster_col="o_totalprice",
    )
    return read_encoded(spark, path, where=("o_totalprice", ">", 150000.0))


_INTEROP_COLS = ["l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"]
_INTEROP_SQL = (
    "SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice, "
    "CASE WHEN l_linenumber % 7 <> 0 THEN l_returnflag END AS m_rf, "
    "CASE WHEN l_linenumber % 7 <> 0 THEN CAST(l_linenumber AS VARCHAR) END AS m_ln "
    "FROM lineitem"
)


def _q_interop_parquet_roundtrip(spark, sf_dir):
    """Both standards-Parquet interop directions in one certified query
    (consolidates the former interop_parquet_write / interop_parquet_read
    queries, r2-r4 green).

    OUT (reference parity item #1, /root/reference/parquet.go:217-260):
    the engine's raw writer (sources/parquet_raw.py — thrift compact
    footer, v1 data pages, PLAIN + RLE def levels, no pyarrow.parquet
    involved) emits a file that PYARROW (a third-party reader) opens.
    IN (reference gen/gen.go:101-148 reads third-party files): a
    pyarrow-written file (dictionary encoding on — its default) decoded by
    the engine's own raw reader. The query asserts both directions
    checksum-match before returning the IN-direction result.

    A MAP column rides along both ways (2-level `repeated group key_value`
    MAP layout — the reference cannot write maps at all, README.md
    limitation; the engine can) and is flattened via element_at for the
    oracle hash, exercising null maps, null values, and the rep/def chain
    through the key_value group."""
    import tempfile

    import pyarrow.parquet as pq

    from parquet_spark.sources import parquet_raw

    base = _t(spark, sf_dir, "lineitem").select(*_INTEROP_COLS)
    df = base.withColumn(
        "m",
        F.when(
            F.col("l_linenumber") % 7 != 0,
            F.create_map(
                F.lit("rf"), F.col("l_returnflag"),
                F.lit("ln"), F.col("l_linenumber").cast("string"),
            ),
        ),
    )
    work = tempfile.mkdtemp(prefix="psq-interop-")
    out_path = work + "/out.parquet"
    parquet_raw.write_file(out_path, df.toArrow(), compression="snappy")
    back_out = pq.read_table(out_path)  # third-party reader proves the file
    in_path = work + "/in.parquet"
    pq.write_table(df.toArrow(), in_path, data_page_version="1.0", compression="snappy")
    back_in = parquet_raw.read_file(in_path)

    def flat(tbl):
        d = spark.createDataFrame(tbl)
        return d.select(
            *_INTEROP_COLS,
            F.element_at("m", "rf").alias("m_rf"),
            F.element_at("m", "ln").alias("m_ln"),
        )

    a, b = flat(back_out), flat(back_in)
    assert _crc_df(a) == _crc_df(b), "interop OUT and IN directions diverged"
    return b


def _q_evolution_append(spark, sf_dir):
    """Additive schema evolution on the batch table layout: batch 1
    writes (doc_id, source), batch 2 appends (doc_id, source, lang) — the
    snapshot schema becomes the union and blocks written before the
    column existed decode as nulls (operators/decode.py null-fill path).
    The oracle reproduces the null-fill with a CASE on the batch split."""
    import tempfile

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import append_encoded

    df = _t(spark, sf_dir, "documents")
    a = df.where(F.col("doc_id") % 2 == 0).select("doc_id", "source")
    b = df.where(F.col("doc_id") % 2 != 0).select("doc_id", "source", "lang")
    path = tempfile.mkdtemp(prefix="psq-evo-") + "/t"
    append_encoded(a, path, target_partitions=4)
    append_encoded(b, path, target_partitions=4)
    return read_encoded(spark, path)


def _q_maintain_delete_where(spark, sf_dir):
    """Copy-on-write row delete (operators/maintain.py delete_where — the
    Iceberg-delete / right-to-erasure primitive): survivors rewrite into a
    fresh generation, ONE atomic snapshot swap commits. The read-back must
    equal the oracle's NOT-matching set exactly."""
    import tempfile

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import delete_where

    df = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = tempfile.mkdtemp(prefix="psq-del-") + "/t"
    write_encoded(df, path, target_partitions=4)
    delete_where(spark, path, ("n_chars", "<", 300))
    return read_encoded(spark, path)


def _q_maintain_merge_into(spark, sf_dir):
    """Copy-on-write upsert (operators/maintain.py merge_into — Iceberg
    MERGE analogue): every doc_id%3==0 row gets doubled n_chars (update)
    and a key-shifted copy of the doc_id%5==0 slice appends (insert), one
    atomic commit. Oracle reproduces the merged state declaratively."""
    import tempfile

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded
    from parquet_spark.operators.maintain import merge_into

    df = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = tempfile.mkdtemp(prefix="psq-mrg-") + "/t"
    write_encoded(df, path, target_partitions=4)
    updates = (
        df.where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "source", (F.col("n_chars") * 2).alias("n_chars"))
        .unionByName(
            df.where(F.col("doc_id") % 5 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "source", "n_chars")
        )
    )
    merge_into(spark, path, updates, key_col="doc_id")
    return read_encoded(spark, path)


def _q_interop_parquet_events(spark, sf_dir):
    """Distributed standards-Parquet export with temporal columns: every
    partition writes its own file via the raw writer inside a mapInArrow
    task (export_parquet — no driver collect), timestamps land as
    TIMESTAMP_MICROS-annotated INT64 and the low-cardinality event_type
    dict-encodes; Spark's STOCK parquet reader (third-party to
    parquet_raw) reads the directory back for the oracle comparison."""
    import tempfile

    from parquet_spark.sources.parquet_raw import export_parquet

    df = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    out = tempfile.mkdtemp(prefix="psq-interop-") + "/events"
    export_parquet(df, out).collect()  # consuming the summary runs the export
    return spark.read.parquet(out).select("event_id", "ts", "event_type", "value")


def _q_roundtrip_bloom_pruned(spark, sf_dir):
    """Bloom-filter block pruning on string equality (stats/bloom.py):
    min/max can't prune '=' probes on a high-cardinality unsorted key
    (every block's range spans the probe), so opt-in per-block membership
    filters skip the non-matching blocks; Parquet specifies bloom filters
    for exactly this, the reference writes none. The result must equal
    decode-then-filter (the SQL oracle) — pruning is never correctness."""
    import hashlib
    import tempfile

    from parquet_spark.operators.decode import read_encoded
    from parquet_spark.operators.encode import write_encoded

    df = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        F.concat(F.lit("d"), F.md5(F.col("doc_id").cast("string"))).alias("key"),
    )
    path = tempfile.mkdtemp(prefix="psq-bloom-") + "/t"
    write_encoded(
        df, path, target_partitions=4, block_rows=64, resume=False,
        source_col="source", salt_key="doc_id",
        bloom_cols=["key"],
    )
    probe = "d" + hashlib.md5(b"42").hexdigest()
    return read_encoded(spark, path, where=("key", "=", probe))


def _q_interop_parquet_struct(spark, sf_dir):
    """Interop of NESTED STRUCT columns (reference cmd/parquetgen/parse/
    parse.go:108-114 — structs flatten to dotted-path leaves like
    `hobby.skill.name`; generated instance parquet_generated_test.go:66):
    the raw writer emits per-leaf chunks with per-level definition chains,
    PYARROW (third-party) re-reads the file, and the flattened fields must
    hash-match the oracle — including nulls at every nesting level."""
    import tempfile

    import pyarrow.parquet as pq

    from parquet_spark.sources import parquet_raw

    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    src = df.select(
        "l_orderkey",
        F.when(
            F.col("l_linenumber") % 7 != 0,
            F.struct(
                F.when(F.col("l_linenumber") % 5 != 0, F.col("l_returnflag")).alias("flag"),
                F.col("l_extendedprice").alias("price"),
                F.when(
                    F.col("l_linenumber") % 3 != 0,
                    F.struct(F.col("l_linenumber").alias("num")),
                ).alias("ln"),
            ),
        ).alias("s"),
    )
    path = tempfile.mkdtemp(prefix="psq-interop-") + "/struct.parquet"
    parquet_raw.write_file(path, src.toArrow(), compression="snappy")
    back = pq.read_table(path)  # third-party reader proves the layout
    rt = spark.createDataFrame(back)
    return rt.select(
        "l_orderkey",
        F.col("s.flag").alias("flag"),
        F.col("s.price").alias("price"),
        F.col("s.ln.num").alias("num"),
    )


def _q_interop_parquet_person(spark, sf_dir):
    """Interop of MIXED struct/list nesting — the reference's flagship
    `Person` shape: optional struct -> repeated group -> optional leaf
    (`hobby.skills[].name`, /root/reference/parquet_generated_test.go:
    326-373; rep/def machinery dremel/read_repeated.go:62-118 +
    write_repeated.go). The raw writer's general Dremel shredder
    (sources/parquet_raw.py `_dremel_shred`) emits full rep/def level
    chains per leaf; PYARROW (third-party) re-reads the file; the
    flattened fields must hash-match an oracle computed straight from
    lineitem — nulls at every nesting level, empty lists included."""
    import tempfile

    import pyarrow.parquet as pq

    from parquet_spark.sources import parquet_raw

    ln, ok = F.col("l_linenumber"), F.col("l_orderkey")
    skill = lambda tag, d: F.struct(  # noqa: E731
        F.concat(F.lit(tag), ok.cast("string")).alias("sname"),
        F.when(d, ln).alias("diff"),
    )
    src = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.when(
            ln % 4 != 0,
            F.struct(
                F.col("l_returnflag").alias("name"),
                # two exhaustive when-branches (no otherwise) keep the
                # field NULLABLE so null-hobby slots convert to Arrow
                F.when(ln % 2 == 0, F.array(skill("s", ln % 3 != 0), skill("t", F.lit(False))))
                .when(ln % 2 != 0, F.array().cast(
                    "array<struct<sname:string,diff:int>>"))
                .alias("skills"),
            ),
        ).alias("hobby"),
        F.when(ln % 5 != 0, F.array(F.array(ok), F.array(ok + 1, ln.cast("bigint"))))
        .alias("matrix"),
    )
    path = tempfile.mkdtemp(prefix="psq-interop-") + "/person.parquet"
    parquet_raw.write_file(path, src.toArrow(), compression="snappy")
    back = pq.read_table(path)  # third-party reader proves the layout
    rt = spark.createDataFrame(back)
    return rt.select(
        "l_orderkey", "l_linenumber",
        F.col("hobby.name").alias("hobby_name"),
        F.size(F.col("hobby.skills")).alias("n_skills"),
        F.get(F.col("hobby.skills"), 0).getField("sname").alias("skill0"),
        F.get(F.col("hobby.skills"), 0).getField("diff").alias("diff0"),
        F.get(F.get(F.col("matrix"), 1), 1).alias("m11"),
    )


def _q_interop_parquet_dict(spark, sf_dir):
    """Dictionary-encoded standards-Parquet interop: the raw writer's
    per-chunk codec auto-selection (sources/parquet_raw.py write_file,
    use_dictionary='auto' — the engine's stats-driven codec choice applied
    to the standards layout) emits dict pages + RLE_DICTIONARY index pages
    for the low-cardinality lang/source chunks; DUCKDB (third-party)
    re-reads the file and values must hash-match the source table. The
    query asserts the dict encoding actually engaged — a silent PLAIN
    fallback would pass value checks but fail the point."""
    import tempfile

    import duckdb
    import pyarrow.parquet as pq

    from parquet_spark.sources import parquet_raw

    df = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    path = tempfile.mkdtemp(prefix="psq-interop-") + "/dict.parquet"
    summ = parquet_raw.write_file(path, df.toArrow(), compression="snappy")
    assert summ["lang"].get("dict") and summ["source"].get("dict"), summ
    encs = pq.ParquetFile(path).metadata.row_group(0).column(1).encodings
    assert "RLE_DICTIONARY" in encs, encs
    back = duckdb.query(f"SELECT * FROM read_parquet('{path}')").arrow()
    return spark.createDataFrame(back.to_pandas(), schema=df.schema)


def _q_stats_minmax_nulls(spark, sf_dir):
    from parquet_spark.functions import minmax_null_stats

    df = _t(spark, sf_dir, "lineitem")
    return minmax_null_stats(df, ["l_quantity", "l_extendedprice", "l_linenumber", "l_returnflag"])


def _q_stats_ndv(spark, sf_dir):
    """NDV stats (T7) + the dictionary-size estimator the codec chooser
    consumes, cross-joined into one certified row (consolidates the former
    stats_dict_estimate query, r1-r4 green; both sides are 1-row
    aggregates, so the cross join is metadata-scale)."""
    from parquet_spark.functions import dict_size_estimate, ndv_stats

    df = _t(spark, sf_dir, "lineitem")
    ndv = ndv_stats(df, ["l_returnflag", "l_linestatus", "l_partkey", "l_orderkey"])
    est = dict_size_estimate(_t(spark, sf_dir, "events"), "event_type", 8)
    return ndv.crossJoin(est)


def _q_stats_run_length(spark, sf_dir):
    """Partitioned run-length window — the 100-TB plan shape: one hash
    shuffle on the partition key, runs counted independently per
    partition (deterministic because (l_orderkey, l_linenumber) is a
    total order within each l_orderkey%16 partition). The unpartitioned
    variant (a one-partition global sort) stays available for tiny
    relations only; this contract query certifies the scalable path."""
    from parquet_spark.functions import run_length_stats

    df = _t(spark, sf_dir, "lineitem")
    return run_length_stats(
        df, "l_returnflag", ["l_orderkey", "l_linenumber", "l_returnflag"],
        partition_col="pmod(l_orderkey, 16)",
    )


def _q_stats_source_weights(spark, sf_dir):
    from parquet_spark.functions import source_weight_plan

    df = _t(spark, sf_dir, "documents")
    return source_weight_plan(df, "source", "n_chars")


# ----------------------------------------------- training-data pipeline ops

def _q_text_token_counts(spark, sf_dir):
    from parquet_spark.pipeline import textops

    return textops.token_counts(_t(spark, sf_dir, "documents"))


def _q_text_quality(spark, sf_dir):
    """Composite quality scoring PLUS the threshold-keep decision the
    curation filter applies (consolidates the former text_quality_filter
    query, r2-r4 green — `kept` certifies the same predicate without a
    second scan of the table)."""
    from parquet_spark.pipeline import textops

    scored = textops.quality_scores(_t(spark, sf_dir, "documents"))
    return scored.withColumn("kept", F.col("quality_score") >= 0.5)


def _q_text_langid(spark, sf_dir):
    from parquet_spark.pipeline import textops

    return textops.language_id(_t(spark, sf_dir, "documents"))


def _q_text_fingerprints(spark, sf_dir):
    from parquet_spark.pipeline import textops

    return textops.fingerprints(_t(spark, sf_dir, "documents"))


def _q_text_sample_by_hash(spark, sf_dir):
    from parquet_spark.pipeline import textops

    return textops.sample_by_hash(_t(spark, sf_dir, "documents"), rate=0.25)


# planted-PII construction shared by the Spark query and the SQL oracle:
# every 7th document gains an email, a phone number, and an IPv4 — known
# positives so the scrub is certified on matches, not just on absence
_PII_PLANT_SQL = (
    "SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' "
    "|| CAST(doc_id AS VARCHAR) || '@example.com or +1 555 123 4567 at 192.168.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) ELSE text END AS text FROM documents"
)


def _q_text_pii_scrub(spark, sf_dir):
    """PII redaction pass (emails / IPv4 / phone numbers → typed
    placeholders + audit counts) over documents with deterministically
    planted PII; the oracle replicates the plant and the rule chain, so
    the scrubbed text itself is hash-checked."""
    from parquet_spark.pipeline import textops

    df = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 555 123 4567 at 192.168.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return textops.pii_scrub(df)


_LINES_PLANT_SQL = (
    "SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || 'repeat' "
    "|| chr(10) || 'repeat' || chr(10) || 'repeat' || chr(10) || 'tail' "
    "ELSE text || chr(10) || 'uniq' END AS text FROM documents"
)


def _q_text_strip_repeated_lines(spark, sf_dir):
    """Intra-document repetition cleanup (consecutive duplicate lines
    collapsed) with planted duplicate runs; oracle = window-function
    replica, scrubbed text hash-checked."""
    from parquet_spark.pipeline import textops

    df = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\nrepeat\nrepeat\nrepeat\ntail")),
        ).otherwise(F.concat(F.col("text"), F.lit("\nuniq"))).alias("text"),
    )
    return textops.strip_repeated_lines(df)


def _q_events_session_stats(spark, sf_dir):
    """Gap-based sessionization of the events stream (30-minute
    inactivity gap): one hash shuffle on user_id, per-user running window,
    order-independent session aggregates — the classic behavioral-log
    primitive, oracle-exact against the same window SQL."""
    from parquet_spark.pipeline.events import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_minutes=30)


def _q_events_session_window(spark, sf_dir):
    """Native session-window aggregation over the events stream — the
    STREAMING-capable sessionization form (same operator runs under
    writeStream with a watermark; certified here on the static table).
    Oracle is an independent SQL reproduction of Spark's session_window
    semantics: strictly-greater gap splits, window end = last event +
    gap. One shuffle on the user key."""
    from parquet_spark.pipeline.events import session_stats_windowed

    return session_stats_windowed(_t(spark, sf_dir, "events"), gap_minutes=30)


def _q_events_asof_join(spark, sf_dir):
    """Backward as-of join (pipeline/events.py asof_join): every event is
    annotated with the most recent at-or-before marker value for its user
    — the point-in-time feature lookup. One hash shuffle on the user key,
    running last-non-null window, no range join. The oracle is DuckDB's
    NATIVE ASOF LEFT JOIN — an independent implementation of the same
    semantics. The right side is deduplicated on (user, ts) so the match
    is unambiguous on both engines."""
    from parquet_spark.pipeline.events import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "value")
    right = (
        ev.where(F.col("event_id") % 10 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("mark"))
    )
    return asof_join(left, right, key_col="user_id", ts_col="ts", value_cols=["mark"])


def _q_events_interval_join(spark, sf_dir):
    """Range (point-in-interval) join (pipeline/events.py interval_join):
    events joined back to their own session intervals — binned time axis
    turns the non-equi range predicate into a hash equi-join on
    (user, bin) + exact filter, never a nested-loop. The oracle derives
    each event's session number independently via window SQL; the interval
    join must reproduce it exactly (sessions are disjoint per user, so
    every event matches exactly one interval)."""
    from parquet_spark.pipeline.events import interval_join, session_stats

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    sessions = session_stats(_t(spark, sf_dir, "events"), gap_minutes=30).select(
        "user_id", "session_num", "t_start", "t_end"
    )
    out = interval_join(ev, sessions, bin_minutes=60)
    return out.select("event_id", "user_id", "ts", "session_num")


def _q_events_time_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate rollup: order-independent
    aggregates per epoch-aligned 15-minute bucket per user — one shuffle,
    map-side partial agg. Oracle: DuckDB's native time_bucket (the
    TimescaleDB primitive) must land every event in the same bucket."""
    from parquet_spark.pipeline.events import time_rollup

    return time_rollup(_t(spark, sf_dir, "events"), bucket_minutes=15, key_col="user_id")


def _q_corpus_ngram_counts(spark, sf_dir):
    """Top-k word-trigram frequency over the corpus (vocabulary audit /
    contamination-index building block) — one explode + one map-side-
    combinable shuffle on the n-gram key, result bounded by top_k."""
    from parquet_spark.pipeline import corpus

    return corpus.ngram_counts(_t(spark, sf_dir, "documents"), n=3, top_k=200)


def _q_corpus_contamination(spark, sf_dir):
    """Benchmark-contamination check: 5-gram overlap of every corpus doc
    against a deterministic 'eval set' (doc_id % 10 = 0) — broadcast
    equi-join on the n-gram key, no pair enumeration."""
    from parquet_spark.pipeline import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.contamination(docs, docs.where("doc_id % 10 = 0"), n=5)


def _q_corpus_boilerplate_segments(spark, sf_dir):
    """CCNet-style boilerplate inventory: segments occurring in >=40
    distinct documents (document frequency, not occurrences). The driver
    corpus is single-line text, so segments are whitespace-split — the
    op itself defaults to newline/paragraph splitting."""
    from parquet_spark.pipeline import corpus

    return corpus.boilerplate_segments(_t(spark, sf_dir, "documents"), min_df=40, sep=r"\s+")


def _q_dedup_exact(spark, sf_dir):
    from parquet_spark.pipeline import dedup

    return dedup.dedup_exact(_t(spark, sf_dir, "documents"))


def _q_dedup_ngram_jaccard(spark, sf_dir):
    from parquet_spark.pipeline import dedup

    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def _q_dedup_minhash_lsh(spark, sf_dir):
    from parquet_spark.pipeline import dedup

    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.4)


def _q_dedup_components(spark, sf_dir):
    """Connected components over the near-dup pair graph (the keep-one-
    per-cluster step): iterative min-label propagation in Spark, recursive
    CTE in DuckDB."""
    from parquet_spark.pipeline import dedup

    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)
    return dedup.dedup_components(pairs)


def _q_dedup_simhash(spark, sf_dir):
    from parquet_spark.pipeline import dedup

    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def _q_sim_knn_bruteforce(spark, sf_dir):
    from parquet_spark.pipeline import similarity

    return similarity.knn_bruteforce(_t(spark, sf_dir, "embeddings"), k=5, n_queries=10)


def _q_sim_near_dup(spark, sf_dir):
    from parquet_spark.pipeline import similarity

    return similarity.near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def _q_sim_knn_lsh(spark, sf_dir):
    from parquet_spark.pipeline import similarity

    # bits pinned (not adaptive) so the static oracle SQL embeds the same
    # hyperplanes; production callers pass bits=None for corpus-sized width
    return similarity.knn_lsh(_t(spark, sf_dir, "embeddings"), k=5, n_queries=10, dim=64, bits=4)


def _q_multimodal_features(spark, sf_dir):
    from parquet_spark.pipeline import multimodal

    return multimodal.media_features(_t(spark, sf_dir, "documents"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order matters: the driver's correctness harness certifies the
    # FIRST 50 entries (r4 lesson — entries 51+ silently get no oracle row).
    # The registry is kept at <=50 entries by consolidating redundant
    # roundtrip variants into multi-codec queries, and ordered
    # newest-and-riskiest-first so a future overflow drops only the oldest,
    # most-stable queries.
    return {
        # -- round-5 additions + queries that fell off the r4 cap ---------
        "roundtrip_map": _q_roundtrip_map,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_components": _q_dedup_components,
        "dedup_simhash": _q_dedup_simhash,
        "sim_knn_bruteforce": _q_sim_knn_bruteforce,
        "sim_near_dup": _q_sim_near_dup,
        "sim_knn_lsh": _q_sim_knn_lsh,
        "multimodal_features": _q_multimodal_features,
        # -- round-4 families ---------------------------------------------
        "events_session_stats": _q_events_session_stats,
        "events_session_window": _q_events_session_window,
        "events_asof_join": _q_events_asof_join,
        "events_interval_join": _q_events_interval_join,
        "events_time_rollup": _q_events_time_rollup,
        "maintain_delete_where": _q_maintain_delete_where,
        "maintain_merge_into": _q_maintain_merge_into,
        "evolution_append": _q_evolution_append,
        "roundtrip_bloom_pruned": _q_roundtrip_bloom_pruned,
        "roundtrip_decimal": _q_roundtrip_decimal,
        "interop_parquet_person": _q_interop_parquet_person,
        "interop_parquet_struct": _q_interop_parquet_struct,
        "interop_parquet_dict": _q_interop_parquet_dict,
        "interop_parquet_events": _q_interop_parquet_events,
        "interop_parquet_roundtrip": _q_interop_parquet_roundtrip,
        # -- codec/layout core --------------------------------------------
        "roundtrip_codecs_forced": _q_roundtrip_codecs_forced,
        "roundtrip_temporal_bool": _q_roundtrip_temporal_bool,
        "roundtrip_delta_sorted": _q_roundtrip_delta_sorted,
        "roundtrip_fsst_text": _q_roundtrip_fsst_text,
        "roundtrip_alp_decimal_floats": _q_roundtrip_alp_decimal_floats,
        "roundtrip_optional_nulls": _q_roundtrip_optional_nulls,
        "roundtrip_auto_all": _q_roundtrip_auto_all,
        "roundtrip_nested_struct": _q_roundtrip_nested_struct,
        "roundtrip_embeddings": _q_roundtrip_embeddings,
        "roundtrip_uint64_extremes": _q_roundtrip_uint64_extremes,
        "roundtrip_pruned_read": _q_roundtrip_pruned_read,
        # -- statistics ----------------------------------------------------
        "stats_minmax_nulls": _q_stats_minmax_nulls,
        "stats_ndv": _q_stats_ndv,
        "stats_run_length": _q_stats_run_length,
        "stats_source_weights": _q_stats_source_weights,
        # -- training-data pipeline ---------------------------------------
        "text_token_counts": _q_text_token_counts,
        "text_quality_scores": _q_text_quality,
        "text_language_id": _q_text_langid,
        "text_fingerprints": _q_text_fingerprints,
        "text_sample_by_hash": _q_text_sample_by_hash,
        "text_pii_scrub": _q_text_pii_scrub,
        "text_strip_repeated_lines": _q_text_strip_repeated_lines,
        "corpus_ngram_counts": _q_corpus_ngram_counts,
        "corpus_contamination": _q_corpus_contamination,
        "corpus_boilerplate_segments": _q_corpus_boilerplate_segments,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "roundtrip_map": (
            "SELECT doc_id, mkey, mval FROM ("
            "SELECT doc_id, 'source' AS mkey, source AS mval FROM documents "
            "UNION ALL SELECT doc_id, 'lang', lang FROM documents "
            "UNION ALL SELECT doc_id, 'nc', CAST(n_chars AS VARCHAR) FROM documents"
            ") WHERE doc_id % 11 <> 0 AND mval IS NOT NULL"
        ),
        "roundtrip_codecs_forced": (
            "SELECT l_orderkey, l_partkey, l_linenumber, l_extendedprice, "
            "l_returnflag FROM lineitem"
        ),
        "roundtrip_delta_sorted": "SELECT o_orderkey, o_orderdate FROM orders",
        "roundtrip_fsst_text": "SELECT doc_id, text FROM documents",
        "roundtrip_alp_decimal_floats": (
            "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax FROM lineitem"
        ),
        "roundtrip_optional_nulls": (
            "SELECT event_id, CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v FROM events"
        ),
        "roundtrip_temporal_bool": "SELECT event_id, ts, value > 10.0 AS big FROM events",
        "roundtrip_auto_all": (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus FROM lineitem"
        ),
        "roundtrip_nested_struct": (
            "SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag, "
            "l_quantity, l_extendedprice FROM lineitem"
        ),
        "roundtrip_embeddings": (
            "SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS idx, "
            "unnest(embedding) AS val, label FROM embeddings"
        ),
        "roundtrip_uint64_extremes": (
            "SELECT o_orderkey, CASE WHEN o_orderkey % 2 = 0 "
            "THEN CAST(-9223372036854775807 - 1 AS BIGINT) + o_orderkey "
            "ELSE CAST(9223372036854775807 AS BIGINT) - o_orderkey END AS u64 FROM orders"
        ),
        "roundtrip_decimal": (
            # exact unscaled projection: DuckDB's pandas bridge renders
            # DECIMAL as float64, so both sides compare integer cents
            "SELECT l_orderkey, l_linenumber, "
            "CAST(l_orderkey * 100 + l_linenumber AS BIGINT) AS price_cents "
            "FROM lineitem"
        ),
        "roundtrip_pruned_read": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_totalprice > 150000.0"
        ),
        "roundtrip_bloom_pruned": (
            "SELECT doc_id, source, n_chars, 'd' || md5(CAST(doc_id AS VARCHAR)) AS key "
            "FROM documents WHERE 'd' || md5(CAST(doc_id AS VARCHAR)) = 'd' || md5('42')"
        ),
        "interop_parquet_roundtrip": _INTEROP_SQL,
        "interop_parquet_person": (
            # flattened view of the Person shape: hobby struct is null when
            # ln%4=0; skills list is EMPTY (not null) for odd ln, else two
            # entries; diff of skill0 null when ln%3=0; matrix[1][1]=ln
            "SELECT l_orderkey, l_linenumber, "
            "CASE WHEN l_linenumber % 4 <> 0 THEN l_returnflag END AS hobby_name, "
            "CASE WHEN l_linenumber % 4 <> 0 THEN "
            "CAST(CASE WHEN l_linenumber % 2 = 0 THEN 2 ELSE 0 END AS INTEGER) "
            "END AS n_skills, "
            "CASE WHEN l_linenumber % 4 <> 0 AND l_linenumber % 2 = 0 "
            "THEN 's' || CAST(l_orderkey AS VARCHAR) END AS skill0, "
            "CASE WHEN l_linenumber % 4 <> 0 AND l_linenumber % 2 = 0 "
            "AND l_linenumber % 3 <> 0 THEN l_linenumber END AS diff0, "
            "CASE WHEN l_linenumber % 5 <> 0 "
            "THEN CAST(l_linenumber AS BIGINT) END AS m11 "
            "FROM lineitem"
        ),
        "interop_parquet_struct": (
            # flattened view of the nested struct: a null at any ancestor
            # level nulls every field beneath it (Dremel def-level chain)
            "SELECT l_orderkey, "
            "CASE WHEN l_linenumber % 7 <> 0 AND l_linenumber % 5 <> 0 "
            "THEN l_returnflag END AS flag, "
            "CASE WHEN l_linenumber % 7 <> 0 THEN l_extendedprice END AS price, "
            "CASE WHEN l_linenumber % 7 <> 0 AND l_linenumber % 3 <> 0 "
            "THEN l_linenumber END AS num "
            "FROM lineitem"
        ),
        "interop_parquet_dict": (
            "SELECT doc_id, lang, source, n_chars FROM documents"
        ),
        "interop_parquet_events": (
            "SELECT event_id, ts, event_type, value FROM events"
        ),
        "evolution_append": (
            "SELECT doc_id, source, "
            "CASE WHEN doc_id % 2 <> 0 THEN lang END AS lang FROM documents"
        ),
        "maintain_delete_where": (
            "SELECT doc_id, source, n_chars FROM documents WHERE n_chars >= 300"
        ),
        "maintain_merge_into": (
            "SELECT doc_id, source, "
            "CASE WHEN doc_id % 3 = 0 THEN n_chars * 2 ELSE n_chars END AS n_chars "
            "FROM documents "
            "UNION ALL "
            "SELECT doc_id + 1000000 AS doc_id, source, n_chars FROM documents "
            "WHERE doc_id % 5 = 0"
        ),
        # sums are CAST to BIGINT: DuckDB sum(INTEGER) returns HUGEINT, which
        # pandas renders as float64 and the driver hash then diverges from
        # Spark's int64 even when every value agrees
        "stats_minmax_nulls": (
            "SELECT min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity, "
            "CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_quantity, "
            "min(l_extendedprice) AS min_l_extendedprice, max(l_extendedprice) AS max_l_extendedprice, "
            "CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_extendedprice, "
            "min(l_linenumber) AS min_l_linenumber, max(l_linenumber) AS max_l_linenumber, "
            "CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_linenumber, "
            "min(l_returnflag) AS min_l_returnflag, max(l_returnflag) AS max_l_returnflag, "
            "CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_returnflag "
            "FROM lineitem"
        ),
        "stats_ndv": (
            "SELECT * FROM "
            "(SELECT count(DISTINCT l_returnflag) AS ndv_l_returnflag, "
            "count(DISTINCT l_linestatus) AS ndv_l_linestatus, "
            "count(DISTINCT l_partkey) AS ndv_l_partkey, "
            "count(DISTINCT l_orderkey) AS ndv_l_orderkey FROM lineitem) a "
            "CROSS JOIN "
            "(SELECT count(event_type) AS n, count(DISTINCT event_type) AS ndv, "
            "CAST(ceil(log2(greatest(count(DISTINCT event_type), 2))) AS BIGINT) AS idx_bits, "
            "CAST(ceil(count(event_type) * ceil(log2(greatest(count(DISTINCT event_type), 2))) / 8) "
            "+ count(DISTINCT event_type) * 8 AS BIGINT) AS est_bytes FROM events) b"
        ),
        "stats_run_length": (
            # partitioned window, mirroring the Spark side: runs counted
            # independently per l_orderkey%16 partition (row_number()=1
            # starts a run; IS DISTINCT FROM is the null-safe comparison —
            # NULL is a value and a stretch of NULLs is one run), summed;
            # deterministic because (l_orderkey, l_linenumber) totally
            # orders each partition
            "WITH runs AS (SELECT "
            "CASE WHEN row_number() OVER (PARTITION BY l_orderkey % 16 "
            "ORDER BY l_orderkey, l_linenumber, l_returnflag) = 1 THEN 1 "
            "WHEN l_returnflag IS DISTINCT FROM lag(l_returnflag) OVER "
            "(PARTITION BY l_orderkey % 16 ORDER BY l_orderkey, l_linenumber, l_returnflag) THEN 1 "
            "ELSE 0 END AS chg FROM lineitem) "
            "SELECT count(*) AS n_values, CAST(sum(chg) AS BIGINT) AS n_runs FROM runs"
        ),
        "stats_source_weights": (
            "SELECT source, CAST(sum(n_chars) AS BIGINT) AS weight "
            "FROM documents GROUP BY source ORDER BY source"
        ),
        **_pipeline_oracles(),
    }


def _pipeline_oracles() -> dict[str, str]:
    from parquet_spark.pipeline import corpus, dedup, events, multimodal, similarity, textops

    return {
        "events_session_stats": events.session_stats_oracle(gap_minutes=30),
        "events_session_window": events.session_window_oracle(gap_minutes=30),
        "events_asof_join": (
            "WITH r AS (SELECT user_id, ts, max(value) AS mark FROM events "
            "WHERE event_id % 10 = 0 GROUP BY user_id, ts) "
            "SELECT l.event_id, l.user_id, l.ts, l.value, r.mark "
            "FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        "events_interval_join": (
            # independent per-event session derivation via window SQL
            "WITH e AS (SELECT event_id, user_id, ts, CASE WHEN "
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 "
            "THEN 1 ELSE 0 END AS s FROM events) "
            "SELECT event_id, user_id, ts, CAST(sum(s) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num FROM e"
        ),
        "events_time_rollup": (
            "SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start, user_id, "
            "CAST(count(*) AS BIGINT) AS n_events, min(value) AS min_value, "
            "max(value) AS max_value FROM events GROUP BY 1, 2"
        ),
        "text_token_counts": textops.token_counts_oracle(),
        "text_quality_scores": (
            f"SELECT q.*, quality_score >= 0.5 AS kept "
            f"FROM ({textops.quality_scores_oracle()}) q"
        ),
        "text_language_id": textops.language_id_oracle(),
        "text_fingerprints": textops.fingerprints_oracle(),
        "text_sample_by_hash": textops.sample_by_hash_oracle(rate=0.25),
        "text_pii_scrub": textops.pii_scrub_oracle(table=f"({_PII_PLANT_SQL}) p"),
        "text_strip_repeated_lines": textops.strip_repeated_lines_oracle(
            table=f"({_LINES_PLANT_SQL}) p"
        ),
        "corpus_ngram_counts": corpus.ngram_counts_oracle("documents", n=3, top_k=200),
        "corpus_contamination": corpus.contamination_oracle("documents", "doc_id % 10 = 0", n=5),
        "corpus_boilerplate_segments": corpus.boilerplate_segments_oracle(
            "documents", min_df=40, sep_sql="' '"
        ),
        "dedup_exact": dedup.dedup_exact_oracle(),
        # "auto" replicates the default-on df cap (skew control) in SQL
        "dedup_ngram_jaccard": dedup.ngram_jaccard_oracle(threshold=0.2, max_df="auto"),
        # minhash_lsh verifies candidates with exact Jaccard; at b=64/r=2 its
        # recall at s>=0.4 is ~1, so the exact-Jaccard SQL is its oracle too.
        "dedup_minhash_lsh": dedup.ngram_jaccard_oracle(threshold=0.4),
        "dedup_components": dedup.dedup_components_oracle(
            dedup.ngram_jaccard_oracle(threshold=0.2, max_df="auto")
        ),
        # SimHash is deterministic and band-blocking is recall-lossless
        # (pigeonhole), so DuckDB recomputes the full FNV+vote+Hamming set.
        "dedup_simhash": dedup.simhash_oracle(max_hamming=3),
        "sim_knn_bruteforce": similarity.knn_bruteforce_oracle(k=5, n_queries=10),
        # knn_lsh: the oracle embeds the same hyperplanes and replicates the
        # float64 fold, so the candidate set (and output) is bit-identical.
        "sim_knn_lsh": similarity.knn_lsh_oracle(k=5, n_queries=10, dim=64, bits=4),
        "sim_near_dup": similarity.near_dup_oracle(threshold=0.3),
        "multimodal_features": multimodal.media_features_oracle(),
    }
