"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata.

The Spark-side contract is real and tested — schema, partition-preserving
mapInPandas, Arrow batch shapes, projection pushdown — while the actual
media decode is stubbed: the container ships no image/audio libraries, so
`decode_media` raises NotImplementedError for real codecs and provides a
deterministic fake ("raw" codec = the payload bytes themselves) that the
tests and the oracle exercise end-to-end.

Feature extraction over the fake codec is integer byte arithmetic, which
both Spark and DuckDB can compute — so even the UDF path is oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame, functions as F

from parquet_spark.util import worker_task_start

MEDIA_SCHEMA = (
    "media_id bigint, payload binary, media_type string, codec string, "
    "width int, height int, n_bytes int"
)

FEATURE_DDL = "media_id bigint, n_bytes int, first_byte int, last_byte int, byte_sum bigint, mean_byte double"


def attach_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a media table from the documents table: payload = UTF-8 bytes
    of the text (the deterministic fake), typed metadata derived from it.
    At scale this is the schema a real ingest (S3 image manifest) lands in."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.lit("image").alias("media_type"),
        F.lit("raw").alias("codec"),
        (F.pmod(F.col(id_col), F.lit(64)) + F.lit(1)).cast("int").alias("width"),
        (F.pmod(F.col(id_col), F.lit(48)) + F.lit(1)).cast("int").alias("height"),
        F.octet_length(payload).alias("n_bytes"),
    )


_MEDIA_DECODERS: dict = {}


def register_media_decoder(codec: str, fn) -> None:
    """Plug a real decoder in: `fn(payload: bytes) -> np.ndarray`. The
    engine ships only the identity 'raw' codec (no PIL/ffmpeg in this
    container); a deployment registers e.g.
    `register_media_decoder("jpeg", lambda p: np.asarray(PIL.Image.open(io.BytesIO(p))))`
    once per worker (module import time) and decode_media dispatches to it.
    Registering 'raw' is refused — its zero-copy fast path must stay."""
    if codec == "raw":
        raise ValueError("'raw' is built in and cannot be overridden")
    if not callable(fn):
        raise TypeError("decoder must be callable(payload: bytes) -> np.ndarray")
    _MEDIA_DECODERS[codec] = fn


def decode_media(payload: bytes, codec: str) -> np.ndarray:
    """Per-payload decode. 'raw' interprets the payload as a uint8 vector;
    other codecs dispatch to register_media_decoder hooks, else raise."""
    if codec == "raw":
        return np.frombuffer(payload, dtype=np.uint8)
    fn = _MEDIA_DECODERS.get(codec)
    if fn is not None:
        return fn(payload)
    raise NotImplementedError(
        f"media codec {codec!r} requires an image/audio library not shipped "
        "in this container; plug a decoder in with register_media_decoder"
    )


def _payload_view(batch: "pa.RecordBatch"):
    """Zero-copy (offsets, data) view of the batch's payload binary column
    — valid only for codec='raw' (the identity decode); any other codec
    raises through decode_media. Returns (starts, ends, data) int64/uint8."""
    import pyarrow as pa
    import pyarrow.compute as pc

    codecs = batch.column("codec")
    if pc.any(pc.not_equal(codecs, pa.scalar("raw"))).as_py():
        bad = pc.filter(codecs, pc.not_equal(codecs, pa.scalar("raw")))[0].as_py()
        decode_media(b"", bad)  # raises NotImplementedError with the message
    pay = batch.column("payload")
    bufs = pay.buffers()
    off = np.frombuffer(bufs[1], np.int32, len(pay) + 1, offset=pay.offset * 4).astype(np.int64)
    data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    return off[:-1], off[1:], data


def extract_features(df: DataFrame) -> DataFrame:
    """mapInArrow feature extraction over binary payloads: whole Arrow
    batches in, pure offsets math out — byte sums are one cumsum over the
    batch's concatenated payload buffer (no per-row Python at all). The
    pattern (schema + batch iterator + segment numpy) is exactly what a
    real image featurizer (resize / embed) drops into."""
    import pyarrow as pa

    def fn(batches) -> Iterator["pa.RecordBatch"]:
        worker_task_start()
        for b in batches:
            if b.num_rows == 0:
                continue
            starts, ends, data = _payload_view(b)
            lens = ends - starts
            nonempty = lens > 0
            if len(data):
                safe_start = np.minimum(starts, len(data) - 1)
                safe_end = np.maximum(ends - 1, 0)
                first = np.where(nonempty, data[safe_start].astype(np.int32), -1).astype(np.int32)
                last = np.where(nonempty, data[safe_end].astype(np.int32), -1).astype(np.int32)
            else:  # every payload in the batch is empty — nothing to gather
                first = np.full(len(lens), -1, np.int32)
                last = first
            cs = np.concatenate(([0], np.cumsum(data, dtype=np.int64)))
            tot = cs[ends] - cs[starts]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("media_id"),
                    pa.array(lens.astype(np.int32), pa.int32()),
                    pa.array(first, pa.int32()),
                    pa.array(last, pa.int32()),
                    pa.array(tot, pa.int64()),
                    # pure float64 division (no rounding): IEEE division is
                    # deterministic, so Spark and the DuckDB oracle agree
                    # bit-for-bit; round() implementations would not
                    pa.array(tot / np.maximum(lens, 1), pa.float64()),
                ],
                names=["media_id", "n_bytes", "first_byte", "last_byte", "byte_sum", "mean_byte"],
            )

    return df.select("media_id", "payload", "codec").mapInArrow(fn, FEATURE_DDL)


def media_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return extract_features(attach_media(df, text_col, id_col))


def media_features_oracle(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    # byte stats over the UTF-8 payload, computed in SQL (ASCII corpus).
    # list_sum over BIGINT returns HUGEINT (pandas float64) — CAST back to
    # BIGINT so the driver value-hash sees the same int64 Spark emits; the
    # mean is a bare double division (bit-deterministic, unlike round()).
    codes = f"list_transform(string_split({text_col}, ''), c -> CAST(ascii(c) AS BIGINT))"
    bsum = f"CAST(list_sum({codes}) AS BIGINT)"
    return (
        f"SELECT {id_col} AS media_id, CAST(length({text_col}) AS INTEGER) AS n_bytes, "
        f"CASE WHEN length({text_col}) = 0 THEN -1 ELSE ascii(substr({text_col}, 1, 1)) END AS first_byte, "
        f"CASE WHEN length({text_col}) = 0 THEN -1 ELSE ascii(substr({text_col}, length({text_col}), 1)) END AS last_byte, "
        f"{bsum} AS byte_sum, "
        f"CAST({bsum} AS DOUBLE) / greatest(length({text_col}), 1) AS mean_byte "
        f"FROM {table}"
    )


def frame_sample(df: DataFrame, every_n: int = 7) -> DataFrame:
    """Frame-sampling plumbing: slice every Nth byte of the payload (the
    fake analogue of sampling every Nth video frame) — one strided-mask
    gather over the batch's concatenated payload buffer, no per-row
    Python; the output binary column is rebuilt from raw offsets."""
    import pyarrow as pa

    def fn(batches) -> Iterator["pa.RecordBatch"]:
        worker_task_start()
        for b in batches:
            if b.num_rows == 0:
                continue
            starts, ends, data = _payload_view(b)
            lens = ends - starts
            # relative position-in-payload for every byte of the batch
            total = int(lens.sum())
            seg_cum = np.concatenate(([0], np.cumsum(lens)))[:-1]
            rel = np.arange(total) - np.repeat(seg_cum, lens)
            abs_idx = np.repeat(starts, lens) + rel
            keep = rel % every_n == 0
            out_data = data[abs_idx[keep]] if total else np.empty(0, np.uint8)
            out_lens = (lens + every_n - 1) // every_n
            out_off = np.concatenate(([0], np.cumsum(out_lens))).astype(np.int32)
            frames = pa.Array.from_buffers(
                pa.binary(), len(lens),
                [None, pa.py_buffer(out_off.tobytes()), pa.py_buffer(out_data.tobytes())],
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("media_id"), frames, pa.array(out_lens.astype(np.int32), pa.int32())],
                names=["media_id", "frames", "n_frames"],
            )

    return df.select("media_id", "payload", "codec").mapInArrow(
        fn, "media_id bigint, frames binary, n_frames int"
    )
