"""Deduplication operators for training-data curation.

Five families (the standard curation ladder):
  exact            — md5 over normalized text, hash groupBy (one shuffle)
  ngram_jaccard    — exact word-bigram Jaccard via a shingle-blocked
                     self-join (no cross product: candidates must share a
                     shingle, which is also the LSH-free scale path for
                     moderate thresholds)
  minhash_lsh      — vectorized MinHash signatures (pandas UDF) + banded
                     bucket join for candidates, then exact-Jaccard verify;
                     at b=64, r=2 the candidate recall at s≥0.4 is
                     1-(1-s²)^64 ≈ 1-1.4e-5, so the verified output equals
                     the exact operator's (what the oracle checks)
  simhash          — 64-bit SimHash over word hashes (vectorized), near-dup
                     via 16-bit band blocking + Hamming≤3 verify
  embedding cosine — see pipeline/similarity.py (near_dup_pairs)

Scale notes: every join here is an equi-join on a blocking key (shingle,
LSH bucket, or SimHash band) — Catalyst shuffles both sides on that key and
AQE handles stragglers; nothing enumerates the O(n²) pair space. Hot
shingles (stop-bigrams) are the skew risk: `ngram_jaccard_pairs` caps
blocking-key fanout by dropping shingles above `max_df` document frequency,
the same trick DataSketches/Spark dedup pipelines use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

JACCARD_ROUND = 6


def normalize_text(col):
    """lower + trim + collapse whitespace — identical in Spark and DuckDB."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


NORMALIZE_SQL = "regexp_replace(lower(trim({c})), '\\s+', ' ', 'g')"


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct normalized text, keeping the
    smallest id; n_dupes counts members. One hash-shuffle, map-side
    partial aggregation for free."""
    h = F.md5(normalize_text(F.col(text_col))).alias("text_md5")
    return (
        df.select(h, F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dupes"))
    )


def dedup_exact_oracle(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    norm = NORMALIZE_SQL.format(c=text_col)
    return (
        f"SELECT md5({norm}) AS text_md5, min({id_col}) AS keep_id, "
        f"count(*) AS n_dupes FROM {table} GROUP BY 1"
    )


# ------------------------------------------------------------------ shingles

def _shingles(text_col: str):
    """Distinct word-bigram shingles of the normalized text (codegen only)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(2)),
        lambda i: F.concat_ws(" ", F.element_at(words, i + 1), F.element_at(words, i + 2)),
    )
    return F.array_distinct(grams)


SHINGLES_SQL = (
    "list_distinct(list_transform(generate_series(1, len({w}) - 1), "
    "i -> {w}[i] || ' ' || {w}[i + 1]))"
)


def _shingle_words_sql(text_col: str) -> str:
    return f"string_split({NORMALIZE_SQL.format(c=text_col)}, ' ')"


# default blocking cap: shingles in more than max(100, 5% of corpus)
# documents are stop-bigrams, not dedup signal; one df=10⁶ shingle would
# otherwise contribute 10¹² candidate pairs to the self-join
MAX_DF_FLOOR = 100
MAX_DF_FRAC = 0.05


def _auto_max_df(n_docs: int) -> int:
    import math

    return max(MAX_DF_FLOOR, math.ceil(MAX_DF_FRAC * n_docs))


_AUTO_MAX_DF_SQL = (
    f"greatest({MAX_DF_FLOOR}, CAST(ceil({MAX_DF_FRAC} * (SELECT count(*) FROM {{table}})) AS BIGINT))"
)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | str | None = "auto",
) -> DataFrame:
    """n-gram (word-bigram) Jaccard near-dup pairs: blocking proposes every
    pair sharing ≥1 shingle with document frequency ≤ max_df (the skew cap
    is DEFAULT-ON — "auto" derives it from the corpus size, matching
    _auto_max_df / the oracle's subquery); an exact-Jaccard verify over the
    FULL shingle sets then scores candidates, so reported jaccard values
    are exact. max_df=None disables the cap (exact blocking, testing-scale
    only: one stop-bigram with df=10⁶ would mean 10¹² candidate pairs)."""
    sh = df.select(F.col(id_col).alias("id"), _shingles(text_col).alias("sh")).withColumn(
        "n_sh", F.size("sh")
    )
    ex = sh.select("id", F.explode("sh").alias("g"))
    if max_df == "auto":
        max_df = _auto_max_df(df.count())
    if max_df is not None:
        hot = ex.groupBy("g").agg(F.count("*").alias("df_")).filter(F.col("df_") > max_df)
        ex = ex.join(F.broadcast(hot.select("g")), "g", "left_anti")
    cand = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / (F.col("na") + F.col("nb") - F.size(F.array_intersect("sh_a", "sh_b"))),
        JACCARD_ROUND,
    )
    return (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb")), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_oracle(
    table: str = "documents",
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | str | None = None,
) -> str:
    """Exact SQL replica. max_df=None is the pure all-shared-shingle-pairs
    relation (the minhash verify oracle); "auto"/int replicates
    ngram_jaccard_pairs' df-capped blocking with the same derivation."""
    w = _shingle_words_sql(text_col)
    sh = SHINGLES_SQL.format(w=w)
    if max_df is None:
        block = "e"
    else:
        cap = _AUTO_MAX_DF_SQL.format(table=table) if max_df == "auto" else str(max_df)
        block = f"(SELECT e.* FROM e JOIN d USING (g) WHERE d.df_ <= {cap})"
    jac = f"round(len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), {JACCARD_ROUND})"
    return (
        f"WITH s AS (SELECT {id_col} AS id, {sh} AS sh FROM {table}), "
        f"e AS (SELECT id, unnest(sh) AS g FROM s), "
        f"d AS (SELECT g, count(*) AS df_ FROM e GROUP BY g), "
        f"c AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b "
        f"FROM {block} a JOIN {block} b ON a.g = b.g AND a.id < b.id) "
        f"SELECT c.id_a, c.id_b, {jac} AS jaccard "
        f"FROM c JOIN s sa ON sa.id = c.id_a JOIN s sb ON sb.id = c.id_b "
        f"WHERE {jac} >= {threshold}"
    )


# ------------------------------------------------------------------- minhash

MINHASH_N = 128  # b=64 bands × r=2 rows
MINHASH_BANDS = 64
_MERSENNE = (1 << 61) - 1


def _hash_params(n: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    return a, b


def _fnv1a_bytes(tokens, init: np.ndarray | None = None) -> np.ndarray:
    """FNV-1a 64-bit over many strings, vectorized column-parallel: one
    numpy pass per byte POSITION over a (n_strings,) lane, never a Python
    loop over strings or bytes. Identical output to the scalar FNV-1a.
    `init` seeds each lane with a caller-provided running hash instead of
    the FNV offset basis — the fold-continuation used to hash bigrams
    without materializing the joined strings."""
    import pyarrow as pa

    arr = tokens if isinstance(tokens, pa.Array) else pa.array(tokens, pa.string())
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], np.int32, n + 1, offset=arr.offset * 4).astype(np.int64)
    data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    starts, lens = off[:-1], off[1:] - off[:-1]
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64) if init is None else init.astype(np.uint64, copy=True)
    prime = np.uint64(0x100000001B3)
    for j in range(int(lens.max()) if n else 0):
        valid = lens > j
        if not valid.any():
            break
        c = np.zeros(n, dtype=np.uint64)
        c[valid] = data[starts[valid] + j]
        h = np.where(valid, (h ^ c) * prime, h)
    return h


def _split_words(texts: pd.Series):
    """Vectorized `(t or '').lower().split()` over a whole Arrow batch:
    returns (flat word StringArray with empties removed, per-doc int64
    counts). No Python loop over documents — Arrow kernels split and
    lowercase; numpy segment math drops the empty tokens Arrow emits for
    leading/trailing/empty inputs (Python split() never yields those)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(texts, type=pa.string())
    lv = pc.utf8_split_whitespace(pc.utf8_lower(pc.fill_null(arr, "")))
    if lv.offset != 0:  # defensive: align offsets with flatten()'s view
        lv = lv.combine_chunks() if isinstance(lv, pa.ChunkedArray) else pa.concat_arrays([lv])
    off = np.asarray(lv.offsets, dtype=np.int64)
    flat = lv.flatten()
    keep = pc.not_equal(flat, "")
    m = keep.to_numpy(zero_copy_only=False).astype(np.int64)
    cs = np.concatenate(([0], np.cumsum(m)))
    counts = cs[off[1:]] - cs[off[:-1]]
    return flat.filter(keep), counts


def _bigram_hashes(words, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """FNV-1a hashes of word bigrams "w[i] w[i+1]" within each document,
    via fold continuation: hash(w1), then the space byte, then w2's bytes —
    bit-identical to hashing the joined string, with no string
    materialization. Returns (flat bigram hashes, per-doc bigram counts)."""
    hw = _fnv1a_bytes(words)
    n = len(hw)
    if n < 2:
        return np.empty(0, dtype=np.uint64), np.maximum(counts - 1, 0)
    prime = np.uint64(0x100000001B3)
    init = (hw[:-1] ^ np.uint64(0x20)) * prime  # fold the ' ' separator
    hb_all = _fnv1a_bytes(words.slice(1), init=init)
    # mask out pairs that straddle a document boundary
    wstarts = np.concatenate(([0], np.cumsum(counts)))
    mask = np.ones(n - 1, dtype=bool)
    js = wstarts[1:-1]
    js = js[(js > 0) & (js <= n - 1)]
    mask[js - 1] = False
    return hb_all[mask], np.maximum(counts - 1, 0)


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """id → banded MinHash signature rows (id, band, bucket). Signature
    computation is a vectorized pandas UDF (Arrow batches); band bucketing
    hashes r=2 signature rows per band."""
    a_p, b_p = _hash_params(MINHASH_N)
    r = MINHASH_N // MINHASH_BANDS

    @F.pandas_udf("array<long>")
    def sig_udf(texts: pd.Series) -> pd.Series:
        # fully vectorized: Arrow splits the batch's words, one FNV fold
        # pass hashes every bigram (duplicates don't move a min), then the
        # per-doc signature is a segment-min over the (bigrams × hashes)
        # permutation matrix (np.minimum.reduceat); docs chunked to bound
        # the matrix at ~128 MB
        words, counts = _split_words(texts)
        hb, bcounts = _bigram_hashes(words, counts)
        n_docs = len(counts)
        sigs = np.full((n_docs, MINHASH_N), np.uint64(_MERSENNE), dtype=np.uint64)
        m = np.uint64(_MERSENNE)
        bounds = np.concatenate(([0], np.cumsum(bcounts)))
        max_hashes = 131072
        c0 = 0
        while c0 < n_docs:
            c1 = c0 + 1
            while c1 < n_docs and bounds[c1 + 1] - bounds[c0] <= max_hashes:
                c1 += 1
            lo, hi = bounds[c0], bounds[c1]
            if hi > lo:
                x = hb[lo:hi] % m
                perm = (x[:, None] * a_p[None, :] + b_p[None, :]) % m
                lens = bcounts[c0:c1]
                nonempty = np.flatnonzero(lens > 0)
                mins = np.minimum.reduceat(perm, bounds[c0:c1][nonempty] - lo, axis=0)
                sigs[c0 + nonempty] = mins
            c0 = c1
        return pd.Series(sigs.view(np.int64).tolist())

    sigs = df.select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))
    bands = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
                lambda bi: F.xxhash64(F.slice(F.col("sig"), bi * r + 1, r).cast("string"), bi),
            )
        ).alias("band", "bucket"),
    )
    return bands


def minhash_lsh_pairs(
    df: DataFrame, threshold: float = 0.4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified: banded bucket equi-join
    proposes candidates (the only shuffle that scales with corpus size);
    an exact Jaccard join verifies them, so output = exact pairs ∩
    candidates. With b=64/r=2 recall at s≥0.4 is ≈1, which the DuckDB
    oracle (exact Jaccard SQL) checks end-to-end."""
    bands = minhash_signatures(df, text_col, id_col)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    sh = df.select(F.col(id_col).alias("id"), _shingles(text_col).alias("sh"))
    verified = (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                JACCARD_ROUND,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ------------------------------------------------------------------- simhash

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # legacy fixed blocking: 16-bit bands for Hamming ≤ 3
SIMHASH_TARGET_BUCKET = 64


def adaptive_simhash_blocks(n_rows: int, max_hamming: int = 3) -> int:
    """Smallest block count B whose table keys are wide enough that
    E[bucket size] ≈ SIMHASH_TARGET_BUCKET (Manku et al. 2007 style:
    split 64 bits into B blocks, key each table on a (B-h)-block subset;
    any pair within Hamming h leaves ≥ B-h blocks untouched, so ≥1 of the
    C(B,h) tables collides — recall stays exactly 1). Fixed 16-bit bands
    (B=4) cap at 65k buckets: at n=10⁹ that is ~15k docs/bucket and ~10¹³
    candidate pairs per band; B=6 gives 30-bit keys instead."""
    import math

    h = max_hamming
    need = math.ceil(math.log2(max(n_rows, 1) / SIMHASH_TARGET_BUCKET)) if n_rows > SIMHASH_TARGET_BUCKET else 1
    for n_blocks in range(h + 1, 11):
        if (n_blocks - h) * (SIMHASH_BITS // n_blocks) >= need:
            return n_blocks
    return 10  # C(10,3)=120 tables, 7*6=42-bit keys — the practical ceiling


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word FNV hashes — bit-vote accumulation is one
    (n_words × 64) vectorized matmul per document batch."""

    @F.pandas_udf("long")
    def sim_udf(texts: pd.Series) -> pd.Series:
        # fully vectorized: Arrow splits the batch's words, one FNV pass
        # hashes them, then per-doc bit votes via np.add.reduceat over the
        # (words × 64) bit matrix; docs chunked to bound the matrix
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        words, counts = _split_words(texts)
        hs_all = _fnv1a_bytes(words)
        n_docs = len(counts)
        out = np.zeros(n_docs, dtype=np.int64)
        bounds = np.concatenate(([0], np.cumsum(counts)))
        max_hashes = 262144
        c0 = 0
        while c0 < n_docs:
            c1 = c0 + 1
            while c1 < n_docs and bounds[c1 + 1] - bounds[c0] <= max_hashes:
                c1 += 1
            lo, hi = bounds[c0], bounds[c1]
            if hi > lo:
                hs = hs_all[lo:hi]
                bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
                votes_all = 2 * bits - 1
                lens = counts[c0:c1]
                nonempty = np.flatnonzero(lens > 0)
                votes = np.add.reduceat(votes_all, bounds[c0:c1][nonempty] - lo, axis=0)
                sigs = np.where(votes > 0, np.uint64(1) << shifts[None, :], np.uint64(0))
                out[c0 + nonempty] = np.bitwise_or.reduce(sigs, axis=1).view(np.int64)
            c0 = c1
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("simhash"))


def _simhash_block_layout(n_blocks: int) -> list[tuple[int, int]]:
    """(shift, width) for each of n_blocks contiguous bit blocks of 64."""
    base, extra = divmod(SIMHASH_BITS, n_blocks)
    out, shift = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        out.append((shift, w))
        shift += w
    return out


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming via block-subset
    blocking: 64 bits split into n_blocks blocks, one table per
    (n_blocks - max_hamming)-block combination. Pigeonhole makes recall
    exactly 1 for every n_blocks > max_hamming, so the output is identical
    for any blocking — only the bucket-size distribution changes.
    n_blocks=None derives it from the corpus size (adaptive_simhash_blocks);
    n_blocks = max_hamming + 1 reproduces the legacy single-block bands."""
    from itertools import combinations

    if n_blocks is None:
        n_blocks = adaptive_simhash_blocks(df.count(), max_hamming)
    if n_blocks <= max_hamming:
        raise ValueError(f"n_blocks={n_blocks} must exceed max_hamming={max_hamming}")
    sigs = simhash_signatures(df, text_col, id_col).cache()
    layout = _simhash_block_layout(n_blocks)

    def table_key(subset: tuple[int, ...]):
        # concatenate the subset's blocks into one long key (left fold)
        key = F.lit(0).cast("long")
        for bi in subset:
            shift, width = layout[bi]
            blk = F.shiftrightunsigned(F.col("simhash"), shift).bitwiseAND(F.lit((1 << width) - 1))
            key = F.shiftleft(key, width).bitwiseOR(blk)
        return key

    band_structs = [
        F.struct(F.lit(ti).alias("band"), table_key(subset).alias("bucket"))
        for ti, subset in enumerate(combinations(range(n_blocks), n_blocks - max_hamming))
    ]
    bands = sigs.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("ha"), F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    out = cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )
    # materialize the (small) pair set so the big cached signature table can
    # be released now instead of lingering for the session; downstream
    # iterative consumers (dedup_components) also want a lineage-free input
    out = out.localCheckpoint(eager=True)
    sigs.unpersist()
    return out


# SimHash is fully deterministic, so it has an exact SQL oracle: DuckDB
# recomputes the 64-bit FNV-1a word hashes (HUGEINT fold mod 2^64 — a
# literal 2^128 modulus would silently coerce the fold to DOUBLE), the
# per-bit majority votes, and the Hamming-<=h pair set. Band blocking in
# simhash_pairs is recall-lossless (pigeonhole), so the Spark output equals
# this all-pairs SQL exactly.
_FNV_SEED = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def _fnv_fold_sql(word_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST({_FNV_SEED} AS HUGEINT), "
        f"list_transform(string_split({word_expr}, ''), c -> CAST(ascii(c) AS HUGEINT))), "
        f"(h, c) -> (xor(h, c) * {_FNV_PRIME}) % {1 << 64})"
    )


def simhash_oracle(
    table: str = "documents", max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """All-pairs SimHash ground truth in DuckDB SQL.

    ASCII-only corpus assumption: the SQL FNV fold hashes `ascii(c)` per
    character (Unicode CODEPOINTS), while the engine's `_fnv1a_bytes`
    hashes UTF-8 BYTES — identical only while every codepoint is < 128,
    which holds for the synthetic documents fixture. On non-ASCII text the
    oracle diverges by design (same caveat as media_features_oracle)."""
    words = f"list_filter(string_split_regex(trim(lower({text_col})), '\\s+'), x -> x <> '')"
    vote = "list_sum(list_transform(lh, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END))"
    sig = (
        "CAST(coalesce(list_sum(list_transform(generate_series(0, 63), i -> "
        f"CASE WHEN {vote} > 0 THEN CAST(1 AS HUGEINT) << i ELSE CAST(0 AS HUGEINT) END)), 0) AS UBIGINT)"
    )
    return (
        f"WITH w AS (SELECT {id_col} AS id, {words} AS wl FROM {table}), "
        f"h AS (SELECT id, list_transform(wl, x -> {_fnv_fold_sql('x')}) AS lh FROM w), "
        f"s AS (SELECT id, {sig} AS sig FROM h) "
        f"SELECT a.id AS id_a, b.id AS id_b, "
        f"CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming "
        f"FROM s a JOIN s b ON a.id < b.id "
        f"WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}"
    )


# ------------------------------------------------------------- components

def dedup_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 50
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, keep_id):
    every document maps to the smallest id in its duplicate cluster — the
    standard "keep one per cluster" step after any pairwise dedup operator.

    Iterative min-label propagation: each round every node adopts the
    minimum label in its neighborhood (large-star/small-star style); rounds
    needed ≈ graph diameter of the largest cluster (near-dup clusters are
    shallow, typically ≤ 5). Each round is two shuffles (join + groupBy);
    the loop stops at fixpoint, detected with one scalar count per round —
    no data is collected to the driver."""
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .cache()
    )
    for it in range(max_iters):
        # candidate label for each node: min over neighbors' labels and own
        nbr = (
            edges.join(labels.withColumnRenamed("id", "b").withColumnRenamed("lbl", "nl"), "b")
            .groupBy("a")
            .agg(F.min("nl").alias("nl"))
            .withColumnRenamed("a", "id")
        )
        # `labels` feeds new_labels TWICE (via nbr and via the join), so a
        # lazy plan would DOUBLE in size every round — a diameter-25 chain
        # reaches ~2^25 logical nodes and OOMs the driver during analysis.
        # The fixpoint count below materializes every round regardless, so
        # an eager localCheckpoint costs nothing extra and keeps the plan
        # constant-size: each round starts from a materialized-RDD scan.
        new_labels = (
            labels.join(nbr, "id", "left")
            .select("id", F.least(F.col("lbl"), F.coalesce(F.col("nl"), F.col("lbl"))).alias("lbl"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id"), F.col("lbl").alias("keep_id"))


def dedup_components_oracle(pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """Recursive-CTE ground truth: keep_id = min id reachable from each
    node over the undirected pair graph."""
    # CTE names suffixed _cc: DuckDB makes sibling CTEs visible inside a
    # nested WITH, so unsuffixed names would collide with the pairs SQL's
    # own CTEs (s/e/d)
    return (
        f"WITH RECURSIVE pairs_cc AS ({pairs_sql}), "
        f"edges_cc AS (SELECT {id_a} AS a, {id_b} AS b FROM pairs_cc "
        f"UNION SELECT {id_b} AS a, {id_a} AS b FROM pairs_cc), "
        f"reach_cc AS (SELECT a, a AS reach FROM edges_cc "
        f"UNION SELECT edges_cc.a, reach_cc.reach FROM edges_cc "
        f"JOIN reach_cc ON edges_cc.b = reach_cc.a) "
        f"SELECT a AS id, min(reach) AS keep_id FROM reach_cc GROUP BY a"
    )
