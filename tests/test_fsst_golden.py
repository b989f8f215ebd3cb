"""Frozen symbol tables and bytes of the FSST encoder.

`fsst.build_table` picks its merges by exact pair counts with a
smallest-(a, b) tie-break, and `fsst.encode` replays them over the whole
buffer, so any change to either shows up in the bytes written to disk.
These digests pin both over self-generated corpora: text, sequential
ids, random bytes, `a == b` run chains, small alphabets (long symbols,
heavy merges, over-long pairs) and tiny and empty buffers. Inputs come
from a self-contained integer hash, not numpy's RNG, so they cannot
drift with a library upgrade.
"""

import hashlib

import numpy as np
import pytest

from parquet_spark.codecs import fsst

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)

_WORDS = (
    "the of and to in is that for it as was with be by on not he this are or his from at which but "
    "have an they you were her she there been one all we their has would when if so no will more "
    "column block parquet spark symbol table encode decode stream engine storage compression"
).split()


def _hash(n: int, seed: int) -> np.ndarray:
    """n deterministic pseudo-random uint64 (splitmix64 finalizer)."""
    with np.errstate(over="ignore"):
        z = (np.arange(1, n + 1, dtype=np.uint64) + np.uint64(seed << 20)) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (z ^ (z >> np.uint64(31))) & _M64


def _u8(b: bytes) -> np.ndarray:
    return np.frombuffer(b, dtype=np.uint8).copy()


def _text(n_words: int, seed: int) -> bytes:
    """Skewed word choice (squared uniform → Zipf-like), sentence breaks."""
    h = _hash(n_words, seed)
    u = (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    idx = (u * u * len(_WORDS)).astype(np.int64)
    out = []
    for i, w in enumerate(idx):
        out.append(_WORDS[w])
        out.append(". " if int(h[i]) % 13 == 0 else " ")
    return "".join(out).encode()


def _runs(n_runs: int, seed: int, top: int) -> bytes:
    """Single-byte runs of length 1..top: chains of the a == b merge."""
    h = _hash(n_runs, seed)
    lens = 1 + (h % np.uint64(top)).astype(np.int64)
    vals = (b"aab" * n_runs)[:n_runs]
    return b"".join(bytes([v]) * int(k) for v, k in zip(vals, lens))


def _corpora() -> dict[str, bytes]:
    text = _text(40000, 1)
    return {
        "text_3k": text[1000:4000],
        "text_40k": text[7:40007],
        "text_full": text,  # > the 64 KB table sample: strided sampling
        "text_other_seed": _text(6000, 2),
        "seq_ids": b"".join(b"user-%08d\n" % i for i in range(912345, 932345)),
        "seq_ids_csv": b"".join(b"%d,%d;" % (i, i * 7) for i in range(5000)),
        "random_5k": _hash(5000, 3).astype(np.uint8).tobytes(),
        "random_70k": _hash(70000, 4).astype(np.uint8).tobytes(),
        "runs_short": _runs(4000, 5, 12),
        "runs_long": _runs(600, 6, 300),
        "one_long_run": b"a" * 4099,
        "alphabet_2": bytes(97 + (_hash(20000, 7) % np.uint64(2)).astype(np.uint8)),
        "alphabet_3": bytes(97 + (_hash(20000, 8) % np.uint64(3)).astype(np.uint8)),
        "alphabet_4": bytes(97 + (_hash(20000, 9) % np.uint64(4)).astype(np.uint8)),
        "alphabet_5": bytes(97 + (_hash(20000, 10) % np.uint64(5)).astype(np.uint8)),
        "periodic": b"abcabcabd" * 2000,
        "empty": b"",
        "one": b"A",
        "two": b"AB",
        "four_same": b"AAAA",
        "abab": b"ABABABAB",
        "ten": bytes(range(10)),
    }


CORPORA = _corpora()


def _digest(name: str) -> str:
    data = _u8(CORPORA[name])
    h = hashlib.sha256()
    for syms in (fsst.build_table(data.copy()), fsst.build_table(data.copy(), min_count=1)):
        h.update(len(syms).to_bytes(2, "little"))
        for s in syms:
            h.update(bytes([len(s)]) + s)
    buf = fsst.encode(data)
    h.update(len(buf).to_bytes(8, "little") + buf)
    return h.hexdigest()[:24]


GOLDEN = {
    "abab": "f9573db5a12b37e25b6365ea",
    "alphabet_2": "dfdabf5c4d7c663bf1fac826",
    "alphabet_3": "f0a5a018d853e0eea1a8c7ca",
    "alphabet_4": "f787ad63ede2cfb434aaef7c",
    "alphabet_5": "1dc58d12aeb70c416876ba9d",
    "empty": "8eedbaad050a9b4ed7441578",
    "four_same": "6fcd01ba154f646e38f31a89",
    "one": "3c9d93010009e747c26aebbe",
    "one_long_run": "99a87adc057ec08ec4690854",
    "periodic": "adc8145c7731315eea7254fc",
    "random_5k": "d41aa29fd580fda5c4b2d14e",
    "random_70k": "1a50d4faddebc72952694b58",
    "runs_long": "e951577997eb9ad017a190db",
    "runs_short": "d2e3d864fbbe2a71c0454cfe",
    "seq_ids": "cc2bb2a7011e8b3e7352e1f0",
    "seq_ids_csv": "451b84177e3506af970bf4d9",
    "ten": "cc6c85b7724c65273ee4681c",
    "text_3k": "ed5e586f78ce6fb7833020d3",
    "text_40k": "02e76dc0498de38e0180ab58",
    "text_full": "91a788936c2332b9ff8a016c",
    "text_other_seed": "d20a16814870c7f9f39f36e5",
    "two": "58bd25e17d5c011e2f6593b7",
}


def _merge_pass(tok, a, b, code):
    """Replace the left-greedy (a, b) matches with code, tombstoning each
    match's second element. Returns (tok, replacements made)."""
    idx = fsst._match_positions(tok, a, b)
    tok[idx] = code
    tok[idx + 1] = fsst.TOMB
    return tok, int(idx.size)


def _build_table_recount(sample, max_merges=160, min_count=4):
    """Reference: `build_table` recounting every pair with np.unique at
    every merge step, as it did before it kept incremental counts."""
    tok = sample.astype(np.uint16)
    expansions, merges = {}, []
    sym_len = np.ones(0x10000, dtype=np.int32)
    next_code, dirty, steps = 256, False, 0
    while steps < max_merges and len(tok) >= 2:
        valid = (tok[:-1] != fsst.TOMB) & (tok[1:] != fsst.TOMB)
        pairs = ((tok[:-1].astype(np.uint32) << 16) | tok[1:])[valid]
        uniq, counts = np.unique(pairs, return_counts=True)
        ok = sym_len[uniq >> 16] + sym_len[uniq & 0xFFFF] <= fsst.MAX_SYMBOL_LEN
        uniq, counts = uniq[ok], counts[ok]
        if counts.size == 0 or counts.max() < min_count:
            if not dirty:
                break
            tok, dirty = fsst._compact(tok), False
            continue
        steps += 1
        best = int(uniq[np.argmax(counts)])
        a, b = best >> 16, best & 0xFFFF
        sym = b"".join(expansions[c] if c >= 256 else bytes([c]) for c in (a, b))
        expansions[next_code] = sym
        merges.append(sym)
        sym_len[next_code] = len(sym)
        tok, n_rep = _merge_pass(tok, a, b, next_code)
        dirty = True
        next_code += 1
        if n_rep > len(tok) // 32:
            tok, dirty = fsst._compact(tok), False
        if len(merges) >= 254:
            break
    tok = fsst._compact(tok)
    lits = tok[tok < 256]
    room = 255 - len(merges)
    if room > 0 and lits.size:
        u, c = np.unique(lits, return_counts=True)
        merges.extend(bytes([int(u[i])]) for i in np.argsort(-c, kind="stable")[:room])
    return merges


@pytest.mark.parametrize("seed", range(12))
def test_build_table_matches_full_recount(seed):
    """Random corpora of each kind, random merge limits: the incremental
    counts choose exactly the merges a full recount chooses."""
    rng = np.random.default_rng(seed)
    words = [bytes(rng.integers(97, 123, rng.integers(1, 9))) for _ in range(200)]
    for kind in range(5):
        n = int(rng.integers(0, 30000))
        if kind == 0:
            data = b" ".join(words[i] for i in rng.zipf(1.3, n // 5 + 1) % 200)[:n]
        elif kind == 1:
            data = bytes(97 + rng.integers(0, int(rng.integers(1, 7)), n).astype(np.uint8))
        elif kind == 2:
            data = rng.integers(0, 256, n).astype(np.uint8).tobytes()
        elif kind == 3:
            k = n // 8 + 1
            data = bytes(np.repeat(rng.integers(97, 100, k), rng.integers(1, 30, k)).astype(np.uint8))[:n]
        else:
            data = bytes(rng.integers(97, 100, int(rng.integers(1, 12))).astype(np.uint8)) * (n // 10 + 1)
        arr = _u8(data)
        for kw in ({}, {"min_count": int(rng.integers(0, 6)), "max_merges": int(rng.integers(1, 300))}):
            assert fsst.build_table(arr.copy(), **kw) == _build_table_recount(arr.copy(), **kw), (kind, n, kw)


@pytest.mark.parametrize("name", sorted(CORPORA))
def test_fsst_tables_and_bytes_frozen(name):
    data = _u8(CORPORA[name])
    assert fsst.decode(fsst.encode(data), len(data)).tobytes() == CORPORA[name]
    assert _digest(name) == GOLDEN[name]


def _encode_whole_buffer(data, symbols):
    """Reference: `encode`'s replay as it was before it replayed distinct
    segments, one merge pass over the whole buffer per script step."""
    table = fsst.SymbolTable(symbols)
    tok = data.astype(np.uint16)
    exp_of_work, work_code_of, next_code = {}, {}, 256
    for s in symbols:
        if len(s) < 2:
            continue
        a = b = None
        for cut in range(1, len(s)):
            ea, eb = s[:cut], s[cut:]
            ca = work_code_of.get(ea, ea[0] if len(ea) == 1 else None)
            cb = work_code_of.get(eb, eb[0] if len(eb) == 1 else None)
            if ca is not None and cb is not None:
                a, b = ca, cb
                break
        if a is None:
            continue
        tok, n_rep = _merge_pass(tok, a, b, next_code)
        exp_of_work[next_code] = s
        work_code_of[s] = next_code
        next_code += 1
        if n_rep > len(tok) // 32:
            tok = fsst._compact(tok)
    tok = fsst._compact(tok)
    lut = np.full(0x10000, -1, dtype=np.int32)  # -1 => escape literal
    for s, code in table.code_of.items():
        if len(s) == 1:
            lut[s[0]] = code
    for wcode, s in exp_of_work.items():
        lut[wcode] = table.code_of[s]
    mapped = lut[tok]
    is_esc = mapped < 0
    out_lens = np.where(is_esc, 2, 1).astype(np.int64)
    starts = np.zeros(len(tok), dtype=np.int64)
    np.cumsum(out_lens[:-1], out=starts[1:])
    total = int(starts[-1] + out_lens[-1]) if len(tok) else 0
    stream = np.empty(total, dtype=np.uint8)
    stream[starts[~is_esc]] = mapped[~is_esc].astype(np.uint8)
    stream[starts[is_esc]] = fsst.ESCAPE
    stream[starts[is_esc] + 1] = tok[is_esc].astype(np.uint8)
    return table.serialize() + total.to_bytes(4, "little") + stream.tobytes()


def _n_segments(data, symbols):
    return len(fsst._segments(data, fsst._replay_script(symbols)))


def _check(data, symbols=None):
    data = _u8(data) if isinstance(data, bytes) else data
    symbols = fsst.build_table(fsst._table_sample(data, 1 << 16)) if symbols is None else symbols
    buf = fsst.encode(data, symbols)
    assert buf == _encode_whole_buffer(data, symbols)
    assert fsst.decode(buf, len(data)).tobytes() == data.tobytes()
    return symbols


def test_replay_one_segment():
    """No cut: every bigram of a 2-letter alphabet lies in a symbol."""
    data = CORPORA["alphabet_2"]
    syms = _check(data)
    assert _n_segments(_u8(data), syms) == 1


def test_replay_every_boundary_a_cut():
    """Random bytes under a table of bytes they never hold: all cuts."""
    rng = np.random.default_rng(1)
    data = rng.integers(0, 128, 20000, dtype=np.uint8)
    syms = [b"\xf0\xf1", b"\xf0\xf1\xf2", b"\xf3\xf3"] + [bytes([i]) for i in range(40)]
    _check(data, syms)
    assert _n_segments(data, syms) == len(data)
    # random bytes under their own table: nearly every boundary is a cut
    syms = _check(data)
    assert _n_segments(data, syms) > 0.9 * len(data)


def test_replay_skips_unsplittable_symbols():
    """A prebuilt table whose symbols have no split into known ones: the
    replay skips them, and their bigrams do not join segments."""
    data = (b"xyz-" * 3000) + b"ab" * 500
    syms = [b"xyz", b"yz-", b"ab", b"abab", b"z-x"]
    assert [s for _a, _b, s in fsst._replay_script(syms)] == [b"ab", b"abab"]
    _check(data, syms)
    assert _n_segments(_u8(data), syms) == 4 * 3000 + 1


def test_replay_run_chains_next_to_cuts():
    """`a == b` chains of odd and even length, cut off on both sides."""
    rng = np.random.default_rng(2)
    lens = rng.integers(1, 14, 3000)
    seps = rng.integers(0, 50, 3000).astype(np.uint8) + 150
    data = b"".join(b"a" * int(k) + bytes([s]) for k, s in zip(lens, seps))
    for syms in (None, [b"aa", b"aaaa", b"aaaaaaaa", b"aaa"]):
        syms = _check(data, syms)
        assert fsst._replay_script(syms)[0][:2] == (97, 97)
        assert 1000 < _n_segments(_u8(data), syms) < len(data) // 2


def _unit_weight_encode(monkeypatch, data, syms):
    """`encode` with the segments' multiplicities ignored: the compaction
    rule then reads the distinct segments' own counts."""
    real = fsst._replay

    def unit(tok, weight, n, script):
        return real(tok, None if weight is None else np.ones_like(weight), len(tok), script)

    monkeypatch.setattr(fsst, "_replay", unit)
    try:
        return fsst.encode(_u8(data), syms)
    finally:
        monkeypatch.setattr(fsst, "_replay", real)


def test_replay_weighted_compaction(monkeypatch):
    """Corpora where the whole buffer compacts at a step where the distinct
    segments alone would not, and the other way round. A tombstone left
    in place keeps `xc` from merging, so the step shows in the bytes."""
    rng = np.random.default_rng(3)
    syms = [b"ab", b"abc"] + [bytes([i]) for i in range(97, 100)]
    noise = (rng.integers(0, 60, 20000) + 160).astype(np.uint8)
    # 1000 repeats of one segment fire the rule, one distinct copy does not
    often = b"".join(bytes([x]) + (b"abc" if i % 20 == 0 else b"") for i, x in enumerate(noise))
    # one "abc" among 4 repeated segments: the distinct array is tiny
    once = b"abc" + bytes((rng.integers(0, 4, 5000) + 160).astype(np.uint8))
    for data in (often, once):
        _check(data, syms)
        assert _unit_weight_encode(monkeypatch, data, syms) != _encode_whole_buffer(_u8(data), syms)


@pytest.mark.parametrize("seed", range(8))
def test_replay_matches_whole_buffer(seed):
    """Random corpora of each kind, tables built or prebuilt from a third
    of the data: the segment replay writes the whole-buffer bytes."""
    rng = np.random.default_rng(100 + seed)
    words = [bytes(rng.integers(97, 123, rng.integers(1, 9))) for _ in range(300)]
    for kind in range(6):
        n = int(rng.integers(0, 40000))
        if kind == 0:
            data = b" ".join(words[i] for i in rng.zipf(1.3, n // 5 + 1) % 300)[:n]
        elif kind == 1:
            data = bytes(97 + rng.integers(0, int(rng.integers(1, 6)), n).astype(np.uint8))
        elif kind == 2:
            data = rng.integers(0, 256, n).astype(np.uint8).tobytes()
        elif kind == 3:
            first = int(rng.integers(0, 10**6))
            data = b"".join(b"id-%d," % i for i in range(first, first + n // 4 + 1))[:n]
        elif kind == 4:
            k = n // 6 + 1
            data = bytes(np.repeat(rng.integers(97, 100, k), rng.integers(1, 12, k)).astype(np.uint8))[:n]
        else:
            data = b"".join(words[i] + bytes([int(rng.integers(33, 48))]) for i in rng.integers(0, 40, n // 4 + 1))[:n]
        arr = _u8(data)
        _check(arr)
        _check(arr, fsst.build_table(arr[: len(arr) // 3].copy(), min_count=int(rng.integers(1, 5))))
