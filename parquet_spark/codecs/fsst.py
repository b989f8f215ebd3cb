"""FSST-style symbol-table string compression, fully vectorized.

New relative to the reference (no string compression beyond page-level
snappy/gzip there, /root/reference/fields.go:404-435). Follows the FSST
paper's core design — a table of ≤255 symbols of 1..8 bytes, 1-byte codes,
escape byte 255 for uncovered literals — with a deterministic bottom-up
table construction: iterated most-frequent-adjacent-pair merging (the same
bottom-up "extend symbols by concatenation" iteration the FSST paper uses,
here run as numpy passes so the encoder never touches per-byte Python).

Symbols may span row boundaries: blocks are decoded whole and re-split by
the offsets sub-block, so alignment never affects correctness.

Body layout:
    u8  n_symbols (multi-byte + single-byte)
    per symbol: u8 len + bytes   (code = position in this list, 0..n-1)
    u32 n_encoded_bytes
    token stream: code byte (< 255) | 0xFF escape + literal byte

Tokens work in uint16 space during encode: 0..255 literals, 256+k = merge
code k, 0xFFFE tombstone (deferred compaction), 0xFFFF segment separator.

Table construction keeps dense pair counts (key a*512+b) across its merge
steps: each merge subtracts and re-adds only the pairs that overlap its
matches, and the counts are rebuilt only after a compaction. Pairs whose
joined symbol would exceed 8 bytes are pushed below zero as their codes
appear, so `argmax` picks the same most frequent pair, with the same
smallest-(a, b) tie-break, as a full recount each step would. Tables and
encoded bytes are unchanged by this (tests/test_fsst_golden.py).

The encoder replays the table's merge script once per distinct segment
of the buffer, not over the whole buffer. A byte boundary x|y is a cut
when the bigram xy lies inside no symbol the replay makes. No token the
replay creates spans a cut, no merged pair straddles one (its joined
symbol would contain xy), and the `a == b` chain rule and tombstones stay
inside their segment, so the whole-buffer replay is the concatenation of
the per-segment replays. The one rule that reads whole-buffer counts,
compaction after a merge that replaced more than 1/32 of the tokens, is
evaluated with each segment's multiplicity as its weight, so compactions
happen at the same steps. The distinct segments (Arrow dictionary_encode
over a zero-copy binary view, one chunk per 64 KB so no temporary grows
with the buffer) are replayed joined by separators, encoded once each,
and gathered back in order (Arrow take). When they are not shorter than
half the buffer (few cuts: sequential ids, 2-letter alphabets), the same
loop runs over the whole buffer with unit weights. Either way the bytes
are those of the whole-buffer replay (tests/test_fsst_golden.py).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

ESCAPE = 255
TOMB = np.uint16(0xFFFE)
SEP = np.uint16(0xFFFF)  # ends each distinct segment in the replay array
MAX_SYMBOL_LEN = 8
_CODES = 512  # token space of build_table: 256 literals + up to 254 merges
_OVER_LONG = 1 << 40  # subtracted from pair counts that may never merge
_CHUNK = 1 << 16  # bytes per pass of the cut search


def _match_positions(tok: np.ndarray, a: int, b: int) -> np.ndarray:
    """Start positions of the non-overlapping left-greedy (a,b) matches."""
    idx = np.flatnonzero((tok[:-1] == a) & (tok[1:] == b))
    if a == b and idx.size:
        # runs like "aaa": keep every other occurrence within each chain
        breaks = np.flatnonzero(np.diff(idx) > 1) + 1
        starts = np.concatenate(([0], breaks))
        run_id = np.zeros(len(idx), dtype=np.int64)
        run_id[breaks] = 1
        np.cumsum(run_id, out=run_id)
        offset = idx - idx[starts][run_id]
        idx = idx[offset % 2 == 0]
    return idx


def _compact(tok: np.ndarray) -> np.ndarray:
    return tok[tok != TOMB]


def _pair_keys(tok: np.ndarray, pos: np.ndarray | None = None) -> np.ndarray:
    """Dense keys a*512+b of the pairs starting at `pos` (all pairs when
    None), skipping pairs with a tombstone on either side."""
    a = tok[:-1] if pos is None else tok[pos]
    b = tok[1:] if pos is None else tok[pos + 1]
    keep = (a != TOMB) & (b != TOMB)
    return a[keep].astype(np.int64) * _CODES + b[keep]


def _count_pairs(tok: np.ndarray, over_long: np.ndarray) -> np.ndarray:
    """Dense pair counts; over-long pairs sit below zero."""
    return np.bincount(_pair_keys(tok), minlength=_CODES * _CODES) - over_long


def build_table(sample: np.ndarray, max_merges: int = 160, min_count: int = 4) -> list[bytes]:
    """Build the symbol list from a byte sample. Deterministic.

    Returns symbols as bytes (first the merge-derived multi-byte symbols in
    creation order, then frequent single literals filling the code space).
    """
    tok = sample.astype(np.uint16)
    expansions: dict[int, bytes] = {}
    merges: list[bytes] = []
    sym_len = np.ones(_CODES, dtype=np.int64)  # literal lengths = 1
    over_long = np.zeros(_CODES * _CODES, dtype=np.int64)
    cnt = _count_pairs(tok, over_long)
    floor = max(min_count, 1)
    next_code = 256
    dirty = False  # tombstones pending compaction
    steps = 0
    while steps < max_merges:
        if len(tok) < 2:
            break
        # first max in key order: the smallest (a, b) wins a tie
        best = int(np.argmax(cnt[: next_code * _CODES]))
        if cnt[best] < floor:
            if dirty:  # tombstones may be hiding pairs — compact and retry
                tok = _compact(tok)
                cnt = _count_pairs(tok, over_long)
                dirty = False
                continue
            break
        steps += 1
        a, b = divmod(best, _CODES)
        exp_a = expansions.get(a, bytes([a]) if a < 256 else b"")
        exp_b = expansions.get(b, bytes([b]) if b < 256 else b"")
        expansions[next_code] = exp_a + exp_b
        merges.append(exp_a + exp_b)
        sym_len[next_code] = sym_len[a] + sym_len[b]
        # pairs of the new code with any code too long to join it
        xs = np.flatnonzero(sym_len[: next_code + 1] + sym_len[next_code] > MAX_SYMBOL_LEN)
        keys = np.unique(np.concatenate((next_code * _CODES + xs, xs * _CODES + next_code)))
        over_long[keys] = _OVER_LONG
        cnt[keys] -= _OVER_LONG
        idx = _match_positions(tok, a, b)
        if idx.size > len(tok) // 32:  # heavy merge: compact so chains keep merging
            tok[idx] = next_code
            tok[idx + 1] = TOMB
            tok = _compact(tok)
            cnt = _count_pairs(tok, over_long)
            dirty = False
        else:
            # only the pairs overlapping a match change: idx-1, idx, idx+1
            # (sorted, since matches are >= 2 apart; dedup neighbours)
            pos = (idx[:, None] + np.arange(-1, 2)).ravel()
            pos = pos[(pos >= 0) & (pos < len(tok) - 1)]
            pos = pos[np.concatenate(([True], pos[1:] != pos[:-1]))]
            np.subtract.at(cnt, _pair_keys(tok, pos), 1)
            tok[idx] = next_code
            tok[idx + 1] = TOMB
            np.add.at(cnt, _pair_keys(tok, pos), 1)
            dirty = True
        next_code += 1
        if len(merges) >= 254:
            break
    tok = _compact(tok)
    # fill remaining code space with the most frequent single literals
    symbols = list(merges)
    room = 255 - len(symbols)
    lits = tok[tok < 256]
    if room > 0 and lits.size:
        u, c = np.unique(lits, return_counts=True)
        order = np.argsort(-c, kind="stable")[:room]
        symbols.extend(bytes([int(u[i])]) for i in order)
    return symbols


class SymbolTable:
    def __init__(self, symbols: list[bytes]):
        if len(symbols) > 255:
            raise ValueError("at most 255 symbols (code 255 is the escape)")
        self.symbols = symbols
        # replay script: merge codes are symbols with len>=2 in order;
        # map expansion-bytes -> final serialized code
        self.code_of: dict[bytes, int] = {s: i for i, s in enumerate(symbols)}

    def serialize(self) -> bytes:
        out = bytearray([len(self.symbols)])
        for s in self.symbols:
            out.append(len(s))
            out += s
        return bytes(out)

    @classmethod
    def deserialize(cls, buf: memoryview, pos: int) -> tuple["SymbolTable", int]:
        n = buf[pos]
        pos += 1
        syms = []
        for _ in range(n):
            ln = buf[pos]
            pos += 1
            syms.append(bytes(buf[pos : pos + ln]))
            pos += ln
        return cls(syms), pos


def _table_sample(data: np.ndarray, total: int, chunk: int = 4096) -> np.ndarray:
    """Evenly-spaced chunks across the whole buffer. A prefix sample
    misses distribution drift along the block (measured: sequential-id
    text lost 57% compression on a 32 KB prefix); strided chunks track it
    with HALF the bytes of the old 128 KB prefix — build_table runs ~2x
    faster AND both text and id corpora compress slightly better
    (r6 optimization). Spurious cross-chunk pairs at the ~15 chunk seams
    are noise to the frequency counts."""
    n = len(data)
    if n <= total:
        return data
    k = max(1, total // chunk)
    starts = np.linspace(0, n - chunk, k).astype(np.int64)
    return np.concatenate([data[s : s + chunk] for s in starts])


def _replay_script(symbols: list[bytes]) -> list[tuple[int, int, bytes]]:
    """The merges the replay makes, in order, as (a, b, symbol); merge k
    gets work code 256 + k. A symbol with no split into known expansions
    is skipped and never appears in the encoded stream."""
    script: list[tuple[int, int, bytes]] = []
    work_code_of: dict[bytes, int] = {}
    for s in symbols:
        # pairs were built left+right, so s = exp_a + exp_b for some known exp_a
        for cut in range(1, len(s)):
            ea, eb = s[:cut], s[cut:]
            a = work_code_of.get(ea, ea[0] if len(ea) == 1 else None)
            b = work_code_of.get(eb, eb[0] if len(eb) == 1 else None)
            if a is not None and b is not None:
                work_code_of[s] = 256 + len(script)
                script.append((a, b, s))
                break
    return script


def _segments(data: np.ndarray, script: list[tuple[int, int, bytes]]) -> pa.ChunkedArray:
    """The segments between cuts, which no replayed token spans, as a
    zero-copy binary view of `data`: one chunk per 64 KB of it, so no
    temporary grows with the buffer."""
    # a bigram x|y is keyed by the little-endian uint16 read at x
    is_cut = np.ones(1 << 16, dtype=bool)
    is_cut[[x | y << 8 for _a, _b, s in script for x, y in zip(s, s[1:])]] = False
    n, buf = len(data), pa.py_buffer(data)
    chunks, start = [], 0
    for lo in range(0, n - 1, _CHUNK):
        m = min(_CHUNK, n - 1 - lo)  # boundaries after bytes lo .. lo+m-1
        bigrams = np.ndarray((m,), "<u2", data, lo, (1,))  # overlapping view
        cuts = np.flatnonzero(is_cut.take(bigrams))
        if cuts.size:
            off = np.empty(cuts.size + 1, np.int32)
            off[0] = start
            np.add(cuts, lo + 1, out=off[1:], casting="unsafe")
            chunks.append(pa.Array.from_buffers(pa.binary(), cuts.size, [None, pa.py_buffer(off), buf]))
            start = int(off[-1])
    off = np.array([start, n], np.int32)
    chunks.append(pa.Array.from_buffers(pa.binary(), 1, [None, pa.py_buffer(off), buf]))
    return pa.chunked_array(chunks, pa.binary())


def _replay(tok: np.ndarray, weight: np.ndarray | None, n: int, script: list[tuple[int, int, bytes]]) -> np.ndarray:
    """Run the merge script over `tok`; returns it compacted. `weight`
    holds each position's multiplicity in the whole buffer of `n` bytes
    (None: `tok` is the whole buffer), so the compaction rule sees
    whole-buffer counts."""
    pending = 0  # whole-buffer tombstones since the last compaction
    for code, (a, b, _s) in enumerate(script, 256):
        idx = _match_positions(tok, a, b)
        tok[idx] = code
        tok[idx + 1] = TOMB
        n_rep = idx.size if weight is None else int(weight[idx].sum())
        pending += n_rep
        if n_rep > n // 32:  # heavy merge: compact so chains keep merging
            keep = tok != TOMB
            tok = tok[keep]
            weight = None if weight is None else weight[keep]
            n -= pending
            pending = 0
    return _compact(tok)


def encode(data: np.ndarray, symbols: list[bytes] | None = None, sample_bytes: int = 1 << 16) -> bytes:
    """Encode a uint8 buffer. Builds the table on a strided sample unless
    one is supplied. Fully vectorized (numpy passes over the distinct
    segments, or over the whole buffer when few bytes repeat)."""
    data = np.ascontiguousarray(data, dtype=np.uint8)
    if symbols is None:
        symbols = build_table(_table_sample(data, sample_bytes))
    table = SymbolTable(symbols)
    script = _replay_script(symbols)
    n = len(data)

    segs = None  # dictionary-encoded segments, when replaying them pays
    if 2 <= n < 1 << 30:  # < 2**30: the gathered output fits int32 offsets
        segs = _segments(data, script).dictionary_encode()
        dist = segs.chunk(0).dictionary
        d_off = np.frombuffer(dist.buffers()[1], np.int32, len(dist) + 1)
        if 2 * (int(d_off[-1]) + len(dist)) >= n:
            segs = None
    if segs is None:
        tok = _replay(data.astype(np.uint16), None, n, script)
    else:
        mult = np.zeros(len(dist), np.int64)
        for chunk in segs.chunks:
            mult += np.bincount(np.frombuffer(chunk.indices.buffers()[1], np.int32, len(chunk)), minlength=len(dist))
        dist_bytes = np.frombuffer(dist.buffers()[2], np.uint8, int(d_off[-1]))
        tok = np.insert(dist_bytes.astype(np.uint16), d_off[1:], SEP)
        tok = _replay(tok, np.repeat(mult, np.diff(d_off) + 1), n, script)
        is_sep = tok == SEP
        seg_end = np.flatnonzero(is_sep) - np.arange(len(mult))  # token ends
        tok = tok[~is_sep]

    # map work tokens -> code bytes; a literal outside the table maps to
    # ESCAPE, and its byte is inserted after it
    lut = np.full(0x10000, ESCAPE, dtype=np.uint8)
    for s, code in table.code_of.items():
        if len(s) == 1:
            lut[s[0]] = code
    for wcode, (_a, _b, s) in enumerate(script, 256):
        lut[wcode] = table.code_of[s]
    stream = lut[tok]
    esc = np.flatnonzero(stream == ESCAPE)
    stream = np.insert(stream, esc + 1, tok[esc].astype(np.uint8))
    total = len(stream)

    parts = [stream]
    if segs is not None:
        # each distinct segment's code bytes, gathered in buffer order
        enc_off = np.concatenate(([0], seg_end))
        enc_off = (enc_off + np.searchsorted(esc, enc_off)).astype(np.int32)
        enc = pa.Array.from_buffers(pa.binary(), len(mult), [None, pa.py_buffer(enc_off), pa.py_buffer(stream)])
        parts = []
        for chunk in segs.chunks:
            got = enc.take(chunk.indices)
            end = np.frombuffer(got.buffers()[1], np.int32, len(got) + 1)[-1]
            parts.append(memoryview(got.buffers()[2])[:end])
        total = sum(len(p) for p in parts)
    return b"".join((table.serialize(), struct.pack("<I", total), *parts))


def decode(buf: bytes | memoryview, out_bytes: int) -> np.ndarray:
    """Decode to a uint8 buffer of exactly out_bytes. Vectorized."""
    mv = memoryview(buf)
    table, pos = SymbolTable.deserialize(mv, 0)
    (total,) = struct.unpack_from("<I", mv, pos)
    pos += 4
    raw = np.frombuffer(mv[pos : pos + total], dtype=np.uint8)
    if raw.size == 0:
        return np.zeros(0, dtype=np.uint8)

    # resolve escape parity: runs of 0xFF always start at a token boundary
    is_ff = raw == ESCAPE
    # token-start mask
    payload = np.zeros(len(raw) + 1, dtype=bool)
    ff_idx = np.flatnonzero(is_ff)
    if ff_idx.size:
        # per-run: a run of k 0xFF bytes starting at s escapes bytes at
        # s+1, s+3, ..., i.e. ceil(k/2) payload positions; an odd tail
        # escapes the byte after the run. Ragged arange over all runs at
        # once (vectorized; the former per-run Python loop was quadratic
        # in feel on escape-heavy blocks — e.g. incompressible binary)
        breaks = np.flatnonzero(np.diff(ff_idx) > 1) + 1
        run_starts = np.concatenate(([0], breaks))
        run_ends = np.concatenate((breaks, [len(ff_idx)]))
        s_arr = ff_idx[run_starts]
        k_arr = run_ends - run_starts
        n_pay = (k_arr + 1) // 2
        base = np.zeros(len(n_pay), dtype=np.int64)
        np.cumsum(n_pay[:-1], out=base[1:])
        j = np.arange(int(n_pay.sum())) - np.repeat(base, n_pay)
        payload[np.repeat(s_arr + 1, n_pay) + 2 * j] = True
    payload = payload[: len(raw)]
    token_start = ~payload
    tok_pos = np.flatnonzero(token_start)
    tok_bytes = raw[tok_pos]
    is_escape_tok = tok_bytes == ESCAPE
    # symbol ids: codes 0..n-1, escaped literal x -> 256+x
    next_b = np.zeros(len(tok_pos), dtype=np.int64)
    np.add(tok_pos, 1, out=next_b)
    sid = np.where(is_escape_tok, 256 + raw[np.minimum(next_b, len(raw) - 1)].astype(np.int64), tok_bytes.astype(np.int64))

    # fixed-width expansion: symbols are ≤8 bytes, so one (512, 8) matrix
    # gather + a ragged boolean extract replaces the arange/repeat scatter
    # arithmetic (3 full-size int64 temporaries fewer; measured ~4x faster
    # on text blocks, r6 optimization). Row-major boolean extraction of the
    # first len(symbol) bytes of each row IS the concatenated output.
    mat = np.zeros((512, MAX_SYMBOL_LEN), np.uint8)
    lens = np.zeros(512, np.int64)
    for i, s in enumerate(table.symbols):
        mat[i, : len(s)] = np.frombuffer(s, np.uint8)
        lens[i] = len(s)
    mat[256:, 0] = np.arange(256)  # ids 256+x decode to literal byte x
    lens[256:] = 1
    tok_lens = lens[sid]
    total_out = int(tok_lens.sum())
    if total_out != out_bytes:
        raise ValueError(f"fsst decode length mismatch: {total_out} != {out_bytes}")
    expanded = mat[sid]                                 # (n_tokens, 8)
    valid = np.arange(MAX_SYMBOL_LEN) < tok_lens[:, None]
    return expanded[valid]
