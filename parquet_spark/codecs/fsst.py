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
code k, 0xFFFE tombstone (deferred compaction).

Table construction keeps dense pair counts (key a*512+b) across its merge
steps: each merge subtracts and re-adds only the pairs that overlap its
matches, and the counts are rebuilt only after a compaction. Pairs whose
joined symbol would exceed 8 bytes are pushed below zero as their codes
appear, so `argmax` picks the same most frequent pair, with the same
smallest-(a, b) tie-break, as a full recount each step would. Tables and
encoded bytes are unchanged by this (tests/test_fsst_golden.py). The
encoder's replay over the whole buffer is left as is: per-token position
lists, a uint32-view pair search and a single-compare pass all measured
level or slower.
"""

from __future__ import annotations

import struct

import numpy as np

ESCAPE = 255
TOMB = np.uint16(0xFFFE)
MAX_SYMBOL_LEN = 8
_CODES = 512  # token space of build_table: 256 literals + up to 254 merges
_OVER_LONG = 1 << 40  # subtracted from pair counts that may never merge


def _merge_pass(tok: np.ndarray, a: int, b: int, code: int) -> tuple[np.ndarray, int]:
    """Replace non-overlapping left-greedy occurrences of (a,b) with code.
    Returns (tok with second elements tombstoned, replacements made)."""
    idx = _match_positions(tok, a, b)
    tok[idx] = code
    tok[idx + 1] = TOMB
    return tok, int(idx.size)


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


def encode(data: np.ndarray, symbols: list[bytes] | None = None, sample_bytes: int = 1 << 16) -> bytes:
    """Encode a uint8 buffer. Builds the table on a strided sample unless
    one is supplied. Fully vectorized (numpy passes over the whole buffer)."""
    data = np.ascontiguousarray(data, dtype=np.uint8)
    if symbols is None:
        symbols = build_table(_table_sample(data, sample_bytes))
    table = SymbolTable(symbols)

    # replay the merge script over the full buffer
    tok = data.astype(np.uint16)
    exp_of_work: dict[int, bytes] = {}
    work_code_of: dict[bytes, int] = {}
    next_code = 256
    for s in symbols:
        if len(s) < 2:
            continue
        # find constituents: longest split into known expansions (pairs were
        # built left+right, so s = exp_a + exp_b for some known exp_a)
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
            tok = _compact(tok)
    tok = _compact(tok)

    # map work tokens -> serialized bytes
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
    esc_starts = starts[is_esc]
    stream[esc_starts] = ESCAPE
    stream[esc_starts + 1] = tok[is_esc].astype(np.uint8)  # escaped are literals <256

    return table.serialize() + struct.pack("<I", total) + stream.tobytes()


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
