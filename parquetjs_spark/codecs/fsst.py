"""FSST-style symbol-table string compression.

Absent from the reference (SURVEY.md C7) — added per the north rule,
following the published algorithm (FSST: Fast Random Access String
Compression, VLDB 2020; see /root/repo/PAPERS.md): a table of up to 255
symbols, each 1–8 bytes, replaces frequent substrings with 1-byte codes;
byte 255 is the escape marker (escape + literal byte = 2 bytes) so any
input round-trips.

Construction is the paper's bottom-up iteration, simplified: encode a
bounded sample with the current table, count adjacent-token merges and
their byte gains, keep the top-255 candidates, repeat a few rounds.

Encoding is greedy longest-match, vectorized in NumPy (compress): one
parse cursor per fixed-size block advances in lockstep, a match never
crosses its block, and a byte no symbol covers becomes an escape pair.
Decoding is vectorized: escape/literal/code positions are resolved from
runs of 0xFF (NumPy run-length parity), then one fancy-indexed join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .util import run_lengths

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_SYMBOL_LEN = 8
_SINGLE = [bytes([i]) for i in range(256)]
_SINGLE_ARR = np.array(_SINGLE, dtype=object)


def _tokenize(data: bytes, symbols: list[bytes]) -> list[bytes]:
    """Token stream of the greedy parse — derived from the VECTORIZED
    encoder's output (a per-match Python walk would dominate
    ``train``).  The compressed stream IS the tokenization: non-escape
    bytes are symbol codes, escape pairs are literal byte tokens."""
    payload = compress(data, symbols)
    arr = np.frombuffer(payload, dtype=np.uint8)
    n = len(arr)
    if n == 0:
        return []
    # classify positions exactly as decompress does
    kind = np.zeros(n, dtype=np.uint8)  # 0=code 1=escape-marker 2=literal
    is_ff = arr == ESCAPE
    if is_ff.any():
        rv, rl = run_lengths(is_ff.view(np.uint8))
        run_starts = np.zeros(len(rl), dtype=np.int64)
        np.cumsum(rl[:-1], out=run_starts[1:])
        ffsel = rv == 1
        ff_starts = run_starts[ffsel]
        ff_lens = rl[ffsel]
        pos_ff = np.flatnonzero(is_ff)
        off = pos_ff - np.repeat(ff_starts, ff_lens)
        kind[pos_ff] = np.where(off % 2 == 0, 1, 2).astype(np.uint8)
        ends = ff_starts + ff_lens
        carry = (ff_lens % 2 == 1) & (ends < n)
        kind[ends[carry]] = 2
    symarr = np.empty(256, dtype=object)
    symarr[:] = _SINGLE
    for i, s in enumerate(symbols):
        symarr[i] = s
    ent = kind != 1
    vals = arr[ent]
    kinds_e = kind[ent]
    toks = np.empty(len(vals), dtype=object)
    code_m = kinds_e == 0
    toks[code_m] = symarr[vals[code_m]]
    toks[~code_m] = _SINGLE_ARR[vals[~code_m]]
    return toks.tolist()


def train(sample: bytes, rounds: int = 4, max_sample: int = 1 << 15) -> list[bytes]:
    """Build a symbol table from a sample (bounded cost per SURVEY.md §7.3).

    Gain counting is vectorized: tokens are factorized to integer codes,
    single-token gains come from one bincount, and adjacent-pair merge
    gains from one unique() over packed code pairs — no Python-level
    Counter over the token stream."""
    sample = sample[:max_sample]
    if not sample:
        return []
    symbols: list[bytes] = []
    for _ in range(rounds):
        if symbols:
            tokens = _tokenize(sample, symbols)
        else:
            # shared 1-byte singletons via one gather — no per-byte slice
            tokens = _SINGLE_ARR[np.frombuffer(sample, dtype=np.uint8)].tolist()
        tok_arr = np.empty(len(tokens), dtype=object)
        tok_arr[:] = tokens
        codes, uniq = pd.factorize(tok_arr, use_na_sentinel=False)
        uniq_lens = np.fromiter((len(u) for u in uniq), dtype=np.int64, count=len(uniq))
        # singles gain: count * len  (escape 2B -> code 1B per byte covered)
        single_gain = np.bincount(codes, minlength=len(uniq)) * uniq_lens
        gains: dict[bytes, int] = {
            bytes(uniq[i]): int(single_gain[i]) for i in np.flatnonzero(single_gain)
        }
        # merge gains: adjacent code pairs, one unique() pass
        if len(codes) > 1:
            k = len(uniq)
            pair_ids, pair_counts = np.unique(
                codes[:-1].astype(np.int64) * k + codes[1:], return_counts=True
            )
            a_idx = pair_ids // k
            b_idx = pair_ids % k
            pair_lens = uniq_lens[a_idx] + uniq_lens[b_idx]
            ok = pair_lens <= MAX_SYMBOL_LEN
            for ai, bi, cnt, ln in zip(
                a_idx[ok].tolist(),
                b_idx[ok].tolist(),
                pair_counts[ok].tolist(),
                pair_lens[ok].tolist(),
            ):
                cand = bytes(uniq[ai]) + bytes(uniq[bi])
                gains[cand] = gains.get(cand, 0) + cnt * ln
        # keep the best candidates; gain must beat the 1-byte code cost
        ranked = sorted(gains.items(), key=lambda kv: -kv[1])[:MAX_SYMBOLS]
        best = [s for s, g in ranked if g > len(s)]
        if best == symbols:
            break
        symbols = best
    return symbols


PARSE_BLOCK = 64  # lockstep-parse grid; matches never span block ends


SEGMENT_BYTES = 1 << 20  # bound transient memory: ~15 bytes of temp per input byte


def compress(data: bytes, symbols: list[bytes], block: int = PARSE_BLOCK) -> bytes:
    """Greedy longest-match encode, fully vectorized (no per-token Python).

    The output format is the standard FSST stream (symbol codes + 0xFF
    escape pairs); decode does not depend on how matches were chosen, so
    the encoder is free to restrict matches to a fixed ``block``-byte
    grid. That restriction is what makes the parse data-parallel:

    1. Pack an 8-byte big-endian window at every position (8 shift-or
       passes over the segment).
    2. Parse-driven lockstep match: one cursor per block, all advanced
       simultaneously. At the visited positions only, the longest fitting
       symbol comes from ONE searchsorted over the zero-padded sorted
       symbol table: the predecessor's common-prefix length with the
       window bounds exactly which of its prefix-symbols match (see
       _build_luts proof), so a prefix bitmask + highest-set-bit LUT
       replaces the per-length table cascade. "Fits" means the match
       stays inside the cursor's block, so greedy choices are
       position-local.
    3. Tokens land in a (step, block) matrix; transposing it yields the
       stream in block order, and one cumsum + two scatters emit the
       final byte stream (escapes take 2 bytes).

    Input is processed in ~1 MB segments aligned to the block grid —
    byte-identical output to a single pass, but peak transient memory
    stays ~15 MB per call so a long-lived worker re-uses the same warm
    arena pages forever (this VM services *new* page faults at only
    ~45 MB/s, so allocation footprint, not arithmetic, was the encode
    scaling ceiling; measured 75%+ kernel time at 32-way without this).

    Replaces a regex-finditer walk that burned ~90% of encode CPU in
    per-match interpreter work (measured 3 MB/s/core)."""
    n = len(data)
    if n == 0:
        return b""
    arr_all = np.frombuffer(data, dtype=np.uint8)
    if not symbols:
        # pure escape stream: interleave 0xFF with every byte, vectorized
        out = np.empty(2 * n, dtype=np.uint8)
        out[0::2] = ESCAPE
        out[1::2] = arr_all
        return out.tobytes()

    lut = _build_luts(symbols)
    seg = (SEGMENT_BYTES // block) * block
    if n <= seg:
        return _compress_segment(arr_all, lut, block).tobytes()
    pieces = [
        _compress_segment(arr_all[lo : lo + seg], lut, block)
        for lo in range(0, n, seg)
    ]
    return np.concatenate(pieces).tobytes()


def _build_luts(symbols: list[bytes]):
    """Longest-prefix-match tables: ONE sorted array of zero-padded
    8-byte symbol values + per-symbol prefix bitmasks.

    Matching w: the greatest padded symbol value <= w (one searchsorted)
    has, among its own prefixes that are themselves symbols, exactly the
    symbols that prefix w up to the common-prefix length L(w, pred) —
    proof: any symbol s = w[:k] satisfies s_padded <= pred <= w, forcing
    pred[:k] == w[:k], so s is pred's k-prefix and k <= L; conversely
    every symbol prefix of pred within L prefixes w.  So the longest
    match is the highest set bit <= min(L, rem) of pred's prefix mask —
    the whole per-length table cascade collapses to one search plus a
    few gathers."""
    symset = {s: i for i, s in enumerate(symbols)}
    # sort by (padded value, length): equal padded values (NUL-padding
    # collisions like "a" vs "a\0") keep the longest last, so the
    # predecessor under side='right' sees the most prefixes
    order = sorted(
        range(len(symbols)),
        key=lambda i: (int.from_bytes(symbols[i].ljust(8, b"\0"), "big"), len(symbols[i])),
    )
    nsym = len(symbols)
    vals = np.empty(nsym, dtype=np.uint64)
    pmask = np.zeros(nsym, dtype=np.uint16)
    pcode = np.zeros((nsym, MAX_SYMBOL_LEN), dtype=np.uint8)
    for idx, i in enumerate(order):
        s = symbols[i]
        vals[idx] = int.from_bytes(s.ljust(8, b"\0"), "big")
        for k in range(1, len(s) + 1):
            j = symset.get(s[:k])
            if j is not None:
                pmask[idx] |= 1 << (k - 1)
                pcode[idx, k - 1] = j
    # leading-zero-byte thresholds: count of th <= x gives 8 - lzbytes
    lz_th = np.array([1 << (8 * j) for j in range(8)], dtype=np.uint64)
    hb = np.array([m.bit_length() for m in range(512)], dtype=np.uint8)
    allowed = np.array([(1 << min(r, 8)) - 1 for r in range(65)], dtype=np.uint16)
    return vals, pmask, pcode.reshape(-1), lz_th, hb, allowed


def _compress_segment(arr: np.ndarray, lut, block: int) -> np.ndarray:
    vals, pmask, pcode_flat, lz_th, hb, allowed = lut
    n = len(arr)

    # ---- 1. zero-padded input for boundary-free window gathers ----
    pad = np.zeros(n + 8, dtype=np.uint8)
    pad[:n] = arr
    # unaligned byte-strided uint64 view: window_le[i] = bytes i..i+7 as
    # little-endian u64 (x86/arm64 handle unaligned loads natively), so
    # one gather + byteswap yields the big-endian 8-byte window
    window_le = np.ndarray(buffer=pad, shape=(n + 1,), strides=(1,), dtype="<u8")

    # ---- 2. parse-driven lockstep greedy match, one cursor per block ----
    # Match work happens only at positions the parse actually visits
    # (~n / avg_symbol_len), not at every byte: the 8-byte big-endian
    # window is packed on demand at cursor positions (8 gathers of the
    # active set) instead of precomputing an 8-bytes-per-input-byte w8
    # array — 16n of streaming traffic replaced by ~2.7n of gathers,
    # which is what multi-core scaling on a shared memory system wants.
    nb = (n + block - 1) // block
    bstart = np.arange(nb, dtype=np.int64) * block
    bend = np.minimum(bstart + block, n)
    cur = bstart.copy()
    tok_code = np.empty((block, nb), dtype=np.uint8)
    tok_lit = np.empty((block, nb), dtype=np.uint8)
    steps = np.zeros(nb, dtype=np.int64)
    act = np.arange(nb)
    t = 0
    while act.size:
        pos = cur[act]
        rem = bend[act] - pos
        w = window_le[pos].byteswap()
        # longest-prefix match via the predecessor in the sorted padded
        # symbol table (see _build_luts): one searchsorted + gathers
        p = np.searchsorted(vals, w, side="right") - 1
        has_pred = p >= 0
        pc = np.where(has_pred, p, 0)
        x = w ^ vals[pc]
        # common prefix bytes L = 8 - (count of lz_th <= x)
        lcp = np.uint16(8) - np.searchsorted(lz_th, x, side="right").astype(np.uint16)
        m = pmask[pc] & allowed[np.minimum(rem, 8)] & ((1 << lcp) - 1).astype(np.uint16)
        m = np.where(has_pred, m, 0)
        length = hb[m].astype(np.int64)  # highest set bit = longest fit
        code = pcode_flat[pc * MAX_SYMBOL_LEN + np.maximum(length - 1, 0)]

        is_sym = length > 0
        tok_code[t, act] = np.where(is_sym, code, ESCAPE)
        tok_lit[t, act] = arr[pos]
        cur[act] = pos + np.maximum(length, 1)
        steps[act] += 1
        t += 1
        act = act[cur[act] < bend[act]]

    # ---- 3. assemble: block-major order, escapes expand to 2 bytes ----
    valid = (np.arange(t)[None, :] < steps[:, None]).ravel()  # (nb, t)
    codes_f = tok_code[:t].T.reshape(-1)[valid]
    esc_f = codes_f == ESCAPE  # 255 is never a symbol code (MAX_SYMBOLS=255)
    lit_f = tok_lit[:t].T.reshape(-1)[valid]
    out_len = esc_f.astype(np.int64) + 1
    starts = np.zeros(len(out_len), dtype=np.int64)
    np.cumsum(out_len[:-1], out=starts[1:])
    out = np.empty(int(starts[-1] + out_len[-1]), dtype=np.uint8)
    out[starts] = codes_f
    out[starts[esc_f] + 1] = lit_f[esc_f]
    return out


def _overlap_store_ok() -> bool:
    """Pin NumPy's fancy-assignment ordering once at import: the fast
    decompress path stores overlapping 8-byte rows through a byte-strided
    u64 view and needs later indices to win on overlapped bytes — NumPy
    documents duplicate-index assignment order as implementation-defined,
    so verify on THIS build and fall back to the per-length scatter path
    if the semantics ever change (test_fsst_overlap_store_semantics pins
    the same behavior in CI)."""
    buf = np.zeros(17, dtype=np.uint8)
    v = np.ndarray(buffer=buf, shape=(10,), strides=(1,), dtype="<u8")
    v[np.array([0, 1])] = np.array(
        [0x0807060504030201, 0x1817161514131211], dtype=np.uint64
    )
    return int(buf[0]) == 0x01 and int(buf[1]) == 0x11


_OVERLAP_STORE_OK = _overlap_store_ok()


def _scatter_codes_grouped(
    out_pad: np.ndarray,
    starts_codes: np.ndarray,
    codes: np.ndarray,
    symmat: np.ndarray,
    symlen: np.ndarray,
) -> None:
    """Order-independent fallback: scatter code expansions grouped by
    symbol length (<= 8 C-level scatters, no overlapping stores)."""
    lens_codes = symlen[codes]
    for ln in np.unique(lens_codes):
        if ln == 0:
            continue
        m = lens_codes == ln
        idx = (starts_codes[m][:, None] + np.arange(ln)).reshape(-1)
        out_pad[idx] = symmat[codes[m], :ln].reshape(-1)


def decompress(payload: bytes, symbols: list[bytes]) -> bytes:
    arr = np.frombuffer(payload, dtype=np.uint8)
    n = len(arr)
    if n == 0:
        return b""
    is_ff = arr == ESCAPE
    # classify positions: walk runs of 0xFF — inside a run that starts at a
    # code position, bytes alternate escape/literal; an odd-length run
    # escapes the first non-FF byte after it.
    # Key invariant: runs are maximal, so the literal carried out of an
    # odd-length FF run is always consumed by the following non-FF byte —
    # it can never reach another FF run.  Hence, inside each FF run,
    # even offsets are escapes and odd offsets are literals, and an
    # odd-length run additionally marks the byte right after it.
    # That makes classification loop-free:
    kind = np.zeros(n, dtype=np.uint8)  # 0=code 1=escape-marker 2=literal
    if is_ff.any():
        rv, rl = run_lengths(is_ff.view(np.uint8))
        run_starts = np.zeros(len(rl), dtype=np.int64)
        np.cumsum(rl[:-1], out=run_starts[1:])
        ffsel = rv == 1
        ff_starts = run_starts[ffsel]
        ff_lens = rl[ffsel]
        pos_ff = np.flatnonzero(is_ff)
        off = pos_ff - np.repeat(ff_starts, ff_lens)
        kind[pos_ff] = np.where(off % 2 == 0, 1, 2).astype(np.uint8)
        ends = ff_starts + ff_lens
        carry = (ff_lens % 2 == 1) & (ends < n)
        kind[ends[carry]] = 2
    # vectorized expansion: per-position output length -> exclusive cumsum
    # -> one grouped scatter per distinct symbol (<= 255 C-speed scatters)
    symlen = np.zeros(256, dtype=np.int64)
    for i, s in enumerate(symbols):
        symlen[i] = len(s)
    code_mask = kind == 0
    lit_mask = kind == 2
    # escapes read symlen[255] == 0 (code 255 is never a symbol)
    lens = symlen[arr]
    lens[kind != 0] = 0
    lens[lit_mask] = 1
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    total = int(starts[-1] + lens[-1]) if n else 0
    # Expansion by overlapping unaligned 8-byte stores (the classic FSST
    # decode trick, vectorized): every symbol is stored in a row-packed
    # (256 x 8) matrix viewed as one LE u64 per code, the output gets an
    # 8-byte pad, and one fancy store writes each code's full 8-byte row
    # at its start through a byte-strided u64 view.  Output entities
    # (codes + literals) tile [0, total), so the store that OWNS a byte
    # is the last one to touch it: code stores happen in ascending start
    # order (spill from an earlier code is overwritten by the later code
    # that owns those bytes — NumPy fancy assignment processes indices
    # sequentially, pinned by test_fsst_overlap_store_semantics), spill
    # past the last entity lands in the pad, and literals are scattered
    # after all code stores.  5x faster than the per-length scatter
    # grouping this replaces (53 ms vs 262 ms per 8 MB on this host).
    symmat = np.zeros((256, MAX_SYMBOL_LEN), dtype=np.uint8)
    for i, s in enumerate(symbols):
        symmat[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    symmat_codes = arr[code_mask]
    starts_codes = starts[code_mask]
    out_pad = np.empty(total + MAX_SYMBOL_LEN, dtype=np.uint8)
    if _OVERLAP_STORE_OK:
        sym8 = symmat.view("<u8").reshape(-1)
        ov = np.ndarray(
            buffer=out_pad, shape=(total + 1,), strides=(1,), dtype="<u8"
        )
        ov[starts_codes] = sym8[symmat_codes]
    else:  # pragma: no cover - exercised only if a NumPy build reorders
        _scatter_codes_grouped(out_pad, starts_codes, symmat_codes, symmat, symlen)
    out = out_pad[:total]
    out[starts[lit_mask]] = arr[lit_mask]
    return out.tobytes()


def serialize_table(symbols: list[bytes]) -> bytes:
    out = [bytes([len(symbols)])]
    for s in symbols:
        out.append(bytes([len(s)]))
        out.append(s)
    return b"".join(out)


def deserialize_table(buf: bytes | memoryview) -> tuple[list[bytes], int]:
    """Return (symbols, bytes_consumed)."""
    b = bytes(buf) if not isinstance(buf, bytes) else buf
    n = b[0]
    pos = 1
    symbols = []
    for _ in range(n):
        ln = b[pos]
        pos += 1
        symbols.append(b[pos : pos + ln])
        pos += ln
    return symbols, pos
