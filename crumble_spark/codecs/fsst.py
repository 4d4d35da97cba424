"""Codec 6 — FSST-style token-gram symbol table with escapes.

Classic FSST maps frequent byte substrings to 1-byte codes; here the
alphabet is int32 tokens, so the symbol table maps frequent 2..8-token
grams to single codes.  Grams are mined bottom-up by repeated pair
merging (R rounds of vectorized pair replacement — round r can produce
grams up to length 2**r), the numeric analogue of crumble's STR finder
detecting tandem repeats of period 1-8 via lagged self-comparison
(str_finder.c:135-189).  Literals that match no gram stay as plain
dictionary codes — the escape path (snp_score.c:2362-2375 analogue).

Layout (little-endian):
    u8 n_rounds | u16 L | L * i4 literal table
    per round: u16 m | m * (u32 a, u32 b)     # pair -> new symbol id
    u32 stream_len | u8 width | u8 mode | body
    mode 0: body = pack(stream, width)        # bit-packed symbol stream
    mode 1: body = rle.encode(stream)         # run-length coded stream —
      on tiled/periodic blocks the merged stream collapses to runs of one
      gram symbol, which bit-packing alone can't exploit

Decoding expands symbols transitively (each pair references earlier ids
only), fully vectorized via a flattened expansion table + gather.
"""

from __future__ import annotations

import struct

import numpy as np

from .. import bitpack
from . import rle

_U8 = struct.Struct("<B")
_U16 = struct.Struct("<H")
_TAIL = struct.Struct("<IBB")

ROUNDS = 3
MAX_PAIRS_PER_ROUND = 64
MIN_PAIR_COUNT = 4


def _replace_pairs(stream: np.ndarray, nsym: int) -> tuple[np.ndarray, np.ndarray, int]:
    """One round of non-overlapping pair replacement.

    Returns (new_stream, pairs[m,2], new_nsym). Any replacement strategy is
    valid for correctness; greedy left-to-right within runs of matches.
    """
    if len(stream) < 2:
        return stream, np.zeros((0, 2), dtype=np.int64), nsym
    keys = stream[:-1].astype(np.int64) * nsym + stream[1:]
    uk, counts = np.unique(keys, return_counts=True)
    good = uk[counts >= MIN_PAIR_COUNT]
    if len(good) == 0:
        return stream, np.zeros((0, 2), dtype=np.int64), nsym
    if len(good) > MAX_PAIRS_PER_ROUND:
        cgood = counts[counts >= MIN_PAIR_COUNT]
        good = good[np.argsort(-cgood, kind="stable")[:MAX_PAIRS_PER_ROUND]]
    good = np.sort(good)
    match = np.isin(keys, good)
    idx = np.flatnonzero(match)
    if idx.size == 0:
        return stream, np.zeros((0, 2), dtype=np.int64), nsym
    # overlap resolution: in each run of consecutive matches keep every 2nd
    new_run = np.concatenate(([True], np.diff(idx) != 1))
    run_starts = idx[new_run]
    run_id = np.cumsum(new_run) - 1
    sel = idx[((idx - run_starts[run_id]) & 1) == 0]
    pair_code = np.searchsorted(good, keys[sel]) + nsym
    keep = np.ones(len(stream), dtype=bool)
    keep[sel + 1] = False
    out = stream.astype(np.int64, copy=True)
    out[sel] = pair_code
    pairs = np.stack([good // nsym, good % nsym], axis=1)
    return out[keep], pairs, nsym + len(good)


def encode(arr: np.ndarray, rounds: int = ROUNDS) -> bytes:
    a = np.asarray(arr, dtype=np.int64)
    literals, stream = np.unique(a, return_inverse=True)
    stream = stream.astype(np.int64)
    nsym = len(literals)
    tables = []
    for _ in range(rounds):
        before = len(stream)
        stream, pairs, nsym = _replace_pairs(stream, nsym)
        tables.append(pairs)
        if len(stream) > 0.95 * before:  # diminishing returns — stop early
            break
    out = [_U8.pack(len(tables)), _U16.pack(len(literals)), literals.astype("<i4").tobytes()]
    for pairs in tables:
        out.append(_U16.pack(len(pairs)))
        out.append(pairs.astype("<u4").tobytes())
    width = bitpack.width_for(nsym - 1) if nsym > 1 else 0
    packed = bitpack.pack(stream, width)
    body, mode = packed, 0
    if len(stream):
        rle_body = rle.encode(stream)
        if len(rle_body) < len(packed):
            body, mode = rle_body, 1
    out.append(_TAIL.pack(len(stream), width, mode))
    out.append(body)
    return b"".join(out)


def decode(buf: bytes, n: int) -> np.ndarray:
    (rounds,) = _U8.unpack_from(buf, 0)
    off = _U8.size
    (n_lit,) = _U16.unpack_from(buf, off)
    off += _U16.size
    literals = np.frombuffer(buf, dtype="<i4", count=n_lit, offset=off).astype(np.int64)
    off += 4 * n_lit
    pair_a, pair_b = [], []
    for _ in range(rounds):
        (m,) = _U16.unpack_from(buf, off)
        off += _U16.size
        p = np.frombuffer(buf, dtype="<u4", count=2 * m, offset=off).reshape(m, 2)
        off += 8 * m
        pair_a.append(p[:, 0].astype(np.int64))
        pair_b.append(p[:, 1].astype(np.int64))
    stream_len, width, mode = _TAIL.unpack_from(buf, off)
    off += _TAIL.size
    if mode == 1:
        stream = rle.decode(buf[off:], stream_len).astype(np.int64)
    else:
        stream = bitpack.unpack(buf[off:], stream_len, width).astype(np.int64)

    # transitive expansion table: symbol id -> flat slice of literal values
    a_all = np.concatenate(pair_a) if pair_a else np.zeros(0, np.int64)
    b_all = np.concatenate(pair_b) if pair_b else np.zeros(0, np.int64)
    nsym = n_lit + len(a_all)
    exp_len = np.ones(nsym, dtype=np.int64)
    for s in range(n_lit, nsym):
        exp_len[s] = exp_len[a_all[s - n_lit]] + exp_len[b_all[s - n_lit]]
    exp_off = np.zeros(nsym + 1, dtype=np.int64)
    np.cumsum(exp_len, out=exp_off[1:])
    flat = np.empty(exp_off[-1], dtype=np.int64)
    flat[exp_off[:n_lit]] = literals
    for s in range(n_lit, nsym):
        la, lb = a_all[s - n_lit], b_all[s - n_lit]
        o = exp_off[s]
        flat[o : o + exp_len[la]] = flat[exp_off[la] : exp_off[la] + exp_len[la]]
        flat[o + exp_len[la] : o + exp_len[s]] = flat[exp_off[lb] : exp_off[lb] + exp_len[lb]]

    lens = exp_len[stream]
    total = int(lens.sum())
    starts = np.repeat(exp_off[stream], lens)
    pos = np.arange(total, dtype=np.int64)
    ends = np.cumsum(lens)
    pos -= np.repeat(ends - lens, lens)
    return flat[starts + pos].astype(np.int32)
