"""Codec 7 — TILE: periodic pattern + exact exception list.

The direct graft of crumble's STR finder (str_finder.c:135-189): detect a
tandem repeat of period p, store one period's pattern, and keep the
(position, value) of every token that deviates — bit-identical by
construction, and far denser than gram tables when the block really is a
mutated tiling (the `periodic` fixture regime).

Layout (little-endian):
    u16 p | u32 n_exc | u8 pos_width | p * i4 pattern
    | pack(exception positions, pos_width) | n_exc * i4 exception values
"""

from __future__ import annotations

import struct

import numpy as np

from .. import bitpack

_HDR = struct.Struct("<HIB")

MAX_PERIOD = 16


VOTE_ROWS = 7


def majority_pattern(a: np.ndarray, p: int) -> np.ndarray:
    """Per-phase majority vote: a mutation inside the first period must
    not poison every repetition (crumble's consensus call per column,
    snp_score.c:533-797, is exactly this shape).

    Vote over the first VOTE_ROWS repetitions with pairwise-equality
    counting (one k x k x p broadcast compare) instead of p np.unique
    sorts — an imperfect mode only shifts a few bytes of exception cost,
    never correctness (exceptions carry exact values regardless).  Ties
    go to the earliest repetition (argmax).
    """
    n = len(a)
    k = min(VOTE_ROWS, n // p)
    if k <= 1:
        return a[:p].astype(np.int64)
    rows = a[: k * p].reshape(k, p)
    votes = (rows[:, None, :] == rows[None, :, :]).sum(axis=1, dtype=np.int8)
    return rows[np.argmax(votes, axis=0), np.arange(p)].astype(np.int64)


def exceptions_for(a: np.ndarray, pat: np.ndarray) -> int:
    # count mismatches against the implied tiling without materializing
    # it: whole repetitions as one 2-D broadcast compare, tail separately
    # (this runs once per candidate divisor in the period scan)
    n, p = len(a), len(pat)
    full = n // p
    cnt = int(np.count_nonzero(a[: full * p].reshape(full, p) != pat))
    if n > full * p:
        cnt += int(np.count_nonzero(a[full * p :] != pat[: n - full * p]))
    return cnt


def best_period(a: np.ndarray, max_period: int = MAX_PERIOD) -> tuple[int, int]:
    """(period, n_exceptions) minimizing encoded size; period 0 if useless."""
    n = len(a)
    best_p, best_exc, best_sz = 0, n, None
    for p in range(1, min(max_period, max(n // 2, 1)) + 1):
        exc = exceptions_for(a, majority_pattern(a, p))
        sz = size(n, p, exc)
        if best_sz is None or sz < best_sz:
            best_p, best_exc, best_sz = p, exc, sz
    return best_p, best_exc


def size(n: int, p: int, n_exc: int) -> int:
    pos_width = bitpack.width_for(max(n - 1, 1))
    return _HDR.size + 4 * p + (n_exc * pos_width + 7) // 8 + 4 * n_exc


def encode(arr: np.ndarray, p: int | None = None, pat: np.ndarray | None = None) -> bytes:
    """`pat`, when given, is majority_pattern(arr, p), already computed."""
    a = np.asarray(arr, dtype=np.int64)
    n = len(a)
    if p is None:
        p, _ = best_period(a)
        p = p or 1
    if pat is None:
        pat = majority_pattern(a, p)
    tiled = np.tile(pat, n // p + 1)[:n]
    exc_pos = np.flatnonzero(a != tiled)
    pos_width = bitpack.width_for(max(n - 1, 1))
    return (
        _HDR.pack(p, len(exc_pos), pos_width)
        + pat.astype("<i4").tobytes()
        + bitpack.pack(exc_pos, pos_width)
        + a[exc_pos].astype("<i4").tobytes()
    )


def decode(buf: bytes, n: int) -> np.ndarray:
    p, n_exc, pos_width = _HDR.unpack_from(buf, 0)
    off = _HDR.size
    pattern = np.frombuffer(buf, dtype="<i4", count=p, offset=off)
    off += 4 * p
    nbytes = (n_exc * pos_width + 7) // 8
    pos = bitpack.unpack(buf[off : off + nbytes], n_exc, pos_width).astype(np.int64)
    off += nbytes
    vals = np.frombuffer(buf, dtype="<i4", count=n_exc, offset=off)
    out = np.tile(pattern, n // p + 1)[:n].astype(np.int32)
    out[pos] = vals
    return out
