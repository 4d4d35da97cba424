"""Codec 2 — RLE: (value, run-length) pairs, both streams bit-packed.

Lossless analogue of crumble's P-block run smoothing (snp_score.c:803-834),
which greedily collapses runs of *similar* qualities into one value; we
collapse runs of *equal* tokens into (value, length) pairs and bit-pack
each stream with frame-of-reference on the values.

Layout (little-endian):
    u32 n_runs | i8 vmin | u8 vwidth | u8 lwidth |
    pack(values - vmin, vwidth) | pack(lengths - 1, lwidth)
"""

from __future__ import annotations

import struct

import numpy as np

from .. import bitpack

_HDR = struct.Struct("<IqBB")


def run_bounds(arr: np.ndarray) -> np.ndarray:
    """Indexes where runs start (always includes 0)."""
    a = np.asarray(arr)
    return np.concatenate(([0], np.flatnonzero(a[1:] != a[:-1]) + 1))


def encode(arr: np.ndarray) -> bytes:
    a = np.asarray(arr, dtype=np.int64)
    starts = run_bounds(a)
    values = a[starts]
    lengths = np.diff(np.concatenate((starts, [len(a)])))
    vmin = int(values.min())
    vwidth = bitpack.width_for(int(values.max()) - vmin)
    lwidth = bitpack.width_for(int(lengths.max()) - 1)
    return encode_pre(values, lengths, vmin, vwidth, lwidth)


def encode_pre(
    values: np.ndarray, lengths: np.ndarray, vmin: int, vwidth: int, lwidth: int
) -> bytes:
    """encode() with precomputed run structure (batch path) — MUST stay
    byte-identical to encode()."""
    return (
        _HDR.pack(len(values), vmin, vwidth, lwidth)
        + bitpack.pack(np.asarray(values, dtype=np.int64) - vmin, vwidth)
        + bitpack.pack(np.asarray(lengths, dtype=np.int64) - 1, lwidth)
    )


def decode(buf: bytes, n: int) -> np.ndarray:
    n_runs, vmin, vwidth, lwidth = _HDR.unpack_from(buf, 0)
    off = _HDR.size
    vbytes = (n_runs * vwidth + 7) // 8
    values = bitpack.unpack(buf[off : off + vbytes], n_runs, vwidth).astype(np.int64) + vmin
    off += vbytes
    lengths = bitpack.unpack(buf[off:], n_runs, lwidth).astype(np.int64) + 1
    return np.repeat(values, lengths).astype(np.int32)
