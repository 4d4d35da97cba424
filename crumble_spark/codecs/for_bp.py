"""Codec 4 — Frame-of-reference + bit-pack.

Crumble's qual-cap clamp (snp_score.c:1317-1332) shrinks the value *range*
so downstream coding packs tighter; FOR does the lossless version: subtract
the block minimum and store fixed-width offsets.

Layout: i8 vmin | u8 width | pack(arr - vmin, width)
"""

from __future__ import annotations

import struct

import numpy as np

from .. import bitpack

_HDR = struct.Struct("<qB")


def encode(arr: np.ndarray) -> bytes:
    a = np.asarray(arr, dtype=np.int64)
    vmin = int(a.min())
    width = bitpack.width_for(int(a.max()) - vmin)
    return encode_pre(a, vmin, width)


def encode_pre(a: np.ndarray, vmin: int, width: int) -> bytes:
    """encode() with precomputed stats (batch path) — MUST stay
    byte-identical to encode()."""
    return _HDR.pack(vmin, width) + bitpack.pack(
        np.asarray(a, dtype=np.int64) - vmin, width
    )


def decode(buf: bytes, n: int) -> np.ndarray:
    vmin, width = _HDR.unpack_from(buf, 0)
    vals = bitpack.unpack(buf[_HDR.size :], n, width).astype(np.int64) + vmin
    return vals.astype(np.int32)
