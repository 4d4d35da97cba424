"""Codec 5 — Delta + zigzag + bit-pack, for sorted-ish / drifting streams.

Crumble never delta-codes (qualities don't drift) but its position stream
(b->core.pos, snp_score.c:863-871) is exactly this shape; included because
token tables carry monotone id-like columns too.

Layout: i4 first | u8 width | pack(zigzag(diff(arr)), width)
"""

from __future__ import annotations

import struct

import numpy as np

from .. import bitpack

_HDR = struct.Struct("<iB")


def encode(arr: np.ndarray) -> bytes:
    a = np.asarray(arr, dtype=np.int64)
    zz = bitpack.zigzag(np.diff(a))
    width = bitpack.width_for(int(zz.max())) if len(zz) else 0
    return encode_pre(int(a[0]), zz, width)


def encode_pre(first: int, zz: np.ndarray, width: int) -> bytes:
    """encode() with the zigzag stream precomputed (batch path) — MUST
    stay byte-identical to encode()."""
    return _HDR.pack(first, width) + bitpack.pack(zz, width)


def decode(buf: bytes, n: int) -> np.ndarray:
    first, width = _HDR.unpack_from(buf, 0)
    zz = bitpack.unpack(buf[_HDR.size :], n - 1, width)
    deltas = bitpack.unzigzag(zz)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    if n > 1:
        np.cumsum(deltas, out=out[1:])
        out[1:] += first
    return out.astype(np.int32)
