"""Codec 0 — RAW: verbatim little-endian int32.

The always-available fallback, mirroring crumble's `preserve` verbatim path
(snp_score.c:1624-1649): when no transform is profitable, keep the bytes.
Guarantees the adaptive selector's worst case is exactly the input size.
"""

from __future__ import annotations

import numpy as np


def encode(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr, dtype="<i4").tobytes()


def decode(buf: bytes, n: int) -> np.ndarray:
    return np.frombuffer(buf, dtype="<i4", count=n).astype(np.int32, copy=False)
