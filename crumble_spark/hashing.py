"""Deterministic row/partition checksums.

row_hash is an order-sensitive *block-combinable* sum:
    row_hash = sum over blocks of (block_id + 1) * crc32(block_token_bytes)
wrapped to int64.  Combinable: a row's hash is a plain sum over its
blocks, so encode and decode-verify accumulate it block by block, with
no full-row pass and no crc32_combine.  The lineage checksum
is then the (order-insensitive) sum of row_hash per split.

Analogue: crumble verifies conservation with count_in == count_out
(snp_score.c:2021-2026); we verify content, not just count.
"""

from __future__ import annotations

import zlib

import numpy as np

_MASK = (1 << 63) - 1


def block_hash(block_id: int, chunk: np.ndarray) -> int:
    crc = zlib.crc32(np.ascontiguousarray(chunk, dtype="<i4").tobytes())
    return ((block_id + 1) * crc) & _MASK


def combine(block_hashes) -> int:
    return sum(block_hashes) & _MASK


def row_hash(a: np.ndarray, block_size: int) -> int:
    a = np.asarray(a)
    return combine(
        block_hash(bi, a[off : off + block_size])
        for bi, off in enumerate(range(0, len(a), block_size))
    )
