"""The decode stage: exact inverse of encode.py, with in-job verification.

Crumble hard-errors when a record is lost (count_in == count_out,
snp_score.c:2021-2026); we hard-error when a row's decoded bytes hash
differently from the hash taken at encode time — verification as an
operator, not only a test.

decode_df (via mapInArrow), the direct decode-verify job and the one-row
decode_blocks all run one zero-copy walker over the Arrow payload buffers.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from . import codecs, hashing
from .schema import PA_BLOCK, PA_TOKENS, TOKENS_SCHEMA

_MASK = (1 << 63) - 1


def _walk(blocks: pa.ListArray, verify: bool):
    """list<block> column → (flat int32 values, row offsets, row hashes;
    0 unless verify).  Its per-block step is the only codecs.decode call."""
    boffs = blocks.offsets.to_numpy()
    structs = blocks.values
    bid, cid, ns = (structs.field(k).to_numpy() for k in ("block_id", "codec_id", "n"))
    bid, cid, ns_l, boffs_l = bid.tolist(), cid.tolist(), ns.tolist(), boffs.tolist()
    payloads = structs.field("payload")
    # a BinaryArray IS (validity, int32 offsets, data): slice the data
    # buffer directly instead of building a bytes object per block
    _, pob, pdb = payloads.buffers()
    odt = np.int64 if pa.types.is_large_binary(payloads.type) else np.int32
    poffs = np.frombuffer(pob, odt)[payloads.offset :] if pob is not None else np.zeros(1, odt)
    data = memoryview(pdb) if pdb is not None else memoryview(b"")
    chunks, hashes = [], []
    for i in range(len(boffs_l) - 1):
        hs = 0
        for j in range(boffs_l[i], boffs_l[i + 1]):
            chunk = codecs.decode(cid[j], data[poffs[j] : poffs[j + 1]], ns_l[j])
            if verify:
                hs += hashing.block_hash(bid[j], chunk)
            chunks.append(chunk)
        hashes.append(hs & _MASK)
    cum = np.concatenate(([0], np.cumsum(ns[boffs_l[0] : boffs_l[-1]], dtype=np.int64)))
    values = np.concatenate(chunks) if chunks else np.zeros(0, np.int32)
    return values, cum[boffs - boffs_l[0]], hashes


def decode_record_batch(batch: pa.RecordBatch, verify: bool = True):
    """Encoded Arrow batch (doc_id, blocks, row_hash, ...) → (flat int32
    values, int64 row offsets).  With verify, a row whose decoded blocks
    hash differently from its stored row_hash raises ValueError naming it."""
    values, offsets, hashes = _walk(batch.column("blocks"), verify)
    want = batch.column("row_hash").to_numpy().tolist() if verify else []
    for i, (got, exp) in enumerate(zip(hashes, want)):
        if got != exp:
            doc = batch.column("doc_id")[i].as_py()
            raise ValueError(f"row_hash mismatch at row {i} (doc_id={doc!r})")
    return values, offsets


def decode_blocks(blocks, verify: bool = False):
    """Decode one row's list of block dicts → tokens, or (tokens,
    row_hash) with verify.  Runs the shared walker on a one-row array."""
    values, _, hashes = _walk(pa.array([blocks], pa.list_(PA_BLOCK)), verify)
    return (values, hashes[0]) if verify else values


def decode_df(df: DataFrame, verify: bool = True) -> DataFrame:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            values, offsets = decode_record_batch(batch, verify)
            yield pa.record_batch(
                [
                    batch.column("doc_id").cast(pa.string()),
                    pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values),
                    batch.column("n_tok").cast(pa.int32()),
                    batch.column("source").cast(pa.string()),
                ],
                schema=PA_TOKENS,
            )

    return df.mapInArrow(fn, schema=TOKENS_SCHEMA)
