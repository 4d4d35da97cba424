"""Explicit StructTypes — schema is fixed, never inferred (the reference
carries its schema in the SAM header, sam_hdr_read, snp_score.c:2575).
PA_* are their Arrow twins, which the batch kernels and direct writer emit."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# input_hint shape (BASELINE.json): pre-tokenized training sequences
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("codec_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

ENCODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("split_id", T.IntegerType(), False),
        T.StructField("blocks", T.ArrayType(BLOCK_SCHEMA, False), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("bytes_out", T.LongType(), False),
        T.StructField("row_hash", T.LongType(), False),
    ]
)

# per-partition lineage — crumble's exit counters + @PG provenance
# (snp_score.c:2650-2666, 2588-2609) promoted to a first-class table
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("split_id", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("codec_hist", T.MapType(T.IntegerType(), T.LongType()), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("bytes_out", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)


_PA_ATOMS = {T.StringType(): pa.string(), T.IntegerType(): pa.int32(),
             T.LongType(): pa.int64(), T.BinaryType(): pa.binary()}


def _arrow(t: T.DataType) -> pa.DataType:
    """Arrow twin of a Spark type, every field nullable (as the direct
    writer's parquet files have always declared them)."""
    if isinstance(t, T.StructType):
        return pa.struct([(f.name, _arrow(f.dataType)) for f in t.fields])
    if isinstance(t, T.ArrayType):
        return pa.list_(_arrow(t.elementType))
    return _PA_ATOMS[t]


PA_TOKENS = pa.schema(_arrow(TOKENS_SCHEMA))
PA_BLOCK = _arrow(BLOCK_SCHEMA)
PA_ENCODED = pa.schema(_arrow(ENCODED_SCHEMA))
