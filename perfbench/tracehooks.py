"""Worker-side hook of a traced run that times the parquet read.

pyarrow's ``ParquetFile.iter_batches`` only builds the Cython reader
generator; the decoding happens later, as ``_encode_split`` iterates it,
and the UDF profiler sees no call for it.  A traced run replaces
``parquet_direct._encode_split`` with ``encode_split`` below.
The ``mapInPandas`` closure then pickles it by reference, so each Python
worker imports this module, which routes ``iter_batches`` through the
Python generator ``read_batches``.  The profiler counts every resume of
that generator as a call, so its cumulative time is the read time.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from crumble_spark.sources import parquet_direct

# bound at import, before the traced run swaps the module attribute
_ENCODE_SPLIT = parquet_direct._encode_split
_ITER_BATCHES = pq.ParquetFile.iter_batches


def read_batches(self, *args, **kwargs):
    yield from _ITER_BATCHES(self, *args, **kwargs)


def encode_split(*args, **kwargs):
    pq.ParquetFile.iter_batches = read_batches
    return _ENCODE_SPLIT(*args, **kwargs)
