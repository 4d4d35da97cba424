"""Preserve-list: force RAW for rows in keep ranges.

The graft of crumble's -R keep-bed interval table (bed.c:42-103,
snp_score.c:1443-1463): rows whose (source, doc_id) fall inside any
range of a small keep table are emitted verbatim (codec 0), e.g. a
golden evaluation corpus that must stay byte-inspectable.

The keep table is tiny, so it is collected and applied as one row
predicate: no join, so every input row comes out exactly once (a
repeated doc_id is neither multiplied nor flagged by another source's
range); the flag rides into the encode kernel as a bool column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEEP_SCHEMA = "source string, doc_lo string, doc_hi string"


def with_force_raw(df: DataFrame, keep: DataFrame) -> DataFrame:
    """Mark rows covered by any keep range. keep: (source, doc_lo, doc_hi)."""
    hit = F.lit(False)
    for r in keep.select("source", "doc_lo", "doc_hi").collect():
        hit = hit | (
            (F.col("source") == F.lit(r["source"]))
            & F.col("doc_id").between(F.lit(r["doc_lo"]), F.lit(r["doc_hi"]))
        )
    # a null source, doc_id or bound matches no range
    return df.withColumn("force_raw", F.coalesce(hit, F.lit(False)))
