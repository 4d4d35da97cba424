"""Input-contract validation — crumble's conservation discipline applied
at ingest: before encoding a 100 TB table, prove the input matches the
declared contract (n_tok == size(tokens), no nulls, non-empty doc_id),
and afterwards prove nothing was lost (row counts + token totals).
Pure Catalyst; one pass."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validation_report(df: DataFrame) -> DataFrame:
    """Per-source violation counts; all-zero == contract holds."""
    return df.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("tokens").isNull(), 1).otherwise(0)).alias("null_tokens"),
        F.sum(
            F.when(F.col("tokens").isNotNull() & (F.size("tokens") != F.col("n_tok")), 1)
            .otherwise(0)
        ).alias("n_tok_mismatch"),
        F.sum(
            F.when(F.col("doc_id").isNull() | (F.col("doc_id") == ""), 1).otherwise(0)
        ).alias("bad_doc_id"),
    )

