"""Per-partition lineage + checkpoint/resume.

Crumble's end-of-run global counters, suspicious-region BED sink and @PG
provenance header (snp_score.c:2650-2666, 1496-1498, 2588-2609) become a
first-class lineage table: one row per deterministic input split with the
codec histogram, bytes in/out, row checksum and completion status.  Resume
is an anti-join against completed splits — encoding is deterministic, so a
re-run of any split is byte-identical (idempotent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sinks import _is_missing_table

# checksum = sum(row_hash mod 2^31): order-insensitive, and bounded so the
# per-split Spark sum cannot overflow int64 even at 10^12-row scale
_CHECK_MOD = 1 << 31


def checksum_col():
    return F.sum(F.col("row_hash") % F.lit(_CHECK_MOD)).alias("checksum")


def lineage_from_encoded(enc: DataFrame, run_id: str) -> DataFrame:
    per_split = enc.groupBy("split_id").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tokens"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        checksum_col(),
    )
    hist = (
        enc.select("split_id", F.explode("blocks.codec_id").alias("codec_id"))
        .groupBy("split_id", "codec_id")
        .agg(F.count("*").alias("cnt"))
        .groupBy("split_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("codec_id", "cnt"))).alias("codec_hist"))
    )
    # left join: a split whose rows are all empty has no exploded codec
    # ids, but it is still done and gets an empty histogram
    no_blocks = F.create_map().cast(T.MapType(T.IntegerType(), T.LongType(), False))
    return (
        per_split.join(hist, "split_id", "left")
        .withColumn("codec_hist", F.coalesce("codec_hist", no_blocks))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("status", F.lit("done"))
        .select(
            "run_id", "split_id", "n_rows", "n_tokens", "codec_hist",
            "bytes_in", "bytes_out", "checksum", "status",
        )
    )


def completed_splits(
    spark: SparkSession, lineage_dir: str, reader=None
) -> DataFrame | None:
    """Splits already finished by any prior run (encoding is deterministic,
    so any done split is valid regardless of which run produced it), or
    None when no lineage exists yet; an unreadable lineage raises.
    `reader` overrides how the lineage table is loaded (Iceberg sinks)."""
    try:
        lin = reader() if reader is not None else spark.read.parquet(lineage_dir)
    except Exception as e:
        if "PATH_NOT_FOUND" not in str(e) and not _is_missing_table(e):
            raise
        return None
    return lin.filter(F.col("status") == "done").select("split_id").distinct()


def filter_resume(df: DataFrame, done: DataFrame | None) -> DataFrame:
    """Drop rows belonging to already-completed splits.

    The done-split list is tiny (one row per split) → broadcast anti-join,
    no shuffle of the big side.
    """
    if done is None:
        return df
    return df.join(F.broadcast(done), "split_id", "left_anti")
