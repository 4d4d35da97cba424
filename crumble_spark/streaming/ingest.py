"""Continuous encode of arriving token shards.

readStream(file source) → foreachBatch(batch encode + lineage write).  A
micro-batch's lineage rows come from the counters its encode summed while
the sink wrote; nothing is read back.
`availableNow` drains everything present and stops — the cron-friendly
incremental mode; drop the trigger for a long-running ingester.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import DEFAULT_BLOCK_SIZE, lineage
from ..encode import encode_df
from ..schema import TOKENS_SCHEMA


def encode_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_splits: int = 256,
    available_now: bool = True,
    await_termination: bool = True,
):
    """Encode newly arrived parquet shards from in_dir into
    {out_dir}/encoded, one lineage row set per micro-batch (run_id
    stream-<batch id>, a split row per split the batch touched)."""
    # layout guard: pre-r2 runs appended bare part files into encoded/;
    # mixing them with the batch=<id> partition dirs would make every
    # later read fail with 'conflicting directory structures' — refuse
    # up front with a actionable message instead
    import glob
    import os

    legacy = glob.glob(os.path.join(out_dir, "encoded", "part-*"))
    if legacy:
        raise ValueError(
            f"{out_dir}/encoded contains {len(legacy)} bare part files from "
            "the pre-batch-partition layout; move them into a batch=-1/ "
            "subdirectory (or start a fresh out_dir) before resuming"
        )

    stream = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(in_dir)
    )

    def handle(batch_df, batch_id: int) -> None:
        # exactly-once despite foreachBatch's at-least-once replay: each
        # micro-batch owns the batch=<id> partition of the store and the
        # run_id=stream-<id> partition of the lineage, and dynamic-overwrites
        # both, so a batch replayed after a post-write/pre-commit crash
        # replaces its own previous output instead of duplicating it
        spark = batch_df.sparkSession
        acc = spark.sparkContext.accumulator({}, lineage.SplitCounters())
        enc = encode_df(batch_df, block_size=block_size, n_splits=n_splits, lineage_acc=acc)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        enc = enc.withColumn("batch", F.lit(batch_id))
        enc.write.partitionBy("batch").mode("overwrite").parquet(f"{out_dir}/encoded")
        rows = lineage.lineage_rows(acc.value, run_id=f"stream-{batch_id}")
        if rows:
            lin = lineage.lineage_frame(spark, rows)
            lin.write.partitionBy("run_id").mode("overwrite").parquet(f"{out_dir}/lineage")

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", f"{out_dir}/_checkpoint"
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if await_termination:
        q.awaitTermination()
    return q
