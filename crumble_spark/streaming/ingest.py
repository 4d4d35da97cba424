"""Continuous encode of arriving token shards.

readStream(file source) → foreachBatch(batch encode + lineage write).
Micro-batch <id> writes the run directory `encoded/run_id=stream-<id>/`
with the batch job's sink (sinks.write_encoded_parquet) and its lineage
rows into `lineage/run_id=stream-<id>/`, overwriting both whole.  The
rows come from the counters its encode summed while the sink wrote.
`availableNow` drains everything present and stops — the cron-friendly
incremental mode; drop the trigger for a long-running ingester.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import DEFAULT_BLOCK_SIZE, lineage, sinks
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
    stream-<batch id>, a split row per split the batch touched).  Refuses
    an encoded/ that holds anything but run directories."""
    sinks.store_runs(f"{out_dir}/encoded")

    stream = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(in_dir)
    )

    def handle(batch_df, batch_id: int) -> None:
        # exactly-once despite foreachBatch's at-least-once replay: each
        # micro-batch owns one run directory of the store and one of the
        # lineage and overwrites both, so a batch replayed after a
        # post-write/pre-commit crash replaces its own previous output
        # instead of duplicating it
        spark = batch_df.sparkSession
        run_id = f"stream-{batch_id}"
        acc = spark.sparkContext.accumulator({}, lineage.SplitCounters())
        enc = encode_df(batch_df, block_size=block_size, n_splits=n_splits, lineage_acc=acc)
        sinks.write_encoded_parquet(enc, f"{out_dir}/encoded", run_id)
        rows = lineage.lineage_rows(acc.value, run_id)
        if rows:
            lin = lineage.lineage_frame(spark, rows).drop("run_id")
            lin.write.mode("overwrite").parquet(f"{out_dir}/lineage/run_id={run_id}")

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", f"{out_dir}/_checkpoint"
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if await_termination:
        q.awaitTermination()
    return q
