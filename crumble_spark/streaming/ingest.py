"""Continuous encode of arriving token shards.

readStream(file source) → foreachBatch(one run of the batch job).
Micro-batch <id> is one job.write_run call with run id `stream-<id>`: it
writes `encoded/run_id=stream-<id>/`, the store sidecar and
`lineage/run_id=stream-<id>/`, overwriting both run directories whole.
`availableNow` drains everything present and stops — the cron-friendly
incremental mode; drop the trigger for a long-running ingester.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import DEFAULT_BLOCK_SIZE, sinks
from ..job import STREAM_RUN_PREFIX, EncodeConfig, write_run
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
    """Encode newly arrived parquet shards from in_dir into the store at
    out_dir, one run per micro-batch (run_id stream-<batch id>, a lineage
    row per split the batch touched).  Refuses a store whose encoded/ or
    lineage/ holds anything but run directories; a batch raises if the
    store's n_splits differs."""
    sinks.store_runs(f"{out_dir}/encoded")
    sinks.store_runs(f"{out_dir}/lineage")
    cfg = EncodeConfig(block_size=block_size, n_splits=n_splits)

    stream = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(in_dir)
    )

    def handle(batch_df, batch_id: int) -> None:
        # exactly-once despite foreachBatch's at-least-once replay: a
        # batch replayed after a post-write/pre-commit crash overwrites
        # its own run directories instead of duplicating them
        run_id = f"{STREAM_RUN_PREFIX}{batch_id}"
        write_run(batch_df.sparkSession, batch_df, out_dir, run_id, cfg)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", f"{out_dir}/_checkpoint"
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if await_termination:
        q.awaitTermination()
    return q
