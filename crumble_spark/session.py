"""SparkSession factory with the configs this engine assumes.

Arrow transfer is mandatory: the codec kernels run in Arrow batches
through mapInArrow, and synth and the multimodal decoders through
mapInPandas.  AQE stays on as the runtime backstop for skew; the
engine's own skew handling is the token-bounded kernel slice
(encode.MAX_TOKENS_PER_SLICE).

Under spark-submit the launcher's master and spark.task.cpus are kept
(a job submitted to a cluster runs there, not on the driver); a plain
`python` start runs local[SPARK_GRAFT_CPUS] (default: the host's CPU
count).  For the DataFrame path's Arrow UDF stages over bulk rows on
Spark's writer, a task is a JVM producer thread plus a Python kernel
process: submit those jobs with `--conf spark.task.cpus=2`, or task
slots oversubscribe the machine 2x (measured 10x collapse at 64 threads
on 32 cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "crumble-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    b = SparkSession.builder.appName(app)
    # a launcher (spark-submit, the pyspark shell) starts the JVM with its
    # own master and confs and hands Python the gateway's port
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(f"local[{cpus}]")
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows carry KB-to-MB token arrays: batch sizes sized for ~4 MB
        # typical batches so N concurrent tasks can't blow the heap even
        # when the long-document tail clusters (reader default is 4096
        # rows — 32 tasks x 4096 x giant arrays = OOM)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # encode is CPU-bound at ~40 MB/s/core: small input splits (~2 s of
        # CPU each) keep every core busy WITHOUT shuffling raw token
        # arrays; a 32 MB default would cap a 350 MB input at ~12 tasks
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # non-ANSI semantics (Spark 4 defaults to ANSI): the registered
        # queries' oracle parity was established under this setting
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return b.getOrCreate()
