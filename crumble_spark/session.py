"""SparkSession factory with the configs this engine assumes.

Arrow transfer is mandatory: the codec kernels run in Arrow batches
through mapInArrow, and synth and the multimodal decoders through
mapInPandas.  AQE stays on as the runtime backstop for skew (see
partitioning.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "crumble-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    shuffle = shuffle_partitions
    # For DataFrame-path Arrow UDF stages over BULK data, a task is a JVM
    # producer thread + a Python kernel process running concurrently —
    # schedule those jobs with SPARK_GRAFT_TASK_CPUS=2 or task slots 2x
    # oversubscribe the machine and the synchronous Arrow ping-pong
    # becomes scheduling-latency-bound (measured 10x collapse at 64
    # threads on 32 cores).  The default stays 1: the throughput encode
    # path (sources/parquet_direct) does its I/O inside the Python worker
    # and leaves the JVM thread idle, and JVM-only pipeline queries want
    # full slot count.
    task_cpus = os.environ.get("SPARK_GRAFT_TASK_CPUS", "1")
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.task.cpus", task_cpus)
        .config("spark.sql.shuffle.partitions", str(shuffle))
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
