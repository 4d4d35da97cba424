"""Source/sink layer.

The DataFrame path (spark.read.parquet → mapInArrow) is the composable
default.  parquet_direct is the throughput path for the dedicated encode
job: Spark distributes (file, row-group) tasks and keeps the lineage /
resume bookkeeping; each task reads parquet natively with pyarrow
(zero-copy list<int32> → numpy) and writes its encoded output natively —
no JVM row materialization, no Arrow socket ping-pong on the hot path.
Both paths run the same batch cores (encode.encode_record_batch,
decode.decode_record_batch).
"""
