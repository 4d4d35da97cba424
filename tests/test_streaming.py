"""Incremental ingestion: two arrival waves, exactly-once encoding via
the streaming checkpoint, lineage rows per micro-batch, and a stream
batch as one run of the batch job's store."""

from pyspark.sql import functions as F

from crumble_spark import synth
from crumble_spark.decode import decode_df
from crumble_spark.streaming.ingest import encode_stream


def test_stream_encodes_arrivals_exactly_once(spark, tmp_path):
    in_dir = str(tmp_path / "arrivals")
    out_dir = str(tmp_path / "out")

    wave1 = synth.synth_table(spark, 60, seed=3, mean_len=200, parts=2)
    wave1.write.mode("append").parquet(in_dir)
    encode_stream(spark, in_dir, out_dir, block_size=128, n_splits=8)

    enc1 = spark.read.parquet(f"{out_dir}/encoded")
    assert enc1.count() == 60

    # second wave arrives later; checkpoint must skip wave-1 files
    wave2 = (
        synth.synth_table(spark, 100, seed=4, mean_len=200, parts=2)
        .withColumn("doc_id", F.concat(F.lit("w2-"), F.col("doc_id")))
    )
    wave2.write.mode("append").parquet(in_dir)
    encode_stream(spark, in_dir, out_dir, block_size=128, n_splits=8)

    enc2 = spark.read.parquet(f"{out_dir}/encoded")
    assert enc2.count() == 160
    assert enc2.select("doc_id").distinct().count() == 160  # no re-encode dupes

    # decoded content matches the union of both waves
    dec = decode_df(enc2, verify=True)
    src = {r["doc_id"]: r["tokens"] for r in wave1.collect() + wave2.collect()}
    got = {r["doc_id"]: r["tokens"] for r in dec.collect()}
    assert got == src

    lin = spark.read.parquet(f"{out_dir}/lineage")
    runs = {r["run_id"] for r in lin.select("run_id").distinct().collect()}
    assert len(runs) == 2  # one micro-batch per wave
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == 160


def test_ingest_refuses_legacy_flat_layout(spark, tmp_path):
    import os

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "legacy_out")
    synth.synth_table(spark, 5, seed=9, mean_len=50, parts=1).write.parquet(in_dir)
    os.makedirs(f"{out_dir}/encoded")
    with open(f"{out_dir}/encoded/part-00000-old.parquet", "wb") as f:
        f.write(b"pre-r2 flat-layout file")
    import pytest

    with pytest.raises(ValueError, match="not a run_id= directory"):
        encode_stream(spark, in_dir, out_dir, block_size=128, n_splits=4)


def test_stream_only_store_serves_lookups_without_n_splits(spark, tmp_path):
    # a stream batch publishes the store sidecar like the job does, so a
    # lookup routes by the store's own n_splits
    from crumble_spark.lookup import decode_docs

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    wave = synth.synth_table(spark, 30, seed=8, mean_len=100, parts=1)
    wave.write.parquet(in_dir)
    encode_stream(spark, in_dir, out_dir, block_size=128, n_splits=16)
    ids = [r["doc_id"] for r in wave.select("doc_id").collect()]
    got = decode_docs(spark, f"{out_dir}/encoded", ids).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(ids)
