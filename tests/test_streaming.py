"""Incremental ingestion: two arrival waves, exactly-once encoding via
the streaming checkpoint, lineage rows per micro-batch.  Plus the
watermarked windowed rollup and the stateful cross-batch dedup."""

import pandas as pd
from pyspark.sql import functions as F

from crumble_spark import synth
from crumble_spark.decode import decode_df
from crumble_spark.streaming import stateful, windowed
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


def test_windowed_rollup_matches_batch(spark, tmp_path):
    # the file stream source needs a directory; stage the events table
    import shutil

    ev_dir = str(tmp_path / "events_stream")
    import os

    os.makedirs(ev_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{ev_dir}/part-0.parquet")
    q = windowed.hourly_rollup_stream(
        spark, ev_dir, query_name="t_hourly", output_mode="complete"
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM t_hourly")
    want = windowed.batch_rollup(spark, spark.read.parquet(ev_dir))
    key = lambda df: {
        (str(r["hour_start"]), r["event_type"]): (r["n_events"], r["value_cents"])
        for r in df.collect()
    }
    assert key(got) == key(want)
    assert got.count() > 0


def test_windowed_rollup_append_mode_emits_closed_windows(spark, tmp_path):
    # the PRODUCTION path: append mode emits a window exactly once, when
    # the watermark (max event time - delay) passes window_end; windows
    # the watermark hasn't closed stay in state and are NOT emitted.
    # Two files + maxFilesPerTrigger=1 so the watermark advances between
    # micro-batches (append emits nothing if all data is one batch).
    import datetime as dt
    import os

    ev_dir = str(tmp_path / "ev_append")
    os.makedirs(ev_dir)

    def ev(i, hour, minute, etype, value):
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(hours=hour, minutes=minute)
        return (i, ts, i % 7, etype, value, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    early = [ev(i, h, 10 * (i % 4), "click" if i % 2 else "view", 1.5 * i)
             for i, h in enumerate([0, 0, 1, 1, 2, 3, 4, 5])]
    late = [ev(99, 30, 0, "click", 2.0)]  # sentinel: advances the watermark
    # flat files (the file stream source does not recurse into subdirs),
    # written through Spark so the timestamp physical type matches the
    # stream schema, then moved up out of the write directory
    import glob
    import shutil

    for name, rows in (("f0", early), ("f1", late)):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(
            pd.DataFrame(rows, columns=cols), schema=windowed.EVENTS_SCHEMA
        ).coalesce(1).write.parquet(stage)
        shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], f"{ev_dir}/{name}.parquet")

    q = windowed.hourly_rollup_stream(
        spark, ev_dir, query_name="t_hourly_append", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (str(r["hour_start"]), r["event_type"]): (r["n_events"], r["value_cents"])
        for r in spark.sql("SELECT * FROM t_hourly_append").collect()
    }
    # every early window closed (watermark reached hour 28 ≫ hour 6);
    # the sentinel's own window is still open → withheld from append
    all_events = spark.read.parquet(f"{ev_dir}/f0.parquet", f"{ev_dir}/f1.parquet")
    want = {
        (str(r["hour_start"]), r["event_type"]): (r["n_events"], r["value_cents"])
        for r in windowed.batch_rollup(spark, all_events).collect()
        if r["hour_start"] < dt.datetime(2024, 1, 2)
    }
    assert got == want and len(got) > 0
    assert not any(k[0].startswith("2024-01-02") for k in got)


def test_windowed_append_without_batch_split_raises(spark, tmp_path):
    # append + availableNow in one micro-batch emits zero rows — silent
    # data loss; the combination must fail loudly at call time, before
    # any stream starts (ADVICE r3: was a warnings.warn)
    import pytest

    with pytest.raises(ValueError, match="max_files_per_trigger"):
        windowed.hourly_rollup_stream(spark, str(tmp_path / "nonexistent"))


def test_stateful_dedup_across_batches(spark, tmp_path):
    in_dir = str(tmp_path / "docs_in")
    out = str(tmp_path / "dedup_out")

    def docs(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
        )

    # wave 1: two distinct texts, one duplicated within the batch
    docs([
        (3, "alpha beta", "en", "web", 10),
        (1, "alpha beta", "en", "web", 10),
        (2, "gamma delta", "en", "web", 11),
    ]).write.mode("append").parquet(in_dir)
    stateful.dedup_stream(spark, in_dir, out)
    uniq1 = {r["text_hash"]: r["doc_id"] for r in spark.read.parquet(f"{out}/unique").collect()}
    assert len(uniq1) == 2
    assert "1" in uniq1.values()  # smallest doc_id won within the batch

    # wave 2: one repeat (must be suppressed by state) + one new text
    # duplicated across ids 10 and 2 — the winner must be NUMERIC-min 2,
    # not string-min '10' (batch-twin parity with q_dedup_exact)
    docs([
        (9, "alpha beta", "en", "web", 10),
        (10, "epsilon zeta", "en", "web", 12),
        (3, "epsilon zeta", "en", "web", 12),
    ]).write.mode("append").parquet(in_dir)
    stateful.dedup_stream(spark, in_dir, out)
    uniq2 = spark.read.parquet(f"{out}/unique")
    assert uniq2.count() == 3  # repeat suppressed across micro-batches
    assert uniq2.filter("doc_id = '9'").count() == 0
    # numeric min must win even though '10' < '3' lexicographically
    assert uniq2.filter("doc_id = '3'").count() == 1
    assert uniq2.filter("doc_id = '10'").count() == 0


def test_stateful_dedup_ttl_expires_and_reemits(spark, tmp_path):
    # with a processing-time TTL, a hash idle past the TTL is forgotten:
    # the expiry fires in a batch where the key has NO data, and a later
    # duplicate then re-emits (the bounded-state trade-off, explicit)
    import time

    in_dir = str(tmp_path / "ttl_in")
    out = str(tmp_path / "ttl_out")

    def docs(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
        )

    docs([(1, "alpha beta", "en", "web", 10)]).write.mode("append").parquet(in_dir)
    stateful.dedup_stream(spark, in_dir, out, ttl="1 seconds")
    assert spark.read.parquet(f"{out}/unique").count() == 1

    time.sleep(2)  # let the 1s TTL lapse in processing time
    # batch with unrelated data: the idle hash times out here and is removed
    docs([(2, "gamma delta", "en", "web", 11)]).write.mode("append").parquet(in_dir)
    stateful.dedup_stream(spark, in_dir, out, ttl="1 seconds")

    # the duplicate of the expired hash re-emits in a later batch
    docs([(7, "alpha beta", "en", "web", 10)]).write.mode("append").parquet(in_dir)
    stateful.dedup_stream(spark, in_dir, out, ttl="1 seconds")
    uniq = spark.read.parquet(f"{out}/unique")
    alpha = uniq.filter("text_hash = md5('alpha beta')")
    assert {r["doc_id"] for r in alpha.collect()} == {"1", "7"}
    assert uniq.count() == 3


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


def test_ttl_ms_parses_all_documented_units():
    from crumble_spark.streaming.stateful import _ttl_ms

    assert _ttl_ms("500 ms") == 500
    assert _ttl_ms("500ms") == 500
    assert _ttl_ms("1 seconds") == 1000
    assert _ttl_ms("7 days") == 7 * 86_400_000
    assert _ttl_ms("2 hours") == 7_200_000
    assert _ttl_ms(1234) == 1234
    import pytest

    with pytest.raises(ValueError, match="unparseable"):
        _ttl_ms("sometime later")
