"""Checkpoint/resume: kill-and-rerun yields identical output (FIXTURES.md
assertion 4); lineage accounting is exact."""

from pyspark.sql import functions as F

from crumble_spark import lineage, synth
from crumble_spark.encode import with_split_id
from crumble_spark.job import EncodeConfig, run_encode_job


def _table(spark):
    return synth.synth_table(spark, n_rows=200, seed=7, mean_len=300, parts=4)


def test_resume_after_partial_run(spark, tmp_path):
    out_full = str(tmp_path / "full")
    out_resume = str(tmp_path / "resumed")
    cfg = EncodeConfig(block_size=256, n_splits=16, giant_threshold=100_000)

    df = _table(spark)
    run_encode_job(spark, df, out_full, run_id="full", cfg=cfg, resume=False)

    # simulated failure: first run only managed splits 0..7
    partial = with_split_id(df, cfg.n_splits).filter(F.col("split_id") < 8)
    run_encode_job(spark, partial, out_resume, run_id="r1", cfg=cfg, resume=False)
    done_before = lineage.completed_splits(spark, f"{out_resume}/lineage").count()
    assert 0 < done_before < 16

    # resume: second run gets the whole input, must only do the remainder
    summary = run_encode_job(spark, df, out_resume, run_id="r2", cfg=cfg, resume=True)
    assert summary["splits"] == 16

    full = spark.read.parquet(f"{out_full}/encoded")
    resumed = spark.read.parquet(f"{out_resume}/encoded")
    key = lambda rows: {r["doc_id"]: (r["row_hash"], r["bytes_out"]) for r in rows}
    assert key(resumed.collect()) == key(full.collect())

    # r2's lineage only covers the splits r1 didn't finish
    lin = spark.read.parquet(f"{out_resume}/lineage")
    r2_splits = {r["split_id"] for r in lin.filter("run_id='r2'").select("split_id").collect()}
    r1_splits = {r["split_id"] for r in lin.filter("run_id='r1'").select("split_id").collect()}
    assert r1_splits.isdisjoint(r2_splits)
    assert r1_splits | r2_splits == set(range(16))


def test_lineage_accounting_exact(spark, tmp_path):
    out = str(tmp_path / "acct")
    cfg = EncodeConfig(block_size=256, n_splits=8)
    df = _table(spark)
    summary = run_encode_job(spark, df, out, run_id="acct", cfg=cfg, resume=False)

    agg = df.agg(
        F.count("*").alias("rows"), F.sum(F.col("n_tok").cast("long")).alias("tokens")
    ).collect()[0]
    assert summary["rows"] == agg["rows"]
    assert summary["tokens"] == agg["tokens"]
    assert summary["bytes_in"] == agg["tokens"] * 4
    assert 0 < summary["bytes_out"] < summary["bytes_in"]

    lin = spark.read.parquet(f"{out}/lineage")
    # codec histogram totals == total block count in the encoded table
    enc = spark.read.parquet(f"{out}/encoded")
    total_blocks = enc.select(F.explode("blocks")).count()
    hist_total = lin.select(
        F.explode("codec_hist").alias("codec", "cnt")
    ).agg(F.sum("cnt")).collect()[0][0]
    assert hist_total == total_blocks


def test_completed_splits_forgives_only_missing_lineage():
    import pytest

    def failing(msg):
        def reader():
            raise RuntimeError(msg)

        return reader

    missing = failing("[TABLE_OR_VIEW_NOT_FOUND] The table `lake`.`lin` cannot be found")
    assert lineage.completed_splits(None, "unused", reader=missing) is None
    with pytest.raises(RuntimeError, match="quota exceeded"):
        lineage.completed_splits(None, "unused", reader=failing("quota exceeded"))
