"""Iceberg sink plumbing, injection-tested (the runtime isn't on this
sandbox's classpath): overwritePartitions for idempotent split re-writes,
create-on-first-run with split_id partitioning, snapshot-summary
provenance, and a clear error when the runtime is absent."""

import pytest

from crumble_spark import sinks


class FakeWriter:
    """Records the DataFrameWriterV2 call chain."""

    def __init__(self, log, fail_overwrite=None, fail_append=None):
        self.log = log
        self._fail_overwrite = fail_overwrite
        self._fail_append = fail_append

    def option(self, k, v):
        self.log.append(("option", k, v))
        return self

    def using(self, fmt):
        self.log.append(("using", fmt))
        return self

    def partitionedBy(self, col):
        self.log.append(("partitionedBy", str(col)))
        return self

    def overwritePartitions(self):
        if self._fail_overwrite:
            raise self._fail_overwrite
        self.log.append(("overwritePartitions",))

    def append(self):
        if self._fail_append:
            raise self._fail_append
        self.log.append(("append",))

    def create(self):
        self.log.append(("create",))


def test_iceberg_write_overwrites_partitions_with_provenance():
    log = []
    sinks.write_encoded_iceberg(
        enc=object(), table="lake.enc", run_id="r42",
        writer_factory=lambda df: FakeWriter(log),
    )
    assert ("overwritePartitions",) in log
    assert ("option", "snapshot-property.crumble.run_id", "r42") in log
    assert ("option", "snapshot-property.crumble.engine", "crumble_spark") in log


def test_iceberg_write_creates_partitioned_table_on_first_run(spark):
    # spark fixture: the create path builds a Column for partitionedBy()
    log = []
    calls = {"n": 0}

    def factory(df):
        calls["n"] += 1
        if calls["n"] == 1:
            return FakeWriter(log, fail_overwrite=Exception("TABLE_OR_VIEW_NOT_FOUND"))
        return FakeWriter(log)

    sinks.write_encoded_iceberg(object(), "lake.enc", "r1", writer_factory=factory)
    assert ("create",) in log
    assert ("using", "iceberg") in log
    assert any(op == "partitionedBy" and "split_id" in arg for op, *rest in log for arg in rest)


def test_iceberg_write_names_the_missing_runtime():
    with pytest.raises(RuntimeError, match="Iceberg catalog/runtime"):
        sinks.write_encoded_iceberg(
            object(), "lake.enc", "r1",
            writer_factory=lambda df: FakeWriter(
                [], fail_overwrite=Exception("Cannot find catalog plugin for lake")
            ),
        )


def test_iceberg_write_reraises_unrelated_failures():
    with pytest.raises(Exception, match="quota exceeded"):
        sinks.write_encoded_iceberg(
            object(), "lake.enc", "r1",
            writer_factory=lambda df: FakeWriter(
                [], fail_overwrite=Exception("quota exceeded")
            ),
        )


class DirCatalog:
    """Parquet-dir-backed stand-in for an Iceberg catalog: table name →
    directory, overwritePartitions → dynamic partition overwrite, append →
    parquet append.  Lets the WHOLE table-in/table-out encode job run
    without the Iceberg runtime on the classpath."""

    def __init__(self, spark, root):
        self.spark, self.root = spark, str(root)

    def path(self, name):
        return f"{self.root}/{name.replace('.', '__')}"

    def read(self, name):
        return self.spark.read.parquet(self.path(name))

    def writer(self, df, name):
        cat, p = self, self.path(name)

        class W:
            def option(self, k, v):
                return self

            def overwritePartitions(self):
                cat.spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "dynamic"
                )
                df.write.partitionBy("split_id").mode("overwrite").parquet(p)

            def append(self):
                df.write.mode("append").parquet(p)

        return W()


def test_job_round_trips_iceberg_table_in_table_out(spark, tmp_path):
    # the full job surface under injected catalog IO: read the tokens
    # table from the "catalog", encode, write encoded + lineage tables,
    # then decode-verify what the catalog read returns — bit-identical
    from crumble_spark import job, synth
    from crumble_spark.decode import decode_df

    cat = DirCatalog(spark, tmp_path)
    synth.synth_table(spark, 60, seed=11).write.parquet(cat.path("lake.tokens"))

    df = sinks.read_tokens_iceberg(spark, "lake.tokens", reader=cat.read)
    cfg = job.EncodeConfig(block_size=256, n_splits=8)
    summary = job.run_encode_job(
        spark, df, "lake.enc", cfg=cfg, sink="iceberg",
        table_reader=cat.read, writer_factory=cat.writer,
    )
    assert summary["rows"] == 60 and summary["splits"] <= 8

    decoded = decode_df(cat.read("lake.enc"), verify=True)
    assert decoded.count() == 60
    # lineage landed in the sibling catalog table, not a filesystem path
    assert cat.read("lake.enc_lineage").filter("status = 'done'").count() > 0


def test_read_tokens_iceberg_names_the_missing_runtime(spark):
    def boom(_):
        raise Exception("Cannot find catalog plugin for lake")

    with pytest.raises(RuntimeError, match="Iceberg catalog/runtime"):
        sinks.read_tokens_iceberg(spark, "lake.tokens", reader=boom)


def test_lineage_append_creates_then_appends():
    log = []
    calls = {"n": 0}

    def factory(df):
        calls["n"] += 1
        if calls["n"] == 1:
            return FakeWriter(log, fail_append=Exception("NoSuchTableException"))
        return FakeWriter(log)

    sinks.append_lineage_iceberg(object(), "lake.enc_lineage", writer_factory=factory)
    assert ("create",) in log
    log2 = []
    sinks.append_lineage_iceberg(
        object(), "lake.enc_lineage", writer_factory=lambda df: FakeWriter(log2)
    )
    assert ("append",) in log2


def test_job_iceberg_resume_skips_completed_splits(spark, tmp_path):
    # second run over the same catalog tables must find every split done
    # (lineage read back through the catalog), re-encode nothing new,
    # and leave the encoded table byte-identical
    import glob
    import os

    from crumble_spark import job, synth
    from crumble_spark.decode import decode_df

    cat = DirCatalog(spark, tmp_path)
    synth.synth_table(spark, 50, seed=13).write.parquet(cat.path("lake.tokens"))
    cfg = job.EncodeConfig(block_size=256, n_splits=8)
    kw = dict(cfg=cfg, sink="iceberg", table_reader=cat.read, writer_factory=cat.writer)
    s1 = job.run_encode_job(spark, cat.read("lake.tokens"), "lake.enc", **kw)
    files1 = sorted(glob.glob(cat.path("lake.enc") + "/**/*.parquet", recursive=True))
    mtimes1 = {f: os.path.getmtime(f) for f in files1}

    s2 = job.run_encode_job(spark, cat.read("lake.tokens"), "lake.enc", **kw)
    assert s2["rows"] == s1["rows"] == 50
    assert s2["splits"] == s1["splits"]
    # no split was re-written: same files, same mtimes (dynamic overwrite
    # only touches partitions present in the written frame — resume left
    # it empty)
    files2 = sorted(glob.glob(cat.path("lake.enc") + "/**/*.parquet", recursive=True))
    assert files2 == files1
    assert all(os.path.getmtime(f) == mtimes1[f] for f in files1)
    assert decode_df(cat.read("lake.enc"), verify=True).count() == 50


def test_writers_leave_the_session_conf_alone(spark, tmp_path):
    # the parquet sink sets no session conf: after one encode job and one
    # stream batch, a caller's partitionBy overwrite still replaces what
    # its static mode says
    from crumble_spark import job, synth
    from crumble_spark.streaming.ingest import encode_stream

    key = "spark.sql.sources.partitionOverwriteMode"
    caller = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        tok = str(tmp_path / "tokens")
        synth.synth_table(spark, 20, seed=2, mean_len=100, parts=1).write.parquet(tok)
        cfg = job.EncodeConfig(block_size=128, n_splits=4)
        job.run_encode_job(spark, spark.read.parquet(tok), str(tmp_path / "df"), cfg=cfg)
        assert spark.conf.get(key) == "STATIC"
        encode_stream(spark, tok, str(tmp_path / "stream"), block_size=128, n_splits=4)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, caller)


def test_every_writer_emits_split_sorted_files(spark, tmp_path):
    # the DataFrame job, a stream batch and the direct path all write the
    # one store layout: each file sorted by split_id, and each row group
    # closed on the first row that takes it to ROW_GROUP_BYTES of encoded
    # blocks, so every group but its last row stays within the bound
    import glob
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from crumble_spark import job, synth
    from crumble_spark.sources.parquet_direct import encode_job_direct
    from crumble_spark.streaming.ingest import encode_stream

    tok = str(tmp_path / "tokens")
    synth.synth_table(spark, 1500, seed=5, mean_len=1000, parts=2).write.parquet(tok)
    cfg = job.EncodeConfig(block_size=256, n_splits=64)
    job.run_encode_job(spark, spark.read.parquet(tok), str(tmp_path / "df"), cfg=cfg)
    encode_stream(spark, tok, str(tmp_path / "stream"), block_size=256, n_splits=64)
    encode_job_direct(spark, tok, str(tmp_path / "direct"), block_size=256, n_splits=64)

    # the DataFrame job: one run directory, at most one file per encode task
    (run_dir,) = glob.glob(str(tmp_path / "df" / "encoded" / "run_id=*"))
    tasks = spark.read.parquet(tok).rdd.getNumPartitions()
    assert 0 < len(glob.glob(f"{run_dir}/*.parquet")) <= tasks
    for writer in ("df", "stream", "direct"):
        files = glob.glob(str(tmp_path / writer / "encoded" / "**" / "*.parquet"), recursive=True)
        assert files, writer
        n_groups = 0
        for f in files:
            pf = pq.ParquetFile(f)
            split = pf.read(columns=["split_id"]).column(0).to_numpy()
            assert (np.diff(split) >= 0).all(), (writer, os.path.basename(f))
            for i in range(pf.metadata.num_row_groups):
                size = pf.read_row_group(i, columns=["bytes_out"]).column(0).to_numpy()
                assert size[:-1].sum() < sinks.ROW_GROUP_BYTES, (writer, f, i, size.sum())
                n_groups += 1
        assert n_groups > len(files), writer  # the bound cuts the files
