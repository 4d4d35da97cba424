"""A job run on a local store: its Python tasks read, encode and write,
and the store it leaves is the one Spark's writer leaves on any other
filesystem (here a viewfs:// mount of a local directory)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import viewfs_store
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crumble_spark import job, lineage, lookup, sinks, synth
from crumble_spark.encode import with_split_id
from crumble_spark.schema import TOKENS_SCHEMA
from crumble_spark.sources import parquet_direct

CFG = job.EncodeConfig(block_size=256, n_splits=16)


def _store(spark, out):
    """{split_id: {doc_id: (row_hash, bytes_out, blocks)}} of a store."""
    got = {}
    for r in spark.read.parquet(f"{out}/encoded").collect():
        rows = got.setdefault(r["split_id"], {})
        assert r["doc_id"] not in rows  # every doc stored once
        rows[r["doc_id"]] = (r["row_hash"], r["bytes_out"], [tuple(b) for b in r["blocks"]])
    return got


def _lineage(spark, out):
    return sorted(
        (r["run_id"], r["split"], r["n_rows"], r["n_tokens"], sorted(r["codec_hist"].items()),
         r["bytes_in"], r["bytes_out"], r["checksum"], r["status"])
        for r in lineage.done_rows(spark, f"{out}/lineage")
    )


@pytest.fixture(scope="module")
def tok(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("local_run") / "tokens")
    synth.synth_table(spark, 200, seed=7, mean_len=300, parts=3).write.parquet(path)
    return path


@pytest.mark.parametrize("footers", ["serial", "distributed"])
def test_local_and_spark_writers_give_the_same_store(spark, tok, tmp_path, monkeypatch, footers):
    # a first run of splits 0-7, then a resume over the whole input, on a
    # local store (the tasks write; the resume's tasks read the input
    # themselves, its footers listed as the direct path lists them) and
    # on a viewfs:// store (Spark's writer): the same rows per split, the
    # same lineage and the same lookups
    if footers == "distributed":
        monkeypatch.setattr(parquet_direct, "DISTRIBUTED_LISTING_MIN_FILES", 1)
    local = str(tmp_path / "local")
    view = viewfs_store(spark, f"crumblerun{footers}", str(tmp_path / "view"))
    assert sinks.local_root(view) is None and sinks.local_root(local) == local
    df = spark.read.parquet(tok)
    first = with_split_id(df, CFG.n_splits).filter(F.col("split_id") < 8)
    for out in (local, f"{view}/out"):
        job.run_encode_job(spark, first, out, run_id="r1", cfg=CFG, resume=False)
        s = job.run_encode_job(spark, df, out, run_id="r2", cfg=CFG)
        assert (s["rows"], s["splits"]) == (200, 16)
    spark_out = str(tmp_path / "view" / "out")
    assert _store(spark, local) == _store(spark, spark_out)
    assert _lineage(spark, local) == _lineage(spark, f"{view}/out")
    assert {r[0] for r in _lineage(spark, local)} == {"r1", "r2"}
    # Spark's committer leaves _SUCCESS; a local run leaves no file but its data
    assert os.path.exists(f"{spark_out}/encoded/run_id=r2/_SUCCESS")
    assert all(n.startswith("part-") for n in os.listdir(f"{local}/encoded/run_id=r2"))
    assert sinks.read_store_meta(f"{local}/encoded") == sinks.read_store_meta(f"{spark_out}/encoded")
    ids = sorted(r["doc_id"] for r in df.select("doc_id").collect())[::17] + ["absent-0"]
    key = lambda rows: sorted((r["doc_id"], list(r["tokens"])) for r in rows)  # noqa: E731
    assert key(lookup.decode_docs(spark, f"{local}/encoded", ids).collect()) == key(
        lookup.decode_docs(spark, f"{view}/out/encoded", ids).collect()
    )


def test_local_run_writes_statistics_only_where_a_lookup_prunes(spark, tok, tmp_path):
    # payload min/max would be stored in full and never read: every
    # pyarrow writer keeps statistics on split_id and doc_id alone
    job.run_encode_job(spark, spark.read.parquet(tok), str(tmp_path / "df"), cfg=CFG)
    parquet_direct.encode_job_direct(spark, tok, str(tmp_path / "direct"), block_size=256, n_splits=16)
    for writer in ("df", "direct"):
        root = tmp_path / writer / "encoded"
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
                 if f.endswith(".parquet")]
        assert files, writer
        for f in files:
            md = pq.ParquetFile(f).metadata
            for i in range(md.num_row_groups):
                cols = {md.row_group(i).column(c).path_in_schema: md.row_group(i).column(c)
                        for c in range(md.num_columns)}
                assert cols["split_id"].is_stats_set and cols["doc_id"].is_stats_set, f
                blocks = [c for p, c in cols.items() if p.startswith("blocks.")]
                assert blocks and not any(c.is_stats_set for c in blocks), f


def _force_raw_input(spark, tok):
    """Write 60 docs, every third marked force_raw, and a zero-byte file
    into the directory `tok`; return the marked doc ids."""
    import numpy as np

    tok.mkdir()
    rows = synth.synth_table(spark, 60, seed=4, mean_len=200, parts=1).collect()
    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in rows],
        "tokens": pa.array([r["tokens"] for r in rows], pa.list_(pa.int32())),
        "n_tok": pa.array([r["n_tok"] for r in rows], pa.int32()),
        "source": [r["source"] for r in rows],
        "force_raw": np.arange(len(rows)) % 3 == 0,
    }), str(tok / "part-1.parquet"))
    open(tok / "part-0.parquet", "wb").close()
    return {r["doc_id"] for i, r in enumerate(rows) if i % 3 == 0}


def _raw_only(store, docs):
    """Every doc of `docs` in the store holds only RAW blocks (codec 0),
    and some other doc does not."""
    blocks = {doc: {b[1] for b in v[2]} for split in store.values() for doc, v in split.items()}
    return all(blocks[d] == {0} for d in docs) and any(
        c != {0} for d, c in blocks.items() if d not in docs
    )


def test_an_empty_input_file_reads_as_in_spark(spark, tmp_path):
    # a zero-byte file is listed by inputFiles() but skipped by Spark's
    # scan; the tasks that read the input themselves skip it too, and read
    # force_raw when the files carry it
    tok = tmp_path / "tokens"
    raw = _force_raw_input(spark, tok)
    schema = T.StructType(TOKENS_SCHEMA.fields + [T.StructField("force_raw", T.BooleanType())])
    df = spark.read.schema(schema).parquet(str(tok))
    assert sinks._scanned_files(df) == [str(tok / "part-1.parquet")]
    local = str(tmp_path / "local")
    view = viewfs_store(spark, "crumbleempty", str(tmp_path / "view"))
    for out in (local, f"{view}/out"):
        s = job.run_encode_job(spark, df, out, run_id="r", cfg=CFG, resume=False)
        assert s["rows"] == 60
    got = _store(spark, local)
    assert got == _store(spark, str(tmp_path / "view" / "out"))
    assert _raw_only(got, raw)


def test_job_cli_reads_an_input_with_an_empty_file(spark, tok, tmp_path, monkeypatch, capsys):
    # the CLI reads its input with the fixed tokens schema: inference
    # would fail on the empty file's missing footer
    import shutil
    import sys

    inp = str(tmp_path / "tokens")
    shutil.copytree(tok, inp)
    open(os.path.join(inp, "part-empty.parquet"), "wb").close()
    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", ["job", "--input", inp, "--output", out, "--preset", "1"])
    job.main()
    assert "'rows': 200" in capsys.readouterr().out
    assert spark.read.parquet(f"{out}/encoded").count() == 200


def test_job_cli_reads_force_raw_when_the_files_carry_it(spark, tmp_path, monkeypatch, capsys):
    # the preserve marking survives the CLI's fixed read schema: the
    # first non-empty file's columns decide the optional ones
    import sys

    tok = tmp_path / "tokens"
    raw = _force_raw_input(spark, tok)
    df = sinks.read_tokens_parquet(spark, str(tok))
    assert df.columns == TOKENS_SCHEMA.fieldNames() + ["force_raw"]
    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", ["job", "--input", str(tok), "--output", out, "--preset", "1"])
    job.main()
    assert "'rows': 60" in capsys.readouterr().out
    assert _raw_only(_store(spark, out), raw)


@pytest.mark.parametrize("frame", ["scan", "batches"])
def test_a_task_closes_a_part_file_at_the_budget(spark, tok, tmp_path, monkeypatch, frame):
    # a task holds at most PART_BYTES of encoded rows plus one input
    # batch before it writes them: with a one-byte budget each input
    # batch (a 10-row row group the task reads, or an Arrow batch of at
    # most 10 rows from Spark's scan) is its own part file, and the store
    # holds what the default budget's few files hold
    one = str(tmp_path / "tokens.parquet")
    pq.write_table(spark.read.parquet(tok).toArrow(), one, row_group_size=10)
    df = spark.read.parquet(one)
    if frame == "batches":
        df = with_split_id(df, CFG.n_splits)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "10")
    try:
        for out in ("whole", "cut"):
            if out == "cut":
                monkeypatch.setattr(sinks, "PART_BYTES", 1)
            job.run_encode_job(spark, df, str(tmp_path / out), run_id="r", cfg=CFG, resume=False)
    finally:
        spark.conf.set(conf, old)

    def rows_per_file(out):
        d = tmp_path / out / "encoded" / "run_id=r"
        return [pq.ParquetFile(d / n).metadata.num_rows for n in os.listdir(d)]

    whole, cut = rows_per_file("whole"), rows_per_file("cut")
    assert max(cut) <= 10 and sum(cut) == 200, cut
    assert len(cut) == 20 if frame == "scan" else len(cut) >= 20
    assert len(whole) < 20
    assert _store(spark, str(tmp_path / "cut")) == _store(spark, str(tmp_path / "whole"))
    assert _lineage(spark, str(tmp_path / "cut")) == _lineage(spark, str(tmp_path / "whole"))


def test_resume_deletes_a_crashed_runs_staging_dir(spark, tok, tmp_path, monkeypatch):
    # the driver dies after the encode job, before the staging rename:
    # the hidden staging directory is an orphan, which the resume deletes
    # with the run's other directories; every doc is stored once
    out = str(tmp_path / "staged")
    df = spark.read.parquet(tok)
    real = os.rename

    def dies(src, dst):
        if os.path.basename(src).startswith(sinks.STAGING_PREFIX):
            raise RuntimeError("driver died before the rename")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", dies)
    with pytest.raises(RuntimeError, match="driver died"):
        job.run_encode_job(spark, df, out, run_id="r1", cfg=CFG)
    monkeypatch.setattr(os, "rename", real)
    staged = f"{out}/encoded/{sinks.STAGING_PREFIX}r1"
    assert os.listdir(staged) and not os.path.exists(f"{out}/lineage")
    assert sinks.store_runs(f"{out}/encoded") == {"r1"}

    s = job.run_encode_job(spark, df, out, run_id="r2", cfg=CFG)
    assert (s["rows"], s["splits"]) == (200, 16)
    held = os.listdir(f"{out}/encoded")
    assert not os.path.exists(staged)
    assert sorted(n for n in held if not n.startswith(("_", "."))) == ["run_id=r2"]
    assert sum(len(v) for v in _store(spark, out).values()) == 200


def test_a_failed_local_run_leaves_no_staging_dir(spark, tok, tmp_path):
    out = str(tmp_path / "failed")
    bad = spark.read.parquet(tok).withColumn("tokens", F.array(F.lit(1 << 40)))
    with pytest.raises(Exception, match="exceed int32 range"):
        job.run_encode_job(spark, bad, out, run_id="r1", cfg=CFG)
    assert os.listdir(f"{out}/encoded") == []


def test_temp_names_are_unique_per_task_attempt(spark):
    # two attempts of one task (speculation, a retry racing a zombie)
    # must never write the same temp file: the name carries the task
    # attempt id and a random tag
    a, b = sinks.temp_name("/s/run_id=r/part-00000.parquet"), sinks.temp_name(
        "/s/run_id=r/part-00000.parquet"
    )
    assert a != b
    for t in (a, b):
        assert os.path.dirname(t) == "/s/run_id=r"
        assert os.path.basename(t).startswith(".part-00000.parquet.driver-") and t.endswith(".tmp")

    def names(batches):
        from pyspark import TaskContext

        for _ in batches:
            pass
        tc = TaskContext.get()
        yield pa.record_batch({
            "attempt": [tc.taskAttemptId()],
            "name": [sinks.temp_name("/s/part-00000.parquet")],
        })

    got = spark.range(4, numPartitions=4).mapInArrow(names, "attempt long, name string").collect()
    assert len({r["name"] for r in got}) == 4
    for r in got:
        assert os.path.basename(r["name"]).startswith(f".part-00000.parquet.{r['attempt']}-")
