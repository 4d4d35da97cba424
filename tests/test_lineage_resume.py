"""Checkpoint/resume: kill-and-rerun yields identical output (FIXTURES.md
assertion 4); lineage accounting is exact."""

import contextlib

import pytest
from pyspark.sql import functions as F

from crumble_spark import lineage, synth
from crumble_spark.encode import with_split_id
from crumble_spark.job import EncodeConfig, run_encode_job


def _table(spark):
    return synth.synth_table(spark, n_rows=200, seed=7, mean_len=300, parts=4)


def test_resume_after_partial_run(spark, tmp_path):
    out_full = str(tmp_path / "full")
    out_resume = str(tmp_path / "resumed")
    cfg = EncodeConfig(block_size=256, n_splits=16)

    df = _table(spark)
    run_encode_job(spark, df, out_full, run_id="full", cfg=cfg, resume=False)

    # simulated failure: first run only managed splits 0..7
    partial = with_split_id(df, cfg.n_splits).filter(F.col("split_id") < 8)
    run_encode_job(spark, partial, out_resume, run_id="r1", cfg=cfg, resume=False)
    done_before = len(lineage.done_rows(spark, f"{out_resume}/lineage"))
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
    r2_splits = {r["split"] for r in lin.filter("run_id='r2'").select("split").collect()}
    r1_splits = {r["split"] for r in lin.filter("run_id='r1'").select("split").collect()}
    assert r1_splits.isdisjoint(r2_splits)
    assert r1_splits | r2_splits == {str(i) for i in range(16)}


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
    assert lineage.done_rows(None, "unused", reader=missing) == []
    with pytest.raises(RuntimeError, match="quota exceeded"):
        lineage.done_rows(None, "unused", reader=failing("quota exceeded"))


def test_lineage_keeps_splits_without_blocks(spark, tmp_path):
    # an empty row has no blocks, so its split has no codec ids to count;
    # the split must still get its lineage row (with an empty histogram),
    # or the summary undercounts and every resume re-encodes the split
    import zlib

    rows = [("full-a", list(range(150)), 150, "web"), ("empty-b", [], 0, "web")]
    df = spark.createDataFrame(
        rows, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    cfg = EncodeConfig(block_size=64, n_splits=64)
    out = str(tmp_path / "empty")
    summary = run_encode_job(spark, df, out, run_id="r1", cfg=cfg, resume=False)
    assert (summary["rows"], summary["splits"]) == (2, 2)
    hist = {
        r["split"]: r["codec_hist"]
        for r in spark.read.parquet(f"{out}/lineage").collect()
    }
    assert hist[str(zlib.crc32(b"empty-b") % 64)] == {}
    assert sum(hist[str(zlib.crc32(b"full-a") % 64)].values()) == 3

    # resume finds both splits done and encodes nothing
    run_encode_job(spark, df, out, run_id="r2", cfg=cfg, resume=True)
    assert spark.read.parquet(f"{out}/lineage").filter("run_id = 'r2'").count() == 0


def oracle(enc, key="split_id"):
    """Reference lineage: the groupBy/explode aggregation over a written
    store, {str(key): counters}.  A key whose rows have no blocks gets an
    empty histogram."""
    per_key = enc.groupBy(key).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tokens"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        F.sum(F.col("row_hash") % F.lit(1 << 31)).alias("checksum"),
    )
    hist = (
        enc.select(key, F.explode("blocks.codec_id").alias("codec_id"))
        .groupBy(key, "codec_id")
        .count()
        .collect()
    )
    out = {str(r[key]): {**r.asDict(), "codec_hist": {}} for r in per_key.collect()}
    for r in hist:
        out[str(r[key])]["codec_hist"][r["codec_id"]] = r["count"]
    for c in out.values():
        del c[key]
    return out


def _merge_rows(rows):
    """{split: counters} of lineage rows, summed over the rows of a split."""
    fields = ("n_rows", "n_tokens", "bytes_in", "bytes_out", "checksum")
    acc = {}
    for r in rows:
        a = acc.setdefault(r["split"], {**dict.fromkeys(fields, 0), "codec_hist": {}})
        for k in fields:
            a[k] += r[k]
        for cid, n in dict(r["codec_hist"]).items():
            a["codec_hist"][cid] = a["codec_hist"].get(cid, 0) + n
    return acc


def _mixed_table(spark, n_splits):
    """_table plus one empty row alone in its split: (df, that split)."""
    import zlib

    split = lambda d: zlib.crc32(d.encode()) % n_splits
    used = {split(r["doc_id"]) for r in _table(spark).select("doc_id").collect()}
    doc = next(d for d in (f"empty-{i}" for i in range(10**4)) if split(d) not in used)
    empty = spark.createDataFrame(
        [(doc, [], 0, "web")],
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    return _table(spark).unionByName(empty), str(split(doc))


def test_lineage_matches_store_oracle(spark, tmp_path):
    # the counters summed during the write equal the old read-back
    # aggregation over the store, split by split
    out = str(tmp_path / "parity")
    cfg = EncodeConfig(block_size=256, n_splits=64)
    df, empty_split = _mixed_table(spark, cfg.n_splits)
    run_encode_job(spark, df, out, run_id="p", cfg=cfg, resume=False)
    got = _merge_rows(spark.read.parquet(f"{out}/lineage").collect())
    assert got == oracle(spark.read.parquet(f"{out}/encoded"))
    assert got[empty_split]["n_rows"] == 1 and got[empty_split]["codec_hist"] == {}


def test_streaming_lineage_matches_store_oracle(spark, tmp_path):
    from crumble_spark.streaming.ingest import encode_stream

    in_dir, out = str(tmp_path / "arrivals"), str(tmp_path / "out")
    df, empty_split = _mixed_table(spark, 64)
    df.write.parquet(in_dir)
    encode_stream(spark, in_dir, out, block_size=128, n_splits=64)
    got = _merge_rows(spark.read.parquet(f"{out}/lineage").collect())
    assert got == oracle(spark.read.parquet(f"{out}/encoded"))
    assert got[empty_split]["codec_hist"] == {}


def test_two_full_runs_count_each_split_once(spark, tmp_path):
    out = str(tmp_path / "twice")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = _table(spark)
    s1 = run_encode_job(spark, df, out, run_id="a", cfg=cfg, resume=False)
    s2 = run_encode_job(spark, df, out, run_id="b", cfg=cfg, resume=False)
    stored = spark.read.parquet(f"{out}/encoded").count()
    assert stored == 200
    for s in (s1, s2):
        assert (s["rows"], s["splits"]) == (200, 16)
    # a resumed third run skips everything and still describes the store
    s3 = run_encode_job(spark, df, out, run_id="c", cfg=cfg, resume=True)
    assert (s3["rows"], s3["splits"], s3["tokens"]) == (200, 16, s1["tokens"])


def test_failed_dataframe_job_leaves_no_lineage(spark, tmp_path):
    # local[N] has no task retry: one out-of-int32 token fails its task and
    # the job; Spark's committer publishes nothing, and no lineage is
    # appended, so a re-run on fixed input encodes every split
    import os

    import pytest

    rows = [(r["doc_id"], r["tokens"], r["n_tok"], r["source"]) for r in _table(spark).collect()]
    schema = "doc_id string, tokens array<bigint>, n_tok int, source string"
    bad = list(rows)
    bad[17] = (bad[17][0], bad[17][1][:-1] + [1 << 40], *bad[17][2:])
    out, clean = str(tmp_path / "failed"), str(tmp_path / "clean")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    with pytest.raises(Exception, match="exceed int32 range"):
        run_encode_job(spark, spark.createDataFrame(bad, schema), out, cfg=cfg)
    assert not os.path.exists(f"{out}/lineage")
    enc_dir = f"{out}/encoded"
    assert not [
        f for _, _, fs in os.walk(enc_dir) for f in fs if f.endswith(".parquet")
    ]

    fixed = spark.createDataFrame(rows, schema)
    s = run_encode_job(spark, fixed, out, run_id="fixed", cfg=cfg)
    run_encode_job(spark, fixed, clean, cfg=cfg, resume=False)
    assert (s["rows"], s["splits"]) == (200, 16)
    key = lambda d: {
        r["doc_id"]: (r["row_hash"], r["bytes_out"])
        for r in spark.read.parquet(f"{d}/encoded").collect()
    }
    assert key(out) == key(clean)


def test_every_writer_has_the_lineage_schema(spark, tmp_path):
    # direct, DataFrame, streaming and Iceberg (injected catalog) lineage
    # all carry exactly the LINEAGE_SCHEMA fields
    from test_sinks import DirCatalog

    from crumble_spark.schema import LINEAGE_SCHEMA
    from crumble_spark.sources.parquet_direct import encode_job_direct
    from crumble_spark.streaming.ingest import encode_stream

    want = LINEAGE_SCHEMA.fieldNames()
    tok = str(tmp_path / "tokens")
    _table(spark).write.parquet(tok)
    cfg = EncodeConfig(block_size=256, n_splits=8)

    run_encode_job(spark, spark.read.parquet(tok), str(tmp_path / "df"), cfg=cfg)
    encode_job_direct(spark, tok, str(tmp_path / "direct"), block_size=256, n_splits=8)
    encode_stream(spark, tok, str(tmp_path / "stream"), block_size=256, n_splits=8)
    cat = DirCatalog(spark, tmp_path / "cat")
    run_encode_job(
        spark, spark.read.parquet(tok), "lake.enc", cfg=cfg, sink="iceberg",
        table_reader=cat.read, writer_factory=cat.writer,
    )
    tables = {
        "df": spark.read.parquet(str(tmp_path / "df" / "lineage")),
        "direct": spark.read.parquet(str(tmp_path / "direct" / "lineage_direct")),
        "stream": spark.read.parquet(str(tmp_path / "stream" / "lineage")),
        "iceberg": cat.read("lake.enc_lineage"),
    }
    for name, lin in tables.items():
        assert sorted(lin.columns) == sorted(want), name
        assert lin.filter("status = 'done'").agg(F.sum("n_rows")).first()[0] == 200, name


def test_resume_with_nothing_left_leaves_no_run(spark, tmp_path):
    # every split is done: the resumed run encodes no row, so it must
    # leave no run directory behind (an uncommitted orphan)
    import os

    out = str(tmp_path / "nothing_left")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = synth.synth_table(spark, n_rows=50, seed=8, mean_len=100, parts=2)
    s1 = run_encode_job(spark, df, out, run_id="r1", cfg=cfg, resume=False)
    s2 = run_encode_job(spark, df, out, run_id="r2", cfg=cfg, resume=True)
    for d in ("encoded", "lineage"):
        assert sorted(n for n in os.listdir(f"{out}/{d}") if not n.startswith((".", "_"))) == [
            "run_id=r1"
        ]
    key = ("splits", "rows", "tokens")
    assert [s2[k] for k in key] == [s1[k] for k in key]
    assert spark.read.parquet(f"{out}/encoded").count() == 50


def test_resume_with_every_split_done_runs_no_job_past_the_lineage_read(spark, tmp_path):
    # every doc routes to a split below n_splits, so when the done splits
    # cover them all nothing is left: the resume returns the done summary
    # without scanning, encoding or writing the input
    from test_lookup import _jobs_run

    out = str(tmp_path / "all_done")
    cfg = EncodeConfig(block_size=256, n_splits=4)
    df = synth.synth_table(spark, n_rows=50, seed=8, mean_len=100, parts=2)
    s1 = run_encode_job(spark, df, out, run_id="r1", cfg=cfg, resume=False)
    assert s1["splits"] == 4
    _, read = _jobs_run(spark, "lineage-read", lambda: lineage.done_rows(spark, f"{out}/lineage"))
    s2, jobs = _jobs_run(
        spark, "all-done", lambda: run_encode_job(spark, df, out, run_id="r2", cfg=cfg)
    )
    assert len(jobs) == len(read)
    assert {**s2, "run_id": "r1"} == s1


def test_resume_encodes_a_new_doc_of_a_split_that_held_none(spark, tmp_path):
    # a resume whose done splits miss some split ids must still scan the
    # input: a doc added since may route to a split without a done row
    import zlib

    from crumble_spark import lookup

    out = str(tmp_path / "new_doc")
    cfg = EncodeConfig(block_size=256, n_splits=64)
    df = synth.synth_table(spark, n_rows=50, seed=8, mean_len=100, parts=2)
    s1 = run_encode_job(spark, df, out, run_id="r1", cfg=cfg, resume=False)
    held = {int(r["split"]) for r in lineage.done_rows(spark, f"{out}/lineage")}
    assert s1["splits"] == len(held) < 64
    new_id = next(d for d in (f"new-{i}" for i in range(1000))
                  if zlib.crc32(d.encode()) % 64 not in held)
    new = spark.createDataFrame([(new_id, [7, 8, 9], 3, "web")], df.schema)
    s2 = run_encode_job(spark, df.unionByName(new), out, run_id="r2", cfg=cfg)
    assert s2["splits"] == s1["splits"] + 1 and s2["rows"] == 51
    (hit,) = lookup.decode_docs(spark, f"{out}/encoded", [new_id]).collect()
    assert list(hit["tokens"]) == [7, 8, 9]
    assert spark.read.parquet(f"{out}/encoded").count() == 51


def _files(root):
    """{path: mtime_ns} of every file under root."""
    import os

    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(root) for f in fs
    }


def _crash_store(spark, tmp_path, name, store):
    """(out, its local directory) of a store "local" or on "viewfs", a
    viewfs:// mount of a local directory that Spark's writer writes;
    `name` is one mount's, unique per test."""
    from conftest import viewfs_store

    if store == "local":
        return str(tmp_path / name), str(tmp_path / name)
    return f"{viewfs_store(spark, name, str(tmp_path))}/{name}", str(tmp_path / name)


@contextlib.contextmanager
def _lineage_write_fails(monkeypatch, out, run_id, fault):
    """Inside the block the lineage write of `run_id` into the store at
    `out` calls fault(), which raises: at the publish of the pyarrow
    lineage file on a local store, at Spark's writer on any other."""
    from pyspark.sql import DataFrameWriter

    from crumble_spark import sinks

    run_dir = f"{out}/lineage/run_id={run_id}"
    if sinks.local_root(out) is not None:
        owner, name = sinks, "publish_file"
        real = sinks.publish_file

        def dies(path, *a, **kw):
            if path.startswith(f"{run_dir}/"):
                fault()
            return real(path, *a, **kw)
    else:
        owner, name = DataFrameWriter, "parquet"
        real = DataFrameWriter.parquet

        def dies(self, path, *a, **kw):
            if path == run_dir:
                fault()
            return real(self, path, *a, **kw)

    monkeypatch.setattr(owner, name, dies)
    try:
        yield
    finally:
        monkeypatch.setattr(owner, name, real)


def _crash_between_data_commit_and_lineage_append(spark, tmp_path, monkeypatch, store):
    # the run's data and sidecar are committed, then the driver dies before
    # the lineage append: the run directory is an orphan.  The resume
    # deletes it and re-encodes its splits, so every doc is stored once
    import os

    from crumble_spark import sinks

    out, out_fs = _crash_store(spark, tmp_path, "crumblecommit", store)
    clean = str(tmp_path / "clean")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = _table(spark)
    first = with_split_id(df, cfg.n_splits).filter(F.col("split_id") < 8)
    run_encode_job(spark, first, out, run_id="r1", cfg=cfg, resume=False)

    def fault():
        raise RuntimeError("driver died before the lineage append")

    with _lineage_write_fails(monkeypatch, out, "r2", fault):
        with pytest.raises(RuntimeError, match="driver died"):
            run_encode_job(spark, df, out, run_id="r2", cfg=cfg)
    assert os.path.isdir(f"{out_fs}/encoded/run_id=r2")

    s = run_encode_job(spark, df, out, run_id="r3", cfg=cfg)
    assert (s["rows"], s["splits"]) == (200, 16)
    runs = sorted(d for d in os.listdir(f"{out_fs}/encoded") if not d.startswith(("_", ".")))
    assert runs == ["run_id=r1", "run_id=r3"]
    stored = [r["doc_id"] for r in spark.read.parquet(f"{out}/encoded").select("doc_id").collect()]
    assert len(stored) == len(set(stored)) == 200

    run_encode_job(spark, df, clean, cfg=cfg, resume=False)
    key = lambda d: {
        r["doc_id"]: (r["row_hash"], r["bytes_out"])
        for r in spark.read.parquet(f"{d}/encoded").collect()
    }
    assert key(out) == key(clean)
    lin_splits = {int(r["split"]) for r in lineage.done_rows(spark, f"{out}/lineage")}
    assert set(sinks.read_store_meta(f"{out}/encoded")["splits"]) >= lin_splits


def test_crash_between_data_commit_and_lineage_append(spark, tmp_path, monkeypatch):
    _crash_between_data_commit_and_lineage_append(spark, tmp_path, monkeypatch, "local")


def test_crash_between_data_commit_and_lineage_append_on_a_spark_store(
    spark, tmp_path, monkeypatch
):
    _crash_between_data_commit_and_lineage_append(spark, tmp_path, monkeypatch, "viewfs")


def _crash_inside_the_lineage_write(spark, tmp_path, monkeypatch, store, left):
    # the lineage write dies after the run's lineage directory was made:
    # empty (""), holding what a Spark writer's crash leaves
    # ("_temporary/0"), or holding a half-written temp file of the
    # pyarrow publish.  A directory without rows is no commit: the resume
    # deletes the run and re-encodes its splits, every doc once
    import os

    out, out_fs = _crash_store(spark, tmp_path, f"crumbletorn{len(left)}", store)
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = _table(spark)
    first = with_split_id(df, cfg.n_splits).filter(F.col("split_id") < 8)
    run_encode_job(spark, first, out, run_id="r1", cfg=cfg, resume=False)

    def fault():
        run_dir = f"{out_fs}/lineage/run_id=r2"
        if left.endswith(".tmp"):
            with open(os.path.join(run_dir, left), "wb") as fh:
                fh.write(b"PAR1 torn")
        else:
            os.makedirs(os.path.join(run_dir, left), exist_ok=True)
        raise RuntimeError("lineage write failed")

    with _lineage_write_fails(monkeypatch, out, "r2", fault):
        with pytest.raises(RuntimeError, match="lineage write failed"):
            run_encode_job(spark, df, out, run_id="r2", cfg=cfg)
    assert os.path.isdir(f"{out_fs}/lineage/run_id=r2")

    s = run_encode_job(spark, df, out, run_id="r3", cfg=cfg)
    assert (s["rows"], s["splits"]) == (200, 16)
    for d in ("encoded", "lineage"):
        runs = sorted(r for r in os.listdir(f"{out_fs}/{d}") if not r.startswith(("_", ".")))
        assert runs == ["run_id=r1", "run_id=r3"]
    stored = [r["doc_id"] for r in spark.read.parquet(f"{out}/encoded").select("doc_id").collect()]
    assert len(stored) == len(set(stored)) == 200


@pytest.mark.parametrize("left", ["", "_temporary/0", ".part-0.parquet.driver-0.tmp"])
def test_crash_inside_the_lineage_write(spark, tmp_path, monkeypatch, left):
    _crash_inside_the_lineage_write(spark, tmp_path, monkeypatch, "local", left)


@pytest.mark.parametrize("left", ["", "_temporary/0"])
def test_crash_inside_the_lineage_write_on_a_spark_store(spark, tmp_path, monkeypatch, left):
    _crash_inside_the_lineage_write(spark, tmp_path, monkeypatch, "viewfs", left)


def test_sidecar_keeps_the_splits_of_an_overlapping_run(spark, tmp_path, monkeypatch):
    # another writer publishes split 15 while this run encodes splits
    # 0-7: the sidecar this run writes still lists 15, so lookups of
    # the other run's docs are not skipped
    from crumble_spark import sinks

    out = str(tmp_path / "overlap")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = with_split_id(_table(spark), cfg.n_splits).filter(F.col("split_id") < 8)
    real = sinks.write_encoded_parquet

    def overlapped(df, enc_dir, *a, **kw):
        counters = real(df, enc_dir, *a, **kw)
        sinks.write_store_meta(enc_dir, cfg.n_splits, splits={15})
        return counters

    monkeypatch.setattr(sinks, "write_encoded_parquet", overlapped)
    run_encode_job(spark, df.drop("split_id"), out, run_id="r1", cfg=cfg)
    assert sinks.read_store_meta(f"{out}/encoded")["splits"] == list(range(8)) + [15]


def test_job_refuses_a_stream_run_id(spark, tmp_path):
    # a job run named like a stream batch would never count as done and
    # would be overwritten by that batch; it is refused before any change
    out = str(tmp_path / "reserved")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = _table(spark)
    run_encode_job(spark, df, out, run_id="r1", cfg=cfg)
    before = _files(out)
    for resume in (True, False):
        with pytest.raises(ValueError, match="'stream-3'.*reserved"):
            run_encode_job(spark, df, out, run_id="stream-3", cfg=cfg, resume=resume)
    assert _files(out) == before


def test_resume_refuses_a_committed_run_id(spark, tmp_path):
    # reusing a committed run_id would overwrite that run's directory; the
    # resume raises before it deletes or writes anything
    import os

    import pytest

    out = str(tmp_path / "reuse")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = _table(spark)
    first = with_split_id(df, cfg.n_splits).filter(F.col("split_id") < 8)
    run_encode_job(spark, first, out, run_id="r1", cfg=cfg, resume=False)
    os.makedirs(f"{out}/encoded/run_id=orphan")
    before = _files(out)
    with pytest.raises(ValueError, match="'r1' is already committed"):
        run_encode_job(spark, df, out, run_id="r1", cfg=cfg)
    assert _files(out) == before
    assert os.path.isdir(f"{out}/encoded/run_id=orphan")


def test_resume_refuses_a_split_id_partitioned_store(spark, tmp_path):
    # a store of the earlier split_id= layout beside a new run_id= directory
    # would fail every read on conflicting partition columns; the resume
    # names the entry instead and writes nothing
    import pytest

    from crumble_spark.encode import encode_df

    out = str(tmp_path / "old_layout")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = _table(spark)
    encode_df(with_split_id(df, cfg.n_splits), block_size=256, n_splits=16).write.partitionBy(
        "split_id"
    ).parquet(f"{out}/encoded")
    before = _files(out)
    with pytest.raises(ValueError, match="'split_id=.*not a run_id= directory"):
        run_encode_job(spark, df, out, cfg=cfg)
    assert _files(out) == before


def test_resume_refuses_another_n_splits(spark, tmp_path):
    # docs routed by another n_splits land in other splits than their
    # stored copies, so a resume would store them twice; the run raises
    # before it writes anything, naming both values
    import pytest

    out = str(tmp_path / "resplit")
    df = synth.synth_table(spark, n_rows=60, seed=7, mean_len=100, parts=2)
    run_encode_job(spark, df, out, run_id="r1", cfg=EncodeConfig(block_size=256, n_splits=64))
    before = _files(out)
    with pytest.raises(ValueError, match="n_splits=64.*n_splits=16"):
        run_encode_job(spark, df, out, run_id="r2", cfg=EncodeConfig(block_size=256, n_splits=16))
    assert _files(out) == before


def test_job_and_stream_runs_share_one_store(spark, tmp_path):
    # a job run, a stream batch, then a resumed job run on the same input
    # into one store: every doc is stored once, the job's committed run
    # survives, and lookups without n_splits find every stream doc
    import os

    from crumble_spark.lookup import decode_docs
    from crumble_spark.streaming.ingest import encode_stream

    out, arrivals = str(tmp_path / "mixed"), str(tmp_path / "arrivals")
    cfg = EncodeConfig(block_size=128, n_splits=64)
    df = synth.synth_table(spark, n_rows=50, seed=5, mean_len=100, parts=2)
    synth.synth_table(spark, n_rows=40, seed=6, mean_len=100, parts=2).withColumn(
        "doc_id", F.concat(F.lit("s-"), F.col("doc_id"))
    ).write.parquet(arrivals)
    run_encode_job(spark, df, out, run_id="job1", cfg=cfg)
    encode_stream(spark, arrivals, out, block_size=128, n_splits=64)
    s = run_encode_job(spark, df, out, run_id="job2", cfg=cfg)

    assert os.path.isdir(f"{out}/encoded/run_id=job1")
    runs = {d for d in os.listdir(f"{out}/lineage") if not d.startswith(("_", "."))}
    assert runs == {"run_id=job1", "run_id=stream-0"}
    job_ids = [r["doc_id"] for r in df.select("doc_id").collect()]
    stream_ids = [r["doc_id"] for r in spark.read.parquet(arrivals).select("doc_id").collect()]
    stored = [r["doc_id"] for r in spark.read.parquet(f"{out}/encoded").select("doc_id").collect()]
    assert sorted(stored) == sorted(job_ids + stream_ids)
    assert s["rows"] == 50
    got = decode_docs(spark, f"{out}/encoded", stream_ids).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(stream_ids)


def test_resume_refuses_a_flat_lineage_store(spark, tmp_path):
    # lineage appended flat into lineage/ (the layout before run_id=
    # lineage directories) is invisible to Spark next to run_id=
    # directories; the job's resume and the stream both name the file
    # and change nothing
    import os
    import shutil

    import pytest

    from crumble_spark.streaming.ingest import encode_stream

    out, tok = str(tmp_path / "flat_lineage"), str(tmp_path / "tokens")
    cfg = EncodeConfig(block_size=256, n_splits=16)
    df = _table(spark)
    df.write.parquet(tok)
    run_encode_job(spark, df, out, run_id="r1", cfg=cfg)
    rows = [r.asDict() for r in lineage.done_rows(spark, f"{out}/lineage")]
    shutil.rmtree(f"{out}/lineage")
    lineage.lineage_frame(spark, rows).write.parquet(f"{out}/lineage")
    assert any(f.startswith("part-") for f in os.listdir(f"{out}/lineage"))
    before = _files(out)
    with pytest.raises(ValueError, match="'part-.*not a run_id= directory"):
        run_encode_job(spark, df, out, run_id="r2", cfg=cfg)
    with pytest.raises(ValueError, match="'part-.*not a run_id= directory"):
        encode_stream(spark, tok, out, block_size=256, n_splits=16)
    assert _files(out) == before


def test_job_resume_after_a_stream_encodes_every_input_doc(spark, tmp_path):
    # the splits a stream batch wrote hold other docs than the job's
    # input, so they are not done for the job: a resumed job into a store
    # that only a stream has written stores every one of its docs
    from crumble_spark.streaming.ingest import encode_stream

    out, arrivals = str(tmp_path / "stream_first"), str(tmp_path / "arrivals")
    cfg = EncodeConfig(block_size=128, n_splits=64)
    synth.synth_table(spark, n_rows=40, seed=6, mean_len=100, parts=2).withColumn(
        "doc_id", F.concat(F.lit("s-"), F.col("doc_id"))
    ).write.parquet(arrivals)
    encode_stream(spark, arrivals, out, block_size=128, n_splits=64)
    df = synth.synth_table(spark, n_rows=50, seed=5, mean_len=100, parts=2)
    s = run_encode_job(spark, df, out, run_id="job", cfg=cfg)
    assert (s["rows"], s["tokens"]) == (50, df.agg(F.sum("n_tok")).first()[0])
    stored = [r["doc_id"] for r in spark.read.parquet(f"{out}/encoded").select("doc_id").collect()]
    assert len(stored) == len(set(stored)) == 90
