"""Point lookups into the encoded store: correct rows back, only the
routed splits' row groups read, and both IN-filters pushed to parquet."""

import os

import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from crumble_spark import lookup, sinks, synth
from crumble_spark.encode import encode_df, with_split_id
from crumble_spark.schema import PA_ENCODED


def _encoded_dir(spark, tmp_path, n_splits=16):
    """A store written by the sink alone: one run directory, no sidecar."""
    out = str(tmp_path / "enc")
    df = with_split_id(synth.synth_table(spark, 300, seed=21, mean_len=300, parts=4), n_splits)
    sinks.write_encoded_parquet(encode_df(df, block_size=256, n_splits=n_splits), out, "t")
    return out, df


def test_lookup_returns_exact_docs(spark, tmp_path):
    out, src = _encoded_dir(spark, tmp_path)
    want = {r["doc_id"]: r["tokens"] for r in src.limit(50).collect()}
    ids = sorted(want)[:5]
    got = {r["doc_id"]: r["tokens"] for r in lookup.decode_docs(spark, out, ids, n_splits=16).collect()}
    assert set(got) == set(ids)
    for d in ids:
        assert got[d] == want[d]


def test_lookup_resolves_n_splits_from_sidecar(spark, tmp_path):
    from crumble_spark import sinks

    out, src = _encoded_dir(spark, tmp_path, n_splits=16)
    sinks.write_store_meta(out, 16)
    ids = [src.select("doc_id").collect()[0]["doc_id"]]
    got = lookup.decode_docs(spark, out, ids).collect()  # no n_splits passed
    assert {r["doc_id"] for r in got} == set(ids)


def test_sidecar_republish_is_atomic_overwrite(spark, tmp_path):
    # republish over an existing sidecar must go through the FileContext
    # overwrite-rename (no delete-then-rename window where a concurrent
    # reader sees no sidecar — ADVICE r3), and the new content must win
    from crumble_spark import sinks

    out = str(tmp_path / "store")
    sinks.write_store_meta(out, 16)
    assert sinks.read_store_meta(out)["n_splits"] == 16
    # the local-fs FileContext is always available → overwrite path taken
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = jvm_path(f"{out}/_probe.tmp")
    fs = jvm_path(out).getFileSystem(spark._jsc.hadoopConfiguration())
    o = fs.create(tmp, True)
    o.write(bytearray(b"x"))
    o.close()
    assert sinks._rename_overwrite(tmp, jvm_path(f"{out}/_crumble_meta.json"))
    # republish restores valid JSON over the clobbered sidecar
    sinks.write_store_meta(out, 32)
    assert sinks.read_store_meta(out)["n_splits"] == 32


def test_lookup_refuses_sidecarless_store_without_n_splits(spark, tmp_path):
    out, src = _encoded_dir(spark, tmp_path)
    with pytest.raises(ValueError, match="_crumble_meta.json"):
        lookup.decode_docs(spark, out, ["x"])


def test_lookup_prunes_partitions(spark, tmp_path):
    # split_id is a data column: both IN-filters are parquet data filters,
    # pushed down to the row-group statistics
    out, src = _encoded_dir(spark, tmp_path)
    ids = [src.select("doc_id").collect()[0]["doc_id"]]
    plan = lookup.decode_docs(spark, out, ids, n_splits=16)._jdf.queryExecution().executedPlan().toString()
    for section in ("DataFilters", "PushedFilters"):
        assert section in plan, plan
        filters = plan.split(section)[1].split("], ")[0]
        assert "split_id" in filters and "doc_id" in filters, filters


def _jobs_run(spark, group, fn):
    """(fn(), ids of the Spark jobs fn ran) — found by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def store64(spark, tmp_path_factory):
    """A 64-split store written by run_encode_job from splits 0..47 only,
    so its sidecar lists no split of 48..63; returns (dir, {doc_id: row})."""
    from crumble_spark.job import EncodeConfig, run_encode_job

    out = str(tmp_path_factory.mktemp("store64"))
    df = with_split_id(synth.synth_table(spark, 400, seed=21, mean_len=300, parts=4), 64)
    df = df.filter(F.col("split_id") < 48)
    run_encode_job(spark, df, out, cfg=EncodeConfig(block_size=256, n_splits=64), resume=False)
    return f"{out}/encoded", {r["doc_id"]: r for r in df.collect()}


def _unrouted_ids(k):
    """k ids that route to splits 48..63 of a 64-split store."""
    cands = (f"absent-{i}" for i in range(10_000))
    return [d for d in cands if lookup.split_of(d, 64) >= 48][:k]


def _check_docs(got, want):
    assert sorted(r["doc_id"] for r in got) == sorted(want)
    for r in got:
        w = want[r["doc_id"]]
        assert (list(r["tokens"]), r["n_tok"], r["source"]) == (
            list(w["tokens"]), w["n_tok"], w["source"]
        )


def test_lookup_reads_only_routed_split_dirs(spark, store64):
    out, rows = store64
    ids = sorted(rows)[:3]

    def run():
        df = lookup.decode_docs(spark, out, ids)
        return df, df.collect()

    (df, got), jobs = _jobs_run(spark, "lookup-routed", run)
    _check_docs(got, {d: rows[d] for d in ids})
    # one scan job: no listing job over the store, no footer-inference job
    assert len(jobs) == 1
    # the store is one run directory of split-sorted files, all scanned
    files = df.inputFiles()
    assert files and all("/run_id=" in f for f in files), files


def _input_bytes(spark, group):
    """Input bytes of the stages of the jobs run under `group`, from the
    status store's stage data."""
    sc = spark.sparkContext
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    return sum(
        store.lastStageAttempt(s).inputBytes()
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    )


def test_lookup_reads_only_routed_row_groups(spark, tmp_path):
    # a store whose row groups each hold one split: the scan emits only the
    # routed row groups' rows, and the lookup reads no more than their
    # bytes plus each file's footer.  The reader fetches a routed group at
    # most twice (the doc_id dictionary filter, then the data), and the
    # local filesystem serves a read shorter than its buffer by filling
    # the whole buffer.
    import glob

    import pyarrow.parquet as pq

    n_splits = 16
    df = with_split_id(synth.synth_table(spark, 300, seed=21, mean_len=3000, parts=4), n_splits)
    table = encode_df(df, block_size=256, n_splits=n_splits).toArrow()
    table = table.cast(PA_ENCODED).sort_by("split_id")
    out = str(tmp_path / "one_split_per_group")
    sinks.write_store_meta(out, n_splits)
    os.makedirs(f"{out}/run_id=t")
    for part, splits in enumerate((range(0, 8), range(8, 16))):
        with pq.ParquetWriter(f"{out}/run_id=t/part-{part}.parquet", PA_ENCODED) as w:
            for s in splits:
                w.write_table(table.filter(pc.equal(table["split_id"], s)))
    rows = {r["doc_id"]: r for r in df.collect()}
    ids = [d for d in sorted(rows) if rows[d]["split_id"] in (3, 12)][:4]
    assert {rows[d]["split_id"] for d in ids} == {3, 12}

    buf = int(spark.sparkContext._jsc.hadoopConfiguration().get("io.file.buffer.size"))
    budget = routed_rows = store = 0
    split_col = PA_ENCODED.get_field_index("split_id")
    for f in glob.glob(f"{out}/run_id=t/*.parquet"):
        md = pq.ParquetFile(f).metadata
        store += os.path.getsize(f)
        budget += md.serialized_size + 16  # footer, and its 8-byte tail read twice
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.column(split_col).statistics.min in (3, 12):
                size = sum(rg.column(c).total_compressed_size for c in range(rg.num_columns))
                budget += 2 * max(size, buf)
                routed_rows += rg.num_rows
    assert budget < store / 2  # the bound excludes most of the store

    def run():
        res = lookup.decode_docs(spark, out, ids)
        return res, res.collect()

    (res, got), jobs = _jobs_run(spark, "lookup-bytes", run)
    _check_docs(got, {d: rows[d] for d in ids})
    assert len(jobs) == 1
    (scan,) = [
        n for n in _nodes(res._jdf.queryExecution().executedPlan())
        if n.nodeName().startswith("Scan parquet")
    ]
    assert scan.metrics().apply("numOutputRows").value() == routed_rows
    read = _input_bytes(spark, "lookup-bytes")
    assert 0 < read <= budget, (read, budget)


def _nodes(plan):
    """`plan` and all its descendants (Py4J SparkPlan objects)."""
    out, children = [plan], plan.children()
    for i in range(children.size()):
        out += _nodes(children.apply(i))
    return out


def test_lookup_mixed_absent_split_dirs(spark, store64):
    out, rows = store64
    present = sorted(rows)[-4:]
    got = lookup.decode_docs(spark, out, present + _unrouted_ids(3)).collect()
    _check_docs(got, {d: rows[d] for d in present})


def test_lookup_all_absent_split_dirs_scans_nothing(spark, store64):
    from crumble_spark.schema import TOKENS_SCHEMA

    out, _ = store64

    def run():
        df = lookup.decode_docs(spark, out, _unrouted_ids(3))
        return df, df.collect()

    (df, got), jobs = _jobs_run(spark, "lookup-absent", run)
    assert got == [] and jobs == []
    assert df.schema == TOKENS_SCHEMA


def test_lookup_on_direct_flat_store(spark, tmp_path):
    # encode_job_direct writes flat enc-*.parquet files plus the sidecar;
    # the lookup resolves n_splits from it and reads the store whole
    from crumble_spark.sources import parquet_direct as direct

    tok = str(tmp_path / "tokens")
    synth.synth_table(spark, 120, seed=13, mean_len=300, parts=3).write.parquet(tok)
    direct.encode_job_direct(spark, tok, str(tmp_path / "out"), block_size=256, n_splits=16)
    rows = {r["doc_id"]: r for r in spark.read.parquet(tok).collect()}
    ids = sorted(rows)[::30]
    got = lookup.decode_docs(spark, str(tmp_path / "out" / "encoded"), ids + ["absent-0"]).collect()
    _check_docs(got, {d: rows[d] for d in ids})


def test_decode_docs_table_via_snapshot_property(spark, tmp_path):
    # Iceberg-store lookup: n_splits comes from the crumble.n_splits
    # snapshot property the encode job stamps; catalog IO injected
    # (runtime-free), decode must return exactly the requested docs
    import datetime as dt

    from crumble_spark import job, lookup, synth
    from test_sinks import DirCatalog

    cat = DirCatalog(spark, tmp_path)
    src = synth.synth_table(spark, 40, seed=21)
    src.write.parquet(cat.path("lake.tokens"))
    cfg = job.EncodeConfig(block_size=256, n_splits=8)
    job.run_encode_job(
        spark, cat.read("lake.tokens"), "lake.enc", cfg=cfg, sink="iceberg",
        table_reader=cat.read, writer_factory=cat.writer,
    )
    snaps = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), {"crumble.run_id": "r", "crumble.n_splits": "8"})],
        "committed_at timestamp, summary map<string,string>",
    )
    want = {r["doc_id"]: list(r["tokens"]) for r in src.collect()}
    ids = sorted(want)[:3]
    got = lookup.decode_docs_table(
        spark, "lake.enc", ids,
        reader=cat.read, snapshots_reader=lambda: snaps,
    ).collect()
    assert sorted(r["doc_id"] for r in got) == ids
    for r in got:
        assert list(r["tokens"]) == want[r["doc_id"]]

    # missing property → explicit error, never a silent partial lookup
    empty = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), {"other": "x"})],
        "committed_at timestamp, summary map<string,string>",
    )
    with pytest.raises(ValueError, match="crumble.n_splits"):
        lookup.decode_docs_table(
            spark, "lake.enc", ids, reader=cat.read,
            snapshots_reader=lambda: empty,
        )

    # under ANSI mode (Spark 4 default; a production Iceberg session may
    # not pin it off) the missing map key must still reach the designed
    # ValueError, not throw MAP_KEY_DOES_NOT_EXIST (ADVICE r3 →
    # try_element_at)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(ValueError, match="crumble.n_splits"):
            lookup.decode_docs_table(
                spark, "lake.enc", ids, reader=cat.read,
                snapshots_reader=lambda: empty,
            )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
