"""Point lookups into the encoded store: correct rows back, only the
routed split directories read, and the split filter kept in the plan."""

import pytest
from pyspark.sql import functions as F

from crumble_spark import lookup, synth
from crumble_spark.encode import encode_df, with_split_id


def _encoded_dir(spark, tmp_path, n_splits=16):
    out = str(tmp_path / "enc")
    df = with_split_id(synth.synth_table(spark, 300, seed=21, mean_len=300, parts=4), n_splits)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    encode_df(df, block_size=256, n_splits=n_splits).write.partitionBy(
        "split_id"
    ).mode("overwrite").parquet(out)
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
    out, src = _encoded_dir(spark, tmp_path)
    ids = [src.select("doc_id").collect()[0]["doc_id"]]
    plan = lookup.decode_docs(spark, out, ids, n_splits=16)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "split_id" in plan.split("PartitionFilters")[1][:120]
    # and the doc_id predicate reaches parquet
    assert "PushedFilters" in plan and "doc_id" in plan.split("PushedFilters")[1][:200]


def _jobs_run(spark, group, fn):
    """(fn(), number of Spark jobs fn ran) — counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def store64(spark, tmp_path_factory):
    """A 64-split partitioned store holding only splits 0..47, so ids
    routed to 48..63 have no directory; returns (dir, {doc_id: row})."""
    out = str(tmp_path_factory.mktemp("store64") / "enc")
    df = with_split_id(synth.synth_table(spark, 400, seed=21, mean_len=300, parts=4), 64)
    df = df.filter(F.col("split_id") < 48)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    encode_df(df, block_size=256, n_splits=64).write.partitionBy(
        "split_id"
    ).mode("overwrite").parquet(out)
    return out, {r["doc_id"]: r for r in df.collect()}


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
    splits = {lookup.split_of(d, 64) for d in ids}

    def run():
        df = lookup.decode_docs(spark, out, ids, n_splits=64)
        return df, df.collect()

    (df, got), jobs = _jobs_run(spark, "lookup-routed", run)
    _check_docs(got, {d: rows[d] for d in ids})
    # one scan job: no listing job over the store, no footer-inference job
    assert jobs == 1
    files = df.inputFiles()
    assert files
    for f in files:
        assert any(f"/split_id={s}/" in f for s in splits), f


def test_lookup_mixed_absent_split_dirs(spark, store64):
    out, rows = store64
    present = sorted(rows)[-4:]
    got = lookup.decode_docs(spark, out, present + _unrouted_ids(3), n_splits=64).collect()
    _check_docs(got, {d: rows[d] for d in present})


def test_lookup_all_absent_split_dirs_scans_nothing(spark, store64):
    from crumble_spark.schema import TOKENS_SCHEMA

    out, _ = store64

    def run():
        df = lookup.decode_docs(spark, out, _unrouted_ids(3), n_splits=64)
        return df, df.collect()

    (df, got), jobs = _jobs_run(spark, "lookup-absent", run)
    assert got == [] and jobs == 0
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
