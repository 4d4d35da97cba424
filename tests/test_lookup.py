"""Point lookups into the encoded store: correct rows back with no Spark
job, only the routed splits' row groups read, and, for a store off the
driver's local filesystem, one Spark scan with both IN-filters pushed to
parquet."""

import io
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from crumble_spark import lookup, sinks, synth
from crumble_spark.encode import encode_df, with_split_id
from crumble_spark.schema import PA_ENCODED, TOKENS_SCHEMA


def _encoded_dir(spark, tmp_path, n_splits=16):
    """A store written by the sink alone: one run directory, no sidecar."""
    out = str(tmp_path / "enc")
    df = with_split_id(synth.synth_table(spark, 300, seed=21, mean_len=300, parts=4), n_splits)
    sinks.write_encoded_parquet(df, out, "t", block_size=256, n_splits=n_splits)
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


def _sidecar_stores(spark, tmp_path, name):
    """(local dir, the same dir through a viewfs:// mount) of a store
    holding only a sidecar, written through Hadoop as every writer does."""
    from conftest import viewfs_store

    local = str(tmp_path / "enc")
    sinks.write_store_meta(local, 64, splits=range(48))
    return local, f"{viewfs_store(spark, name, str(tmp_path))}/enc"


def test_sidecar_local_read_matches_hadoop_read(spark, tmp_path):
    # the driver's plain read of a local sidecar returns what Hadoop's
    # read of the same file returns; a store without the `.crc` file
    # Hadoop writes beside it reads unchecked, as in Hadoop
    local, view = _sidecar_stores(spark, tmp_path, "crumblemeta")
    assert sinks.local_root(view) is None
    meta = sinks.read_store_meta(local)
    assert meta == sinks.read_store_meta(view)
    assert meta == {"n_splits": 64, "split_fn": "crc32(doc_id) % n_splits", "splits": list(range(48))}
    os.remove(f"{local}/._crumble_meta.json.crc")
    assert sinks.read_store_meta(local) == meta == sinks.read_store_meta(view)


def test_corrupt_sidecar_raises_on_both_readers(spark, tmp_path):
    # one digit changed, the JSON still valid: the `.crc` file catches it
    # on the local read as Hadoop's checksummed read does
    from py4j.protocol import Py4JJavaError

    local, view = _sidecar_stores(spark, tmp_path, "crumblecorrupt")
    path = f"{local}/_crumble_meta.json"
    with open(path) as f:
        text = f.read()
    with open(path, "w") as f:
        f.write(text.replace('"n_splits": 64', '"n_splits": 65'))
    with pytest.raises(OSError, match="_crumble_meta.json"):
        sinks.read_store_meta(local)
    with pytest.raises(OSError, match="_crumble_meta.json"):
        lookup.decode_docs(spark, local, ["x"])
    with pytest.raises(Py4JJavaError, match="ChecksumException"):
        sinks.read_store_meta(view)


def test_lookup_refuses_sidecarless_store_without_n_splits(spark, tmp_path):
    out, src = _encoded_dir(spark, tmp_path)
    with pytest.raises(ValueError, match="_crumble_meta.json"):
        lookup.decode_docs(spark, out, ["x"])


def _spark_scan(monkeypatch):
    """Make every store look off the driver's local filesystem, so each
    lookup is the Spark scan."""
    monkeypatch.setattr(sinks, "local_root", lambda path: None)


def test_lookup_prunes_partitions(spark, tmp_path, monkeypatch):
    # the Spark scan: split_id is a data column, so both IN-filters are
    # parquet data filters, pushed down to the row-group statistics
    _spark_scan(monkeypatch)
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
    # the driver reads the routed row groups; the result is a local
    # relation: no job to plan, list or scan, none to collect
    assert jobs == []
    assert df.schema == TOKENS_SCHEMA


def test_lookup_round_trips_to_the_jvm(spark, store64, monkeypatch):
    # a warm lookup of a local store crosses Py4J for the store's locality
    # (one Hadoop FileSystem), then for createDataFrame and collect of the
    # local relation; the sidecar is read without the JVM.  Counted on
    # the calling thread: py4j's finalizer thread sends the deletes of
    # freed proxies later, in bursts
    import threading

    from py4j.clientserver import ClientServerConnection

    out, rows = store64
    ids = sorted(rows)[:3]
    lookup.decode_docs(spark, out, ids).collect()
    real, me, calls = ClientServerConnection.send_command, threading.get_ident(), []

    def spy(self, command):
        if threading.get_ident() == me:
            calls.append(command)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", spy)
    lookup.decode_docs(spark, out, ids).collect()
    monkeypatch.undo()
    assert len(calls) <= 45, len(calls)


def test_local_root_is_the_local_store_path(spark, tmp_path):
    # a path without a scheme means what it means to Spark: a path on the
    # session's default (local) filesystem, relative to the JVM's cwd
    jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    assert sinks.local_root("store/encoded") == f"{jvm_cwd}/store/encoded"
    assert sinks.local_root(f"file://{tmp_path}/enc") == f"{tmp_path}/enc"


def test_lookup_off_local_fs_is_one_scan(spark, store64):
    # a store on another Hadoop filesystem (here a viewfs:// mount of the
    # local store) is read by Spark, with the session's Hadoop conf: one
    # scan job, no listing job, no footer-inference job
    out, rows = store64
    spark.sparkContext._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.crumblelookup.link./store", f"file://{os.path.dirname(out)}"
    )
    view = "viewfs://crumblelookup/store/encoded"
    assert sinks.local_root(view) is None
    ids = sorted(rows)[:3]

    def run():
        df = lookup.decode_docs(spark, view, ids)
        return df, df.collect()

    (df, got), jobs = _jobs_run(spark, "lookup-viewfs", run)
    _check_docs(got, {d: rows[d] for d in ids})
    assert len(jobs) == 1
    # the store is one run directory of split-sorted files, all scanned
    files = df.inputFiles()
    assert files and all(f.startswith("viewfs://") and "/run_id=" in f for f in files), files


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


@pytest.fixture(scope="module")
def one_split_per_group(spark, tmp_path_factory):
    """A 16-split store of two files whose row groups each hold one split
    (0..7, then 8..15); returns (dir, {doc_id: row}, 4 ids of splits 3 and
    12, [(path, row group, rows)] of the routed row groups)."""
    n_splits = 16
    df = with_split_id(synth.synth_table(spark, 300, seed=21, mean_len=3000, parts=4), n_splits)
    table = encode_df(df, block_size=256, n_splits=n_splits).toArrow()
    table = table.cast(PA_ENCODED).sort_by("split_id")
    out = str(tmp_path_factory.mktemp("one_split_per_group"))
    sinks.write_store_meta(out, n_splits)
    os.makedirs(f"{out}/run_id=t")
    routed, split_col = [], PA_ENCODED.get_field_index("split_id")
    for part, splits in enumerate((range(0, 8), range(8, 16))):
        path = f"{out}/run_id=t/part-{part}.parquet"
        with pq.ParquetWriter(path, PA_ENCODED) as w:
            for s in splits:
                w.write_table(table.filter(pc.equal(table["split_id"], s)))
        md = pq.ParquetFile(path).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.column(split_col).statistics.min in (3, 12):
                routed.append((path, i, rg.num_rows))
    rows = {r["doc_id"]: r for r in df.collect()}
    ids = [d for d in sorted(rows) if rows[d]["split_id"] in (3, 12)][:4]
    assert {rows[d]["split_id"] for d in ids} == {3, 12}
    return out, rows, ids, routed


class _LoggedFile(io.FileIO):
    def __init__(self, path, log):
        super().__init__(path, "rb")
        self.log = log

    def read(self, n=-1):
        pos, data = self.tell(), super().read(n)
        self.log.append((self.name, pos, len(data)))
        return data


class _ReadLog(pafs.FileSystemHandler):
    """The local filesystem, logging (path, offset, length) of every read
    from a file opened for random access, as parquet readers open them."""

    def __init__(self):
        self.fs, self.reads = pafs.LocalFileSystem(), []

    def open_input_file(self, path):
        return pa.PythonFile(_LoggedFile(path, self.reads), mode="r")

    def get_file_info(self, paths):
        return self.fs.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self.fs.get_file_info(selector)

    def get_type_name(self):
        return "readlog"

    def normalize_path(self, path):
        return path

    def _read_only(self, *args):
        raise NotImplementedError

    copy_file = create_dir = delete_dir = delete_dir_contents = _read_only
    delete_file = delete_root_dir_contents = move = _read_only
    open_append_stream = open_input_stream = open_output_stream = _read_only


def test_lookup_reads_only_routed_row_groups(spark, one_split_per_group, monkeypatch):
    # the driver reads each file's footer and the bytes of exactly the row
    # groups whose split_id range holds a routed split, one per file here
    out, rows, ids, routed = one_split_per_group
    handler = _ReadLog()
    monkeypatch.setattr(lookup, "_LOCAL", pafs.PyFileSystem(handler))

    def run():
        res = lookup.decode_docs(spark, out, ids)
        return res, res.collect()

    (res, got), jobs = _jobs_run(spark, "lookup-row-groups", run)
    _check_docs(got, {d: rows[d] for d in ids})
    assert jobs == []
    opened = []
    for path, off, n in handler.reads:
        if off + n == os.path.getsize(path):
            continue  # the footer, read from the file's tail
        # every other read lies inside one row group's bytes
        (i,) = [i for i, (a, b) in enumerate(_row_group_spans(path)) if a <= off and off + n <= b]
        opened.append((path, i))
    assert sorted(opened) == sorted((path, i) for path, i, _ in routed)


def _row_group_spans(path):
    """[start, end) bytes of each row group of a parquet file: from its
    first column chunk to the next row group's, or to the footer."""
    md = pq.ParquetFile(path).metadata
    starts = [
        min(c.dictionary_page_offset or c.data_page_offset for c in map(rg.column, range(rg.num_columns)))
        for rg in map(md.row_group, range(md.num_row_groups))
    ]
    return list(zip(starts, starts[1:] + [os.path.getsize(path) - 8 - md.serialized_size]))


def test_lookup_spark_scan_reads_only_routed_row_groups(spark, one_split_per_group, monkeypatch):
    # the Spark scan of the same store: it emits only the routed
    # row groups' rows, and the lookup reads no more than their bytes plus
    # each file's footer.  The reader fetches a routed group at most twice
    # (the doc_id dictionary filter, then the data), and the local
    # filesystem serves a read shorter than its buffer by filling the
    # whole buffer.
    import glob

    _spark_scan(monkeypatch)
    out, rows, ids, routed = one_split_per_group
    buf = int(spark.sparkContext._jsc.hadoopConfiguration().get("io.file.buffer.size"))
    budget = store = 0
    for f in glob.glob(f"{out}/run_id=t/*.parquet"):
        md = pq.ParquetFile(f).metadata
        store += os.path.getsize(f)
        budget += md.serialized_size + 16  # footer, and its 8-byte tail read twice
        for path, i, _ in routed:
            if path == f:
                rg = md.row_group(i)
                size = sum(rg.column(c).total_compressed_size for c in range(rg.num_columns))
                budget += 2 * max(size, buf)
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
    assert scan.metrics().apply("numOutputRows").value() == sum(n for _, _, n in routed)
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


def _write_encoded(path, docs, n_splits=16):
    """Encode {doc_id: tokens} into one file of the store layout, written
    as every pyarrow writer of the store writes it."""
    from crumble_spark.encode import encode_record_batch

    batch = pa.record_batch(
        [pa.array(list(docs)), pa.array(list(docs.values()), pa.list_(pa.int32())),
         pa.array(["web"] * len(docs))],
        names=["doc_id", "tokens", "source"],
    )
    enc, _ = encode_record_batch(batch, block_size=128, n_splits=n_splits)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    sinks.write_encoded_file(path, [enc])
    return enc


def test_lookup_tampered_row_hash_raises_on_driver(spark, tmp_path):
    docs = {f"doc-{i}": list(range(i, i + 300)) for i in range(6)}
    path = str(tmp_path / "store" / "run_id=t" / "part-0.parquet")
    enc = _write_encoded(path, docs)
    rh = enc.column("row_hash").to_pylist()
    rh[4] += 1
    bad = enc.set_column(enc.schema.get_field_index("row_hash"), "row_hash", pa.array(rh, pa.int64()))
    sinks.write_encoded_file(path, [bad])
    out = str(tmp_path / "store")
    sinks.write_store_meta(out, 16)
    (good,) = lookup.decode_docs(spark, out, ["doc-1"]).collect()
    assert list(good["tokens"]) == docs["doc-1"]
    with pytest.raises(ValueError, match="doc_id='doc-4'") as e:
        lookup.decode_docs(spark, out, ["doc-1", "doc-4"])
    assert e.type is ValueError  # raised in the driver, not wrapped by a Spark task
    # verify=False skips the check, as decode_df does
    (row,) = lookup.decode_docs(spark, out, ["doc-4"], verify=False).collect()
    assert list(row["tokens"]) == docs["doc-4"]


def test_lookup_skips_hidden_files_as_spark_does(spark, tmp_path, monkeypatch):
    # a task attempt's `_temporary/` output and a `.`-named temp file are
    # not the store's, and an empty file holds nothing: Spark's scan never
    # reads them, nor does the driver
    out, src = _encoded_dir(spark, tmp_path)
    open(f"{out}/run_id=t/part-99999.parquet", "wb").close()
    stray = {"stray-0": list(range(200)), "stray-1": list(range(50, 350))}
    _write_encoded(f"{out}/run_id=t/_temporary/0/part-00000.parquet", {"stray-0": stray["stray-0"]})
    _write_encoded(f"{out}/run_id=t/.part-00009.parquet.tmp", {"stray-1": stray["stray-1"]})
    real = sorted(r["doc_id"] for r in src.select("doc_id").limit(3).collect())
    ids = real + list(stray)

    def run():
        return lookup.decode_docs(spark, out, ids, n_splits=16).collect()

    got, jobs = _jobs_run(spark, "lookup-hidden", run)
    assert jobs == []
    assert sorted(r["doc_id"] for r in got) == real
    _spark_scan(monkeypatch)
    assert sorted(run()) == sorted(got)


def test_lookup_repeated_id_returns_doc_once(spark, store64):
    out, rows = store64
    d, e = sorted(rows)[5:7]
    got, jobs = _jobs_run(spark, "lookup-repeat", lambda: lookup.decode_docs(spark, out, [d, d, e, d]).collect())
    assert jobs == []
    _check_docs(got, {d: rows[d], e: rows[e]})


def test_lookup_split_filter_matches_spark_on_a_wrong_n_splits(spark, tmp_path, monkeypatch):
    # a hand-passed n_splits of 8 on a 16-split store routes a doc of split
    # s + 8 to split s, where it is not stored: both reads apply the same
    # split_id and doc_id filters, so both miss exactly those docs
    out, src = _encoded_dir(spark, tmp_path, n_splits=16)
    rows = {r["doc_id"]: r["split_id"] for r in src.select("doc_id", "split_id").collect()}
    ids = sorted(rows)[:12]
    assert {rows[d] < 8 for d in ids} == {True, False}

    def run():
        return sorted(tuple(r) for r in lookup.decode_docs(spark, out, ids, n_splits=8).collect())

    got = run()
    assert [r[0] for r in got] == [d for d in ids if rows[d] < 8]
    _spark_scan(monkeypatch)
    assert run() == got


def test_lookup_on_a_many_file_store(spark, tmp_path):
    # a store of many small files (as a long-running stream leaves): the
    # driver reads every file's footer and returns the docs of all of them
    docs = {f"doc-{i}": list(range(i, i + 40)) for i in range(600)}
    out, names = str(tmp_path / "store"), sorted(docs)
    for k in range(300):
        _write_encoded(f"{out}/run_id=stream-{k}/part-0.parquet", {d: docs[d] for d in names[2 * k: 2 * k + 2]})
    sinks.write_store_meta(out, 16)
    ids = names[::37] + ["absent-0"]
    got, jobs = _jobs_run(spark, "lookup-many-files", lambda: lookup.decode_docs(spark, out, ids).collect())
    assert jobs == []
    assert {r["doc_id"]: list(r["tokens"]) for r in got} == {d: docs[d] for d in ids[:-1]}


def test_lookup_absent_ids_of_present_splits_is_empty(spark, store64):
    # the routed row groups hold none of the ids: the driver reads them and
    # returns an empty TOKENS_SCHEMA frame (a table of no batches has no
    # chunks, which createDataFrame refuses)
    out, rows = store64
    ids = [d for d in (f"absent-{i}" for i in range(10_000)) if lookup.split_of(d, 64) < 48][:3]

    def run():
        df = lookup.decode_docs(spark, out, ids)
        return df, df.collect()

    (df, got), jobs = _jobs_run(spark, "lookup-present-absent", run)
    assert got == [] and jobs == []
    assert df.schema == TOKENS_SCHEMA


@pytest.mark.parametrize("kind", ["job", "stream", "direct"])
def test_lookup_on_every_store_kind_runs_no_job(spark, tmp_path, monkeypatch, store64, kind):
    # a job store (run dirs + lineage), a stream-only store and a direct
    # flat store: the driver path runs no job and returns the rows the
    # Spark scan returns, bit for bit
    from crumble_spark.sources import parquet_direct as direct
    from crumble_spark.streaming.ingest import encode_stream

    if kind == "job":
        enc_dir, rows = store64
    else:
        tok, out = str(tmp_path / "tokens"), str(tmp_path / "out")
        synth.synth_table(spark, 60, seed=13, mean_len=300, parts=2).write.parquet(tok)
        if kind == "stream":
            encode_stream(spark, tok, out, block_size=128, n_splits=16)
        else:
            direct.encode_job_direct(spark, tok, out, block_size=256, n_splits=16)
        enc_dir, rows = f"{out}/encoded", {r["doc_id"]: r for r in spark.read.parquet(tok).collect()}
    ids = sorted(rows)[::7] + ["absent-0"]

    def run():
        return [tuple(r) for r in lookup.decode_docs(spark, enc_dir, ids).collect()]

    got, jobs = _jobs_run(spark, f"lookup-kind-{kind}", run)
    assert jobs == []
    _check_docs([dict(zip(TOKENS_SCHEMA.names, r)) for r in got], {d: rows[d] for d in ids[:-1]})
    _spark_scan(monkeypatch)
    assert sorted(run()) == sorted(got)


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
