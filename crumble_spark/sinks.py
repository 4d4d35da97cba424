"""Encoded-table sinks: parquet (this sandbox) and Iceberg (cluster).

* parquet: one store layout for every writer.  Each task writes one file
  (a local run's task one more each time its output reaches PART_BYTES),
  its rows sorted by split_id, in row groups of at most ROW_GROUP_BYTES,
  so a lookup's split_id IN-filter prunes whole row groups by their
  min/max statistics.  Each run of job.write_run (the DataFrame job, or
  a streaming micro-batch) writes one run directory, `run_id=<run>/`,
  replacing it whole: a retried run or replayed batch replaces its own
  output and nothing else.  write_encoded_parquet encodes and writes a
  run in one job.  On a store on the driver's local filesystem
  (local_root) each Python task encodes its rows and writes its own file
  with pyarrow into a hidden staging directory, which the driver renames
  to the run directory when the job succeeds; a bare parquet scan is
  read by the tasks themselves, (file, row group) slices as on the
  direct path.  Any other store (hdfs://, s3a://, viewfs://) keeps
  Spark's writer: the Arrow batches go back to the JVM and parquet-mr
  writes them through Spark's committer.  The direct path writes the
  same sorted files flat, one per input split.
* iceberg: `overwritePartitions()` on a split_id-partitioned table, with
  run provenance stamped into the snapshot summary via the public
  `snapshot-property.*` write option — the analogue of crumble writing a
  @PG line with its full command into the output header
  (snp_score.c:2588-2609): every output carries how it was produced.

The Iceberg Spark runtime is not on this sandbox's classpath, so the
iceberg path raises a clear error here; its plumbing is injection-tested
(test_sinks.py) and the spark-submit line is in the README.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid
import zlib
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import PA_ENCODED, TOKENS_SCHEMA

# parquet row-group target of every writer: small enough that a lookup
# reads little past its routed splits, large enough that parquet-mr's
# memory check stays quiet on a giant row
ROW_GROUP_BYTES = 256 * 1024
# the only columns whose min/max statistics a reader uses (a lookup
# prunes row groups by split_id and doc_id); the pyarrow writers write
# no others, as a payload's min/max would be stored in full
STATS_COLUMNS = ["split_id", "doc_id"]
# a local run's task closes a part file each time the encoded rows it
# holds reach this many (Arrow) bytes, so its memory stays within about
# twice this (the rows and their sorted copy) plus one input batch,
# however large its input slice; Spark's writer streams row groups out
PART_BYTES = 64 * 1024 * 1024
# a local run's hidden staging directory: {enc_dir}/.staging-<run>
STAGING_PREFIX = ".staging-"
# the input columns encode.encode_record_batch reads
ENCODE_COLUMNS = ("doc_id", "tokens", "source", "split_id", "force_raw")
# the store's sidecar (write_store_meta), beside its data
META_NAME = "_crumble_meta.json"


def spark_visible(rel: str) -> bool:
    """Spark's rule for the files a directory read sees, on a path below
    the read's root: no component starting with `.`, nor with `_` unless
    it is a `_k=v` partition dir; no `._COPYING_` upload in progress."""
    return not rel.endswith("._COPYING_") and not any(
        c.startswith(".") or (c.startswith("_") and "=" not in c) for c in rel.split(os.sep)
    )


def local_root(path: str) -> str | None:
    """`path` on the driver's local filesystem, as Spark resolves it (a
    path without a scheme is on the session's default filesystem), or
    None when it lives on another filesystem.  Only a local store is
    read (lookup.decode_docs) and written (write_encoded_parquet)
    without Spark's parquet IO: only Spark sees the session's Hadoop
    configuration and credentials."""
    fs, path_cls = _hadoop_fs(path)
    uri = fs.makeQualified(path_cls(path)).toUri()
    return uri.getPath() if uri.getScheme() == "file" else None


def write_encoded_parquet(
    df: DataFrame, enc_dir: str, run_id: str, block_size: int, n_splits: int,
    skip: frozenset[int] = frozenset(),
) -> dict:
    """Encode the tokens table `df` into {enc_dir}/run_id=<run_id>/ in
    one job, replacing that directory, and return the run's counters,
    {split: lineage.split_counters vector}.  Rows of the splits in `skip`
    are left out; a run without rows leaves no run directory.  One file
    per task (on a local store, one per PART_BYTES of a task's output),
    rows sorted by split_id, row groups closed on the first row that
    takes them to ROW_GROUP_BYTES.  Sets no session conf.

    A local store is written by _write_local_run.  Any other goes through
    Spark's writer: encode.encode_counted sums the counters in an
    accumulator and parquet-mr, checking the row group's size after every
    row (its default waits 100 rows, then estimates), writes the sorted
    rows."""
    root = local_root(enc_dir)
    if root is not None:
        return _write_local_run(df, root, run_id, block_size, n_splits, skip)
    from .encode import encode_counted

    enc, acc = encode_counted(df, block_size, n_splits, skip)
    run_dir = f"{enc_dir}/run_id={run_id}"
    (
        enc.sortWithinPartitions("split_id")
        .write.option("parquet.block.size", ROW_GROUP_BYTES)
        .option("parquet.page.size.row.check.min", 1)
        .option("parquet.page.size.row.check.max", 1)
        .mode("overwrite")
        .parquet(run_dir)
    )
    if not acc.value:
        delete_path(run_dir)
    return acc.value


def _write_local_run(
    df: DataFrame, root: str, run_id: str, block_size: int, n_splits: int, skip: frozenset[int]
) -> dict:
    """write_encoded_parquet on the local store at `root`: one mapInArrow
    job whose tasks each write part-<partition>-<k>.parquet files into
    the run's staging directory and return only their counters; the
    driver sums them, then renames the staging directory to
    run_id=<run_id>, so the run is published whole or not at all.  A
    bare parquet scan's tasks read their own (file, row group) slices
    with pyarrow; any other `df` feeds its Arrow batches to the same task
    function.  A failed job leaves no staging directory behind."""
    from . import lineage
    from .sources import parquet_direct as direct

    columns = [c for c in df.columns if c in ENCODE_COLUMNS]
    files = _scanned_files(df)
    if files is None:
        tasks, read = df.select(*columns), None
    else:
        spark = df.sparkSession
        tasks = direct._task_frame(spark, direct._splits_of(spark, files))
        read = columns
    stage = os.path.join(root, f"{STAGING_PREFIX}{run_id}")
    final = os.path.join(root, f"run_id={run_id}")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    try:
        task = _encode_task(stage, read, block_size, n_splits, skip, PART_BYTES)
        counters = lineage.sum_counters(tasks.mapInArrow(task, lineage.COUNTERS_SCHEMA).toArrow())
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    shutil.rmtree(final, ignore_errors=True)
    if counters:
        os.rename(stage, final)
    else:
        shutil.rmtree(stage)
    return counters


def _scanned_files(df: DataFrame) -> list[str] | None:
    """The non-empty local files of `df` when it is a bare parquet scan
    (`spark.read[.schema(s)].parquet(paths)`: its analyzed plan is a
    LogicalRelation over parquet without partition columns), else None.
    Spark's scan skips empty files, which inputFiles() lists."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if not (
        rel.getClass().getSimpleName() == "HadoopFsRelation"
        and rel.fileFormat().shortName() == "parquet"
        and rel.partitionSchema().length() == 0
    ):
        return None
    uris = [urlparse(u) for u in df.inputFiles()]
    if any(u.scheme != "file" for u in uris):
        return None
    return [p for p in (unquote(u.path) for u in uris) if os.path.getsize(p)]


def _encode_task(stage: str, columns: list[str] | None, block_size: int, n_splits: int,
                 skip: frozenset[int], part_bytes: int):
    """The mapInArrow function of a local run.  Its input batches are the
    token rows or, with `columns`, (path, rg) rows naming the input
    slices it reads.  It encodes its rows into split-sorted
    part-<partition>-<k>.parquet files in `stage`, closing one each time
    the rows it holds reach `part_bytes`, and yields their counters."""
    from . import lineage
    from .encode import encode_record_batch, split_ids
    from .sources import parquet_direct as direct

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        direct._pin_arrow_single_thread()
        if columns is not None:
            batches = (
                b
                for t in batches
                for p, g in zip(t.column("path").to_pylist(), t.column("rg").to_pylist())
                for b in direct._read_split(p, g, columns)
            )
        part = f"part-{TaskContext.get().partitionId():05d}"
        out, held, k, total = [], 0, 0, {}
        for batch in batches:
            if skip:
                split = split_ids(batch, n_splits)
                keep = ~np.isin(split.to_numpy(), list(skip))
                if "split_id" not in batch.schema.names:
                    batch = batch.append_column("split_id", split)
                batch = batch.filter(pa.array(keep))
            if batch.num_rows:
                enc, counters = encode_record_batch(batch, block_size, n_splits)
                out.append(enc)
                held += enc.nbytes
                lineage.add_counters(total, counters)
            if out and held >= part_bytes:
                write_encoded_file(os.path.join(stage, f"{part}-{k:03d}.parquet"), out)
                out, held, k = [], 0, k + 1
        if out:
            write_encoded_file(os.path.join(stage, f"{part}-{k:03d}.parquet"), out)
        yield lineage.counters_batch(total)

    return run


def write_encoded_file(path: str, batches: list[pa.RecordBatch]) -> None:
    """Publish PA_ENCODED `batches` as one file of the store layout: rows
    sorted by split_id, row groups cut by _row_group_ends, min/max
    statistics on STATS_COLUMNS only."""
    table = pa.Table.from_batches(batches, schema=PA_ENCODED).sort_by("split_id")
    ends = _row_group_ends(table.column("bytes_out").to_numpy())
    groups = [table.slice(a, b - a) for a, b in zip(ends, ends[1:])] or [table]
    publish_file(path, PA_ENCODED, groups, write_statistics=STATS_COLUMNS)


def _row_group_ends(sizes: np.ndarray) -> list[int]:
    """[0, end offsets...] of consecutive row groups over rows of `sizes`
    bytes: a group closes on the first row that takes it to
    ROW_GROUP_BYTES, as parquet-mr's does in Spark's writer."""
    cum, ends = np.cumsum(sizes), [0]
    while ends[-1] < len(cum):
        base = cum[ends[-1] - 1] if ends[-1] else 0
        ends.append(min(len(cum), int(np.searchsorted(cum, base + ROW_GROUP_BYTES)) + 1))
    return ends


def publish_file(path: str, schema: pa.Schema, groups: list[pa.Table], **writer_opts) -> None:
    """Write `groups`, one row group each, to a hidden temp name, then
    rename it into place: a reader never sees a partial file (Spark and
    pyarrow skip names with a leading '.'), and a retried task replaces
    its own output.  The temp name is this attempt's (temp_name), so two
    attempts of one task never write the same temp file."""
    tmp = temp_name(path)
    with pq.ParquetWriter(tmp, schema, **writer_opts) as w:
        for g in groups:
            w.write_table(g)
    os.replace(tmp, path)


def temp_name(path: str) -> str:
    """A hidden temp name beside `path` of this task attempt: its task
    attempt id (unique in the application; `driver` outside a task) and
    a random tag (unique across applications), so speculative attempts,
    or a retry racing a zombie on a shared mount, never share it."""
    tc = TaskContext.get()
    attempt = tc.taskAttemptId() if tc is not None else "driver"
    return os.path.join(
        os.path.dirname(path), f".{os.path.basename(path)}.{attempt}-{uuid.uuid4().hex[:8]}.tmp"
    )


def store_runs(enc_dir: str) -> set[str]:
    """Run ids of enc_dir's `run_id=` directories and of its staging
    directories, which a local run that died leaves behind (none when
    enc_dir is absent).  Raises on any other entry but hidden (`_`/`.`)
    ones: a file or directory of another layout beside the run
    directories makes every read of the store fail on conflicting
    partition columns."""
    fs, path_cls = _hadoop_fs(enc_dir)
    if not fs.exists(path_cls(enc_dir)):
        return set()
    out = set()
    for st in fs.listStatus(path_cls(enc_dir)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("run_id="):
            out.add(name[len("run_id="):])
        elif st.isDirectory() and name.startswith(STAGING_PREFIX):
            out.add(name[len(STAGING_PREFIX):])
        elif not name.startswith(("_", ".")):
            raise ValueError(
                f"{enc_dir} holds {name!r}, which is not a run_id= directory "
                "of this store layout; use a fresh out_dir, or resume=False "
                "to replace the store"
            )
    return out


def delete_path(path: str, root: str | None = None) -> None:
    """Recursive delete of a directory; a missing path is a no-op.  `root`
    is local_root(path), resolved here when not given: a local directory
    is removed with shutil.rmtree, any other through the store's Hadoop
    filesystem."""
    if root is None:
        root = local_root(path)
    if root is not None:
        try:
            shutil.rmtree(root)
        except FileNotFoundError:
            pass
        return
    fs, path_cls = _hadoop_fs(path)
    fs.delete(path_cls(path), True)


def _spark_context():
    """The active SparkContext, held in Python: asking the JVM for the
    active session (SparkSession.active()) costs round trips."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("no active SparkContext: start a session first")
    return sc


def _hadoop_fs(path: str):
    """(fs, Path-class) for `path` via the active context's Hadoop conf,
    so the store's listings, deletes and sidecar work on hdfs:// and
    s3a:// alike."""
    sc = _spark_context()
    path_cls = _jclass(sc._jvm, "org.apache.hadoop.fs.Path")
    return path_cls(path).getFileSystem(sc._jsc.hadoopConfiguration()), path_cls


@functools.cache
def _jclass(jvm, name: str):
    """The Py4J handle of JVM class `name` (dotted, an inner class too),
    resolved once per gateway (`jvm`, its JVM view): each step of a
    `spark._jvm.org.apache...` walk is a round trip.  A new session in
    the same process keeps the gateway, so a handle stays valid."""
    return functools.reduce(getattr, name.split("."), jvm)


def _rename_overwrite(tmp, final) -> bool:
    """Atomic overwrite-rename via Hadoop's FileContext API (HDFS, local).
    False ONLY when the scheme has no FileContext (e.g. s3a), so the
    caller falls back to a non-atomic delete-then-rename; any other rename
    failure propagates rather than degrade to that window (ADVICE r4)."""
    sc = _spark_context()
    try:
        jvm = sc._jvm
        conf = sc._jsc.hadoopConfiguration()
        uri = final.toUri()
        fc_cls = _jclass(jvm, "org.apache.hadoop.fs.FileContext")
        fc = fc_cls.getFileContext(uri, conf) if uri.getScheme() else fc_cls.getFileContext(conf)
        rename = _jclass(jvm, "org.apache.hadoop.fs.Options.Rename")
        opts = sc._gateway.new_array(rename, 1)
        opts[0] = rename.OVERWRITE
        fc.rename(tmp, final, opts)
        return True
    except Exception as e:
        # classify on the Java exception class when Py4J exposes it
        # (ADVICE r5); the substring covers plain-Python raises in tests
        je = getattr(e, "java_exception", None)
        name = je.getClass().getName() if je is not None else ""
        if name.endswith("UnsupportedFileSystemException") or (
            je is None and "UnsupportedFileSystemException" in str(e)
        ):
            return False
        raise


def write_store_meta(
    enc_dir: str, n_splits: int, splits=None, root: str | None = None
) -> None:
    """Sidecar recording the split routing parameter and, when given, the
    sorted ids of the splits the store holds.  Point lookups
    (lookup.decode_docs) need the SAME n_splits the encoder used — a
    mismatch silently routes to the wrong split and returns partial
    results, so the store carries its own routing metadata (underscore
    prefix: ignored by Spark's file listing).  A lookup whose routed
    splits are all outside `splits` runs no job; the writer publishes
    the sidecar after its data and before its lineage, so `splits` is
    always a superset of the committed splits.  `root` is
    local_root(enc_dir), resolved here when not given.  A local sidecar
    is written with plain Python, with the `.crc` checksum file Hadoop's
    LocalFileSystem writes beside it (_crc_file), so Hadoop's checksummed
    read accepts it; both are published by rename, the file first, as
    Hadoop's ChecksumFileSystem renames them.  On any other scheme it is
    written through the Hadoop FileSystem API, so it lands next to the
    data."""
    meta = {"n_splits": n_splits, "split_fn": "crc32(doc_id) % n_splits"}
    if splits is not None:
        meta["splits"] = sorted(splits)
    data = json.dumps(meta).encode("utf-8")
    if root is None:
        root = local_root(enc_dir)
    if root is not None:
        os.makedirs(root, exist_ok=True)
        final = os.path.join(root, META_NAME)
        tmp, tmp_crc = temp_name(final), temp_name(_crc_path(final))
        with open(tmp, "wb") as f:
            f.write(data)
        with open(tmp_crc, "wb") as f:
            f.write(_crc_file(data))
        os.replace(tmp, final)
        os.replace(tmp_crc, _crc_path(final))
        return
    fs, path_cls = _hadoop_fs(enc_dir)
    fs.mkdirs(path_cls(enc_dir))
    tmp = path_cls(f"{enc_dir}/{META_NAME}.tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(data))
    out.close()
    final = path_cls(f"{enc_dir}/{META_NAME}")
    # an atomic republish: no window where a reader sees no sidecar
    # (ADVICE r3); s3a has no atomic rename, so there the window stays
    if not _rename_overwrite(tmp, final):
        # Hadoop reports most rename failures via a false return, and the
        # old sidecar is gone by now: surface it
        fs.delete(final, False)
        if not fs.rename(tmp, final):
            raise OSError(
                f"rename({tmp}, {final}) returned false — the store sidecar "
                "was NOT published; lookups would need a hand-passed n_splits"
            )


def check_store_n_splits(enc_dir: str, n_splits: int, root: str | None = None) -> None:
    """Raise when the store at enc_dir was written with another n_splits:
    a doc routed by this one lands in another split than its stored copy,
    so it would be stored twice and lookups would route to the wrong
    split.  `root` is as read_store_meta's."""
    meta = read_store_meta(enc_dir, root)
    if meta is not None and int(meta["n_splits"]) != n_splits:
        raise ValueError(
            f"{enc_dir} was written with n_splits={meta['n_splits']}, this run has "
            f"n_splits={n_splits}; use the store's value, or resume=False to "
            "replace the store"
        )


def read_store_meta(enc_dir: str, root: str | None = None) -> dict | None:
    """The sidecar of the store at enc_dir (write_store_meta), or None
    when it has none.  `root` is local_root(enc_dir), resolved here when
    not given.  A local sidecar is read with plain Python and checked
    against the `.crc` file Hadoop writes beside it, as Hadoop's
    LocalFileSystem reader checks it (_check_crc); a sidecar on any other
    filesystem is read through Hadoop."""
    if root is None:
        root = local_root(enc_dir)
    if root is not None:
        path = os.path.join(root, META_NAME)
        try:
            with open(path, "rb") as f:
                data = f.read()
        except FileNotFoundError:
            return None
        _check_crc(path, data)
        return json.loads(data)
    fs, path_cls = _hadoop_fs(enc_dir)
    p = path_cls(f"{enc_dir}/{META_NAME}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # commons-io ships with Spark; reads the stream fully
        io_utils = _jclass(_spark_context()._jvm, "org.apache.commons.io.IOUtils")
        return json.loads(io_utils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def _crc_path(path: str) -> str:
    """The `.<name>.crc` file Hadoop's LocalFileSystem keeps beside `path`."""
    return os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")


def _crc_file(data: bytes, step: int = 512) -> bytes:
    """The `.crc` file of `data`: `crc\\0`, a big-endian int32 bytesPerSum
    (Hadoop's default, 512), then the big-endian CRC32 of each chunk of
    that many bytes."""
    return b"crc\0" + step.to_bytes(4, "big") + b"".join(
        zlib.crc32(data[i : i + step]).to_bytes(4, "big") for i in range(0, len(data), step)
    )


def _check_crc(path: str, data: bytes) -> None:
    """Raise OSError, naming `path`, unless `data` read from it matches
    the `.crc` file beside it (_crc_file, with its own bytesPerSum).  No
    `.crc` file, no check, as in Hadoop."""
    crc_path = _crc_path(path)
    try:
        with open(crc_path, "rb") as f:
            sums = f.read()
    except FileNotFoundError:
        return
    step = int.from_bytes(sums[4:8], "big")
    if step <= 0 or sums != _crc_file(data, step):
        raise OSError(f"checksum error: {path} does not match {crc_path}")


def write_encoded_iceberg(
    enc: DataFrame,
    table: str,
    run_id: str,
    writer_factory=None,
    n_splits: int | None = None,
) -> None:
    """Write the encoded table to an Iceberg table, idempotently per split.

    `overwritePartitions` replaces exactly the split_id partitions present
    in `enc` (Iceberg's dynamic overwrite) — re-running a failed range is
    a pure replacement, and every snapshot's summary records the run_id,
    engine version, and split-routing parameter (queryable via the
    table's `.snapshots` metadata; lookup.decode_docs_table reads
    n_splits back from there, the catalog twin of the parquet store's
    `_crumble_meta.json` sidecar).

    writer_factory(df) -> DataFrameWriterV2 is injectable so the control
    flow is unit-testable without the Iceberg runtime on the classpath.
    """
    factory = writer_factory or (lambda df: df.writeTo(table))

    def provenance(w):
        w = w.option("snapshot-property.crumble.run_id", run_id).option(
            "snapshot-property.crumble.engine", "crumble_spark"
        )
        if n_splits is not None:
            w = w.option("snapshot-property.crumble.n_splits", str(n_splits))
        return w

    try:
        provenance(factory(enc)).overwritePartitions()
    except Exception as e:
        if _is_missing_table(e):
            # first run: create the table partitioned by split_id so every
            # later overwritePartitions stays split-scoped
            try:
                cw = factory(enc).using("iceberg").partitionedBy(F.col("split_id"))
                provenance(cw).create()
            except Exception as e2:
                if _is_missing_runtime(e2):
                    _raise_runtime_hint(e2)
                raise
        elif _is_missing_runtime(e):
            _raise_runtime_hint(e)
        else:
            raise


def _raise_runtime_hint(e: Exception) -> None:
    raise RuntimeError(
        "Iceberg catalog/runtime not configured on this Spark session; launch "
        "with --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> "
        "and a spark.sql.catalog.<name> config (see README 'Iceberg sink')"
    ) from e


def read_tokens_iceberg(spark, table: str, reader=None) -> DataFrame:
    """Read the *input* tokens table from an Iceberg catalog table — the
    symmetric of write_encoded_iceberg, completing the table-in/table-out
    contract (the deployment input is an Iceberg table; crumble's S1
    opens its native container directly, snp_score.c:2561-2564).

    `reader(table) -> DataFrame` is injectable so the path is testable
    without the Iceberg runtime on the classpath; the default is the
    catalog read, with the same missing-runtime error classification as
    the sink."""
    rd = reader or (lambda t: spark.read.table(t))
    try:
        return rd(table)
    except Exception as e:
        if _is_missing_runtime(e):
            _raise_runtime_hint(e)
        raise


def read_tokens_parquet(spark, path: str) -> DataFrame:
    """Read the input tokens table from parquet at `path`: TOKENS_SCHEMA
    plus the optional columns encode_record_batch honours (split_id,
    force_raw) when the input's first non-empty file carries them.  Only
    that file's schema is read: inference over the whole input fails on
    a zero-byte file, which the scan itself skips."""
    fs, path_cls = _hadoop_fs(path)
    root = fs.makeQualified(path_cls(path)).toUri().getPath()
    files, extra = fs.listFiles(path_cls(path), True), []
    while files.hasNext():
        st = files.next()
        if st.getLen() and spark_visible(st.getPath().toUri().getPath()[len(root):].lstrip("/")):
            found = spark.read.parquet(st.getPath().toString()).schema
            extra = [f for f in found.fields if f.name in ("split_id", "force_raw")]
            break
    return spark.read.schema(T.StructType(TOKENS_SCHEMA.fields + extra)).parquet(path)


def append_lineage_iceberg(lin: DataFrame, table: str, writer_factory=None) -> None:
    """Append lineage rows to `{table}` (created on first use).  Appends
    are snapshot-isolated in Iceberg, so concurrent runs interleave
    safely — a resume reads a consistent snapshot of the done splits."""
    factory = writer_factory or (lambda df: df.writeTo(table))
    try:
        factory(lin).append()
    except Exception as e:
        if _is_missing_table(e):
            factory(lin).using("iceberg").create()
        else:
            raise


def _is_missing_table(e: Exception) -> bool:
    s = str(e)
    return "TABLE_OR_VIEW_NOT_FOUND" in s or "NoSuchTableException" in s


def _is_missing_runtime(e: Exception) -> bool:
    s = str(e)
    return (
        "CATALOG_NOT_FOUND" in s
        or "ClassNotFoundException" in s
        or "Cannot find catalog plugin" in s
        or "DATA_SOURCE_NOT_FOUND" in s
        # an unregistered catalog name falls through to spark_catalog,
        # which then rejects the multi-part namespace — same root cause
        or "REQUIRES_SINGLE_PART_NAMESPACE" in s
    )
