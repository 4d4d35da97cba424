"""Encoded-table sinks: parquet (this sandbox) and Iceberg (cluster).

* parquet: one store layout for every writer.  Each task writes one file,
  its rows sorted by split_id, in row groups of at most ROW_GROUP_BYTES,
  so a lookup's split_id IN-filter prunes whole row groups by their
  min/max statistics.  Each run of job.write_run (the DataFrame job, or
  a streaming micro-batch) writes one run directory, `run_id=<run>/`,
  overwriting it whole: a retried run or replayed batch replaces its own
  output and nothing else.
  The direct path writes the same sorted files flat, one per input split.
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

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# parquet row-group target of every writer: small enough that a lookup
# reads little past its routed splits, large enough that parquet-mr's
# memory check stays quiet on a giant row
ROW_GROUP_BYTES = 256 * 1024


def spark_visible(rel: str) -> bool:
    """Spark's rule for the files a directory read sees, on a path below
    the read's root: no component starting with `.`, nor with `_` unless
    it is a `_k=v` partition dir; no `._COPYING_` upload in progress."""
    return not rel.endswith("._COPYING_") and not any(
        c.startswith(".") or (c.startswith("_") and "=" not in c) for c in rel.split(os.sep)
    )


def write_encoded_parquet(enc: DataFrame, enc_dir: str, run_id: str) -> None:
    """Write `enc` into {enc_dir}/run_id=<run_id>/, replacing that
    directory: one file per task, rows sorted by split_id.  parquet-mr
    checks the row group's size after every row (its default waits 100
    rows, then estimates), so a group closes on the first row that takes
    it to ROW_GROUP_BYTES.  Sets no session conf."""
    (
        enc.sortWithinPartitions("split_id")
        .write.option("parquet.block.size", ROW_GROUP_BYTES)
        .option("parquet.page.size.row.check.min", 1)
        .option("parquet.page.size.row.check.max", 1)
        .mode("overwrite")
        .parquet(f"{enc_dir}/run_id={run_id}")
    )


def store_runs(enc_dir: str) -> set[str]:
    """Run ids of enc_dir's `run_id=` directories (none when it is absent).
    Raises on any other entry but hidden (`_`/`.`) ones: a file or
    directory of another layout beside the run directories makes every
    read of the store fail on conflicting partition columns."""
    fs, path_cls = _hadoop_fs(enc_dir)
    if not fs.exists(path_cls(enc_dir)):
        return set()
    out = set()
    for st in fs.listStatus(path_cls(enc_dir)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("run_id="):
            out.add(name[len("run_id="):])
        elif not name.startswith(("_", ".")):
            raise ValueError(
                f"{enc_dir} holds {name!r}, which is not a run_id= directory "
                "of this store layout; use a fresh out_dir, or resume=False "
                "to replace the store"
            )
    return out


def delete_path(path: str) -> None:
    """Recursive delete through the store's Hadoop filesystem; a missing
    path is a no-op."""
    fs, path_cls = _hadoop_fs(path)
    fs.delete(path_cls(path), True)


def _hadoop_fs(path: str):
    """(fs, Path-class) for `path` via the active session's Hadoop conf,
    so the store's listings, deletes and sidecar work on hdfs:// and
    s3a:// alike."""
    from pyspark.sql import SparkSession

    spark = SparkSession.active()
    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    return path_cls(path).getFileSystem(spark._jsc.hadoopConfiguration()), path_cls


def _rename_overwrite(tmp, final) -> bool:
    """Atomic overwrite-rename via Hadoop's FileContext API (HDFS, local).
    False ONLY when the scheme has no FileContext (e.g. s3a), so the
    caller falls back to a non-atomic delete-then-rename; any other rename
    failure propagates rather than degrade to that window (ADVICE r4)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.active()
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        uri = final.toUri()
        fc_cls = jvm.org.apache.hadoop.fs.FileContext
        fc = fc_cls.getFileContext(uri, conf) if uri.getScheme() else fc_cls.getFileContext(conf)
        opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
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


def write_store_meta(enc_dir: str, n_splits: int, splits=None) -> None:
    """Sidecar recording the split routing parameter and, when given, the
    sorted ids of the splits the store holds.  Point lookups
    (lookup.decode_docs) need the SAME n_splits the encoder used — a
    mismatch silently routes to the wrong split and returns partial
    results, so the store carries its own routing metadata (underscore
    prefix: ignored by Spark's file listing).  A lookup whose routed
    splits are all outside `splits` runs no job; the writer publishes
    the sidecar after its data and before its lineage, so `splits` is
    always a superset of the committed splits.  Written through the
    Hadoop FileSystem API, so it lands next to the data on any scheme."""
    import json

    meta = {"n_splits": n_splits, "split_fn": "crc32(doc_id) % n_splits"}
    if splits is not None:
        meta["splits"] = sorted(splits)
    fs, path_cls = _hadoop_fs(enc_dir)
    fs.mkdirs(path_cls(enc_dir))
    tmp = path_cls(f"{enc_dir}/_crumble_meta.json.tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(json.dumps(meta).encode("utf-8")))
    out.close()
    final = path_cls(f"{enc_dir}/_crumble_meta.json")
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


def check_store_n_splits(enc_dir: str, n_splits: int) -> None:
    """Raise when the store at enc_dir was written with another n_splits:
    a doc routed by this one lands in another split than its stored copy,
    so it would be stored twice and lookups would route to the wrong
    split."""
    meta = read_store_meta(enc_dir)
    if meta is not None and int(meta["n_splits"]) != n_splits:
        raise ValueError(
            f"{enc_dir} was written with n_splits={meta['n_splits']}, this run has "
            f"n_splits={n_splits}; use the store's value, or resume=False to "
            "replace the store"
        )


def read_store_meta(enc_dir: str) -> dict | None:
    import json

    from pyspark.sql import SparkSession

    fs, path_cls = _hadoop_fs(enc_dir)
    p = path_cls(f"{enc_dir}/_crumble_meta.json")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # commons-io ships with Spark; reads the stream fully
        io_utils = SparkSession.active()._jvm.org.apache.commons.io.IOUtils
        return json.loads(io_utils.toString(stream, "UTF-8"))
    finally:
        stream.close()


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
