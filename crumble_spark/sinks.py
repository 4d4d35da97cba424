"""Encoded-table sinks: parquet (this sandbox) and Iceberg (cluster).

Both sinks give idempotent per-split re-writes — the property resume
depends on: a retried/resumed split replaces exactly its own rows.

* parquet: dynamic partition overwrite on split_id directories.
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_encoded_parquet(enc: DataFrame, enc_dir: str, n_splits: int | None = None) -> None:
    spark = enc.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    enc.write.partitionBy("split_id").mode("overwrite").parquet(enc_dir)
    if n_splits is not None:
        write_store_meta(enc_dir, n_splits)


def _hadoop_fs(enc_dir: str):
    """(fs, Path-class) for enc_dir via the active session's Hadoop conf,
    or None when no JVM session is active (plain-python unit tests)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None or not hasattr(spark, "_jvm"):
        return None
    jvm = spark._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(enc_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path_cls


def _rename_overwrite(tmp, final) -> bool:
    """Atomic overwrite-rename via Hadoop's FileContext API (HDFS, local);
    returns False ONLY when the scheme has no FileContext at all (e.g.
    s3a raises UnsupportedFileSystemException) so the caller can fall
    back to its inherently non-atomic delete-then-rename.  A genuine
    rename failure on a scheme that HAS FileContext (HDFS permission or
    quota error) propagates: converting it to False would silently
    degrade to the delete-then-rename window this API exists to close,
    deleting the old sidecar before failing (ADVICE r4)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    try:
        jvm = spark._jvm
        gw = spark.sparkContext._gateway
        conf = spark._jsc.hadoopConfiguration()
        uri = final.toUri()
        fc_cls = jvm.org.apache.hadoop.fs.FileContext
        fc = (
            fc_cls.getFileContext(uri, conf)
            if uri.getScheme()
            else fc_cls.getFileContext(conf)
        )
        opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, final, opts)
        return True
    except Exception as e:
        # classify on the Java exception class when Py4J exposes it —
        # message-substring matching breaks under wrapper formatting
        # changes (ADVICE r5); the substring check stays as fallback for
        # plain-Python raises in tests
        je = getattr(e, "java_exception", None)
        name = ""
        if je is not None:
            try:
                name = je.getClass().getName()
            except Exception:
                name = ""
        if name.endswith("UnsupportedFileSystemException") or (
            je is None and "UnsupportedFileSystemException" in str(e)
        ):
            return False
        raise


def write_store_meta(enc_dir: str, n_splits: int) -> None:
    """Sidecar recording the split routing parameter.  Point lookups
    (lookup.decode_docs) need the SAME n_splits the encoder used — a
    mismatch silently routes to the wrong partition and returns partial
    results, so the store carries its own routing metadata (underscore
    prefix: ignored by Spark's file listing, survives dynamic
    partition overwrite).

    Written through the Hadoop FileSystem API so the sidecar lands next
    to the data on hdfs:// / s3a:// sinks, not on the driver's local
    disk; falls back to local-path I/O only when no Spark session is
    active (and then only for scheme-less paths)."""
    import json

    payload = json.dumps({"n_splits": n_splits, "split_fn": "crc32(doc_id) % n_splits"})
    hfs = _hadoop_fs(enc_dir)
    if hfs is not None:
        fs, path_cls = hfs
        fs.mkdirs(path_cls(enc_dir))
        tmp = path_cls(f"{enc_dir}/_crumble_meta.json.tmp")
        out = fs.create(tmp, True)
        out.write(bytearray(payload.encode("utf-8")))
        out.close()
        final = path_cls(f"{enc_dir}/_crumble_meta.json")
        # Prefer FileContext.rename(OVERWRITE): an atomic republish with
        # no window where a concurrent reader sees no sidecar (ADVICE r3:
        # delete-then-rename left one).  Schemes without a FileContext
        # (e.g. s3a) fall back to delete+rename — there the window is
        # inherent to the store's non-atomic rename anyway.
        if not _rename_overwrite(tmp, final):
            # Hadoop reports most rename failures via the return value,
            # not an exception — and the fallback deletes the old sidecar
            # first, so a false here MUST surface or the store silently
            # loses its routing
            fs.delete(final, False)
            if not fs.rename(tmp, final):
                raise OSError(
                    f"rename({tmp}, {final}) returned false — the store sidecar "
                    "was NOT published; lookups would need a hand-passed n_splits"
                )
        return
    import os

    if "://" in enc_dir:
        raise ValueError(
            f"no active SparkSession to resolve the filesystem for {enc_dir!r}; "
            "remote sidecars require the Hadoop FileSystem API"
        )
    os.makedirs(enc_dir, exist_ok=True)
    tmp = os.path.join(enc_dir, "_crumble_meta.json.tmp")
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, os.path.join(enc_dir, "_crumble_meta.json"))


def read_store_meta(enc_dir: str) -> dict | None:
    import json

    hfs = _hadoop_fs(enc_dir)
    if hfs is not None:
        fs, path_cls = hfs
        p = path_cls(f"{enc_dir}/_crumble_meta.json")
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            # commons-io ships with Spark; reads the stream fully
            from pyspark.sql import SparkSession

            jvm = SparkSession.getActiveSession()._jvm
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)
    import os

    if "://" in enc_dir:
        raise ValueError(
            f"no active SparkSession to resolve the filesystem for {enc_dir!r}"
        )
    p = os.path.join(enc_dir, "_crumble_meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


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
    w = (
        factory(enc)
        .option("snapshot-property.crumble.run_id", run_id)
        .option("snapshot-property.crumble.engine", "crumble_spark")
    )
    if n_splits is not None:
        w = w.option("snapshot-property.crumble.n_splits", str(n_splits))
    try:
        w.overwritePartitions()
    except Exception as e:
        if _is_missing_table(e):
            # first run: create the table partitioned by split_id so every
            # later overwritePartitions stays split-scoped
            try:
                cw = (
                    factory(enc)
                    .using("iceberg")
                    .partitionedBy(F.col("split_id"))
                    .option("snapshot-property.crumble.run_id", run_id)
                    .option("snapshot-property.crumble.engine", "crumble_spark")
                )
                if n_splits is not None:
                    cw = cw.option("snapshot-property.crumble.n_splits", str(n_splits))
                cw.create()
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
