"""Random access into the encoded store: decode only the requested docs.

Every parquet writer stores rows sorted by split_id = crc32(doc_id) %
n_splits (encode.with_split_id) in small row groups (sinks.py), so a
doc_id lookup knows which splits can hold it before it reads anything,
and parquet's row-group min/max statistics skip the rest of each file.
This is the reference's indexed region scan (S2: samtools-style region
fetch via the BAM index, snp_score.c main loop seeks by region) applied
to the engine's own output: a compressed store you can point-query.

decode_docs serves a lookup of a store on the driver's local filesystem
(sinks.local_root) with no Spark job and no Python worker: a pyarrow
dataset scan of the store's files, filtered on split_id and doc_id,
opens only the row groups whose statistics can hold a routed split and
decodes the kept rows with the shared walker (decode.decode_to_tokens);
the result is a local relation, which collects without a job.  A job's
fixed cost (planning, scheduling, a Python task per core) is ~0.5 s on 4
cores; the driver path's cost is its read, which pyarrow spreads over the
driver's cores as Spark's local tasks would, and its Py4J round trips:
the store's locality is resolved once (one Hadoop FileSystem), the
sidecar is read without the JVM, and the remaining crossings are
pyspark's createDataFrame and collect of the result (36 round trips in
all).  A store on any other filesystem (hdfs://, s3a://, s3://,
viewfs://) is one Spark scan: only Spark's reader sees the session's
Hadoop configuration and credentials.

At 10^12 rows with n_splits=4096, a k-doc lookup reads at most the row
groups of k splits plus each file's footer.
"""

from __future__ import annotations

import os
import zlib

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .decode import decode_df, decode_to_tokens
from . import sinks
from .schema import ENCODED_SCHEMA, PA_ENCODED, PA_TOKENS, TOKENS_SCHEMA

_LOCAL = pafs.LocalFileSystem()
_READ_COLUMNS = ["doc_id", "source", "n_tok", "blocks", "row_hash"]


def split_of(doc_id: str, n_splits: int) -> int:
    """Python twin of encode.with_split_id's crc32 assignment."""
    return zlib.crc32(doc_id.encode()) % n_splits


def _driver_read(root: str, splits: list[int], doc_ids: list[str], verify: bool) -> pa.Table:
    """The rows of `doc_ids` in `splits` of the local store at `root`,
    decoded.  The scan prunes row groups by their split_id and doc_id
    statistics and streams the rest in batches, so the driver holds one
    window of the routed row groups at a time, not the store."""
    files = [
        f.path
        for f in _LOCAL.get_file_info(pafs.FileSelector(root, recursive=True))
        # Spark's scan skips empty files too
        if f.type == pafs.FileType.File and f.size and sinks.spark_visible(os.path.relpath(f.path, root))
    ]
    store = ds.dataset(files, schema=PA_ENCODED, format="parquet", filesystem=_LOCAL)
    rows = store.to_batches(
        columns=_READ_COLUMNS,
        filter=ds.field("split_id").isin(splits) & ds.field("doc_id").isin(doc_ids),
    )
    out = [decode_to_tokens(b, verify) for b in rows if b.num_rows]
    # a table of zero batches has no chunks, which createDataFrame refuses
    return pa.Table.from_batches(out, PA_TOKENS) if out else PA_TOKENS.empty_table()


def decode_docs(
    spark: SparkSession,
    enc_dir: str,
    doc_ids: list[str],
    n_splits: int | None = None,
    verify: bool = True,
) -> DataFrame:
    """Decode exactly `doc_ids` from an encoded dir.

    The split set is computed driver-side from the same crc32 the encoder
    used and, when the store's sidecar lists the splits it holds,
    intersected with them.  The store's locality (sinks.local_root, one
    Hadoop FileSystem) is resolved once; a local store's sidecar is read
    with plain Python, checked against Hadoop's `.crc` file
    (sinks.read_store_meta).  Past that, a local lookup's only JVM
    crossings are createDataFrame and collect of its result.  A store on
    the driver's local filesystem is read on the driver: its files as
    Spark's read sees them (hidden names
    such as `_temporary/` skipped), only the row groups whose split_id and
    doc_id statistics can match, only the rows that do, decoded (with
    verify, a row_hash mismatch raises ValueError naming the doc).  The
    result is a local relation: no job runs, here or at collect.  A store
    on another filesystem is one Spark scan of enc_dir with ENCODED_SCHEMA
    that carries the same split_id and doc_id IN-filters down to parquet's
    row-group statistics (both filters asserted by test_lookup.py).

    n_splits defaults to the store's own `_crumble_meta.json` sidecar
    (written by every writer) — a hand-passed mismatch would silently
    route lookups to the wrong split and return partial results.
    """
    root = sinks.local_root(enc_dir)
    meta = sinks.read_store_meta(enc_dir, root) or {}
    if n_splits is None:
        if "n_splits" not in meta:
            raise ValueError(
                f"{enc_dir} has no _crumble_meta.json sidecar; pass n_splits= "
                "explicitly (it must equal the encoder's value or lookups "
                "will silently miss)"
            )
        n_splits = int(meta["n_splits"])
    splits = {split_of(d, n_splits) for d in doc_ids}
    if "splits" in meta:
        splits &= set(meta["splits"])
    if not splits:
        return spark.createDataFrame(PA_TOKENS.empty_table(), TOKENS_SCHEMA)
    if root is not None:
        return spark.createDataFrame(_driver_read(root, sorted(splits), doc_ids, verify), TOKENS_SCHEMA)
    enc = (
        spark.read.schema(ENCODED_SCHEMA)
        .parquet(enc_dir)
        .filter(F.col("split_id").isin(sorted(splits)))
        .filter(F.col("doc_id").isin(doc_ids))
    )
    return decode_df(enc, verify=verify)


def decode_docs_table(
    spark: SparkSession,
    table: str,
    doc_ids: list[str],
    n_splits: int | None = None,
    verify: bool = True,
    reader=None,
    snapshots_reader=None,
) -> DataFrame:
    """decode_docs for an Iceberg-cataloged store: the split_id IN-filter
    prunes at Iceberg partition level (manifests, not file listing), the
    doc_id filter lands on row groups.

    n_splits defaults to the `crumble.n_splits` snapshot property the
    encode job stamped (the catalog twin of the parquet sidecar) — read
    from `{table}.snapshots`, newest snapshot that carries it.  `reader`
    / `snapshots_reader` are injectable for runtime-free tests."""
    if n_splits is None:
        sr = snapshots_reader or (lambda: spark.read.table(f"{table}.snapshots"))
        rows = (
            sr()
            .select(
                "committed_at",
                # try_element_at: under ANSI mode a summary without the key
                # would throw MAP_KEY_DOES_NOT_EXIST, not yield null (ADVICE r3)
                F.try_element_at(F.col("summary"), F.lit("crumble.n_splits")).alias("ns"),
            )
            .filter(F.col("ns").isNotNull())
            .orderBy(F.desc("committed_at"))
            .limit(1)
            .collect()
        )
        if not rows:
            raise ValueError(
                f"no snapshot of {table} carries crumble.n_splits; pass "
                "n_splits= explicitly (it must equal the encoder's value "
                "or lookups will silently miss)"
            )
        n_splits = int(rows[0]["ns"])
    rd = reader or (lambda t: spark.read.table(t))
    splits = sorted({split_of(d, n_splits) for d in doc_ids})
    enc = (
        rd(table)
        .filter(F.col("split_id").isin(splits))
        .filter(F.col("doc_id").isin(doc_ids))
    )
    return decode_df(enc, verify=verify)
