"""Random access into the encoded store: decode only the requested docs.

The encoded table is partitioned by split_id = crc32(doc_id) % n_splits
(encode.with_split_id), so a doc_id lookup knows exactly which partitions
can contain it before it reads anything.  decode_docs checks those split
directories on the filesystem and hands Spark only the ones that exist,
with the fixed ENCODED_SCHEMA: no Spark job lists the store's other
directories or infers a footer schema.  This is the reference's indexed
region scan (S2: samtools-style region fetch via the BAM index,
snp_score.c main loop seeks by region) applied to the engine's own
output: a compressed store you can point-query.

At 10^12 rows with n_splits=4096, a k-doc lookup touches at most k
partitions (~0.025% of the data per doc), then row-group min/max on
doc_id prunes within the partition.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .decode import decode_df
from .schema import ENCODED_SCHEMA, TOKENS_SCHEMA


def split_of(doc_id: str, n_splits: int) -> int:
    """Python twin of encode.with_split_id's crc32 assignment."""
    return zlib.crc32(doc_id.encode()) % n_splits


def decode_docs(
    spark: SparkSession,
    enc_dir: str,
    doc_ids: list[str],
    n_splits: int | None = None,
    verify: bool = True,
) -> DataFrame:
    """Decode exactly `doc_ids` from an encoded dir.

    The split set is computed driver-side from the same crc32 the encoder
    used.  On a split_id-partitioned store (run_encode_job's sink) only
    the routed `split_id=` directories that exist are read, one
    filesystem `exists` per split; when none exist the result is empty
    and nothing is scanned.  A flat store (encode_job_direct's
    enc-*.parquet files) is read whole.  Either read passes
    ENCODED_SCHEMA, so no job infers it from footers.  The split_id
    IN-filter stays a PartitionFilter and the doc_id IN-filter a parquet
    row-group predicate (both asserted by test_lookup.py).

    n_splits defaults to the store's own `_crumble_meta.json` sidecar
    (written by the encode job) — a hand-passed mismatch would silently
    route lookups to the wrong partition and return partial results.
    """
    if n_splits is None:
        from .sinks import read_store_meta

        meta = read_store_meta(enc_dir)
        if meta is None:
            raise ValueError(
                f"{enc_dir} has no _crumble_meta.json sidecar; pass n_splits= "
                "explicitly (it must equal the encoder's value or lookups "
                "will silently miss)"
            )
        n_splits = int(meta["n_splits"])
    splits = sorted({split_of(d, n_splits) for d in doc_ids})
    reader = spark.read.schema(ENCODED_SCHEMA)
    dirs = _routed_dirs(enc_dir, splits)
    if dirs is None:
        enc = reader.parquet(enc_dir)
    elif dirs:
        enc = reader.option("basePath", enc_dir).parquet(*dirs)
    else:
        # limit(0) plans as an empty local relation, which collects
        # without a job
        return spark.createDataFrame([], TOKENS_SCHEMA).limit(0)
    enc = enc.filter(F.col("split_id").isin(splits)).filter(F.col("doc_id").isin(doc_ids))
    return decode_df(enc, verify=verify)


def _routed_dirs(enc_dir: str, splits: list[int]) -> list[str] | None:
    """The routed `split_id=` directories of enc_dir that exist, or None
    when enc_dir has no `split_id=` children at all (a flat store).  Only
    when no routed directory exists does one driver-side glob of enc_dir
    tell the two layouts apart."""
    from .sinks import _hadoop_fs

    fs, path_cls = _hadoop_fs(enc_dir)
    dirs = [f"{enc_dir}/split_id={s}" for s in splits]
    present = [d for d in dirs if fs.exists(path_cls(d))]
    if present or fs.globStatus(path_cls(f"{enc_dir}/split_id=*")):
        return present
    return None


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
                # try_element_at, not element_at: under Spark 4 ANSI mode
                # (a production Iceberg session may not pin it off like
                # session.py does) a snapshot whose summary lacks the key
                # would throw MAP_KEY_DOES_NOT_EXIST instead of yielding
                # null and reaching the isNotNull filter (ADVICE r3)
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
