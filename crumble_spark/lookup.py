"""Random access into the encoded store: decode only the requested docs.

Every parquet writer stores rows sorted by split_id = crc32(doc_id) %
n_splits (encode.with_split_id) in small row groups (sinks.py), so a
doc_id lookup knows which splits can hold it before it reads anything,
and parquet's row-group min/max statistics skip the rest of each file.
decode_docs reads the whole store through one path, whatever wrote it,
with the fixed ENCODED_SCHEMA: no footer schema inference.  This is the
reference's indexed region scan (S2: samtools-style region fetch via the
BAM index, snp_score.c main loop seeks by region) applied to the
engine's own output: a compressed store you can point-query.

At 10^12 rows with n_splits=4096, a k-doc lookup reads at most the row
groups of k splits plus each file's footer.
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
    used and, when the store's sidecar lists the splits it holds,
    intersected with them: when nothing is left the result is empty and
    no job runs.  Otherwise one scan of enc_dir with ENCODED_SCHEMA
    carries the split_id and doc_id IN-filters down to parquet, whose
    row-group statistics skip every row group whose split_id range misses
    the routed splits (both filters asserted by test_lookup.py).

    n_splits defaults to the store's own `_crumble_meta.json` sidecar
    (written by every writer) — a hand-passed mismatch would silently
    route lookups to the wrong split and return partial results.
    """
    from .sinks import read_store_meta

    meta = read_store_meta(enc_dir) or {}
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
            # limit(0) plans as an empty local relation, which collects
            # without a job
            return spark.createDataFrame([], TOKENS_SCHEMA).limit(0)
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
