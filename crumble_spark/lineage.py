"""Per-split lineage + checkpoint/resume.

Crumble's end-of-run global counters, suspicious-region BED sink and @PG
provenance header (snp_score.c:2650-2666, 1496-1498, 2588-2609) become a
first-class lineage table: one LINEAGE_SCHEMA row per split with the
codec histogram, bytes in/out, row checksum and completion status, built
from the per-split counters split_counters takes from each encoded batch
(see job.py for where each writer sums them).  A run of job.write_run
(the DataFrame job or a stream batch) publishes its rows into
`lineage/run_id=<run>/`, whose partition value is the rows' run_id: one
pyarrow file on a local store, Spark's writer on any other; the direct
path publishes one file per input split into `lineage_direct/`.
Resume skips the splits with a done row — encoding is deterministic, so
a re-run of any split is byte-identical.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
from pyspark import AccumulatorParam
from pyspark.sql import DataFrame, Row, SparkSession

from . import sinks
from .codecs import CODEC_NAMES
from .schema import LINEAGE_SCHEMA, PA_LINEAGE

# counter vector of a split: these sums, then one block count per codec id
COUNTERS = ("n_rows", "n_tokens", "bytes_out", "checksum")
N_COUNTERS = len(COUNTERS) + len(CODEC_NAMES)
# a task's counters as rows: what a local run's tasks return
COUNTERS_SCHEMA = "split int, counters array<long>"


def split_counters(split_id, n_tok, bytes_out, row_hash, blocks: pa.ListArray) -> dict:
    """{split_id: int64 COUNTERS + codec-histogram vector} of one encoded
    batch, as whole-batch group sums over rows and (split, codec) pairs.
    checksum = sum(row_hash mod 2^31) is order-insensitive and cannot
    overflow int64 below 2^32 rows a split."""
    keys, inv = np.unique(split_id, return_inverse=True)
    sums = np.zeros((len(keys), N_COUNTERS), np.int64)
    per_row = np.stack([np.ones_like(n_tok), n_tok, bytes_out, row_hash % (1 << 31)], 1)
    np.add.at(sums, (inv[:, None], np.arange(len(COUNTERS))), per_row)
    codec = blocks.flatten().field("codec_id").to_numpy()
    blk_split = np.repeat(inv, np.diff(blocks.offsets.to_numpy()))
    np.add.at(sums, (blk_split, len(COUNTERS) + codec), 1)
    return dict(zip(keys.tolist(), sums))


def add_counters(into: dict, more: dict) -> dict:
    """Add the {split: counter vector} `more` into `into`; returns it."""
    for split, v in more.items():
        into[split] = into[split] + v if split in into else v
    return into


def counters_batch(counters: dict) -> pa.RecordBatch:
    """{split: counter vector} as a COUNTERS_SCHEMA batch."""
    return pa.record_batch({
        "split": pa.array(list(counters), pa.int32()),
        "counters": pa.array([v.tolist() for v in counters.values()], pa.list_(pa.int64())),
    })


def sum_counters(table: pa.Table) -> dict:
    """The {split: counter vector} sum of COUNTERS_SCHEMA rows."""
    vecs = table.column("counters").combine_chunks().flatten().to_numpy()
    out: dict = {}
    for split, v in zip(table.column("split").to_pylist(), vecs.reshape(-1, N_COUNTERS)):
        add_counters(out, {split: v})
    return out


class SplitCounters(AccumulatorParam):
    """Accumulator of {split: split_counters vector}, for the writers that
    write with Spark.  Spark applies each result-stage task's update
    exactly once, so with the encode in the sink's write stage (scan →
    mapInArrow → sink, no exchange) the sums are exact."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, value1: dict, value2: dict) -> dict:
        return add_counters(value1, value2)


def lineage_rows(counters: dict, run_id: str) -> list[dict]:
    """{split: counter vector} → LINEAGE_SCHEMA rows of completed splits."""
    rows = []
    for split, v in sorted(counters.items()):
        n_rows, n_tokens, bytes_out, checksum, *hist = v.tolist()
        rows.append(dict(
            run_id=run_id, split=str(split), n_rows=n_rows, n_tokens=n_tokens,
            codec_hist={cid: n for cid, n in enumerate(hist) if n},
            bytes_in=4 * n_tokens, bytes_out=bytes_out, checksum=checksum, status="done",
        ))
    return rows


def lineage_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """`rows` as a LINEAGE_SCHEMA DataFrame, built from Arrow: a local
    relation, ~5x faster to write than a list of Rows (cold, local[4])."""
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=PA_LINEAGE), LINEAGE_SCHEMA)


def publish_rows(spark: SparkSession, rows: list[dict], lin_dir: str, run_id: str) -> None:
    """Publish a run's lineage rows, its commit record, into
    {lin_dir}/run_id=<run_id>/ (run_id as the directory's partition
    value), replacing that directory.  On the driver's local filesystem
    they are one pyarrow file, renamed into place whole; elsewhere
    Spark's committer writes them (all of a run's rows or none, though a
    failed write can leave the directory behind without rows)."""
    run_dir = f"{lin_dir}/run_id={run_id}"
    root = sinks.local_root(run_dir)
    if root is None:
        lineage_frame(spark, rows).drop("run_id").write.mode("overwrite").parquet(run_dir)
        return
    table = pa.Table.from_pylist(rows, schema=PA_LINEAGE).drop_columns(["run_id"])
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    sinks.publish_file(os.path.join(root, "part-0.parquet"), table.schema, [table])


def done_rows(spark: SparkSession, lineage_dir: str, reader=None) -> list[Row]:
    """Done lineage rows of any prior run (encoding is deterministic, so
    any done split is valid regardless of which run produced it); [] when
    no lineage exists yet, and an unreadable lineage raises.  `reader`
    overrides how the table is loaded (Iceberg sinks)."""
    try:
        lin = reader() if reader else spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_dir)
        return lin.filter("status = 'done'").collect()
    except Exception as e:
        if "PATH_NOT_FOUND" not in str(e) and not sinks._is_missing_table(e):
            raise
        return []


def summarize(rows: list[dict | Row]) -> dict:
    """Run summary over lineage rows, each split counted once (a later
    row of a split replaces an earlier one)."""
    by_split = {r["split"]: r for r in rows}.values()
    total = lambda k: sum(r[k] for r in by_split)  # noqa: E731
    return {"splits": len(by_split), "rows": total("n_rows"), "tokens": total("n_tokens"),
            "bytes_in": total("bytes_in"), "bytes_out": total("bytes_out")}
