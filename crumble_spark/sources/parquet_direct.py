"""pyarrow-direct encode/decode jobs over parquet (the 100 TB hot path).

Why this exists: the kernel encodes at ~3 M tokens/s/core, but pushing
token arrays JVM → Arrow socket → Python caps each task pair at ~1.4 M
tokens/s and couples one JVM producer thread to every Python worker
(2x thread oversubscription).  Reading the parquet column natively with
pyarrow inside the worker runs at ~11 M tokens/s/core with zero-copy
list<int32> → numpy slicing, so the end-to-end rate approaches kernel
speed and scales with cores alone.  The per-batch work is the same
encode.encode_record_batch / decode.decode_record_batch the DataFrame
path runs, so both paths emit identical bytes.

Spark still owns everything distributed-systems-shaped: the task list
((file, row_group) rows — the "input split" of crumble's lineage
discipline), scheduling/retries, and collecting the lineage records
(small rows; payload bytes never cross the JVM boundary).

Each call is one job of at most one Python task per core: the sorted
split list is an Arrow-built local relation (no job or shuffle to build
it) that Spark slices into min(splits, defaultParallelism) contiguous
partitions.  crumble_spark.zipcache cut a Python task's fixed cost
(pyspark's per-task importlib.invalidate_caches re-read pyspark.zip
for ~0.2 s), and a wave of 4 tasks now adds ~60 ms to a local[4] job;
a second wave for stealing still loses more than it balances
(ARCHITECTURE.md).  A retried task re-does its whole (idempotent) slice.

Each task publishes its split's data file, then its lineage record, each
by atomic rename of a hidden temp file of its task attempt
(sinks.publish_file); resume skips the splits that have a record.
Output files are deterministically named per input split, so a retried
or resumed task replaces its own output — idempotent by construction.
Each data file has the layout of every writer (sinks.write_encoded_file):
rows sorted by split_id, row groups cut at sinks.ROW_GROUP_BYTES, min/max
statistics on split_id and doc_id only, so a lookup prunes it by
row-group statistics.

The DataFrame job's run on a local store reuses this module's footer
listing (_splits_of), task frame and split reader (_task_frame,
_read_split) for a bare parquet scan: its tasks read, encode and write
as these do, but write one file per task (one per sinks.PART_BYTES of
its output) into a run directory (sinks.py).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .. import DEFAULT_BLOCK_SIZE, encode, lineage
from ..decode import decode_record_batch
from ..schema import LINEAGE_SCHEMA, PA_LINEAGE
from ..sinks import (
    ENCODE_COLUMNS,
    check_store_n_splits,
    delete_path,
    publish_file,
    spark_visible,
    write_encoded_file,
    write_store_meta,
)


def list_input_files(in_path: str) -> list[str]:
    """The parquet files a Spark read of `in_path` sees: hidden names
    (`_temporary/`, `.x`, sinks.spark_visible) and empty files are
    skipped, so a crashed Spark write's leftovers are not encoded.  A
    pure directory listing, no footer opens.  This is the only filesystem
    metadata work the driver does; an object-store deployment swaps in
    the pyarrow.fs listing, same shape (one LIST call per 1000 keys, no
    per-object round trips)."""
    out = []
    for root, dirs, names in os.walk(in_path):
        dirs[:] = [d for d in dirs if spark_visible(d)]
        for n in sorted(names):
            path = os.path.join(root, n)
            if n.endswith(".parquet") and spark_visible(n) and os.path.getsize(path):
                out.append(path)
    return out


def list_input_splits(in_path: str) -> list[tuple[str, int]]:
    """(file, row_group) pairs, footers read serially — small-scale /
    test helper.  The job paths use list_input_splits_distributed: at
    100 TB (10^5-10^6 files) per-file footer round trips on the driver
    are hours of wall-clock before task 1 launches (VERDICT r3 #4).

    Globally sorted by (path, rg) — os.walk order is per-directory, not
    lexicographic across nesting levels, and the distributed path sorts
    its collect; both paths must return the bit-identical list or the
    tasks' contiguous slices of it differ either side of the
    DISTRIBUTED_LISTING_MIN_FILES crossover (ADVICE r4)."""
    return _footer_splits(list_input_files(in_path))


def _footer_splits(files: list[str]) -> list[tuple[str, int]]:
    return sorted(
        (f, rg) for f in files for rg in range(pq.ParquetFile(f).metadata.num_row_groups)
    )


# Serial-vs-distributed listing crossover (see list_input_splits_distributed).
DISTRIBUTED_LISTING_MIN_FILES = 1024


def list_input_splits_distributed(
    spark: SparkSession, in_path: str
) -> list[tuple[str, int]]:
    """(file, row_group) pairs with footer reads fanned out as a tiny
    Spark job: the driver lists file NAMES only, executors open the
    footers in parallel, and only (path string, rg int) rows come back —
    a few MB even at 10^6 files.  Falls back to the serial walk below
    DISTRIBUTED_LISTING_MIN_FILES: the job launch + collect costs ~1 s
    (measured local[16]) while serial local footer reads run ~0.1-1 ms
    per file, so the crossover sits around 10^3 files; above it the
    distributed path wins and at 10^5-10^6 files it is the difference
    between seconds and driver-serial hours."""
    return _splits_of(spark, list_input_files(in_path))


def _splits_of(spark: SparkSession, files: list[str]) -> list[tuple[str, int]]:
    """list_input_splits_distributed of a listed set of `files`."""
    if len(files) <= DISTRIBUTED_LISTING_MIN_FILES:
        return _footer_splits(files)

    def read_footers(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_arrow_single_thread()
        for b in batches:
            yield _split_batch(_footer_splits(b.column("path").to_pylist()))

    names = spark.createDataFrame(pa.table({"path": pa.array(files, pa.string())}))
    rows = names.mapInArrow(read_footers, "path string, rg int").collect()
    # deterministic order: the serial walk sorts by name then rg; the
    # distributed collect order is partition-arbitrary
    return sorted((r["path"], r["rg"]) for r in rows)


def _split_name(path: str, rg: int, root: str) -> str:
    """An input split's lineage key: its file's path below the listed
    `root` (nested inputs, e.g. hive-style source=a/part-0.parquet and
    source=b/part-0.parquet, may share a basename) and its row group."""
    return f"{os.path.relpath(path, root)}:rg{rg}"


def _split_batch(splits: list[tuple[str, int]]) -> pa.RecordBatch:
    paths, rgs = zip(*splits) if splits else ((), ())
    return pa.record_batch({"path": pa.array(paths, pa.string()), "rg": pa.array(rgs, pa.int32())})


def _task_frame(spark, splits: list[tuple[str, int]]) -> DataFrame:
    """The sorted `splits` as a local relation, which Spark slices into
    min(len(splits), defaultParallelism) contiguous tasks (module docstring)."""
    return spark.createDataFrame(pa.Table.from_batches([_split_batch(splits)]))


def _pin_arrow_single_thread() -> None:
    """Each Spark python worker must run pyarrow single-threaded: N workers
    each spawning a cpu_count-wide Arrow pool = N*cores threads, and the
    resulting context-switch storm caps total throughput regardless of
    core count (measured: 32-core run barely beat the 8-core run until
    this was pinned). Parallelism belongs to the task scheduler, not to
    per-task thread pools."""
    if pa.cpu_count() != 1:
        pa.set_cpu_count(1)
    if pa.io_thread_count() != 1:
        pa.set_io_thread_count(1)


def _read_split(path: str, rg: int, columns: list[str]):
    """Batches of row group `rg` of `path`: those of `columns` the file has."""
    f = pq.ParquetFile(path)
    names = f.schema_arrow.names
    return f.iter_batches(
        batch_size=1024, row_groups=[rg], columns=[c for c in columns if c in names],
        use_threads=False,
    )


def _encode_split(
    path: str, rg: int, out_dir: str, block_size: int, n_splits: int, run_id: str,
    in_path: str,
) -> dict:
    """Encode one input split of the listing of `in_path` into
    {out_dir}/encoded, then publish its lineage record into
    {out_dir}/lineage_direct; returns that record.  Data goes first, so
    every split with a record has its data."""
    _pin_arrow_single_thread()
    name = _split_name(path, rg, in_path)
    total = np.zeros(lineage.N_COUNTERS, np.int64)
    out_batches = []
    for batch in _read_split(path, rg, list(ENCODE_COLUMNS)):
        try:
            out, counters = encode.encode_record_batch(batch, block_size, n_splits)
        except ValueError as e:
            raise ValueError(f"{name}: {e}") from e
        total += sum(counters.values())  # the input split is the lineage key
        out_batches.append(out)
    # percent-escaping keeps nested keys distinct as one flat file name;
    # a plain file name ([A-Za-z0-9_.~-]) has nothing to escape
    rel, rg_tag = name.rsplit(":", 1)
    stem = f"{quote(rel, safe='')}-{rg_tag}"
    write_encoded_file(os.path.join(out_dir, "encoded", f"enc-{stem}.parquet"), out_batches)
    (record,) = lineage.lineage_rows({name: total}, run_id)
    publish_file(os.path.join(out_dir, "lineage_direct", f"{stem}.parquet"), PA_LINEAGE,
                 [pa.Table.from_pylist([record], schema=PA_LINEAGE)])
    return record


def encode_job_direct(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_splits: int = 256,
    resume: bool = True,
) -> DataFrame:
    """Distributed direct encode; returns the lineage (the done records a
    resume skipped plus this run's).  Each task publishes a split's data
    under {out_dir}/encoded, then its record under {out_dir}/lineage_direct:
    a run that dies midway keeps every split it finished.  resume=True
    raises, before anything is written, on a store of job.write_run's
    layout (its flat files would store the docs twice beside the run
    directories) or of another n_splits.  resume=False replaces the
    store: it deletes both directories first."""
    enc_dir = os.path.join(out_dir, "encoded")
    lin_dir = os.path.join(out_dir, "lineage_direct")
    if resume:
        held = os.listdir(enc_dir) if os.path.isdir(enc_dir) else []
        if os.path.isdir(os.path.join(out_dir, "lineage")) or any(
            n.startswith("run_id=") for n in held
        ):
            raise ValueError(
                f"{out_dir} holds a job or stream store (run_id= directories, "
                "lineage/); use a fresh out_dir, or resume=False to replace the store"
            )
        check_store_n_splits(enc_dir, n_splits)
    else:
        delete_path(enc_dir)
        delete_path(lin_dir)
    os.makedirs(enc_dir, exist_ok=True)
    os.makedirs(lin_dir, exist_ok=True)
    run_id = uuid.uuid4().hex[:12]

    splits = list_input_splits_distributed(spark, in_path)
    done = lineage.done_rows(spark, lin_dir) if resume else []
    names = {r["split"] for r in done}
    splits = [(f, rg) for f, rg in splits if _split_name(f, rg, in_path) not in names]
    rows = []
    if splits:
        # stores from the throughput path must be self-describing too, or
        # lookup.decode_docs needs a hand-passed n_splits (mismatch risk);
        # published before any split, so a resume of a run that died
        # midway is checked against it too
        write_store_meta(enc_dir, n_splits)
        tasks = _task_frame(spark, splits)

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for b in batches:
                recs = [
                    _encode_split(p, g, out_dir, block_size, n_splits, run_id, in_path)
                    for p, g in zip(b.column("path").to_pylist(), b.column("rg").to_pylist())
                ]
                if recs:
                    yield pa.RecordBatch.from_pylist(recs, schema=PA_LINEAGE)

        rows = tasks.mapInArrow(run, LINEAGE_SCHEMA).collect()
    return lineage.lineage_frame(spark, [r.asDict() for r in done + rows])


def decode_verify_direct(spark: SparkSession, enc_dir: str) -> dict:
    """Distributed direct decode + verification: every row's blocks are
    decoded and the block-combinable hash compared (V1 analogue at full
    throughput). Returns totals, summed on the driver over one
    (n_rows, n_tokens) row per task."""
    splits = list_input_splits_distributed(spark, enc_dir)
    if not splits:
        return {"rows": 0, "tokens": 0}

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_arrow_single_thread()
        n_rows = n_tokens = 0
        for b in batches:
            for path, rg in zip(b.column("path").to_pylist(), b.column("rg").to_pylist()):
                for batch in _read_split(path, rg, ["doc_id", "blocks", "row_hash"]):
                    try:
                        values, _ = decode_record_batch(batch, verify=True)
                    except ValueError as e:
                        raise ValueError(f"{_split_name(path, rg, enc_dir)}: {e}") from e
                    n_rows += batch.num_rows
                    n_tokens += len(values)
        yield pa.RecordBatch.from_pydict({"n_rows": [n_rows], "n_tokens": [n_tokens]})

    rows = _task_frame(spark, splits).mapInArrow(run, "n_rows long, n_tokens long").collect()
    return {"rows": sum(r["n_rows"] for r in rows), "tokens": sum(r["n_tokens"] for r in rows)}
