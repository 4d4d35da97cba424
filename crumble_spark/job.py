"""spark-submit entry: read tokens table → encode → write encoded +
lineage, resumable.  (crumble `main`/`transcode` analogue, minus the CLI
option zoo — config is the EncodeConfig dataclass, bundled into the
PRESETS levels.)  The encode itself is one job with no shuffle: giant
rows stay single rows (encode.encode_record_batch bounds their kernel
slices).

One run writer: write_run writes every run of the parquet store, a run
of this job or a streaming.ingest micro-batch (run id stream-<batch>):
its data (sinks.write_encoded_parquet), then the store sidecar, then its
lineage rows under lineage/run_id=<run>/, which are its commit record.
On a store on the driver's local filesystem the Python task that encodes
also reads (a bare parquet scan's row groups) and writes; the driver
renames the run's staging directory into place and writes the lineage
file, so the run is one job.  A store on another filesystem keeps
Spark's writer and committer for both (a failed write can leave the
lineage directory behind without rows).  The direct path (`--direct`)
folds the same per-split counters per input split and publishes each
record right after the split's data file: lineage and resume are per
split there.

Usage:
    spark-submit --py-files crumble_spark.zip -m crumble_spark.job \
        --input <parquet-or-iceberg> --output <dir> [--no-resume]

Sink: Iceberg (`--format iceberg`) when the runtime has the Iceberg Spark
connector on the classpath; parquet otherwise.
"""

from __future__ import annotations

import argparse
import dataclasses
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import DEFAULT_BLOCK_SIZE, lineage
from .encode import encode_counted


@dataclass
class EncodeConfig:
    block_size: int = DEFAULT_BLOCK_SIZE
    n_splits: int = 256


# preset bundles, the analogue of crumble's -1..-9 macro levels
# (snp_score.c:2380-2482): smaller blocks react faster to regime changes
# (better ratio on mixed data), bigger blocks amortize headers (faster,
# better on uniform data); split counts scale with intended input size.
PRESETS = {
    1: EncodeConfig(block_size=256, n_splits=64),       # small/latency
    3: EncodeConfig(block_size=512, n_splits=128),
    5: EncodeConfig(block_size=1024, n_splits=256),     # default
    7: EncodeConfig(block_size=2048, n_splits=1024),
    9: EncodeConfig(block_size=4096, n_splits=4096),    # 100 TB bulk
}


# run id prefix of a streaming.ingest micro-batch
STREAM_RUN_PREFIX = "stream-"


def write_run(
    spark: SparkSession, df: DataFrame, out_dir: str, run_id: str, cfg: EncodeConfig,
    skip: frozenset[int] = frozenset(),
) -> list[dict]:
    """Write one run of the parquet store at out_dir and return its
    lineage rows: `df` but the rows of the splits in `skip`, encoded into
    {out_dir}/encoded/run_id=<run_id>/, then the store sidecar, then the
    rows into {out_dir}/lineage/run_id=<run_id>/ (run_id as the
    directory's partition value).  Both run directories are replaced
    whole, so a retried run or replayed batch replaces its own output; a
    run with no row leaves neither (nothing to commit) and returns [].

    The sidecar is read first: a store of another n_splits raises before
    anything is written (sinks.check_store_n_splits).  It is read again
    right before it is rewritten with its splits ∪ this run's, so a run
    that overlapped this one keeps its splits listed."""
    from . import sinks

    enc_dir = f"{out_dir}/encoded"
    sinks.check_store_n_splits(enc_dir, cfg.n_splits)
    counters = sinks.write_encoded_parquet(
        df, enc_dir, run_id, cfg.block_size, cfg.n_splits, skip
    )
    if not counters:
        return []
    held = (sinks.read_store_meta(enc_dir) or {}).get("splits", [])
    sinks.write_store_meta(enc_dir, cfg.n_splits, splits=set(held) | set(counters))
    rows = lineage.lineage_rows(counters, run_id)
    lineage.publish_rows(spark, rows, f"{out_dir}/lineage", run_id)
    return rows


def run_encode_job(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    cfg: EncodeConfig | None = None,
    resume: bool = True,
    sink: str = "parquet",
    table_reader=None,
    writer_factory=None,
) -> dict:
    """Encode `df` as one run (write_run) of the store at out_dir.
    Returns the run summary over the splits this run wrote plus, when
    resuming, the done splits it skipped.

    resume=True keeps the store: it raises if encoded/ or lineage/ hold
    anything but run directories or if `run_id` is already committed
    (has lineage rows), then deletes both run directories and the
    staging directory of every run without lineage rows (a run that died
    inside its encode job, or after its data commit, before or inside its
    lineage write).  When the done splits cover every
    split id below n_splits, no doc is left to encode: it returns their
    summary and runs no job past the lineage read.  Otherwise it scans
    the input, even when every split that held a doc is done: a doc
    added to the input since may route to a split id without a done
    row, and only the scan finds it.  resume=False
    replaces the store: it deletes encoded/ and lineage/ first.  Run ids
    starting with STREAM_RUN_PREFIX belong to encode_stream and are
    refused.  One writer per out_dir at a time.

    sink="iceberg" treats out_dir as a catalog table name and writes via
    sinks.write_encoded_iceberg, with lineage rows appended to
    {out_dir}_lineage after the write (needs the Iceberg runtime; see
    README).  `table_reader(name) -> DataFrame` / `writer_factory(df,
    name)` inject the catalog IO so the whole table-in/table-out job is
    testable without the runtime (tests/test_sinks.py round-trips it)."""
    from . import sinks

    cfg = cfg or EncodeConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    if run_id.startswith(STREAM_RUN_PREFIX):
        raise ValueError(
            f"run_id {run_id!r}: the prefix {STREAM_RUN_PREFIX!r} is reserved for "
            "encode_stream's micro-batches"
        )
    iceberg = sink == "iceberg"
    lin_dir = f"{out_dir}_lineage" if iceberg else f"{out_dir}/lineage"
    enc_dir = f"{out_dir}/encoded"
    done = []
    if iceberg and resume:
        reader = lambda: (table_reader or spark.read.table)(lin_dir)  # noqa: E731
        done = lineage.done_rows(spark, lin_dir, reader)
    elif resume:
        runs = sinks.store_runs(enc_dir) | sinks.store_runs(lin_dir)
        rows = lineage.done_rows(spark, lin_dir)
        committed = {r["run_id"] for r in rows}
        if run_id in committed:
            raise ValueError(f"run_id {run_id!r} is already committed in {lin_dir}")
        for orphan in runs - committed:
            sinks.delete_path(f"{enc_dir}/run_id={orphan}")
            sinks.delete_path(f"{enc_dir}/{sinks.STAGING_PREFIX}{orphan}")
            sinks.delete_path(f"{lin_dir}/run_id={orphan}")
        # a stream batch's splits hold other input: only a job run marks
        # a split of this input done
        done = [r for r in rows if not r["run_id"].startswith(STREAM_RUN_PREFIX)]
        if {int(r["split"]) for r in done} >= set(range(cfg.n_splits)):
            sinks.check_store_n_splits(enc_dir, cfg.n_splits)
            return {**lineage.summarize(done), "run_id": run_id}
    elif not iceberg:
        sinks.delete_path(enc_dir)
        sinks.delete_path(lin_dir)
    skip = frozenset(int(r["split"]) for r in done)
    if not iceberg:
        rows = write_run(spark, df, out_dir, run_id, cfg, skip)
        return {**lineage.summarize(done + rows), "run_id": run_id}

    def wf(table):
        # sinks take factory(df); bind the table name per call site
        return (lambda d: writer_factory(d, table)) if writer_factory else None

    enc, acc = encode_counted(df, cfg.block_size, cfg.n_splits, skip)
    sinks.write_encoded_iceberg(
        enc, out_dir, run_id, writer_factory=wf(out_dir), n_splits=cfg.n_splits
    )
    rows = lineage.lineage_rows(acc.value, run_id)
    if rows:
        lin = lineage.lineage_frame(spark, rows)
        sinks.append_lineage_iceberg(lin, lin_dir, writer_factory=wf(lin_dir))
    return {**lineage.summarize(done + rows), "run_id": run_id}


def main() -> None:
    from .session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--block-size", type=int, default=None)
    ap.add_argument("--n-splits", type=int, default=None)
    ap.add_argument("--preset", type=int, default=5, choices=sorted(PRESETS))
    ap.add_argument(
        "--format",
        choices=("parquet", "iceberg"),
        default="parquet",
        help="parquet dirs (default) or Iceberg catalog tables for BOTH "
        "--input and --output (requires the Iceberg Spark runtime; see README)",
    )
    ap.add_argument(
        "--no-resume",
        action="store_true",
        help="replace the store: delete the output's encoded data and its "
        "lineage before writing (default: keep the store and skip the done splits)",
    )
    ap.add_argument(
        "--direct",
        action="store_true",
        help="pyarrow-direct throughput path (sources/parquet_direct)",
    )
    ap.add_argument(
        "--verify",
        action="store_true",
        help="decode the written output and check every row's "
        "block-combinable hash (crumble's conservation check as a flag)",
    )
    args = ap.parse_args()

    spark = get_spark(app="crumble-spark-encode")
    # replace, never mutate: PRESETS entries are shared process-wide
    overrides = {}
    if args.block_size:
        overrides["block_size"] = args.block_size
    if args.n_splits:
        overrides["n_splits"] = args.n_splits
    cfg = dataclasses.replace(PRESETS[args.preset], **overrides)
    if args.direct:
        from .sources.parquet_direct import encode_job_direct

        lin = encode_job_direct(
            spark, args.input, args.output, block_size=cfg.block_size,
            n_splits=cfg.n_splits, resume=not args.no_resume,
        )
        print(lineage.summarize(lin.collect()))  # a local relation: no job
        if args.verify:
            from .sources.parquet_direct import decode_verify_direct

            totals = decode_verify_direct(spark, f"{args.output}/encoded")
            print(f"verified: {totals}")
    else:
        from . import sinks

        if args.format == "iceberg":
            # table-in/table-out: the input is an Iceberg catalog table,
            # symmetric with the sink (BASELINE input contract)
            df = sinks.read_tokens_iceberg(spark, args.input)
        else:
            df = sinks.read_tokens_parquet(spark, args.input)
        print(
            run_encode_job(
                spark, df, args.output, cfg=cfg, resume=not args.no_resume,
                sink=args.format,
            )
        )
        if args.verify:
            from .decode import decode_df

            enc = (
                spark.read.table(args.output)
                if args.format == "iceberg"
                else spark.read.parquet(f"{args.output}/encoded")
            )
            n = decode_df(enc, verify=True).count()  # raises on any mismatch
            print(f"verified: {n} rows round-trip bit-identical")


if __name__ == "__main__":
    main()
