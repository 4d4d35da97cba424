"""The benchmark workloads.

Both workloads print the same end-to-end metrics, each with the
workload's own meaning (see perfbench/README.md):

=================  ==================================  =================================
metric             bulk_direct                         table_df
=================  ==================================  =================================
encode_tok_s       ``encode_job_direct``, block 4096   ``job.run_encode_job``, preset 5
read_ms            ``decode_verify_direct`` wall       ``lookup.decode_docs`` p50
compression_ratio  sum bytes_in / sum bytes_out        same, from the job's lineage
disk_ratio         raw int32 bytes / store bytes       same
=================  ==================================  =================================

plus ``setup_s``.  With tracing on, the per-layer metrics of
``layers.NAMES`` are printed instead; the traced ``table_df`` run also
sweeps the pipeline queries q3..q8 for the ``pipeline.*`` layer.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import zlib

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from crumble_spark import codecs, synth

from . import harness, inputs, ladder, layers
from .env import EVENT_LOG_DIR, WORK

# corpora: (tokens per regime, giant-row length window, regimes with a giant row)
# No giant in narrow_range or low_card: gen_tokens draws their value range
# or alphabet once per row, so one giant row of theirs swung the corpus's
# compression ratio by 8% between seeds.
BULK_CORPUS = (
    750_000,
    (262_144, 500_000),
    tuple(r for r in synth.REGIMES if r not in ("narrow_range", "low_card")),
)
BULK_BLOCK = 4096
BULK_SPLITS = 64
# one giant above the 262,144-token threshold of the skew-aware path; a
# high-entropy one, as its regime would otherwise swing the ratio per seed
TABLE_CORPUS = (125_000, (262_144, 300_000), ("high_entropy",))
MIN_PASSES = 4
MIN_LOOKUPS = 9
WARM_LOOKUPS = 1
SAMPLE_ROWS = 16


class Run:
    """State of one benchmark process: spans, checks and metrics."""

    def __init__(self, seed: int, seconds: int, trace: bool) -> None:
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.tr = harness.Tracer()
        self.attempted = self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer = dict.fromkeys(layers.NAMES, 0.0)
        self.scratch = os.path.join(WORK, "run")
        self.peak_rss = 0.0
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        self.spark = None
        self.notes: dict = {}  # traced-run details that are not metrics
        # figures that follow from printed metrics (rates from times, shares
        # from counts); kept with the notes, outside the per-layer list
        self.derived: dict[str, float] = self.notes.setdefault("derived", {})

    def check(self, n_ok: int, n_total: int, what: str) -> None:
        if not 0 <= n_ok <= n_total:
            raise ValueError(f"check {what!r} scored {n_ok} of {n_total}")
        self.attempted += n_total
        if n_ok != n_total:
            self.failed += n_total - n_ok
            print(f"check failed: {what} ({n_ok}/{n_total} ok)", file=sys.stderr)

    def start(self, warm_up=None):
        """Session set-up, then the workload's untimed warm-up: both are
        work before the first timed operation, so both count toward
        ``setup_s``."""
        if self.trace:
            shutil.rmtree(EVENT_LOG_DIR, ignore_errors=True)
            os.makedirs(EVENT_LOG_DIR)
        t0 = time.perf_counter()
        spark, t = harness.start_session()
        self.spark = self.tr.spark = spark
        if warm_up is not None:
            warm_up(spark)
        self.e2e["setup_s"] = time.perf_counter() - t0
        self.layer["session.get_spark_s"] = t["get_spark_s"]
        self.layer["session.worker_warm_s"] = t["worker_warm_s"]
        harness.log(f"set-up {self.e2e['setup_s']:.2f} s")
        if self.trace:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            self._wrap_driver_calls()
        return spark

    def _wrap_driver_calls(self) -> None:
        """Spans around driver-side module functions that the timed
        public calls make internally (module globals are looked up at
        call time, so replacing the attribute is enough)."""
        from crumble_spark import sinks
        from crumble_spark.sources import parquet_direct

        from . import tracehooks

        parquet_direct._encode_split = tracehooks.encode_split

        def wrap(mod, attr, name):
            orig = getattr(mod, attr)

            def traced(*a, **k):
                with self.tr.span(name):
                    return orig(*a, **k)

            setattr(mod, attr, traced)

        wrap(parquet_direct, "list_input_splits_distributed", "parquet_direct.list")
        wrap(sinks, "write_encoded_parquet", "sinks.write_encoded_parquet")

    def sample_rss(self) -> None:
        self.peak_rss = max(self.peak_rss, harness.worker_peak_rss_mb())

    def drain_profile(self, prof: layers.Profile, phase: str) -> None:
        """Move the worker profiles gathered so far into ``prof``."""
        if self.trace:
            prof.add(self.spark, os.path.join(WORK, "profile", phase))

    def finish(self) -> None:
        self.layer["peak_worker_rss_mb"] = self.peak_rss
        self.derived["failed_frac"] = self.failed / max(1, self.attempted)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.trace:
            self.layer.update(ladder.run(self.seed))


def _store_ratios(lineage_dir: str, enc_dir: str, n_tokens: int, run: Run) -> None:
    """compression_ratio (sum bytes_in / sum bytes_out from lineage),
    disk_ratio (raw int32 bytes / encoded parquet bytes on disk) and the
    codec histogram."""
    lin = pq.read_table(lineage_dir).to_pydict()
    run.e2e["compression_ratio"] = sum(lin["bytes_in"]) / max(1, sum(lin["bytes_out"]))
    on_disk = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(enc_dir) for f in fs if f.endswith(".parquet")
    )
    run.e2e["disk_ratio"] = 4 * n_tokens / max(1, on_disk)
    for hist in lin["codec_hist"]:
        items = (
            [tuple(map(int, kv.split(":"))) for kv in hist.split(",") if kv]
            if isinstance(hist, str) else hist
        )
        for cid, cnt in items:
            run.layer[f"codecs.blocks.{codecs.CODEC_NAMES[cid]}"] += cnt
    run.check(sum(s == "done" for s in lin["status"]), len(lin["status"]), "lineage status")


def _sample_ids(rng: np.random.Generator, n_rows: int, k: int) -> list[int]:
    return sorted(rng.choice(n_rows, size=min(k, n_rows), replace=False).tolist())


def bulk_direct(run: Run) -> None:
    from crumble_spark.decode import decode_blocks
    from crumble_spark.sources import parquet_direct

    in_dir, meta = inputs.token_corpus(run.seed, *BULK_CORPUS)
    run.layer["setup.inputs_s"] = meta["inputs_s"]
    run.layer["partitioning.giant_rows"] = meta["rows_over_262144"]

    def warm_up(spark):
        # one full pass: the first runs cold (worker imports, first use of
        # JVM code paths) at ~2.5x the time of the next ones
        warm = os.path.join(run.scratch, "warm")
        parquet_direct.encode_job_direct(spark, in_dir, warm, block_size=BULK_BLOCK,
                                         n_splits=BULK_SPLITS, resume=False)
        parquet_direct.decode_verify_direct(spark, f"{warm}/encoded")
        shutil.rmtree(warm)

    spark = run.start(warm_up)
    enc_t, dec_t = [], []
    prof_enc, prof_dec = layers.Profile(), layers.Profile()
    t_stop = time.perf_counter() + run.seconds
    out = None
    while len(enc_t) < MIN_PASSES or time.perf_counter() < t_stop:
        if out:
            shutil.rmtree(out)
        out = os.path.join(run.scratch, f"bulk{len(enc_t)}")
        with run.tr.span("parquet_direct.encode_job_direct") as s:
            parquet_direct.encode_job_direct(
                spark, in_dir, out, block_size=BULK_BLOCK, n_splits=BULK_SPLITS, resume=False
            )
        enc_t.append(s["end"] - s["start"])
        run.drain_profile(prof_enc, "encode")
        with run.tr.span("parquet_direct.decode_verify_direct") as s:
            totals = parquet_direct.decode_verify_direct(spark, f"{out}/encoded")
        dec_t.append(s["end"] - s["start"])
        harness.log(f"encode {enc_t[-1]:.2f} s, decode-verify {dec_t[-1]:.2f} s")
        run.drain_profile(prof_dec, "decode")
        run.check(int(totals["rows"] == meta["rows"]) * meta["rows"], meta["rows"], "decoded rows")
        run.check(int(totals["tokens"] == meta["tokens"]), 1, "decoded tokens")
        run.sample_rss()

    # seeded sample of rows decoded driver-side, bit-identical to gen_row
    rows = inputs.corpus_rows(in_dir)
    picks = _sample_ids(np.random.default_rng([run.seed, 1]), len(rows), SAMPLE_ROWS)
    want = dict(synth.gen_row(run.seed, rows[j][0])[:2] for j in picks)
    got = ds.dataset(f"{out}/encoded", format="parquet").to_table(
        filter=ds.field("doc_id").isin(list(want))
    ).to_pylist()
    by_id: dict[str, list[dict]] = {}
    for r in got:
        by_id.setdefault(r["doc_id"], []).append(r)
    ok = 0
    for doc_id, toks in want.items():
        rs = by_id.get(doc_id, [])
        if len(rs) == 1:  # a row stored twice fails too
            dec, h = decode_blocks(rs[0]["blocks"], verify=True)
            ok += int(h == rs[0]["row_hash"] and np.array_equal(dec, toks))
    run.check(ok, len(want), "sampled rows bit-identical to synth.gen_row")
    _store_ratios(f"{out}/lineage_direct", f"{out}/encoded", meta["tokens"], run)

    run.e2e["encode_tok_s"] = meta["tokens"] / statistics.median(enc_t)
    run.e2e["read_ms"] = 1e3 * statistics.median(dec_t)
    run.derived["decode_tok_s"] = meta["tokens"] / statistics.median(dec_t)
    if run.trace:
        _bulk_layers(run, prof_enc, prof_dec, meta, len(enc_t))
    run.finish()


def _bulk_layers(run: Run, prof: layers.Profile, prof_dec: layers.Profile, meta: dict,
                 n_pass: int) -> None:
    run.spark.stop()  # flushes the event log
    run.spark = None
    log = layers.EventLog(EVENT_LOG_DIR, run.tr.spans)
    L, tr = run.layer, run.tr
    enc = log.select({"parquet_direct.encode_job_direct"})
    dec = log.select({"parquet_direct.decode_verify_direct"})
    bd = layers.encode_breakdown(tr.spans, log, prof)
    L["parquet_direct.list_s"] = tr.total("parquet_direct.list") / n_pass
    L["parquet_direct.read_s"] = prof.ct("tracehooks.py", "read_batches") / n_pass
    L["parquet_direct.write_s"] = prof.ct("core.py", "write_table") / n_pass
    L["parquet_direct.encode.jobs"] = len(enc.jobs) / n_pass
    L["parquet_direct.encode.tasks"] = len(enc.tasks) / n_pass
    L["parquet_direct.encode.task_s_sum"] = enc.task_s_sum() / n_pass
    L["parquet_direct.encode.task_skew"] = enc.task_skew()
    L["parquet_direct.encode.sched_gap_s"] = bd["sched_gap_s"] / n_pass
    L["parquet_direct.encode.driver_tail_s"] = bd["driver_tail_s"] / n_pass
    L["parquet_direct.decode.jobs"] = len(dec.jobs) / n_pass
    L["parquet_direct.decode.tasks"] = len(dec.tasks) / n_pass
    L["parquet_direct.decode.task_s_sum"] = dec.task_s_sum() / n_pass
    L["parquet_direct.decode.task_skew"] = dec.task_skew()
    _encode_layers(run, prof, meta["tokens"], n_pass)
    _decode_layers(run, prof_dec, meta["tokens"], n_pass)
    run.notes["encode_breakdown_s"] = {k: v / n_pass for k, v in bd.items()}


def _encode_layers(run: Run, prof: layers.Profile, n_tokens: int, n_ops: int,
                   df_path: bool = False) -> None:
    """Encode-side profiler numbers, per encode call (``n_ops`` calls of
    ``n_tokens`` tokens each were profiled)."""
    L = run.layer
    flat = prof.ct("encode.py", "encode_flat") / n_ops
    L["encode.df_flat_s" if df_path else "encode.flat_s"] = flat
    if not df_path:
        run.derived["encode.kernel_mtok_s_core"] = n_tokens / max(flat, 1e-9) / 1e6
    L["cost.choose_s"] = (prof.ct("cost.py", "choose_with_stats")
                          + prof.ct("cost.py", "choose")) / n_ops
    slow = prof.calls("cost.py", "choose_with_stats") / n_ops
    L["cost.slow_blocks"] = slow
    blocks = sum(L[f"codecs.blocks.{c}"] for c in layers.CODEC_KEYS)
    run.derived["cost.slow_block_frac"] = slow / max(1, blocks)
    trials = (prof.calls("tile.py", "encode") + prof.calls("fsst.py", "encode")) / n_ops
    L["cost.trial_calls"] = trials
    L["cost.trial_win_frac"] = (
        (L["codecs.blocks.tile"] + L["codecs.blocks.fsst"]) / trials if trials else 0.0
    )


def _decode_layers(run: Run, prof: layers.Profile, n_tokens: int, n_ops: int) -> None:
    L = run.layer
    dec = prof.ct("__init__.py", "decode") / n_ops
    L["decode.codec_s"] = dec
    if dec and n_tokens:
        run.derived["decode.kernel_mtok_s_core"] = n_tokens / dec / 1e6
    L["hashing.block_hash_s"] = prof.ct("hashing.py", "block_hash") / n_ops


def table_df(run: Run) -> None:
    from crumble_spark import job, lookup

    in_dir, meta = inputs.token_corpus(run.seed, *TABLE_CORPUS)
    run.layer["setup.inputs_s"] = meta["inputs_s"]
    run.layer["partitioning.giant_rows"] = meta["rows_over_262144"]
    cfg = job.PRESETS[5]
    corpus = inputs.corpus_rows(in_dir)
    spark = run.start()
    t_stop = time.perf_counter() + run.seconds
    out = os.path.join(run.scratch, "table")
    with run.tr.span("job.run_encode_job") as s:
        summary = job.run_encode_job(
            spark, spark.read.parquet(in_dir), out, cfg=cfg, resume=False
        )
    harness.log(f"encode {s['end'] - s['start']:.2f} s")
    run.e2e["encode_tok_s"] = meta["tokens"] / (s["end"] - s["start"])
    run.check(int(summary["rows"] == meta["rows"]) * meta["rows"], meta["rows"], "lineage rows")
    run.check(int(summary["tokens"] == meta["tokens"]), 1, "lineage tokens")
    n_splits = len({zlib.crc32(d.encode()) % cfg.n_splits for _, d in corpus})
    run.check(int(summary["splits"] == n_splits), 1, "lineage splits")
    _store_ratios(f"{out}/lineage", f"{out}/encoded", meta["tokens"], run)
    run.sample_rss()
    prof_enc, prof_lk = layers.Profile(), layers.Profile()
    run.drain_profile(prof_enc, "encode")

    rng = np.random.default_rng([run.seed, 2])
    enc_dir = f"{out}/encoded"
    lat: list[float] = []
    n_call = 0
    # the first lookups on a fresh store run ~25% slower; untimed
    for _, doc_id in corpus[:WARM_LOOKUPS]:
        lookup.decode_docs(spark, enc_dir, [doc_id]).collect()
    run.drain_profile(layers.Profile(), "warm")  # keep them out of the lookup profile
    while n_call < MIN_LOOKUPS or time.perf_counter() < t_stop:
        k = int(rng.integers(1, 9))
        want = dict(corpus[j][::-1] for j in _sample_ids(rng, len(corpus), k))
        # row ids past the consumed stream are in no corpus
        absent = [f"web-{meta['stream_rows'] + int(rng.integers(0, 10**6)):010d}"
                  for _ in range(int(rng.binomial(k, 0.1)))]
        with run.tr.span("lookup") as s:
            with run.tr.span("lookup.decode_docs"):
                df = lookup.decode_docs(spark, enc_dir, list(want) + absent)
            with run.tr.span("lookup.collect"):
                got = df.collect()
        dt = s["end"] - s["start"]
        n_call += 1
        # one unit per lookup: exactly the present ids, each once, and
        # every row bit-identical
        ok = sorted(r["doc_id"] for r in got) == sorted(want) and all(
            np.array_equal(np.asarray(r["tokens"], np.int32),
                           synth.gen_row(run.seed, want[r["doc_id"]])[1])
            for r in got
        )
        run.check(int(ok), 1, "lookup rows bit-identical, absent ids empty")
        lat.append(dt)
        harness.log(f"lookup of {len(want)}+{len(absent)} ids {dt:.2f} s")
    run.sample_rss()
    run.e2e["read_ms"] = 1e3 * statistics.median(lat)
    pct, tail = harness.tail_percentile(lat)
    run.layer["lookup.tail_ms"] = 1e3 * tail
    run.notes["lookup_tail_pct"] = pct
    if run.trace:
        run.drain_profile(prof_lk, "lookup")
        sweep = _pipeline_sweep(run, spark)
        run.spark.stop()  # flushes the event log
        run.spark = None
        _table_layers(run, prof_enc, prof_lk, meta, n_call)
        _pipeline_layers(run, sweep)
    run.finish()


def _table_layers(run: Run, prof_enc, prof_lk, meta: dict, n_call: int) -> None:
    log = layers.EventLog(EVENT_LOG_DIR, run.tr.spans)
    L, tr = run.layer, run.tr
    jb = log.select({"job.run_encode_job", "sinks.write_encoded_parquet"})
    sink = log.select({"sinks.write_encoded_parquet"})
    lin = log.select({"job.run_encode_job"})
    L["job.jobs"] = len(jb.jobs)
    L["job.stages"] = len(jb.stages)
    L["job.tasks"] = len(jb.tasks)
    L["job.shuffle_write_mb"] = jb.mb("shuffle_w")
    L["job.spill_mb"] = jb.mb("spill")
    L["sinks.write_stage_s"] = sink.stages_s()
    L["lineage.stage_s"] = lin.stages_s()
    L["encode.df_boundary_s"] = max(0.0, sink.task_s_sum() - prof_enc.total_s)
    _encode_layers(run, prof_enc, meta["tokens"], 1, df_path=True)
    _decode_layers(run, prof_lk, 0, n_call)
    lk = log.select({"lookup.decode_docs", "lookup.collect"})
    L["lookup.plan_s"] = tr.total("lookup.decode_docs") / n_call
    L["lookup.exec_s"] = tr.total("lookup.collect") / n_call
    L["lookup.jobs"] = len(lk.jobs) / n_call
    L["lookup.tasks"] = len(lk.tasks) / n_call
    L["lookup.files_read"] = sum(1 for t in lk.tasks if t["bytes_read"]) / n_call
    L["lookup.bytes_read_kb"] = lk.mb("bytes_read") * 1e3 / n_call


CURATE = {
    # bench.py leaf: (registry name, module, function)
    "q3_dedup_minhash": ("dedup_minhash_lsh", "dedup", "q_dedup_minhash"),
    "q4_ann_brute_topk": ("ann_brute_topk", "simsearch", "q_ann_brute_topk"),
    "q5_text_fingerprint": ("text_fingerprint", "textqc", "q_fingerprint"),
    "q6_rel_pricing_summary": ("rel_pricing_summary", "relational", "q_pricing_summary"),
    "q7_curation_funnel": ("corpus_clean_funnel", "curate", "q_clean_funnel"),
    "q8_dedup_clusters": ("dedup_clusters", "dedup", "q_dedup_clusters"),
}


def _pipeline_sweep(run: Run, spark) -> dict[str, float]:
    """q3..q8 once each, materialised through the ``noop`` sink (t0 is
    taken before the query function: q8 runs its loop while building the
    frame), then one untimed collect per query checked against its
    DuckDB oracle.  Returns {leaf: seconds}."""
    import importlib

    oracle_sql, fns = {}, {}
    for leaf, (reg, mod, fn) in CURATE.items():
        m = importlib.import_module(f"crumble_spark.pipeline.{mod}")
        oracle_sql[reg] = m.ORACLES[reg]
        fns[leaf] = getattr(m, fn)
    sf_dir, meta = inputs.curate_tables(oracle_sql)
    run.layer["setup.oracle_s"] = meta["oracle_s"]
    gs = inputs._gate_sim()
    out = {}
    for leaf, fn in fns.items():
        with run.tr.span(f"pipeline.{leaf}") as s:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        out[leaf] = s["end"] - s["start"]
        harness.log(f"{leaf} {out[leaf]:.2f} s")
        got = gs._norm(df.toPandas())
        n, cols, h = meta["expect"][CURATE[leaf][0]]
        ok = len(got) == n and list(got.columns) == cols and gs._value_hash(got) == h
        run.check(int(ok), 1, f"{leaf} matches its DuckDB oracle")
    return out


def _pipeline_layers(run: Run, sweep: dict[str, float]) -> None:
    log = layers.EventLog(EVENT_LOG_DIR, run.tr.spans)
    L = run.layer
    for leaf, sec in sweep.items():
        q = log.select({f"pipeline.{leaf}"})
        L[f"pipeline.{leaf}.s"] = sec
        L[f"pipeline.{leaf}.jobs"] = len(q.jobs)
        L[f"pipeline.{leaf}.shuffle_write_mb"] = q.mb("shuffle_w")
        L[f"pipeline.{leaf}.short_task_frac"] = q.short_task_frac()
    L["pipeline.curate_s"] = sum(sweep.values())
    all_q = log.select({f"pipeline.{q}" for q in CURATE})
    L["pipeline.spill_mb"] = all_q.mb("spill")
    run.derived["pipeline.short_task_frac"] = all_q.short_task_frac()


WORKLOADS = {"bulk_direct": bulk_direct, "table_df": table_df}
