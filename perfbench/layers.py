"""Per-layer numbers of a traced run, named after the engine's modules.

Three sources:
* the harness spans (``harness.Tracer``): driver-side wall per call;
* the Spark event log (uncompressed JSON lines): jobs, stages and tasks,
  mapped to spans through the ``<run_id>|<span>`` job description;
* the Python UDF profiler (``spark.sql.pyspark.udf.profiler=perf``):
  cumulative time and call counts of worker-side functions.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import shutil
import statistics

from crumble_spark import codecs

from . import ladder

CODEC_KEYS = [codecs.CODEC_NAMES[i] for i in sorted(codecs.CODEC_NAMES)]
QUERIES = (
    "q3_dedup_minhash", "q4_ann_brute_topk", "q5_text_fingerprint",
    "q6_rel_pricing_summary", "q7_curation_funnel", "q8_dedup_clusters",
)

NAMES = (
    [
        "session.get_spark_s", "session.worker_warm_s", "setup.inputs_s", "setup.oracle_s",
        "parquet_direct.list_s", "parquet_direct.read_s", "parquet_direct.write_s",
        "parquet_direct.encode.jobs", "parquet_direct.encode.tasks",
        "parquet_direct.encode.task_s_sum", "parquet_direct.encode.task_skew",
        "parquet_direct.encode.sched_gap_s", "parquet_direct.encode.driver_tail_s",
        "parquet_direct.decode.jobs", "parquet_direct.decode.tasks",
        "parquet_direct.decode.task_s_sum", "parquet_direct.decode.task_skew",
        "encode.flat_s", "encode.df_flat_s", "encode.df_boundary_s",
        "cost.choose_s", "cost.slow_blocks", "cost.trial_calls",
        "cost.trial_win_frac",
    ]
    + [f"codecs.blocks.{c}" for c in CODEC_KEYS]
    + ladder.names()
    + [
        "decode.codec_s", "hashing.block_hash_s",
        "job.jobs", "job.stages", "job.tasks", "job.shuffle_write_mb", "job.spill_mb",
        "partitioning.giant_rows", "sinks.write_stage_s", "lineage.stage_s",
        "lookup.plan_s", "lookup.exec_s", "lookup.jobs", "lookup.tasks", "lookup.files_read",
        "lookup.bytes_read_kb", "lookup.tail_ms",
    ]
    + [f"pipeline.{q}.{m}" for q in QUERIES
       for m in ("s", "jobs", "shuffle_write_mb", "short_task_frac")]
    + ["pipeline.curate_s", "pipeline.spill_mb"]
    + ["peak_worker_rss_mb"]
)
_UNIT_RULES = (
    ("mtok_s", "Mtok/s"), ("_tok_s", "tokens/s"), ("_ms", "ms"), ("_mb", "MB"),
    ("_kb", "KB"), ("_frac", "fraction"), ("_pct", "%"), ("_ratio", "x"),
    ("_skew", "x"), ("_s", "s"), (".s", "s"), ("_s_sum", "s"),
)


def unit_of(name: str) -> str:
    if name.startswith("codecs.blocks."):
        return "count"
    base = name.rsplit(".b", 1)[0] if ".b" in name[-6:] else name
    base = base.removesuffix("_core")
    for suffix, unit in _UNIT_RULES:
        if base.endswith(suffix):
            return unit
    return "count"


def better_of(name: str) -> str:
    """Rates and the trial win share are better higher; times, counts,
    sizes and skews are better lower."""
    return "higher" if "tok_s" in name or name.endswith("win_frac") else "lower"


# ---------------------------------------------------------------- profiler

class Profile:
    """Worker-side profile of one phase: ``spark.profile.dump`` files
    merged into {(file basename, function): [ncalls, cumtime]}.  ``add``
    drains the session's profiler into this phase."""

    def __init__(self) -> None:
        self.fn: dict[tuple[str, str], list[float]] = {}
        self.total_s = 0.0

    def add(self, spark, dump_dir: str) -> "Profile":
        shutil.rmtree(dump_dir, ignore_errors=True)
        spark.profile.dump(dump_dir)
        spark.profile.clear()
        for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
            st = pstats.Stats(path)
            self.total_s += st.total_tt
            for (f, _line, name), (_cc, nc, _tt, ct, _callers) in st.stats.items():
                acc = self.fn.setdefault((os.path.basename(f), name), [0, 0.0])
                acc[0] += nc
                acc[1] += ct
        return self

    def ct(self, file: str, name: str) -> float:
        return self.fn.get((file, name), (0, 0.0))[1]

    def calls(self, file: str, name: str) -> int:
        return int(self.fn.get((file, name), (0, 0.0))[0])


# ---------------------------------------------------------------- event log

class EventLog:
    """Jobs, completed stages and tasks of one application's event log.  A job
    whose description is not a span's (Spark's own file-listing jobs set
    their own) goes to the innermost span open when it was submitted."""

    def __init__(self, log_dir: str, spans: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        # Spark 4 writes rolling logs: one eventlog_v2_<app> dir per
        # application holding events_<n>_<app> files; the newest app is
        # the session the workload ran in
        apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
        if not apps:
            return
        parts = sorted(glob.glob(os.path.join(apps[-1], "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        for line in _lines(parts):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                t = ev["Submission Time"] / 1e3
                span = desc.split("|", 1)[1] if "|" in desc else _innermost(spans, t)
                self.jobs[ev["Job ID"]] = {
                    "span": span, "stages": ev.get("Stage IDs", []),
                    "start": t,
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "start": (info.get("Submission Time") or 0) / 1e3,
                    "end": (info.get("Completion Time") or 0) / 1e3,
                }
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                inp = tm.get("Input Metrics") or {}
                self.tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "start": ti["Launch Time"] / 1e3,
                        "end": ti["Finish Time"] / 1e3,
                        "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                        "bytes_read": inp.get("Bytes Read", 0),
                    }
                )

    def select(self, spans: set[str]) -> "Slice":
        jobs = [j for j in self.jobs.values() if j["span"] in spans]
        sids = {s for j in jobs for s in j["stages"] if s in self.stages}
        return Slice(jobs, [self.stages[s] for s in sids],
                     [t for t in self.tasks if t["stage"] in sids])


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as fh:
            yield from fh


def _innermost(spans: list[dict], t: float) -> str:
    open_at = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
    return max(open_at, key=lambda s: s["start"])["name"] if open_at else ""


class Slice:
    def __init__(self, jobs: list[dict], stages: list[dict], tasks: list[dict]) -> None:
        self.jobs, self.stages, self.tasks = jobs, stages, tasks

    def task_s_sum(self) -> float:
        return sum(t["end"] - t["start"] for t in self.tasks)

    def task_skew(self) -> float:
        d = [t["end"] - t["start"] for t in self.tasks]
        return max(d) / max(statistics.median(d), 1e-3) if d else 0.0

    def covered_s(self) -> float:
        """Wall time during which at least one task ran."""
        total, cur_s, cur_e = 0.0, None, None
        for t in sorted(self.tasks, key=lambda t: t["start"]):
            if cur_e is None or t["start"] > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = t["start"], t["end"]
            else:
                cur_e = max(cur_e, t["end"])
        return total + (cur_e - cur_s if cur_e is not None else 0.0)

    def last_task_end(self) -> float | None:
        return max((t["end"] for t in self.tasks), default=None)

    def short_task_frac(self) -> float:
        """Share of tasks that ran under 100 ms."""
        short = sum(t["end"] - t["start"] < 0.1 for t in self.tasks)
        return short / max(1, len(self.tasks))

    def mb(self, key: str) -> float:
        return sum(t[key] for t in self.tasks) / 1e6

    def stages_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.stages)


def encode_breakdown(spans: list[dict], log: EventLog, prof: Profile) -> dict[str, float]:
    """Direct-path encode wall split into driver-side listing, scheduling
    gap (wall with no task running) and driver tail (after the last task:
    job commit, lineage and sidecar), plus the wall the tasks covered.
    The covered wall is split in proportion to slot time: read, kernel and
    write (profiler), the rest of the Python UDF, and task time outside
    the UDF (task launch, JVM<->Python transfer, worker bookkeeping).
    Summed over every ``encode_job_direct`` call of the run."""
    keys = ("wall_s", "list_s", "sched_gap_s", "driver_tail_s", "read_s", "kernel_s",
            "write_s", "udf_rest_s", "outside_udf_s")
    out = dict.fromkeys(keys, 0.0)
    slot = {
        "read_s": prof.ct("tracehooks.py", "read_batches"),
        "kernel_s": prof.ct("encode.py", "encode_flat"),
        "write_s": prof.ct("core.py", "write_table"),
    }
    slot["udf_rest_s"] = prof.total_s - sum(slot.values())
    task_slot = 0.0
    covered = 0.0
    for sp in spans:
        if sp["name"] != "parquet_direct.encode_job_direct":
            continue
        kids = [s for s in spans if s["parent"] == sp["id"]]
        sl = log.select({sp["name"]} | {s["name"] for s in kids})
        sl.tasks = [t for t in sl.tasks if sp["start"] <= t["start"] <= sp["end"]]
        lst = sum(s["end"] - s["start"] for s in kids if s["name"] == "parquet_direct.list")
        last = sl.last_task_end() or sp["end"]
        out["wall_s"] += sp["end"] - sp["start"]
        out["list_s"] += lst
        out["driver_tail_s"] += sp["end"] - last
        out["sched_gap_s"] += (last - sp["start"]) - lst - sl.covered_s()
        covered += sl.covered_s()
        task_slot += sl.task_s_sum()
    slot["outside_udf_s"] = max(0.0, task_slot - prof.total_s)
    scale = covered / max(sum(slot.values()), 1e-9)
    for k, v in slot.items():
        out[k] = v * scale
    return out
