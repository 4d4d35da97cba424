"""Shared pieces of a benchmark run: spans, session set-up timing, worker
memory, percentiles and the result line."""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import uuid


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls
    into the engine's modules.  While a span is open the Spark job
    description is ``<run_id>|<span name>``, so every event-log job maps
    back to the innermost span that launched it."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.spark is not None else None
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        if sc is not None:
            sc.setJobDescription(f"{self.run_id}|{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else None
                sc.setJobDescription(f"{self.run_id}|{outer}" if outer else None)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds and self seconds (the
        span's duration minus what its child spans cover; children of
        one span run one after another)."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            dur = sp["end"] - sp["start"]
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == sp["id"])
            acc = out.setdefault(sp["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            acc["calls"] += 1
            acc["total_s"] += dur
            acc["self_s"] += dur - kids
        return out


def _warm_workers(spark) -> None:
    """One task per slot that imports the engine's worker-side modules,
    so the first timed operation does not pay for worker start-up."""
    import pandas as pd

    def warm(batches):
        import pyarrow.parquet  # noqa: F401

        from crumble_spark import codecs, cost, decode, encode, hashing  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    par = spark.sparkContext.defaultParallelism
    spark.range(0, par, numPartitions=par).mapInPandas(warm, "n long").collect()


def start_session():
    """Set the session up and return (spark, timings): ``get_spark`` (which
    starts the JVM) plus the worker warm-up, until the first timed
    operation can start."""
    from crumble_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="crumble-spark-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warm_workers(spark)
    t2 = time.perf_counter()
    return spark, {"setup_s": t2 - t0, "get_spark_s": t1 - t0, "worker_warm_s": t2 - t1}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a Spark
    Python worker whose parent (the JVM or the worker daemon) ends before
    it becomes this process's child, so ``stop_processes`` still finds it
    and waits for it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark session and the JVM that pyspark launched, then every
    process still below this one, and wait until each has ended.  Closing
    the JVM's stdin is its own signal to exit; what is still running after
    ``grace_s`` gets SIGTERM, then SIGKILL."""
    import signal

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        pids = _descendants(os.getpid())
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        time.sleep(0.1)


def worker_peak_rss_mb() -> float:
    """Max VmHWM (peak resident set) over this process's Python worker
    descendants, read from /proc."""
    peak = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if b"pyspark" not in cmd or b"java" in cmd.split(b"\0", 1)[0]:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """(p, value): the highest percentile p (in whole percent, at most 99)
    with at least ``min_beyond`` samples above it.  Falls back to p50."""
    n = len(values)
    s = sorted(values)
    best = 50
    for p in range(99, 49, -1):
        if n - int(n * p / 100) - 1 >= min_beyond:
            best = p
            break
    return best, s[min(n - 1, int(n * best / 100))]


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )

