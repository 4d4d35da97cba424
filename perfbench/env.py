"""Launch environment for every benchmark process, set before pyspark
starts its JVM so the driver, the JVM and the Python workers all see it.

* ``SPARK_GRAFT_CPUS`` is the host's usable CPU count: ``session.get_spark``
  otherwise opens ``local[32]`` whatever the host has.
* The checkout root goes on ``PYTHONPATH`` so ``mapInPandas`` workers can
  import ``crumble_spark`` (they do not inherit the driver's ``sys.path``).
* Spark scratch, the JVM temp dirs, the warehouse and the event log live
  under ``perfbench/.work``, and the JVMs keep no perf-data file, so a
  run writes only inside its checkout.
"""

from __future__ import annotations

import os
import shlex

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
EVENT_LOG_DIR = os.path.join(WORK, "eventlog")


def host_cpus() -> int:
    """`nproc` without the OMP_NUM_THREADS override: the CPUs this
    process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare(trace: bool) -> None:
    """Set the launch environment in ``os.environ``."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, EVENT_LOG_DIR):
        os.makedirs(d, exist_ok=True)
    confs = {
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + EVENT_LOG_DIR,
                "spark.eventLog.compress": "false",
            }
        )
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "PYTHONPATH": pythonpath,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the session default is a 16 GB heap; the benchmark's inputs are
        # a few hundred MB and the host's memory is shared
        "SPARK_DRIVER_MEM": "4g",
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })

