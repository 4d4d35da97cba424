"""session.get_spark: the local master follows the host when unconfigured."""

import os

from crumble_spark import session


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def test_get_spark_defaults_to_host_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    conf = session.get_spark().conf
    assert conf["master"] == f"local[{os.cpu_count()}]"
    assert conf["spark.sql.shuffle.partitions"] == str(os.cpu_count())


def test_a_second_task_reads_no_zip_directory(spark):
    # pyspark starts every Python task with importlib.invalidate_caches();
    # on a worker that imported the engine in an earlier task, that call
    # re-reads no zip directory (crumble_spark.zipcache)
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import crumble_spark  # noqa: F401  as every engine task does

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "zips": [zips]})

    par = spark.sparkContext.defaultParallelism
    frame = spark.range(par, numPartitions=par).mapInArrow(probe, "reads long, zips long")
    frame.collect()  # every worker has run a task that imported the engine
    rows = frame.collect()
    assert all(r["zips"] > 0 for r in rows)  # the workers import from zips
    assert [r["reads"] for r in rows] == [0] * par


_SUBMITTED = '''
import json
import sys

import pyarrow as pa

import crumble_spark
from crumble_spark.session import get_spark
from crumble_spark.sources import parquet_direct as direct


def where(batches):
    import crumble_spark

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"file": [crumble_spark.__file__]})


inp, out = sys.argv[1:]
spark = get_spark()
sc = spark.sparkContext
workers = spark.range(2, numPartitions=2).mapInArrow(where, "file string").collect()
direct.encode_job_direct(spark, inp, out, block_size=256, n_splits=8)
print(json.dumps({
    "master": sc.master,
    "task_cpus": sc.getConf().get("spark.task.cpus"),
    "driver": crumble_spark.__file__,
    "workers": sorted({r["file"] for r in workers}),
    "verified": direct.decode_verify_direct(spark, f"{out}/encoded"),
}))
spark.stop()
'''


def test_spark_submit_keeps_the_launchers_master_and_ships_the_zip(spark, tmp_path):
    # under spark-submit, get_spark keeps the launcher's master and
    # spark.task.cpus, and the engine runs from the --py-files zip alone:
    # the checkout is on neither the driver's nor the workers' path
    import json
    import subprocess
    import sys

    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.find_spark_home import _find_spark_home

    from crumble_spark import synth

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "crumble_spark.zip")
    subprocess.run(["bash", os.path.join(root, "scripts", "package.sh"), zip_path], check=True,
                   capture_output=True)
    inp = str(tmp_path / "tokens")
    synth.synth_table(spark, 60, seed=5, mean_len=300, parts=3).write.parquet(inp)
    t = ds.dataset(inp).to_table(columns=["tokens"])
    script = tmp_path / "submitted.py"
    script.write_text(_SUBMITTED)
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT")}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [os.path.join(_find_spark_home(), "bin", "spark-submit"), "--master", "local[2]",
         "--conf", "spark.task.cpus=2", "--py-files", zip_path, str(script), inp,
         str(tmp_path / "out")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert (got["master"], got["task_cpus"]) == ("local[2]", "2")
    assert got["driver"] == f"{zip_path}/crumble_spark/__init__.py"
    # the workers import the copy Spark shipped to the executor
    assert got["workers"]
    assert all(f.endswith("/crumble_spark.zip/crumble_spark/__init__.py") for f in got["workers"])
    assert got["verified"] == {
        "rows": t.num_rows, "tokens": pc.sum(pc.list_value_length(t["tokens"])).as_py(),
    }
