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
