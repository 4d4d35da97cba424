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

