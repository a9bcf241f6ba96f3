"""get_spark's local sizing defaults."""

from easyner_spark import session


class _Builder:
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
        return self.conf


class _Session:
    builder = None


def _conf(monkeypatch, **kwargs) -> dict:
    _Session.builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", _Session)
    return session.get_spark(**kwargs)


def test_cores_default_to_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    conf = _conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "8"


def test_env_and_argument_override_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    conf = _conf(monkeypatch)
    assert conf["master"] == "local[12]"
    assert conf["spark.sql.shuffle.partitions"] == "12"
    assert _conf(monkeypatch, cores=2)["master"] == "local[2]"
