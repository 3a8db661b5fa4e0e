"""Session factory configuration (``session.get_session``)."""

from __future__ import annotations

from types import SimpleNamespace

from spark_ml_algo_lib_master_tongji_spark import session


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the master and every
    ``.config`` call instead of starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None)
        )


def test_cpus_set_after_import_sets_master_and_shuffle_partitions(monkeypatch):
    """SPARK_GRAFT_CPUS is read when the session is built, not when the
    package is imported, so a process that sets it late gets ``local[N]``
    with N shuffle partitions — not ``local[N]`` with the import-time
    default."""
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_session()
    assert builder.conf["master"] == "local[3]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"
