"""Session construction: shuffle width from an explicit local master,
and logging of runtime confs the session refuses. Both run against a
stand-in builder, so the shared test session is never rebuilt."""

from __future__ import annotations

import logging

from sparkstreaming_gmall_demo_spark import session


class _Conf:
    def __init__(self, refuse=()):
        self.refuse = set(refuse)

    def set(self, key, value):
        if key in self.refuse:
            raise RuntimeError(f"cannot modify the value of a static config: {key}")


class _Spark:
    def __init__(self, refuse=()):
        self.conf = _Conf(refuse)


class _Builder:
    def __init__(self):
        self.confs = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.confs["master"] = master
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return _Spark()


def _shuffle_partitions(monkeypatch, **kw) -> str:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", type("S", (), {"builder": builder}))
    session.get_spark(**kw)
    return builder.confs["spark.sql.shuffle.partitions"]


def test_explicit_local_master_sizes_shuffle_from_its_cores(monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 32)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert _shuffle_partitions(monkeypatch, master="local[12]") == "12"
    assert _shuffle_partitions(monkeypatch, master="local[2]") == "8"  # floor
    assert _shuffle_partitions(monkeypatch, master="local[*]") == "32"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _shuffle_partitions(monkeypatch) == "8"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    assert _shuffle_partitions(monkeypatch) == "16"


def test_ensure_runtime_confs_logs_each_skipped_key(caplog):
    refused = ["spark.sql.session.timeZone", "spark.sql.adaptive.enabled"]
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.ensure_runtime_confs(_Spark(refuse=refused))
    logged = [r.getMessage() for r in caplog.records if r.name == session.__name__]
    assert len(logged) == len(refused)
    for key, line in zip(refused, logged):
        assert key in line
