"""get_spark's core count, without starting Spark: a fake builder records
the master and confs the session would start with."""

from __future__ import annotations

import os
import types

import pytest

from otlp2parquet_spark import session


class _FakeBuilder:
    def __init__(self) -> None:
        self.conf: dict[str, str] = {}

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


@pytest.mark.parametrize("value", [None, "", "3"])
def test_cpus_from_env_or_affinity(monkeypatch, value):
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=_FakeBuilder()))
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    cpus = value or str(len(os.sched_getaffinity(0)))
    conf = session.get_spark()
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == cpus
    assert conf["spark.sql.sources.parallelPartitionDiscovery.parallelism"] == cpus
    assert session.get_spark(shuffle_partitions=8)["spark.sql.shuffle.partitions"] == "8"
