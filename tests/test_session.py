"""The package session's settings that follow the host."""

import os

import pytest

from twilio_event_streams_reporting_example_spark import session

GIB = 1 << 30


def test_default_driver_memory_is_three_quarters_of_ram_capped_at_16g():
    assert session.default_driver_memory(15 * GIB) == "11520m"
    assert session.default_driver_memory(4 * GIB) == "3072m"
    # a large host keeps the old 16g default
    assert session.default_driver_memory(64 * GIB) == "16384m"
    assert session.default_driver_memory(int(21.4 * GIB)) == "16384m"


def _driver_memory_conf(monkeypatch) -> str:
    from pyspark.sql import SparkSession

    confs = {}

    class Builder:
        def __getattr__(self, name):
            return lambda *a: self

        def config(self, key, value):
            confs[key] = value
            return self

        def getOrCreate(self):
            raise RuntimeError("stop before a JVM")

    monkeypatch.setattr(SparkSession, "builder", Builder())
    monkeypatch.setattr(session.SparkContext, "_jvm", None)
    with pytest.raises(RuntimeError, match="before a JVM"):
        session.get_spark()
    return confs["spark.driver.memory"]


def test_get_spark_driver_memory_follows_host_unless_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert _driver_memory_conf(monkeypatch) == session.default_driver_memory(phys)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory_conf(monkeypatch) == "3g"
