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


def test_checkpoint_manager_renames_through_filesystem_and_refuses_overwrite(spark, tmp_path):
    """A ``file:`` checkpoint gets the FileSystem-based manager, which renames
    without forking ``readlink``, and keeps the no-overwrite commit that
    ``HDFSMetadataLog`` relies on to detect a concurrent writer."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri()), hadoop_conf
    )
    assert fm.getClass().getName() == session.CHECKPOINT_FILE_MANAGER

    target = tmp_path / "0"
    path = jvm.org.apache.hadoop.fs.Path(target.as_uri())
    first = fm.createAtomic(path, False)
    first.write(bytearray(b"first writer"))
    first.close()
    second = fm.createAtomic(path, False)
    second.write(bytearray(b"second writer"))
    with pytest.raises(Py4JJavaError) as err:
        second.close()
    # Spark raises its SparkFileAlreadyExistsException, a subclass of the
    # Hadoop exception HDFSMetadataLog catches
    already_exists = jvm.org.apache.hadoop.fs.FileAlreadyExistsException._java_lang_class
    assert already_exists.isInstance(err.value.java_exception)
    assert target.read_bytes() == b"first writer"
    # ChecksumFileSystem still writes the checksum beside the data file
    assert (tmp_path / ".0.crc").exists()
