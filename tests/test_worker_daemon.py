"""Python worker daemon: Spark's archives leave the workers' ``sys.path``
only when the installed pyspark can stand in for them, and ``get_spark``
selects the daemon only when workers can import the package."""

import os
import sys
import zipfile
import zipimport

import pytest

from twilio_event_streams_reporting_example_spark import session, worker_daemon


def _site(root, pyspark_version="4.1.2", py4j=True):
    """A directory holding pyspark and py4j as installed. A version of None
    leaves pyspark out; "" leaves a bare ``pyspark/`` directory."""
    root.mkdir()
    if pyspark_version is not None:
        (root / "pyspark").mkdir()
    if pyspark_version:
        (root / "pyspark" / "__init__.py").write_text("")
        (root / "pyspark" / "version.py").write_text(f'__version__: str = "{pyspark_version}"\n')
    if py4j:
        (root / "py4j").mkdir()
        (root / "py4j" / "__init__.py").write_text("")
    return str(root)


def _archives(tmp_path):
    """Spark's three archives: pyspark.zip, the py4j zip and a core jar."""
    zp = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    py4j = tmp_path / "py4j-src.zip"
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark-core.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe")
    return [str(zp), str(py4j), str(jar)]


@pytest.fixture
def clean_importer_cache(monkeypatch):
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))


def test_trims_archives_when_installed_pyspark_matches(tmp_path, clean_importer_cache):
    site = _site(tmp_path / "site")
    path = [str(tmp_path), *_archives(tmp_path), site]
    assert worker_daemon.trimmed_path(path) == [str(tmp_path), site]


@pytest.mark.parametrize(
    "site_kw",
    [{"pyspark_version": None}, {"pyspark_version": ""}, {"py4j": False}, {"pyspark_version": "4.0.0"}],
    ids=["pyspark-missing", "pyspark-namespace-dir", "py4j-missing", "version-mismatch"],
)
def test_keeps_spark_path_when_install_cannot_stand_in(tmp_path, clean_importer_cache, site_kw):
    path = [*_archives(tmp_path), _site(tmp_path / "site", **site_kw)]
    assert worker_daemon.trimmed_path(path) is path


def _run_main(monkeypatch, path):
    """Run the daemon's entry point over ``path`` and return the path and
    importer-cache keys ``pyspark.daemon.manager`` starts with."""
    import pyspark.daemon

    seen = []
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(
        pyspark.daemon, "manager", lambda: seen.append((list(sys.path), set(sys.path_importer_cache)))
    )
    worker_daemon.main()
    assert len(seen) == 1
    return seen[0]


def test_main_drops_archives_and_their_importers(tmp_path, monkeypatch, clean_importer_cache):
    archives = _archives(tmp_path)
    site = _site(tmp_path / "site")
    # importers Spark's own imports would have left, a sub-package one included
    for key in (archives[2], os.path.join(archives[0], "pyspark")):
        sys.path_importer_cache[key] = zipimport.zipimporter(key)
    started_path, cache = _run_main(monkeypatch, [*archives, site])
    assert started_path == [site]
    assert [k for k in cache if k.startswith(tuple(archives))] == []


def test_main_falls_back_to_stock_path_on_version_mismatch(tmp_path, monkeypatch, clean_importer_cache):
    path = [*_archives(tmp_path), _site(tmp_path / "site", pyspark_version="3.5.0")]
    started_path, cache = _run_main(monkeypatch, path)
    assert started_path == path
    assert path[0] in cache  # the zip importer stays: nothing was trimmed


def test_workers_import_package_decision(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    other = str(tmp_path)
    assert session.workers_import_package(root, "")
    assert session.workers_import_package(other, os.pathsep.join([other, root]))
    assert not session.workers_import_package(other, "")
    assert not session.workers_import_package(other, os.pathsep.join(["", other]))


def test_get_spark_keeps_stock_daemon_when_workers_cannot_import(tmp_path, monkeypatch):
    """The fallback: from another cwd with no PYTHONPATH, get_spark must not
    name the package daemon, or no pandas UDF could start."""
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
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    with pytest.raises(RuntimeError, match="before a JVM"):
        session.get_spark()
    assert "spark.python.daemon.module" not in confs
    assert "spark.sql.session.timeZone" in confs

    confs.clear()
    monkeypatch.setenv("PYTHONPATH", os.path.dirname(os.path.dirname(session.__file__)))
    with pytest.raises(RuntimeError, match="before a JVM"):
        session.get_spark()
    assert confs["spark.python.daemon.module"] == session.WORKER_DAEMON


def test_running_jvm_decides_for_its_workers(spark, tmp_path, monkeypatch):
    """Once a JVM runs, its working directory and PYTHONPATH are the
    workers', not this process's later ones."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    cwd, pythonpath = session._worker_cwd_and_pythonpath()
    assert str(tmp_path) not in (cwd, *pythonpath.split(os.pathsep))


def test_workers_load_installed_pyspark_without_archives(spark):
    """On the package session, a worker's sys.path holds no archive and its
    pyspark is the driver's."""
    import json

    import pyspark

    def report(batches):
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"s": [json.dumps([sys.path, pyspark.__file__])]})

    rows = spark.range(2, numPartitions=2).mapInPandas(report, "s string").collect()
    assert len(rows) == 2
    for row in rows:
        path, pyspark_file = json.loads(row.s)
        assert [p for p in path if p.endswith((".zip", ".jar"))] == []
        assert os.path.dirname(pyspark_file) == os.path.dirname(pyspark.__file__)
