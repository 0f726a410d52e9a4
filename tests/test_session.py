"""Python worker start-up: the daemon shim that takes Spark's pyspark/py4j
archives off the workers' path, its fallback, and ``get_spark``'s guard."""

import os
import sys
import types
import zipfile

import pytest

from sen2rts_spark import _daemon, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_holds_no_spark_zipimporter(spark):
    # every zipimporter a worker caches re-reads its archive on each task's
    # importlib.invalidate_caches(); Spark's stock daemon leaves 16 of them
    from pyspark.find_spark_home import _find_spark_home
    home = os.path.realpath(_find_spark_home())

    def zip_importers(batches):
        import zipimport

        import pyarrow as pa
        for _ in batches:
            pass
        keys = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict(
            {"path": keys}, schema=pa.schema([("path", pa.string())]))

    rows = spark.range(0, 1, 1, 1).mapInArrow(
        zip_importers, "path string").collect()
    under_home = [r.path for r in rows
                  if os.path.realpath(r.path).startswith(home + os.sep)]
    assert under_home == []
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "sen2rts_spark._daemon"


@pytest.fixture
def layout(tmp_path):
    """Spark-style archives next to a directory install of the same
    pyspark/py4j; returns (archives, site dir) for building paths."""
    lib = tmp_path / "lib"
    site = tmp_path / "site"
    lib.mkdir()
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    version = "__version__ = '9.9.9'\n"
    (site / "pyspark" / "version.py").write_text(version)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    (lib / "spark-core.jar").write_bytes(b"")
    archives = [str(lib / n) for n in
                ("pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core.jar")]
    return archives, site


def test_strips_archives_when_same_pyspark_is_installed(layout, tmp_path):
    archives, site = layout
    path = [str(tmp_path), *archives, str(site)]
    assert _daemon.stripped_path(path) == [str(tmp_path), str(site)]


def test_keeps_path_without_directory_pyspark(layout):
    archives, site = layout
    (site / "pyspark" / "__init__.py").unlink()
    (site / "pyspark" / "version.py").unlink()
    (site / "pyspark").rmdir()
    path = [*archives, str(site)]
    assert _daemon.stripped_path(path) is path


def test_keeps_path_without_directory_py4j(layout):
    archives, site = layout
    (site / "py4j" / "__init__.py").rename(site / "py4j" / "other.py")
    (site / "py4j").rename(site / "not_py4j")
    path = [*archives, str(site)]
    assert _daemon.stripped_path(path) is path


def test_keeps_path_when_version_differs(layout):
    archives, site = layout
    (site / "pyspark" / "version.py").write_text("__version__ = '9.9.8'\n")
    path = [*archives, str(site)]
    assert _daemon.stripped_path(path) is path


def test_main_falls_back_to_stock_daemon(layout, monkeypatch):
    # no directory install on the path: the daemon still starts, with the
    # path and the importer cache exactly as Spark set them
    archives, _ = layout
    path = list(archives)
    cache = {archives[0]: object()}
    calls = []
    monkeypatch.setattr(sys, "path", path)
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(_daemon.runpy, "run_module",
                        lambda *a, **k: calls.append((a, k)))
    _daemon.main()
    assert sys.path == archives and set(cache) == {archives[0]}
    assert calls == [(("pyspark.daemon",),
                      {"run_name": "__main__", "alter_sys": True})]


def test_main_drops_archive_importers(layout, monkeypatch):
    archives, site = layout
    keep = str(site)
    other = keep + ".zip"
    cache = {k: object() for k in (
        archives[0], archives[0] + os.sep + "pyspark" + os.sep, archives[2],
        other)}
    monkeypatch.setattr(sys, "path", [*archives, keep])
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(_daemon.runpy, "run_module", lambda *a, **k: None)
    _daemon.main()
    assert sys.path == [keep]
    assert set(cache) - {keep} == {other}


def test_package_importability_guard(monkeypatch, tmp_path):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert session.workers_can_import_package()
    monkeypatch.chdir(tmp_path)
    assert not session.workers_can_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO]))
    assert session.workers_can_import_package()


class _Builder:
    """Records ``get_spark``'s builder calls instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize("importable", [True, False])
def test_get_spark_sets_daemon_only_when_importable(monkeypatch, importable):
    monkeypatch.setattr(session, "workers_can_import_package",
                        lambda: importable)
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=_Builder()))
    conf = session.get_spark(cores=2)
    assert (conf.get("spark.python.daemon.module")
            == ("sen2rts_spark._daemon" if importable else None))
    override = {"spark.python.daemon.module": "pyspark.daemon"}
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=_Builder()))
    conf = session.get_spark(cores=2, extra_conf=override)
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
