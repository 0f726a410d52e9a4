"""Python worker daemon that imports pyspark from its installed directory.

Spark starts each Python worker daemon with its own archives first on
``sys.path``: ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar. Every task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 each cached
``zipimporter`` then re-reads its archive's whole central directory — about
0.25 CPU-s per task with the 16 importers a worker holds. When the same
pyspark (``pyspark/version.py`` byte-equal to the zip's) and py4j are
installed as directories on the rest of the path, this module takes the
archives off ``sys.path`` and out of ``sys.path_importer_cache``, then runs
``pyspark.daemon`` as ``python -m pyspark.daemon`` would; forked workers
inherit the path. Otherwise it runs ``pyspark.daemon`` with the path as is.

``session.get_spark`` selects it through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip" or name.endswith(".jar")
        or (name.startswith("py4j") and name.endswith(".zip")))


def _package_dir(name: str, path: list[str]) -> str | None:
    spec = PathFinder.find_spec(name, path)
    locs = spec.submodule_search_locations if spec else None
    return locs[0] if locs and os.path.isdir(locs[0]) else None


def stripped_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when pyspark and py4j resolve from
    directories on what remains and that pyspark's ``version.py`` equals
    every pyspark zip's; otherwise ``path`` itself, unchanged."""
    archives = {p for p in path if _is_spark_archive(p)}
    if not archives:
        return path
    rest = [p for p in path if p not in archives]
    pyspark_dir = _package_dir("pyspark", rest)
    if pyspark_dir is None or _package_dir("py4j", rest) is None:
        return path
    try:
        with open(os.path.join(pyspark_dir, "version.py"), "rb") as f:
            installed = f.read()
        for a in archives:
            if os.path.basename(a) == "pyspark.zip":
                with zipfile.ZipFile(a) as z:
                    if z.read("pyspark/version.py") != installed:
                        return path
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest


def main() -> None:
    new = stripped_path(sys.path)
    if new is not sys.path:
        gone = [p for p in sys.path if p not in new]
        sys.path[:] = new
        for key in [k for k in sys.path_importer_cache
                    if any(k == g or k.startswith(g + os.sep) for g in gone)]:
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
