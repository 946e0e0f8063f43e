"""Spark's Python daemon, importing pyspark from its installed package.

Spark puts ``pyspark.zip`` (no ``.pyc``), py4j's zip and the spark-core jar
first on the worker path; on Python 3.11 their 16 zipimporters cost each
Python task 0.2-0.4 s (docs/SCALE.md). Run as ``spark.python.daemon.module``,
this drops them before pyspark is imported. Importing it does nothing.
"""

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    spark_name = name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith(".zip")) \
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    return spark_name and os.path.isfile(entry)


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's three archives when the pyspark the rest of
    it finds is the archived release (the same ``pyspark/version.py``);
    otherwise ``path`` unchanged. Every other entry is kept."""
    archives = [p for p in path if _is_spark_archive(p)]
    kept = [p for p in path if p not in archives]
    zipped = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    installed = PathFinder.find_spec("pyspark", kept)
    if not zipped or installed is None or installed.origin is None:
        return list(path)
    version = os.path.join(os.path.dirname(installed.origin), "version.py")
    with zipfile.ZipFile(zipped[0]) as z, open(version, "rb") as f:
        return kept if z.read("pyspark/version.py") == f.read() else list(path)


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)
    sys.path_importer_cache.clear()  # holds the archives' zipimporters
    from pyspark import daemon

    daemon.manager()
