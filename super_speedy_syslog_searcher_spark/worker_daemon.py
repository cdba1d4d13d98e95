"""Python worker daemon for local masters: ``pyspark.daemon``, started
after ``$SPARK_HOME``'s archives leave ``sys.path`` when the installed
pyspark can stand in for them.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar at the head of every worker's ``sys.path``. From a zip,
pyspark is compiled from source at every daemon start (no bytecode cache),
and the ``importlib.invalidate_caches()`` pyspark runs on every task
re-reads the directory of each zip. So when ``pyspark`` and ``py4j`` import
from plain directories once those archives are gone, and the installed
``pyspark/version.py`` equals the one in ``pyspark.zip``, the archives
under ``realpath($SPARK_HOME)`` are dropped from ``sys.path`` and
``sys.path_importer_cache``. Otherwise the path is left as it is. User
archives and every other path entry stay.

``session.get_spark`` sets this module as ``spark.python.daemon.module``
on local masters whose workers can import the package at start-up.
``python -m`` imports the package ``__init__`` first, so that must not
import pyspark.
"""

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archives(spark_home: str) -> set[str]:
    root = os.path.join(os.path.realpath(spark_home), "")
    return {e for e in sys.path if os.path.isfile(e) and os.path.realpath(e).startswith(root)}


def _plain_origin(name: str, path: list[str]) -> str | None:
    """Where ``name`` imports from on ``path``, if that is a plain file."""
    spec = PathFinder.find_spec(name, path)
    origin = spec and spec.origin
    return origin if origin and os.path.isfile(origin) else None


def _installed_matches(spark_home: str, path: list[str]) -> bool:
    pyspark = _plain_origin("pyspark", path)
    if pyspark is None or _plain_origin("py4j", path) is None:
        return False
    try:
        with zipfile.ZipFile(os.path.join(spark_home, "python", "lib", "pyspark.zip")) as z:
            shipped = z.read("pyspark/version.py")
        with open(os.path.join(os.path.dirname(pyspark), "version.py"), "rb") as f:
            return f.read() == shipped
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def use_installed_pyspark() -> bool:
    """Drop ``$SPARK_HOME``'s archives from the import path when the
    installed pyspark matches them; return whether they were dropped."""
    spark_home = os.environ.get("SPARK_HOME")
    archives = _spark_archives(spark_home) if spark_home else set()
    kept = [e for e in sys.path if e not in archives]
    if not archives or not _installed_matches(spark_home, kept):
        return False
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(os.path.join(a, "")) for a in archives):
            del sys.path_importer_cache[key]
    return True


if __name__ == "__main__":
    use_installed_pyspark()
    from pyspark.daemon import manager

    manager()
