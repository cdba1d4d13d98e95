"""The worker daemon module: local Python workers import the installed
pyspark, not ``$SPARK_HOME``'s source zip, and only when the installed
copy is the same release."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from importlib.machinery import PathFinder
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
DAEMON = "super_speedy_syslog_searcher_spark.worker_daemon"


def _installed(name: str) -> str | None:
    """Where ``name`` imports from on the non-archive part of ``sys.path``."""
    spec = PathFinder.find_spec(name, [p for p in sys.path if not os.path.isfile(p)])
    return spec.origin if spec and spec.origin and os.path.isfile(spec.origin) else None


INSTALLED_PYSPARK = _installed("pyspark")
needs_installed = pytest.mark.skipif(
    INSTALLED_PYSPARK is None or _installed("py4j") is None,
    reason="no installed pyspark/py4j outside an archive",
)

# runs the daemon module's path rule in a fresh interpreter, as its
# ``__main__`` block does before it imports pyspark, and reports the result
PROBE = f"""
import json, sys
before = list(sys.path)
import {DAEMON} as daemon
daemon.use_installed_pyspark()
import pyspark
print(json.dumps({{
    "before": before,
    "after": sys.path,
    "pyspark": pyspark.__file__,
    "zipimporters": sorted(k for k, v in sys.path_importer_cache.items()
                           if type(v).__name__ == "zipimporter"),
}}))
"""


def _fake_spark_home(tmp_path: Path, version_py: bytes) -> tuple[Path, list[str]]:
    """A ``SPARK_HOME`` reached through a symlink, holding a pyspark zip
    whose ``__init__`` marks itself, a py4j zip and a jar; returns the
    link and the archive entries as Spark puts them on ``PYTHONPATH``."""
    real = tmp_path / "spark-real"
    (real / "python" / "lib").mkdir(parents=True)
    (real / "jars").mkdir()
    members = {
        "python/lib/pyspark.zip": {"pyspark/__init__.py": b"FROM_ZIP = True\n", "pyspark/version.py": version_py},
        "python/lib/py4j-0.10.9.9-src.zip": {"py4j/__init__.py": b""},
        "jars/spark-core.jar": {"META-INF/MANIFEST.MF": b"Manifest-Version: 1.0\n"},
    }
    for rel, files in members.items():
        with zipfile.ZipFile(real / rel, "w") as z:
            for name, data in files.items():
                z.writestr(name, data)
    link = tmp_path / "spark"
    link.symlink_to(real)
    return link, [str(link / rel) for rel in members]


def _probe(tmp_path: Path, spark_home: Path, path: list[str]) -> dict:
    env = dict(os.environ, SPARK_HOME=str(spark_home), PYTHONPATH=os.pathsep.join(path))
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=tmp_path, env=env, capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout)


@needs_installed
def test_daemon_module_drops_spark_archives(tmp_path):
    spark_home, archives = _fake_spark_home(tmp_path, Path(INSTALLED_PYSPARK).with_name("version.py").read_bytes())
    got = _probe(tmp_path, spark_home, [*archives, str(REPO)])
    assert got["pyspark"] == INSTALLED_PYSPARK
    assert got["zipimporters"] == []
    assert [p for p in got["before"] if p not in archives] == got["after"]


@needs_installed
def test_daemon_module_keeps_user_archives(tmp_path):
    spark_home, archives = _fake_spark_home(tmp_path, Path(INSTALLED_PYSPARK).with_name("version.py").read_bytes())
    user_zip = tmp_path / "deps.zip"
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("userdep/__init__.py", b"")
    got = _probe(tmp_path, spark_home, [*archives, str(user_zip), str(REPO)])
    assert got["pyspark"] == INSTALLED_PYSPARK
    assert str(user_zip) in got["after"]
    assert got["zipimporters"] == [str(user_zip)]


@needs_installed
def test_daemon_module_keeps_path_on_version_mismatch(tmp_path):
    spark_home, archives = _fake_spark_home(tmp_path, b'__version__ = "0.0.0"\n')
    got = _probe(tmp_path, spark_home, [*archives, str(REPO)])
    assert got["after"] == got["before"]
    assert got["pyspark"] == str(Path(archives[0]) / "pyspark" / "__init__.py")


@pytest.mark.parametrize("module", ["super_speedy_syslog_searcher_spark", DAEMON])
def test_import_leaves_pyspark_unloaded(module):
    """``python -m`` imports the package ``__init__`` and the daemon
    module runs its path rule before anything may import pyspark."""
    code = f"import sys, {module}; print('pyspark' in sys.modules)"
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False"


def _spark_zip_matches_installed() -> bool:
    zip_path = Path(os.environ.get("SPARK_HOME", "/nonexistent")) / "python" / "lib" / "pyspark.zip"
    if INSTALLED_PYSPARK is None or not zip_path.is_file():
        return False
    with zipfile.ZipFile(zip_path) as z:
        return z.read("pyspark/version.py") == Path(INSTALLED_PYSPARK).with_name("version.py").read_bytes()


@pytest.mark.skipif(not _spark_zip_matches_installed(), reason="no installed pyspark matching $SPARK_HOME's zip")
def test_local_workers_import_installed_pyspark(spark):
    assert spark.conf.get("spark.python.daemon.module") == DAEMON

    def report(batches):
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        n_zip = sum(type(v).__name__ == "zipimporter" for v in sys.path_importer_cache.values())
        yield pd.DataFrame({"file": [pyspark.__file__], "zipimporters": [n_zip]})

    rows = spark.range(0, 4, 1, 2).mapInPandas(report, "file string, zipimporters int").collect()
    assert {(r["file"], r["zipimporters"]) for r in rows} == {(INSTALLED_PYSPARK, 0)}


@pytest.mark.parametrize(
    ("where", "expected"), [("cwd", True), ("pythonpath", True), ("sys.path only", False), ("py-files zip", False)]
)
def test_daemon_module_needs_package_on_worker_path(tmp_path, where, expected):
    """``get_spark`` names the daemon module only when a local worker can
    import it before its first task: from the working directory or
    ``PYTHONPATH``, not from the driver's own ``sys.path`` or a zip."""
    pkg_parent = str(REPO)
    if where == "py-files zip":
        pkg_parent = str(tmp_path / "s4spark.zip")
        with zipfile.ZipFile(pkg_parent, "w") as z:
            for f in (REPO / "super_speedy_syslog_searcher_spark").rglob("*.py"):
                z.write(f, f.relative_to(REPO))
    code = (
        f"import sys; sys.path.insert(0, {pkg_parent!r}); "
        "from super_speedy_syslog_searcher_spark.session import _workers_import_package; "
        "print(_workers_import_package())"
    )
    env = dict(os.environ, PYTHONPATH=str(REPO) if where == "pythonpath" else "")
    cwd = REPO if where == "cwd" else tmp_path
    out = subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == str(expected)
