"""The sessions' Python worker daemon (``mirabelle_spark.worker_daemon``):
Python tasks run the installed pyspark, with no zip archive on the
worker's path for ``importlib.invalidate_caches()`` to re-read."""

from __future__ import annotations

import subprocess
import sys
import zipfile
from pathlib import Path

from mirabelle_spark import worker_daemon as wd

ROOT = Path(__file__).resolve().parents[1]


def test_python_tasks_run_the_installed_pyspark_without_zipimporters(spark):
    def report(it):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in it:
            yield pd.DataFrame({
                "zipimporters": [sum(
                    isinstance(v, zipimport.zipimporter)
                    for v in sys.path_importer_cache.values()
                )],
                "pyspark_file": [pyspark.__file__],
            })

    rows = spark.range(0, 4, 1, 4).mapInPandas(
        report, "zipimporters long, pyspark_file string"
    ).collect()
    assert len(rows) == 4
    assert [r.zipimporters for r in rows] == [0] * 4
    assert not [r.pyspark_file for r in rows if ".zip" in r.pyspark_file]


def test_daemon_module_imports_no_pyspark_before_the_path_is_trimmed():
    """``python -m mirabelle_spark.worker_daemon`` imports the package
    and the module before ``main`` runs: neither may import pyspark."""
    code = (
        "import sys, mirabelle_spark.worker_daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=60, check=True,
    )
    assert out.stdout.strip() == "[]"


def _spark_archives(tmp_path, pyspark_version="4.1.2", py4j_version="0.10.9.9"):
    pyspark_zip = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{pyspark_version}'\n")
    py4j_zip = tmp_path / f"py4j-{py4j_version}-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/version.py", f"__version__ = '{py4j_version}'\n")
    jar = tmp_path / "spark-core_2.13-4.1.2.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    return [str(pyspark_zip), str(py4j_zip), str(jar)]


def test_worker_path_drops_archives_only_when_installed_versions_match(tmp_path):
    archives = _spark_archives(tmp_path)
    path = [str(tmp_path), *archives, "/missing/python311.zip", "/site-packages"]
    archived = wd.archived_versions(path)
    assert archived == {"pyspark": "4.1.2", "py4j": "0.10.9.9"}
    same = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}
    # a .zip entry that is no file is no archive and stays
    assert wd.worker_path(path, same, archived) == [
        str(tmp_path), "/missing/python311.zip", "/site-packages"
    ]
    for installed in (
        {"pyspark": "4.1.1", "py4j": "0.10.9.9"},  # another pyspark
        {"pyspark": "4.1.2", "py4j": "0.10.9.7"},  # another py4j
        {"py4j": "0.10.9.9"},  # no pyspark outside the archives
        {},
    ):
        assert wd.worker_path(path, installed, archived) == path
    # no pyspark.zip on the path: nothing to compare with, nothing dropped
    assert wd.worker_path(path[2:], same, wd.archived_versions(path[2:])) == path[2:]


def test_installed_versions_look_past_the_archives(tmp_path):
    """The installed versions are read from the path's directories,
    not from the archives that sit before them on a worker's path."""
    site = tmp_path / "site"
    for pkg, line in (
        ("pyspark", "__version__: str = '4.1.1'\n"),
        ("py4j", "__version__ = '0.10.9.9'\n"),
    ):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(line)
    path = [*_spark_archives(tmp_path), str(site)]
    assert wd.installed_versions(path) == {"pyspark": "4.1.1", "py4j": "0.10.9.9"}
    assert wd.worker_path(path, wd.installed_versions(path),
                          wd.archived_versions(path)) == path
    assert wd.installed_versions([str(tmp_path / "empty")]) == {}
