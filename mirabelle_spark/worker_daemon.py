"""Python worker daemon of the engine's sessions.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so the JVM starts every Python worker through it instead of
``pyspark.daemon``. Spark puts its own archives first on the workers'
``PYTHONPATH``: ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source
zip and the spark-core jar. Every Python task starts with
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 each cached ``zipimporter`` re-reads its archive's whole
directory there: 130-230 ms of CPU per task with Spark 4.1.2's archives
(about 6,700 entries, read by 16 cached importers).

When the installed pyspark is the version ``pyspark.zip`` holds and the
installed py4j the version in the py4j zip's name, the archives hold
nothing the workers need: the daemon drops them from ``sys.path`` before
pyspark is first imported, so the workers run the installed copies the
driver runs, and ``invalidate_caches`` finds no zipimporter. Otherwise the
path stays as Spark built it.

This module and the package ``__init__`` import no pyspark at module
level: ``python -m mirabelle_spark.worker_daemon`` imports both before
:func:`main` has trimmed the path.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from collections.abc import Mapping, Sequence
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""")
_PY4J_ZIP = re.compile(r"py4j-(\d[^-]*)-src\.zip")


def _is_archive(entry: str) -> bool:
    return entry.endswith((".zip", ".jar")) and os.path.isfile(entry)


def _parse_version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def archived_versions(path: Sequence[str]) -> dict[str, str]:
    """Versions of pyspark and py4j that the archives on ``path`` hold:
    pyspark's from ``pyspark/version.py`` inside ``pyspark.zip``, py4j's
    from the name of ``py4j-<version>-src.zip``."""
    out: dict[str, str] = {}
    for entry in filter(_is_archive, path):
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as z:
                    v = _parse_version(z.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                continue
            if v:
                out.setdefault("pyspark", v)
        elif m := _PY4J_ZIP.fullmatch(name):
            out.setdefault("py4j", m.group(1))
    return out


def installed_versions(path: Sequence[str]) -> dict[str, str]:
    """Versions of the pyspark and py4j that ``path``'s directories
    (its archives left out) would import, read from each package's
    ``version.py`` without importing it."""
    dirs = [p for p in path if not _is_archive(p)]
    out: dict[str, str] = {}
    for pkg in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(pkg, dirs)
        if spec is None or spec.origin is None:
            continue
        version_py = os.path.join(os.path.dirname(spec.origin), "version.py")
        try:
            with open(version_py, encoding="utf-8") as f:
                v = _parse_version(f.read())
        except OSError:
            continue
        if v:
            out[pkg] = v
    return out


def worker_path(
    path: Sequence[str],
    installed: Mapping[str, str],
    archived: Mapping[str, str],
) -> list[str]:
    """``path`` without its ``.zip``/``.jar`` file entries when both
    pyspark and py4j are installed at the versions the archives hold;
    otherwise ``path`` unchanged."""
    if all(
        archived.get(pkg) is not None and installed.get(pkg) == archived[pkg]
        for pkg in ("pyspark", "py4j")
    ):
        return [p for p in path if not _is_archive(p)]
    return list(path)


def main() -> None:
    trimmed = worker_path(
        sys.path, installed_versions(sys.path), archived_versions(sys.path)
    )
    if trimmed != sys.path:
        sys.path[:] = trimmed
        sys.path_importer_cache.clear()

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
