"""Python daemon of ``session.get_spark``'s executors.

Spark starts one daemon per executor (``spark.python.daemon.module``)
and forks every Python worker from it. Stock ``pyspark.daemon`` runs
with Spark's archives first on ``sys.path``: ``pyspark.zip``, the py4j
source zip and the spark-core jar. ``pyspark.worker_util`` calls
``importlib.invalidate_caches()`` at the start of every task, and a
zipimporter answers that by re-reading its archive's whole central
directory (~28k entries over the 16 importers of a reused worker), so
each task paid ~0.2 CPU-s before its first row. ``pyspark.zip`` also
ships no bytecode, so every fresh worker compiled pyspark from source.

This daemon drops those archives when the interpreter can import a
pyspark of the archive's version without them, imports pyspark from
there, preloads what every task imports, then runs the stock manager:
forked workers inherit the loaded modules.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from fnmatch import fnmatch
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or fnmatch(name, "py4j-*-src.zip")
        or name.endswith(".jar")
    )


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> str | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` minus Spark's archives, or ``path`` itself unless the
    pyspark importable from the rest has the version of the one in
    ``pyspark.zip``."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    version = _archive_version(zips[0]) if zips else None
    kept = [p for p in path if not _is_spark_archive(p)]
    if version is None or version != _installed_version(kept):
        return path
    return kept


def main() -> None:
    path = without_spark_archives(sys.path)
    if path is not sys.path:
        dropped = tuple(p for p in sys.path if p not in path)
        sys.path[:] = path
        for key in list(sys.path_importer_cache):
            if key.startswith(dropped):
                del sys.path_importer_cache[key]
    # pyarrow starts jemalloc's background thread here; jemalloc's fork
    # handlers leave each forked worker with a consistent allocator
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401

    import easyocr_spark.ocr.udfs  # noqa: F401
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
