"""The executor's Python daemon (``easyocr_spark.worker_daemon``): workers
import pyspark from the installed copy, keep no Spark archive in their
importer cache, and start with the kernels loaded. Plus the session's
machine-fitted defaults (driver memory, local[] parallelism)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pyspark

from easyocr_spark.session import default_driver_memory
from easyocr_spark.worker_daemon import without_spark_archives

SITE = os.path.dirname(os.path.dirname(pyspark.__file__))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_pyspark_zip(path, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def test_strips_spark_archives_when_versions_match(tmp_path):
    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    user_zip = str(tmp_path / "deps.zip")
    path = [
        str(tmp_path),
        archive,
        "/spark/python/lib/py4j-0.10.9.9-src.zip",
        "/spark/jars/spark-core_2.13-4.1.2.jar",
        user_zip,
        SITE,
    ]
    assert without_spark_archives(path) == [str(tmp_path), user_zip, SITE]


def test_keeps_path_when_versions_differ(tmp_path):
    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip", "0.0.1")
    path = [archive, "/x/py4j-0.10.9.9-src.zip", "/x/spark-core.jar", SITE]
    assert without_spark_archives(path) is path


def test_keeps_path_without_installed_pyspark(tmp_path):
    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    path = [archive, "/x/spark-core.jar", str(tmp_path)]
    assert without_spark_archives(path) is path


def test_default_driver_memory_fits_the_machine():
    phys_mb = (os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")) >> 20
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(phys_mb // 2, 48 << 10)


def test_default_cpus_fits_the_machine():
    """local[] parallelism without --cpus is SPARK_GRAFT_CPUS, else the
    CPUs this process may run on (read at import, so each case is a
    fresh interpreter)."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = "from easyocr_spark.session import DEFAULT_CPUS; print(DEFAULT_CPUS)"

    def default_cpus(env: dict) -> int:
        out = subprocess.run(
            [sys.executable, "-c", code], env=env, cwd=REPO, capture_output=True,
            text=True, check=True,
        )
        return int(out.stdout)

    assert default_cpus(env) == len(os.sched_getaffinity(0))
    assert default_cpus({**env, "SPARK_GRAFT_CPUS": "3"}) == 3


def test_workers_forked_from_preloaded_daemon(spark):
    def report(batches):
        import sys
        import zipimport

        preloaded = "easyocr_spark.ocr.udfs" in sys.modules
        import pandas as pd
        import pyspark

        zips = sorted(
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"file": [pyspark.__file__], "zips": [json.dumps(zips)], "pre": [preloaded]}
        )

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(report, "file string, zips string, pre boolean")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        cached = json.loads(r.zips)
        assert not [z for z in cached if "pyspark.zip" in z or "py4j-" in z or ".jar" in z]
        assert ".zip" not in r.file and ".jar" not in r.file
        assert r.pre
