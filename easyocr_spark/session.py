"""SparkSession factory with scale-aware defaults.

Tuned for the sandbox (local[N], single JVM) but every knob is chosen to
also be the right default on a 1000-executor cluster reading 100 TB:

- AQE on (runtime coalescing + skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong somewhere; AQE fixes it
  per-stage.
- ``spark.sql.shuffle.partitions`` ~= total cores locally; on a real
  cluster this should be 2-3x total cores (overridable via env).
- Arrow enabled with a bounded ``maxRecordsPerBatch`` so one OCR UDF
  batch of image bytes stays well under executor memory (images are
  KB-to-MB scale binaries; 256 rows/batch bounds peak at ~hundreds of MB
  even for 2560px scans — mirrors EasyOCR's batch_size knob,
  reference easyocr/easyocr.py:538-579).
- UTC session timezone so DuckDB oracle comparisons are stable.
- Python workers are forked from ``easyocr_spark.worker_daemon``, which
  imports pyspark from the interpreter's installed copy instead of
  Spark's archives and preloads the kernels once per executor, so a task
  pays no per-task archive re-read (see that module). Only this
  ``local[N]`` session sets it: a cluster job that ships the package
  with ``--py-files`` cannot, because the daemon starts before per-task
  py-files are added.
- ``spark.driver.memory`` defaults to half the machine's physical RAM,
  capped at 48g (``SPARK_DRIVER_MEM`` overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Half the machine's physical RAM, capped at 48g."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min((phys // 2) >> 20, 48 << 10)}m"


def get_spark(
    app_name: str = "easyocr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` sets local[] parallelism; shuffle partitions default to the
    same so a local run has one shuffle partition per core (the guide's
    recommendation; 200 default is wrong for both tiny and huge data).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or cpus
    # one BLAS/OMP thread per Python worker: Spark tasks are the
    # parallelism; N workers x N BLAS threads would oversubscribe the
    # box quadratically (the reference's analogue: DataParallel/OpenMP
    # inside torch, SURVEY.md §4 O7). Must be set before the JVM (and
    # its python daemons) inherit the environment.
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
    ):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor assumes cost ~ bytes; the text-hash
        # stages here are CPU-dense per byte (interpreted HOF folds
        # over char arrays), so the 1 MB default floor serializes e.g.
        # the SimHash token-dictionary encode onto 1-2 tasks. 64k keeps
        # those stages wide (measured: simhash128 2.1 -> 1.3s warm at
        # sf0.1); at cluster scale the floor only triggers where
        # post-shuffle data is tiny anyway, so the setting is
        # scale-benign (partition counts stay bounded by
        # spark.sql.shuffle.partitions).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # re-measured this round (4 repeated flagship runs each way,
        # idle box): reuse=true 3.6/3.6/3.2/3.2s vs reuse=false
        # 6.4/5.1/4.5/4.5s, and NO re-run stall (the r2-era 34s->81s
        # pathology does not reproduce on Spark 4.1 — likely fixed by
        # the same-round OMP single-thread pinning below). Reused
        # workers keep imports AND the module-level reader singleton
        # (ocr/udfs.get_reader -> _READERS) across tasks, the intended
        # executor-resident-model design; fresh workers paid the
        # import + atlas tax once per task. Reuse alone still left ~0.2
        # CPU-s per task: every task calls importlib.invalidate_caches(),
        # and each zipimporter over Spark's archives (pyspark.zip, the
        # py4j zip, the spark-core jar) re-reads its whole directory on
        # that call. The daemon below drops those archives and preloads
        # pyspark and the kernels before forking any worker.
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.daemon.module", "easyocr_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
