"""Process environment, session set-up and teardown for one benchmark
run, and the CPU time of its process tree.

Set-up time (``setup_s``) runs from the ``session.get_spark`` call until
a fixed warm-up action has run the OCR kernel on every task slot for
every reader config (latin, cjk, arabic): the cost a job pays before
its first useful batch. It is measured once per process, so it includes
starting the JVM.
"""

from __future__ import annotations

import os
import subprocess
import sys
from dataclasses import dataclass
from time import perf_counter

# fits a 15 GB box next to four Python workers (the session default is 48g)
DRIVER_MEM = "4g"

# one ref per reader config: latin, chinese (cjk model), arabic (rtl)
WARM_REFS = ("m_3_1", "m_4_1", "m_5_1")


def configure(root: str, work: str) -> dict:
    """Environment for the driver JVM and its Python workers, set before
    the JVM starts. Workers need the repo on PYTHONPATH to import the
    kernels; all scratch space stays inside ``work``. Returns the Spark
    conf to pass to ``get_spark``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    # every JVM (the launcher's too) keeps its temp files in ``tmp`` and
    # writes no /tmp/hsperfdata_* file
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        JAVA_TOOL_OPTIONS=" ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts])
        ),
        PYTHONPATH=root + (os.pathsep + path if path else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def cpus() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Setup:
    spark: object
    get_spark_s: float
    warmup_s: float
    warm_frame: object  # the warm-up action's DataFrame (plan metrics)

    @property
    def total_s(self) -> float:
        return self.get_spark_s + self.warmup_s


def warm_blobs() -> list[tuple[str, bytes, str]]:
    from easyocr_spark.fixtures.corpus import media_spec, render_media

    return [(r, render_media(r), media_spec(r)["lang"]) for r in WARM_REFS]


def set_up(conf: dict, slots: int, blobs: list) -> Setup:
    """Start (or restart) the session and run the warm-up action: one
    partition per task slot, each holding one image per reader config."""
    from easyocr_spark.fixtures.corpus import ground_truth_text
    from easyocr_spark.ocr.udfs import OCR_RESULT_SCHEMA, ocr_batches
    from easyocr_spark.session import get_spark

    t0 = perf_counter()
    spark = get_spark(app_name="perfbench", cpus=slots, extra_conf=conf)
    t1 = perf_counter()
    rdd = spark.sparkContext.parallelize(blobs * slots, slots)
    frame = spark.createDataFrame(
        rdd, "media_ref string, content binary, lang string"
    ).mapInPandas(ocr_batches, OCR_RESULT_SCHEMA)
    rows = frame.collect()
    t2 = perf_counter()
    bad = [r.media_ref for r in rows if r.text != ground_truth_text(r.media_ref)]
    if len(rows) != len(blobs) * slots or bad:
        raise RuntimeError(f"warm-up OCR output is wrong: {len(rows)} rows, bad {bad}")
    return Setup(spark, t1 - t0, t2 - t1, frame)


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM and its Python workers), reaped children included. Time
    the host takes from the guest (steal) is not counted."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited; its time is in its parent's children fields
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def jvm_proc():
    """The driver JVM's Popen handle (None before the first session)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def shutdown() -> None:
    """Stop the running session if there is one, then the JVM, and wait
    until it has exited. The Python workers end with the session."""
    from pyspark import SparkContext

    proc = jvm_proc()
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
