"""Per-layer measurements for the traced run.

Nothing inside ``easyocr_spark`` is instrumented. Layers are measured
from outside: wall time around calls into each module's public
functions (each forced by one action), Spark's SQL metrics read from the
executed plan after an action, the OCR kernel timed in the driver on a
fixed seeded sample of the workload's images, and peak RSS of the
driver JVM and the Python workers read from ``/proc``.
"""

from __future__ import annotations

import os
import re
import threading
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from easyocr_spark.fixtures.corpus import ground_truth_text
from easyocr_spark.fixtures.png import decode_gray
from easyocr_spark.ocr.udfs import get_reader, ocr_batches
from easyocr_spark.operators import pipeline
from easyocr_spark.state import checkpoint

from . import checks, inputs
from .spark_env import descendants
from .workloads import timed

KERNEL_SAMPLE = 256  # images; one Arrow batch at the session's maxRecordsPerBatch
RSS_INTERVAL_S = 0.2  # worker RSS sampling period


# ------------------------------------------------------------ SQL metrics
# SQLMetric.toString is "SQLMetric(id: <n>, name: <name>, value: <v>)";
# one py4j call per node reads all its metrics
_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")

# metric -> scale to seconds, for the time metrics read below; sizes and
# counts are reported as is
_SECONDS = {
    "shuffleWriteTime": 1e-9,
    "fetchWaitTime": 1e-3,
    "pythonTotalTime": 1e-3,
    "pythonBootTime": 1e-3,
    "pythonInitTime": 1e-3,
}


def plan_nodes(frame: DataFrame) -> list[tuple[str, dict[str, int]]]:
    """(nodeName, {metric: value}) for every node of the frame's executed
    plan, descending into AQE's final plan and its query stages. Call
    after an action on ``frame`` itself."""
    nodes = []
    stack = [frame._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.finalPhysicalPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(p.plan())
            continue
        metrics = {k: int(v) for k, v in _METRIC.findall(p.metrics().toString())}
        nodes.append((name, metrics))
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return nodes


def metric_total(nodes, name: str) -> float:
    return sum(ms.get(name, 0) for _, ms in nodes) * _SECONDS.get(name, 1)


def plan_summary(nodes) -> dict:
    return {
        "pipeline.exchanges": sum(
            1 for n, _ in nodes if n in ("Exchange", "BroadcastExchange")
        ),
        "pipeline.shuffle_bytes": metric_total(nodes, "shuffleBytesWritten"),
        "pipeline.shuffle_write_s": metric_total(nodes, "shuffleWriteTime"),
        "pipeline.fetch_wait_s": metric_total(nodes, "fetchWaitTime"),
        "udfs.python_total_s": metric_total(nodes, "pythonTotalTime"),
        "udfs.bytes_sent": metric_total(nodes, "pythonDataSent"),
        "udfs.bytes_received": metric_total(nodes, "pythonDataReceived"),
    }


# -------------------------------------------------------------------- RSS
def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def python_workers(jvm_pid: int) -> list[int]:
    """The pyspark daemon and worker processes under the driver JVM.
    Matched by module name: a child the JVM has forked but not yet
    exec'd still shows the JVM's command line and resident set."""
    out = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    out.append(pid)
        except OSError:
            continue
    return out


class WorkerRss:
    """Samples the peak RSS of the JVM's Python workers while active."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            if self.active.is_set():
                for pid in python_workers(self.jvm_pid):
                    self.peak_mb = max(self.peak_mb, vm_hwm_mb(pid))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------ layer probes
def source_probes(spark, props) -> dict:
    _, docs_s = timed(lambda: checks.digest(inputs.load_docs(spark, props)))
    media_row, media_s = timed(
        lambda: inputs.load_media(spark, props)
        .agg(F.count("*"), F.sum(F.length("content")))
        .first()
    )
    return {
        "sources.docs_scan_s": docs_s,
        "sources.media_scan_s": media_s,
        "sources.media_bytes": float(media_row[1] or 0),
    }


def pipeline_probes(spark, props) -> dict:
    docs = inputs.load_docs(spark, props)
    media = inputs.load_media(spark, props)
    row, explode_s = timed(
        lambda: pipeline.explode_spans(docs)
        .agg(
            F.count("*"),
            F.sum(F.when(F.col("kind") == "media", 1).otherwise(0)),
            F.bit_xor(F.xxhash64(*pipeline.SPAN_COLS)),
        )
        .first()
    )
    spans, media_spans = int(row[0]), int(row[1] or 0)
    _, algebra_s = timed(
        lambda: checks.digest(
            pipeline.reassemble(pipeline.explode_spans(docs, keep_empty=True))
        )
    )
    refs, refs_s = timed(
        lambda: pipeline.ocr_media_refs(pipeline.explode_spans(docs), media).count()
    )
    return {
        "pipeline.explode_s": explode_s,
        "pipeline.spans": spans,
        "pipeline.span_algebra_s": algebra_s,
        "pipeline.ocr_refs_s": refs_s,
        "pipeline.distinct_refs": refs,
        "pipeline.dedup_ratio": refs / media_spans if media_spans else 0.0,
    }


def kernel_probe(spark, props, seed: int) -> dict:
    """The OCR kernel in the driver on a fixed seeded sample of the
    workload's images: per-stage ms/image, and ``ocr_batches`` on the
    whole sample as one batch."""
    rows = (
        inputs.load_media(spark, props)
        .orderBy(F.xxhash64(F.lit(seed), "media_ref"))
        .limit(KERNEL_SAMPLE)
        .collect()
    )
    pdf = pd.DataFrame(
        {
            "media_ref": [r.media_ref for r in rows],
            "content": [bytes(r.content) for r in rows],
            "lang": [r.lang for r in rows],
        }
    )
    list(ocr_batches(iter([pdf.head(16)])))  # reader init stays out of the timings
    decode = detect = recognize = 0.0
    boxes = 0
    for data, lang in zip(pdf["content"], pdf["lang"]):
        reader = get_reader("greedy", None, lang)
        gray, t = timed(lambda: decode_gray(data))
        decode += t
        (horizontal, free), t = timed(lambda: reader.detect(gray))
        detect += t
        results, t = timed(lambda: reader.recognize(gray, horizontal, free))
        recognize += t
        boxes += len(results)
    out, batch_s = timed(lambda: pd.concat(list(ocr_batches(iter([pdf])))))
    exact = sum(
        t == ground_truth_text(r) for r, t in zip(out["media_ref"], out["text"])
    )
    n = len(pdf)
    return {
        "ocr.decode_ms": decode / n * 1e3,
        "ocr.detect_ms": detect / n * 1e3,
        "ocr.recognize_ms": recognize / n * 1e3,
        "ocr.batch_ms": batch_s / n * 1e3,
        "ocr.boxes_per_image": boxes / n,
        "ocr.exact_frac": exact / n,
    }


def _files(d: str) -> dict[str, int]:
    return {
        os.path.join(dp, f): os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(d)
        for f in fs
    }


def state_probe(spark, rw) -> tuple[dict, bool]:
    """``run_extraction`` resuming with half of the units done; returns the
    state-layer metrics and whether its check passed."""
    rw.prepare()
    seeded = _files(rw.state_dir)
    _, done_s = timed(lambda: checkpoint.done_units(spark, rw.state_dir, rw.snapshot))
    res, run_s = rw.run()
    ok = rw.check(res)
    written = {k: v for k, v in _files(rw.state_dir).items() if k not in seeded}
    written.update(_files(rw.out_dir))
    return {
        "state.done_units_s": done_s,
        "state.run_extraction_s": run_s,
        "state.units_processed": res["units_processed"],
        "state.bytes_written": float(sum(written.values())),
        "state.files_written": len(written),
    }, ok
