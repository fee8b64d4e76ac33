"""The timed calls and their checks.

``Extract`` is one repetition of a workload: it builds its DataFrames
from the sources layer, runs the full extraction, stops the clock and
checks the output against the expected digest computed at generation
time. ``ResumeWrite`` is the checkpointed path the traced run measures:
``run_extraction`` resuming from a state table with half of the work
units done.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from time import perf_counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from easyocr_spark.operators import pipeline
from easyocr_spark.state import checkpoint

from . import checks, inputs
from .spark_env import tree_cpu_s


def timed(fn):
    t0 = perf_counter()
    value = fn()
    return value, perf_counter() - t0


@dataclass
class Rep:
    docs: int  # documents completed
    wall_s: float
    cpu_s: float  # CPU time of the driver, its JVM and Python workers
    ok: bool
    frame: DataFrame  # the executed frame, for its plan metrics


class Extract:
    """The full extraction of every document, forced by an
    order-insensitive digest of the output."""

    def __init__(self, spark: SparkSession, props: dict):
        self.spark = spark
        self.props = props

    def rep(self) -> Rep:
        c0, t0 = tree_cpu_s(), perf_counter()
        docs = inputs.load_docs(self.spark, self.props)
        media = inputs.load_media(self.spark, self.props)
        frame = checks.digest_frame(pipeline.extract_documents(docs, media))
        got = checks.as_digest(frame.collect()[0])
        wall, cpu = perf_counter() - t0, tree_cpu_s() - c0
        return Rep(self.props["docs"], wall, cpu, got == self.props["expected"], frame)


class ResumeWrite:
    """``state.checkpoint.run_extraction`` with half of the work units
    already marked done in a fresh state table under ``work``."""

    RUN_ID = "perfbench-resume"

    def __init__(self, spark: SparkSession, props: dict, seed: int, work: str):
        self.spark = spark
        self.props = props
        self.state_dir = os.path.join(work, "state")
        self.out_dir = os.path.join(work, "out")
        self.snapshot = checkpoint.input_snapshot_id(
            os.path.join(props["dir"], "documents.parquet")
        )
        units = props["units"]
        self.done = sorted(random.Random(seed).sample(range(inputs.UNITS), inputs.UNITS // 2))
        # a unit with no documents writes nothing and gets no state row
        self.expected = {
            u: units[str(u)]["expected"]
            for u in range(inputs.UNITS)
            if u not in self.done and str(u) in units
        }

    def prepare(self) -> None:
        """The state table marking ``done`` units."""
        rows = [
            (u, "done", 0, 0, 0, 0.0, 0.0, self.snapshot, "seeded") for u in self.done
        ]
        self.spark.createDataFrame(rows, checkpoint.STATE_SCHEMA).coalesce(1).write.parquet(
            self.state_dir
        )

    def run(self) -> tuple[dict, float]:
        t0 = perf_counter()
        res = checkpoint.run_extraction(
            self.spark,
            inputs.load_docs(self.spark, self.props),
            inputs.load_media(self.spark, self.props),
            self.out_dir,
            self.state_dir,
            n_units=inputs.UNITS,
            snapshot_id=self.snapshot,
            run_id=self.RUN_ID,
        )
        return res, perf_counter() - t0

    def check(self, res: dict) -> bool:
        """Only the not-done units were processed, their output matches
        the expected extraction, and each got exactly one new state row."""
        docs = sum(d[0] for d in self.expected.values())
        if res["units_processed"] != len(self.expected) or res["docs"] != docs:
            return False
        written = (
            self.spark.read.parquet(self.out_dir)
            .select("unit_id", checks.doc_hash())
            .groupBy("unit_id")
            .agg(*checks.digest_cols())
            .collect()
        )
        if {r[0]: checks.as_digest(r[1:]) for r in written} != self.expected:
            return False
        state = self.spark.read.parquet(self.state_dir)
        new = (
            state.filter(F.col("run_id") == self.RUN_ID)
            .groupBy("unit_id")
            .count()
            .collect()
        )
        return sorted(r[0] for r in new) == sorted(self.expected) and all(
            r[1] == 1 for r in new
        )

