"""Extra benchmarks for optimization work (guide §1.4): per-query
isolated timing of bench.py's query set with the same checksum action,
runnable on a subset of queries, plus optional .explain('formatted')
capture.

Usage:
    python bench_extra.py q1 q2 ...          # time those queries
    python bench_extra.py --plans q1 ...     # also dump plans to .plans/
    python bench_extra.py --runs 3 q1 ...

This file is NOT the driver's frozen bench.py; it exists so optimization
evidence (noop/checksum isolation, plan dumps) can be produced without
touching the measured harness.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PLANS_DIR = os.path.join(HERE, ".plans")


def main() -> None:
    from bench import bench_queries, checksum, warm_up
    from easyocr_spark.session import DEFAULT_CPUS, get_spark

    args = sys.argv[1:]
    runs = 2
    dump_plans = False
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif args[i] == "--plans":
            dump_plans = True
            i += 1
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"bench_extra_{DEFAULT_CPUS}")
    qs = bench_queries(spark, sf_dir)
    if not names:
        names = list(qs)
    warm_up(spark, sf_dir)

    out = {}
    sums = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        walls = []
        for _ in range(runs):
            t0 = time.time()
            sums[name] = checksum(fn())
            walls.append(round(time.time() - t0, 3))
        out[name] = walls
        if dump_plans:
            os.makedirs(PLANS_DIR, exist_ok=True)
            plan = fn()._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(PLANS_DIR, f"{name}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"walls": out, "checksums": {k: str(v) for k, v in sums.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
