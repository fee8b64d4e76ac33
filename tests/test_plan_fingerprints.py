"""Plan fingerprints of bench.py's timed query set.

Each case counts the node types that carry a query's cost in its
pre-execution physical plan (``executedPlan().treeString()``) and
compares them with one line of ``plan_fingerprints.json``:

- ``exchange``: shuffle Exchanges (BroadcastExchange is not counted;
  the broadcast shows up as ``bhj``);
- ``bhj`` / ``smj``: BroadcastHashJoin / SortMergeJoin;
- ``python``: the Arrow/Python UDF boundary (MapInPandas,
  ArrowEvalPython and the other Python exec nodes);
- ``inmem``: InMemoryTableScan, i.e. reads of a persisted intermediate;
- ``global_window``: Window nodes with an empty partition spec (one
  task sees every row).

An InMemoryTableScan prints the plan of the intermediate it reads, so
that plan's nodes are counted again at every read: the counts are a
checked shape, not the number of shuffles a run performs.

A plan change that adds an Exchange or a second Python boundary fails
here. When the change is intended, the failure message is the new line
to paste into the JSON. The plans are those of the conftest session
(local[4], 8 shuffle partitions) at sf0.001; the persisted-data cache
is cleared before each case, so a fingerprint does not depend on which
query or test ran before it. Full plan text is produced on demand with
``python bench_extra.py --plans``.
"""

import json
import os
import re

import pytest

import bench

SF = "/root/testdata/sf0.001"
EXPECTED_PATH = os.path.join(os.path.dirname(__file__), "plan_fingerprints.json")
with open(EXPECTED_PATH) as f:
    EXPECTED = json.load(f)

NAMES = list(bench.bench_queries(None, SF))

# tree-string prefix of a node line: indentation, "+- " / ":- " edges,
# and the "*(n) " codegen-stage marker
_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s*)?(\w+)(.*)$")


def _partitioned(args: str) -> bool:
    """Whether a Window node (``Window [exprs], [partitionSpec],
    [orderSpec]``) has a partition spec. The tree string omits an
    empty spec, so a second ``[...]`` group is the partition spec
    unless it is the sort order."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(args):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(args[start:i])
    return len(groups) > 1 and not re.search(
        r" (ASC|DESC) NULLS (FIRST|LAST)", groups[1]
    )


def fingerprint(plan: str) -> dict[str, int]:
    counts = dict.fromkeys(
        ["exchange", "bhj", "smj", "python", "inmem", "global_window"], 0
    )
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node, args = m.groups()
        if node == "Exchange":
            counts["exchange"] += 1
        elif node == "BroadcastHashJoin":
            counts["bhj"] += 1
        elif node == "SortMergeJoin":
            counts["smj"] += 1
        elif re.search(r"Python|Pandas|InArrow", node):
            counts["python"] += 1
        elif node == "InMemoryTableScan":
            counts["inmem"] += 1
        elif node == "Window" and not _partitioned(args):
            counts["global_window"] += 1
    return counts


def test_every_bench_query_has_a_fingerprint():
    assert list(EXPECTED) == NAMES


@pytest.fixture(scope="module")
def queries(spark):
    return bench.bench_queries(spark, SF)


@pytest.mark.parametrize("name", NAMES)
def test_plan_fingerprint(spark, queries, name):
    spark.catalog.clearCache()
    df = queries[name]()
    got = fingerprint(df._jdf.queryExecution().executedPlan().treeString())
    assert got == EXPECTED.get(name), (
        "plan fingerprint changed; if intended, set this line in "
        f"tests/plan_fingerprints.json:\n  {json.dumps(name)}: {json.dumps(got)},"
    )
