"""Dump a machine-readable plan inventory for every queries() entry.

For each query: a stable fingerprint of the physical plan (ids and
paths stripped, same normalization as bench.py) plus counts of the
scale-relevant node classes of its SparkPlan tree. Written to
PLANS_ALL.json; diff it across rounds to catch plan regressions (a new
shuffle, a lost broadcast, a cartesian product) before they cost
wall-clock at scale.

Usage: python tools/plan_dump.py [sf_dir]

Prints one summary line and exits 1 when any query plans a cartesian
product, broadcasts an unbounded frame into a nested-loop join or
raises while it is built (``errors``); 0 otherwise.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.operators.planaudit import (
    plan_fingerprint,
    plan_nodes,
    scalar_bnlj_violations,
)
from simple_etl_pipeline_spark.session import get_spark

# physical node class -> inventory key (the node's name in explain text)
NODES = {
    "BroadcastExchangeExec": "BroadcastExchange",
    "BroadcastHashJoinExec": "BroadcastHashJoin",
    "SortMergeJoinExec": "SortMergeJoin",
    "ShuffledHashJoinExec": "ShuffledHashJoin",
    "BroadcastNestedLoopJoinExec": "BroadcastNestedLoopJoin",
    "CartesianProductExec": "CartesianProduct",
    "HashAggregateExec": "HashAggregate",
    "WindowExec": "Window",
    "WindowGroupLimitExec": "WindowGroupLimit",
    "TakeOrderedAndProjectExec": "TakeOrderedAndProject",
    "InMemoryTableScanExec": "InMemoryTableScan",
    "ArrowEvalPythonExec": "ArrowEvalPython",
    "MapInPandasExec": "MapInPandas",
}
EXCHANGES = {
    "HashPartitioning": "Exchange hashpartitioning",
    "RangePartitioning": "Exchange rangepartitioning",
}


def _key(name: str, node) -> str | None:
    """The inventory key of one plan node, None for uncounted nodes."""
    if name == "ShuffleExchangeExec":
        part = node.outputPartitioning().getClass().getSimpleName()
        return EXCHANGES.get(part)
    if name == "FileSourceScanExec":
        fmt = node.relation().fileFormat().getClass().getSimpleName()
        return "FileScan parquet" if fmt == "ParquetFileFormat" else None
    return NODES.get(name)


def node_counts(df) -> dict[str, int]:
    """Counts of the scale-relevant node classes in a frame's physical
    plan (subqueries and cached plans included, each node once)."""
    keys = [_key(name, node) for name, node in plan_nodes(df)]
    return dict(Counter(k for k in keys if k))


# fingerprint: the SHARED normalization (operators.planaudit.
# plan_fingerprint over the formatted explain). The previous local
# fingerprint hashed executedPlan().toString(), whose DataFilters/
# PushedFilters truncation point depends on expression-id digit count
# — 43 fingerprints "moved" on unchanged round-7 code from that
# artifact alone.


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        try:
            # a fresh build: no cache left behind by an earlier query's
            # build may substitute into this plan (plan_fingerprint)
            spark.catalog.clearCache()
            df = fn(spark, sf_dir)
            out[name] = {"fp": plan_fingerprint(df), "nodes": node_counts(df)}
            # the scalar-BNLJ bound: every nested-loop broadcast must be
            # provably row-bounded; violations are recorded per query so
            # the inventory can't silently absorb a non-scalar BNLJ
            # behind the approved-carrier count
            if out[name]["nodes"].get("BroadcastNestedLoopJoin"):
                v = scalar_bnlj_violations(df)
                if v:
                    out[name]["bnlj_violations"] = v
        except Exception as ex:  # a build that raises is a gate failure
            out[name] = {"err": str(ex)[:80]}
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS_ALL.json"), "w") as f:
        json.dump({"sf_dir": sf_dir, "plans": out}, f, indent=1, sort_keys=True)
    summary = {
        "queries": len(out),
        "cartesian_products": [
            n for n, v in out.items() if v.get("nodes", {}).get("CartesianProduct")
        ],
        "bnlj_unbounded": [n for n, v in out.items() if v.get("bnlj_violations")],
        "errors": [n for n, v in out.items() if "err" in v],
    }
    print(json.dumps(summary))
    spark.stop()
    return 1 if any(v for k, v in summary.items() if k != "queries") else 0


if __name__ == "__main__":
    sys.exit(main())
