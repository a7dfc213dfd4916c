"""Dump a machine-readable plan inventory for every queries() entry.

For each query: a stable fingerprint of the physical plan (node names
only — ids and paths stripped, same normalization as bench.py) plus
counts of the scale-relevant node types. Written to PLANS_ALL.json;
diff it across rounds to catch plan regressions (a new shuffle, a lost
broadcast, a cartesian product) before they cost wall-clock at scale.

Usage: python tools/plan_dump.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.operators.planaudit import (
    plan_fingerprint,
    scalar_bnlj_violations,
)
from simple_etl_pipeline_spark.session import get_spark

NODES = [
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "HashAggregate",
    "Window",
    "WindowGroupLimit",
    "TakeOrderedAndProject",
    "FileScan parquet",
    "InMemoryTableScan",
    "ArrowEvalPython",
    "MapInPandas",
]


# fingerprint: the SHARED normalization (operators.planaudit.
# plan_fingerprint over the formatted explain). The previous local
# fingerprint hashed executedPlan().toString(), whose DataFilters/
# PushedFilters truncation point depends on expression-id digit count
# — 43 fingerprints "moved" on unchanged round-7 code from that
# artifact alone. Node COUNTS still come from the executed-plan text
# (richer node names).


def main() -> None:
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
            plan = df._jdf.queryExecution().executedPlan().toString()
            out[name] = {
                "fp": plan_fingerprint(df),
                "nodes": {n: plan.count(n) for n in NODES if plan.count(n)},
            }
            # the scalar-BNLJ bound (VERDICT r14 #3): every nested-loop
            # broadcast must be provably row-bounded; violations are
            # recorded per query so the inventory can't silently absorb
            # a non-scalar BNLJ behind the approved-carrier count
            if out[name]["nodes"].get("BroadcastNestedLoopJoin"):
                v = scalar_bnlj_violations(df)
                if v:
                    out[name]["bnlj_violations"] = v
        except Exception as ex:  # streaming entries have no batch plan
            out[name] = {"err": str(ex)[:80]}
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS_ALL.json"), "w") as f:
        json.dump({"sf_dir": sf_dir, "plans": out}, f, indent=1, sort_keys=True)
    bad = [n for n, v in out.items() if v.get("nodes", {}).get("CartesianProduct")]
    bnlj_bad = [n for n, v in out.items() if v.get("bnlj_violations")]
    print(json.dumps({
        "queries": len(out),
        "cartesian_products": bad,
        "bnlj_unbounded": bnlj_bad,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
