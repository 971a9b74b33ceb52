#!/usr/bin/env python3
"""Print the formatted physical plan for one or more catalog queries.

Usage: python tools/explain.py <query> [query ...] [--sf DIR]
Shows the full formatted plan plus a one-line summary of scale-relevant
markers (joins, exchanges, pushdown, top-k operators)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MARKERS = [
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "CartesianProduct", "BroadcastNestedLoopJoin", "Exchange",
    "TakeOrderedAndProject", "WindowGroupLimit", "HashAggregate",
]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = "/root/testdata/sf0.1"
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]
    if not args:
        print(__doc__)
        return

    from knime_core_columnar_spark import catalog
    from knime_core_columnar_spark.session import get_spark

    spark = get_spark(app_name="explain", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    for name in args:
        df = catalog.QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        print(f"\n======== {name} ========")
        print(plan)
        summary = {m: plan.count(m) for m in MARKERS if plan.count(m)}
        print(f"markers: {summary}")
    spark.stop()


if __name__ == "__main__":
    main()
