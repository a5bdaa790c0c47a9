"""Audit physical plans the way PLANS.md tabulates them.

Usage: python tools/plan_audit.py q1,q2,...|all [sf_dir]

Prints, per query: broadcast-hash joins, sort-merge joins, shuffle
exchanges, parquet scans + in-memory scans, Python eval nodes
(Arrow/pandas UDF stages), whether scans are column-pruned (ReadSchema
narrower than the table), and ``regroup``: the number of Aggregates
keyed on an attribute that passes through a Generate below them — an
explode followed by a regroup on the row's own key, the shape a
row-local kernel replaces.  ``all`` audits every declared query; a
query whose build fails prints its error in the row.

The session is ``kats_spark.session.get_spark``: size it with
``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _attr_ids(exprs) -> set[int]:
    return {
        e.exprId().id()
        for e in _seq(exprs)
        if e.getClass().getSimpleName() == "AttributeReference"
    }


def regroup_sites(plan) -> int:
    """Aggregates over a Generate whose input rows carry one of the
    Aggregate's grouping attributes (optimized logical plan)."""
    found = 0

    def walk(node, keys: list[set[int]]) -> None:
        nonlocal found
        name = node.nodeName()
        if name == "Aggregate":
            keys = keys + [_attr_ids(node.groupingExpressions())]
        elif name == "Generate":
            passed = _attr_ids(node.child().output())
            found += sum(1 for k in keys if k & passed)
            keys = [k - passed for k in keys]  # count each Aggregate once
        for child in _seq(node.children()):
            walk(child, keys)

    walk(plan, [])
    return found


def main() -> None:
    from kats_spark.session import get_spark

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    names = list(qs) if sys.argv[1] == "all" else sys.argv[1].split(",")
    print("| query | BHJ | SMJ | exchanges | scans | python | pruned | regroup |")
    print("|---|---|---|---|---|---|---|---|")
    for name in names:
        try:
            qe = qs[name](spark, sf_dir)._jdf.queryExecution()
            regroup = regroup_sites(qe.optimizedPlan())
            plan = qe.executedPlan().toString()
        except Exception as e:  # noqa: BLE001 - report and go on
            print(f"| {name} | error: {str(e).splitlines()[0][:80]} |")
            continue
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        exch = len(re.findall(r"Exchange (?:hash|range|Single)", plan))
        scans = plan.count("Scan parquet")
        mem = plan.count("InMemoryTableScan")
        py = (
            plan.count("BatchEvalPython")
            + plan.count("ArrowEvalPython")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInArrow")
        )
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        pruned = "yes" if all(len(s.split(",")) <= 12 for s in schemas) else "check"
        print(
            f"| {name} | {bhj} | {smj} | {exch} | {scans}+{mem}c | {py} | {pruned} | {regroup} |",
            flush=True,
        )


if __name__ == "__main__":
    main()
