"""Physical-plan inspection helpers: assert the plan you meant to get.

At 100 TB the difference between a broadcast and a sort-merge join, or
between a pruned and a full scan, is the difference between minutes and
hours.  These helpers make plan shape testable so scale regressions fail in
CI instead of production (the reference has no optimizer to inspect —
SURVEY.md §4).

The counting helpers take a DataFrame (its executed plan) or plan text,
e.g. the recorded plan of a SQL execution (tools/dump_plans.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame | str) -> str:
    if isinstance(df, str):
        return df
    return df._jdf.queryExecution().executedPlan().toString()


def count_op(df: DataFrame | str, op: str) -> int:
    return physical_plan(df).count(op)


def broadcast_join_count(df: DataFrame | str) -> int:
    return count_op(df, "BroadcastHashJoin")


def shuffle_count(df: DataFrame | str) -> int:
    """Shuffle exchanges only (broadcast exchanges excluded)."""
    plan = physical_plan(df)
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|"
                          r"RoundRobinPartitioning|SinglePartition)", plan))


def pushed_filters(df: DataFrame | str) -> list[str]:
    """Each scan's pushed-filter list.  Spark truncates a long list with
    ``...`` and no closing bracket, so a match also ends at the scan's
    next field or at the end of the line, never in a later plan line."""
    return re.findall(r"PushedFilters: \[([^\]\n]*?)(?:\]|, ReadSchema: |$)",
                      physical_plan(df), re.M)


def read_schemas(df: DataFrame | str) -> list[str]:
    return re.findall(r"ReadSchema: (\S+)", physical_plan(df))


def assert_broadcast(df: DataFrame, at_least: int = 1) -> None:
    n = broadcast_join_count(df)
    assert n >= at_least, f"expected >= {at_least} broadcast joins, got {n}:\n" \
        + physical_plan(df)


def assert_no_sort_merge_join(df: DataFrame) -> None:
    assert count_op(df, "SortMergeJoin") == 0, \
        "unexpected SortMergeJoin:\n" + physical_plan(df)


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    pushed = pushed_filters(df)
    assert any(fragment in p for p in pushed), \
        f"filter '{fragment}' not pushed; pushed = {pushed}"


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = shuffle_count(df)
    assert got <= n, f"expected <= {n} shuffles, got {got}:\n" + physical_plan(df)


def assert_column_pruned(df: DataFrame, unwanted_col: str) -> None:
    assert not any(unwanted_col in s for s in read_schemas(df)), \
        f"column '{unwanted_col}' not pruned from scan: {read_schemas(df)}"


def plan_dot(df: DataFrame, optimized: bool = True) -> str:
    """Graphviz DOT of the query plan tree — the reference renders its
    hand-built topology graph with gographviz (kstream/graph/graph.go);
    here the topology IS the Catalyst plan, so the export walks the
    (optimized) logical plan via py4j.  Paste into any dot viewer.
    """
    qe = df._jdf.queryExecution()
    root = qe.optimizedPlan() if optimized else qe.logical()
    lines = ["digraph plan {", "  rankdir=TB;",
             '  node [shape=box, fontname="monospace"];']
    counter = [0]

    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace('"', '\\"')

    def walk(node) -> int:
        my_id = counter[0]
        counter[0] += 1
        label = esc(node.nodeName() + "\\n"
                    + node.simpleString(60)[:120])
        lines.append(f'  n{my_id} [label="{label}"];')
        for i in range(node.children().size()):
            child = node.children().apply(i)
            cid = walk(child)
            lines.append(f"  n{my_id} -> n{cid};")
        return my_id

    walk(root)
    lines.append("}")
    return "\n".join(lines)
