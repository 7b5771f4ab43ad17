"""Dump the physical plans that inventory queries actually execute.

Usage:
  python tools/dump_plans.py REPO_ROOT --sf SF_DIR --out DIR query [query ...]
  python tools/dump_plans.py REPO_ROOT --sf SF_DIR --summary PLANS.md [query ...]

Each query is built and run with a noop write.  Every SQL execution it
started on the way — sizing counts, per-round training collects, any
collect that materializes a bounded result and the noop write itself —
is read back from the session's SQL status store, which records
the final (post-AQE) plan of each execution.

The first form writes ``DIR/<query>.txt`` with every execution's
plan.  The second writes a PLANS.md-style summary (``plans/inspect``
counts over the executed plans) for the named queries, or for bench.py's
headline queries when none are named.

REPO_ROOT is put first on ``sys.path``, so the same script dumps a
checkout of another commit (e.g. a ``git archive`` of the parent, for a
before/after plan diff).  ``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import os
import sys

_INITIAL = "+- == Initial Plan =="


def executed_part(plan: str) -> str:
    """``plan`` without AQE's ``Initial Plan`` subtrees, which repeat the
    pre-execution shape next to the final one."""
    out: list[str] = []
    skip = None
    for line in plan.splitlines():
        if skip is not None and line.startswith(skip):
            continue
        skip = None
        i = line.find(_INITIAL)
        if i >= 0:
            skip = line[:i] + "   "
            continue
        out.append(line)
    return "\n".join(out)


def run_plans(spark, fn, sf: str) -> list[tuple[int, str, str]]:
    """Run ``fn(spark, sf)`` with a noop write; return (execution id,
    description, plan text) of every SQL execution it started."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark._jsc.sc().listenerBus()

    def last_id() -> int:
        ex = store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    bus.waitUntilEmpty()
    start = last_id()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    bus.waitUntilEmpty()
    ex = store.executionsList()
    rows = [ex.apply(i) for i in range(ex.size())]
    return sorted((e.executionId(), e.description(),
                   e.physicalPlanDescription())
                  for e in rows if e.executionId() > start)


def summary(name: str, plans: list[tuple[int, str, str]]) -> list[str]:
    from kstream_spark.plans import inspect as P
    text = "\n".join(executed_part(p) for _, _, p in plans)
    lines = [
        f"## {name}",
        "",
        f"- SQL executions: {len(plans)}; broadcast joins: "
        f"{P.broadcast_join_count(text)}, sort-merge joins: "
        f"{P.count_op(text, 'SortMergeJoin')}, shuffle exchanges: "
        f"{P.shuffle_count(text)}",
    ]
    pf = [p for p in P.pushed_filters(text) if p]
    if pf:
        lines.append(f"- pushed filters: {'; '.join(pf[:4])}")
    rs = P.read_schemas(text)
    if rs:
        lines.append(f"- scan schemas: {'; '.join(s[:110] for s in rs[:4])}")
    else:
        lines.append("- (no parquet scan: the input is a local or "
                     "checkpointed relation)")
    return lines + [""]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("repo_root")
    ap.add_argument("queries", nargs="*")
    form = ap.add_mutually_exclusive_group(required=True)
    form.add_argument("--out", metavar="DIR",
                      help="write every execution's plan to DIR/<query>.txt")
    form.add_argument("--summary", metavar="PATH",
                      help="write a PLANS.md-style summary to PATH")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="input fixture directory (default: "
                         "$SPARK_GRAFT_SF_DIR)")
    args = ap.parse_intermixed_args()
    names = args.queries
    if args.out and not names:
        ap.error("--out needs at least one query")
    if not args.sf:
        ap.error("give --sf DIR or set SPARK_GRAFT_SF_DIR")
    root = os.path.abspath(args.repo_root)
    sys.path.insert(0, root)
    # Python workers import the same checkout (they inherit the JVM's env)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)

    from kstream_spark import get_spark
    from kstream_spark.inventory import INVENTORY

    if args.summary and not names:
        from bench import HEADLINE
        names = HEADLINE
    sf = args.sf
    spark = get_spark()
    # one-line tree strings: the form plans/inspect's patterns read
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    lines = [
        "# PLANS — physical-plan shape of the headline queries",
        "",
        "Generated by `python tools/dump_plans.py . --sf SF_DIR --summary",
        f"PLANS.md` ({os.path.basename(sf)} inputs; plan shape is",
        "scale-independent).",
        "Each query runs once with a noop write; the counts cover every SQL",
        "execution it started (sizing jobs, training rounds, the collect",
        "behind a materialized result, the write), final AQE plans only.",
        "Columns: broadcast hash joins / sort-merge joins / shuffle",
        "exchanges, pushed filters, and scanned schemas (column pruning).",
        "",
    ]
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    for name in names:
        if name not in INVENTORY:
            print(f"SKIP {name}: not in inventory", file=sys.stderr)
            continue
        plans = run_plans(spark, INVENTORY[name][0], sf)
        if args.summary:
            lines += summary(name, plans)
            continue
        path = os.path.join(args.out, f"{name}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {sf}: {len(plans)} SQL executions\n")
            for eid, desc, plan in plans:
                f.write(f"\n## execution {eid}: {desc}\n{plan}\n")
        print(f"wrote {path}")
    if args.summary:
        with open(args.summary, "w") as f:
            f.write("\n".join(lines))
        print(f"wrote {args.summary} ({len(lines)} lines)")


if __name__ == "__main__":
    main()
