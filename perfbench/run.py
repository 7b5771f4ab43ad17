"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from the
seed, runs it on a ``local[nproc]`` Spark session sized to the machine,
checks every output, prints a human-readable summary and, as the last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the ``end_to_end`` ones of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` ones, recorded from
spans around calls into the program, Spark's status tracker, the streaming
progress reports and the event log.  Scratch files go to ``.perfbench/`` in
the checkout and are removed at exit; the traced run leaves its spans there.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def workloads() -> dict:
    import batch
    import streams
    return {"ingest_store": streams.ingest_store, "stream_join": streams.stream_join,
            "batch_core": batch.batch_core}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import kstream_spark  # noqa: F401
        from tools.check import canonical  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    table = workloads()
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(table)}", file=sys.stderr)
        return 2

    from harness import Run, machine_sizing
    from spans import Tracer, digest_event_log

    out = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    run = Run(args.workload, args.seed, args.seconds, work, Tracer(bool(args.trace)), T0,
              machine_sizing())
    try:
        try:
            table[args.workload](run)
            run.metric("peak_rss_mb", run.peak_rss_mb(), "MB")
        finally:
            run.stop_spark()
            run.tracer.unwrap()
        if args.trace:
            for name, value in digest_event_log(f"{work}/events", run.windows).items():
                run.metric(f"spark.{name}", value, "ms" if name.endswith("_ms") else "bytes")
            run.metric("session.start_s", run.session_start_s, "s")
            for m in spec["end_to_end"]:
                run.metric(f"traced.{m['name']}", run.metrics[m["name"]]["value"], m["unit"])
            run.tracer.write(os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # a layer the workload never calls reads 0
        metrics = {m["name"]: run.metrics.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: run.metrics[m["name"]] for m in spec["end_to_end"]}
    summary(run, spec)
    print(json.dumps({"correct": run.failed == run.known_failed,
                      "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


def summary(run, spec) -> None:
    """Every metric the run measured, by name and unit, for a human reader."""
    share = run.failed / run.attempted if run.attempted else 0.0
    print(f"# {run.workload} seed={run.seed} seconds={run.seconds} trace={int(run.trace)} "
          f"sizing={run.sizing} samples={run.samples}")
    print(f"#   failed_share = {share:.6f} ({run.failed}/{run.attempted})")
    for p in run.problems:
        print(f"#   failed: {p}")
    e2e = [m["name"] for m in spec["end_to_end"]]
    for name in e2e + sorted(set(run.metrics) - set(e2e)):
        if name in run.metrics:
            m = run.metrics[name]
            print(f"#   {name} = {m['value']:.6g} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
