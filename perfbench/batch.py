"""The batch query mix: inventory queries over a generated fixture, each
split into build (the query function, with any driver-side jobs it starts)
and execute (the returned DataFrame written to the no-op sink)."""

from __future__ import annotations

import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import Run, pct
from spans import group_counts

SF = 0.01
PASSES_PER_10S = 5   # timed passes per 10 s of --seconds, at least 2

# the DSL core: stream operators, global tables and lookup/stream joins;
# nearly all of their time is Spark execution, with few build jobs
BATCH_CORE = (
    "p1_filter_strict_dlq", "p6_branch_first_match", "j1_lookup_join_left",
    "j1_lookup_join_dlq", "j4_star_join", "gt_versioned_upsert",
    "gt_tombstone_compaction", "j2_stream_stream_join", "j_asof_join",
    "agg_window_tumbling", "dedup_exact", "sessionize_events",
)


def batch_core(run: Run, names: tuple[str, ...] = BATCH_CORE) -> None:
    from pyspark.sql import DataFrameReader

    from kstream_spark import global_table
    from kstream_spark.inventory import INVENTORY

    from oracle import Oracle

    t = time.time()
    fx = f"{run.work}/fixture"
    gen.write_fixture(gen.fixture(np.random.default_rng(run.seed), SF), fx)
    table_rows = {t: pq.ParquetFile(f"{fx}/{t}.parquet").metadata.num_rows
                  for t in gen.FIXTURE_TABLES}
    run.excluded_s += time.time() - t

    run.tracer.wrap(global_table.GlobalTable, "sync", "global_table.sync")
    spark = run.start_spark()
    sc = spark.sparkContext

    # warm-up pass, charged to setup: every query once, its result checked
    # against the DuckDB oracle (the check's own time is not setup); the
    # tables each query reads are recorded for records_per_s
    oracle = Oracle(fx, gen.FIXTURE_TABLES)
    reads: dict[str, set] = {}
    orig_parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **kw):
        reads[current].update(p for p in paths if isinstance(p, str))
        return orig_parquet(self, *paths, **kw)

    DataFrameReader.parquet = recording_parquet
    try:
        for current in names:
            reads[current] = set()
            fn, sql = INVENTORY[current]
            got = fn(spark, fx).toPandas()
            spark.catalog.clearCache()
            t = time.time()
            problem = oracle.mismatch(sql, got)
            run.excluded_s += time.time() - t
            run.check(problem is None, f"{current}: {problem}")
    finally:
        DataFrameReader.parquet = orig_parquet
        oracle.close()
    records = {q: sum(n for t, n in table_rows.items()
                      if any(p.rstrip("/").endswith(f"/{t}.parquet") for p in reads[q]))
               for q in names}
    run.setup_done()

    samples: dict[str, list[tuple[float, float]]] = {q: [] for q in names}
    counts: dict[str, dict] = {}
    passes = max(2, -(-run.seconds * PASSES_PER_10S // 10))
    t_start = time.time()
    for p in range(passes):
        t_pass = time.time()
        for q in names:
            fn = INVENTORY[q][0]
            with run.tracer.span("inventory.build", query=q):
                sc.setJobGroup(f"b{p}.{q}", q)
                t = time.time()
                df = fn(spark, fx)
                build = time.time() - t
            with run.tracer.span("inventory.execute", query=q):
                sc.setJobGroup(f"e{p}.{q}", q)
                t = time.time()
                df.write.format("noop").mode("overwrite").save()
                execute = time.time() - t
            spark.catalog.clearCache()
            samples[q].append((build, execute))
            if run.trace and p == 0:
                counts[q] = {"build": group_counts(sc, f"b0.{q}"),
                             "execute": group_counts(sc, f"e0.{q}")}
        run.windows.append((t_pass, time.time()))
    sc.setJobGroup("done", "after the timed passes")

    per_query = {q: median([b + e for b, e in s]) for q, s in samples.items()}
    queries_s = sum(per_query.values())
    every = [b + e for s in samples.values() for b, e in s]
    run.metric("records_per_s", sum(records.values()) / queries_s, "1/s")
    run.metric("queries_s", queries_s, "s")
    run.metric("batch_ms_p50", 1000 * median(per_query.values()), "ms")
    run.metric("request_ms_p50", 1000 * median(every), "ms")
    run.metric("request_ms_p90", 1000 * pct(every, 90), "ms")
    run.samples.update({"passes": passes, "requests": len(every),
                        "pass_s": [round(hi - lo, 2) for lo, hi in run.windows]})

    if run.trace:
        sums = dict.fromkeys(("build_s", "build_jobs", "execute_s", "execute_stages", "execute_tasks"), 0.0)
        for q, s in samples.items():
            layer = {"build_s": median([b for b, _ in s]), "build_jobs": counts[q]["build"]["jobs"],
                     "execute_s": median([e for _, e in s]),
                     "execute_stages": counts[q]["execute"]["stages"],
                     "execute_tasks": counts[q]["execute"]["tasks"]}
            for k, v in layer.items():
                sums[k] += v
            run.metric(f"inventory.{q}.build_s", layer["build_s"], "s")
            run.metric(f"inventory.{q}.build_jobs", layer["build_jobs"], "count")
            run.metric(f"inventory.{q}.execute_s", layer["execute_s"], "s")
            run.metric(f"inventory.{q}.execute_tasks", layer["execute_tasks"], "count")
        for k, v in sums.items():
            run.metric(f"inventory.{k}", v, "s" if k.endswith("_s") else "count")
        syncs = run.tracer.durations("global_table.sync", since=t_start)
        run.metric("global_table.sync_s", sum(syncs) / passes, "s")
