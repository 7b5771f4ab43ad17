"""Local correctness harness mimicking the driver's oracle compare.

Runs every __spark_entry__.queries() entry at the given SF, runs the matching
oracle_sql() in DuckDB over the same parquet views, and compares:
row count, column names, and an order-insensitive value hash (doubles rounded
to 9 significant-ish decimals to absorb float summation-order noise).

Usage:  python tools/check.py [sf_dir] [query ...] [--sample] [--json out]

--sample: queries in SAMPLED_QUERIES (the ones whose ORACLES are quadratic
in the embedding count — the Spark side is bucketed, the DuckDB replay is
not) run against a derived fixture dir whose embeddings table is sliced to
a deterministic id range (vec_id < SAMPLE_VEC_CAP); every other table is
the full fixture.  This is what lets the full inventory sweep at sf1: the
bound is DuckDB's brute-force pair space, not the Spark queries
(COVERAGE.md).  The slice is still a real hash compare on sf1-derived
data — just on a bounded id range.

--json PATH: also write {name: {pass, rows, spark_seconds, oracle_seconds,
sampled}} for a committable sweep artifact.

Load-honesty (the r7 sweep recorded 4.5x phantom regressions taken on a
busy machine, and its single `seconds` conflated Spark and DuckDB time):
  * spark_seconds and oracle_seconds are timed SEPARATELY — an expensive
    oracle CTE no longer pollutes the engine signal;
  * --minof N re-runs the SPARK side N times and records the min — the
    standard quiet-measurement control for a shared machine;
  * the flat CONTROL_QUERY re-runs every CONTROL_EVERY queries and its
    spark_seconds series lands in the artifact as `control_runs` — a
    drifting control means the machine was loaded and the sweep's
    deltas are not regression evidence.

Cache ownership: each Spark run is one ``util.cache_scope``, so every pin
a query ``owned`` is released when its run ends.  A query that still
leaves a Dataset in the CacheManager or an RDD in the BlockManager fails
its row as LEAK.  A store registry made inside the scope is the scope's,
so its stores' checkpoints count too.

--orchestrate [N]: the r10 verdict showed the single-process sweep
corrupts its own LATE-query timings (JVM accumulation a flat control is
too light to expose: sim_ivf_topk read 14.1s in-sweep vs 3.9s
standalone).  Orchestrated mode fixes the instrument instead of
annotating the damage: the parent forks a FRESH python+JVM per band of N
queries (default 25), merges the per-band artifacts, then re-runs every
passing query whose in-band spark_seconds >= STANDALONE_RERUN_SECONDS in
its OWN fresh process and records `spark_seconds_standalone` next to the
in-band number.  A query is perf-weak only if its STANDALONE time says
so; the per-band number remains as provenance.
"""

from __future__ import annotations

import faulthandler
import hashlib
import json
import os
import signal
import sys
import time

# live-debug hook: `kill -USR1 <pid>` dumps every thread's python stack
# to stderr without disturbing the run (used to diagnose oracle stalls)
faulthandler.register(signal.SIGUSR1)

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# oracle cost is O(|embeddings|^2) — all-pairs / within-cell-pairs replays
SAMPLED_QUERIES = {"sim_cosine_pairs", "dedup_embedding", "dedup_semantic"}
SAMPLE_VEC_CAP = 2000  # sf0.1 cardinality — the largest swept-green size

# flat load-sentinel: cheap, code rarely touched, no oracle cost to speak
# of — its spark_seconds series across the sweep is the drift control
CONTROL_QUERY = "dedup_exact"
CONTROL_EVERY = 25

# orchestrated mode: any passing query at/over this many in-band Spark
# seconds gets a fresh-process standalone re-measure (covers both the
# ">2x oracle at >=2s" weak-set rule and suspected regressions, without
# re-running the long tail of sub-2s queries)
STANDALONE_RERUN_SECONDS = 2.0
# standalone children replay the oracle; in-band oracles at/over this
# cost keep their in-band measurement (see orchestrate)
ORACLE_SOLO_CAP_SECONDS = 60.0
DEFAULT_BAND = 25


def _repo_head() -> str:
    """Hash of the BEHAVIOR-DEFINING sources (library + entry + this
    harness) — stamps sweep artifacts so a resumed orchestrated run
    can't silently merge results measured against older code (the r11
    ADVICE staleness hole).  A source hash, not git HEAD: committing
    docs or measurement artifacts mid-sweep must not invalidate a
    resume (the r12 lesson — a 2h sf1 sweep spans several doc commits),
    while any .py change still does."""
    import glob as _g
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.md5()
    files = sorted(
        _g.glob(os.path.join(root, "kstream_spark", "**", "*.py"),
                recursive=True)
        + [os.path.join(root, "__spark_entry__.py"),
           os.path.abspath(__file__)])
    for p in files:
        try:
            with open(p, "rb") as fh:
                h.update(p.encode())
                h.update(fh.read())
        except OSError:
            pass
    return "src:" + h.hexdigest()


def canonical(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            # absolute 6 dp THEN 9 significant digits: engines sum in
            # different orders, and for a ~1e9-scale sum over ~1e6 rows the
            # accumulated last-ulp drift (~1e-4) exceeds an absolute 1e-6
            # grid while staying far inside 9 sig figs — absolute round-6
            # alone only worked while fixtures kept sums small (the sf1
            # sweep's tpch_q14 exposed it); the 6-dp step keeps the old
            # tolerance for sub-1 values the query didn't round itself.
            df[c] = s.round(6).map(lambda v: f"{v:.9g}")
        elif s.dtype.kind == "M":
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(sorted(v)) if isinstance(v, (list, tuple)) else str(v))
    rows = sorted(df.astype(str).itertuples(index=False, name=None))
    return hashlib.md5(str(rows).encode()).hexdigest()


def _table_path(sf_dir: str, t: str) -> str:
    path = f"{sf_dir}/{t}.parquet"
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    return path


def make_slice_dir(sf_dir: str) -> str:
    """Derive a slice fixture under the repo's .data/ (NEVER next to the
    source fixture — /root/testdata is read-only): embeddings restricted
    to vec_id < SAMPLE_VEC_CAP (one deterministic id range), all other
    tables symlinked to the full fixture."""
    base = os.path.basename(sf_dir.rstrip("/"))
    dst = os.path.join("/root/repo/.data/slices", f"{base}_slice")
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        link = f"{dst}/{t}.parquet"
        if t == "embeddings":
            if not os.path.exists(link):
                duckdb.sql(
                    f"COPY (SELECT * FROM '{_table_path(sf_dir, t)}' "
                    f"WHERE vec_id < {SAMPLE_VEC_CAP}) TO '{link}' "
                    f"(FORMAT PARQUET)")
        elif not os.path.lexists(link):
            os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"), link)
    return dst


def _flag_value(args: list[str], flag: str):
    if flag not in sys.argv:
        return None
    val = sys.argv[sys.argv.index(flag) + 1]
    if val in args:
        args.remove(val)
    return val


def orchestrate(sf_dir: str, only: set[str], sample: bool, minof: int,
                json_out: str, band_size: int) -> None:
    """Fresh python+JVM per band of ``band_size`` queries; merge artifacts;
    fresh-process standalone re-measure of every >=STANDALONE_RERUN_SECONDS
    passer.  See module docstring (the r10 late-sweep-inflation fix).

    Band/solo artifacts land in a STABLE workdir next to ``json_out``
    (``<json_out>.bands/``) and an existing complete artifact is reused,
    so a killed sweep resumes from the first unfinished band instead of
    starting over (an 8-band sf1 sweep is ~an hour of fresh-JVM work —
    losing it to a timeout on the last band is the failure mode this
    removes).  Delete the dir to force a full re-measure."""
    import subprocess

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry   # rotation order only — no session
    names = [n for n in entry.queries() if not only or n in only]
    bands = [names[i:i + band_size] for i in range(0, len(names), band_size)]
    work = json_out + ".bands"
    os.makedirs(work, exist_ok=True)

    head = _repo_head()

    def run_child(qnames: list[str], out_path: str, label: str) -> dict:
        if os.path.exists(out_path):
            try:
                with open(out_path) as fh:
                    part = json.load(fh)
                stale = part.get("repo_head") != head
                failed = any(not r.get("pass")
                             for r in part.get("results", {}).values())
                if set(part.get("results", {})) == set(qnames) \
                        and not stale and not failed:
                    print(f"== {label}: reusing {out_path}", flush=True)
                    return part
                if stale or failed:   # post-fix rerun must not merge stale
                    print(f"== {label}: discarding {out_path} "
                          f"({'HEAD changed' if stale else 'had failures'})",
                          flush=True)
            except Exception:
                pass
        cmd = [sys.executable, os.path.abspath(__file__), sf_dir, *qnames,
               "--json", out_path, "--minof", str(minof)]
        if sample:
            cmd.append("--sample")
        t0 = time.time()
        rc = subprocess.run(cmd).returncode
        print(f"== {label}: {len(qnames)} queries, rc={rc}, "
              f"{time.time() - t0:.0f}s", flush=True)
        try:
            with open(out_path) as fh:
                return json.load(fh)
        except Exception:
            return {"results": {q: {"pass": False,
                                    "err": f"band process rc={rc}, "
                                           "no artifact"} for q in qnames},
                    "control_runs": []}

    results: dict = {}
    control_runs: list = []
    for bi, band in enumerate(bands):
        part = run_child(band, f"{work}/band{bi}.json", f"band {bi}")
        for name, row in part["results"].items():
            results[name] = dict(row, band=bi)
        control_runs += [dict(c, band=bi) for c in part["control_runs"]]
    # a standalone child replays the query's ORACLE too, so queries whose
    # oracle is deliberately brute-force-expensive (graph_triangles:
    # ~1h of DuckDB replay at sf1) are exempt — their in-band numbers
    # stand, recorded under standalone_skipped_oracle_cost.  This keeps
    # the phase (r12 skipped it wholesale and lost 4 boundary
    # adjudications) while bounding its wall-clock.
    skipped_oracle = sorted(
        n for n, r in results.items()
        if r.get("pass") and not r.get("rows_only")
        and r.get("spark_seconds", 0) >= STANDALONE_RERUN_SECONDS
        and r.get("oracle_seconds", 0) >= ORACLE_SOLO_CAP_SECONDS)
    rerun = [n for n, r in results.items()
             if r.get("pass") and not r.get("rows_only")
             and r.get("spark_seconds", 0) >= STANDALONE_RERUN_SECONDS
             and n not in skipped_oracle]
    print(f"== standalone re-measure: {len(rerun)} queries "
          f">= {STANDALONE_RERUN_SECONDS}s "
          f"(oracle-cost exempt: {skipped_oracle})", flush=True)
    for qi, name in enumerate(rerun):
        part = run_child([name], f"{work}/solo_{name}.json", f"solo {name}")
        solo = part["results"].get(name, {})
        results[name]["spark_seconds_standalone"] = \
            solo.get("spark_seconds")
        if solo.get("pass") is False:   # a standalone FAIL outranks
            results[name]["pass"] = False
            results[name]["err"] = f"standalone: {solo.get('err')}"
    failures = [n for n, r in results.items() if not r["pass"]]
    with open(json_out, "w") as fh:
        json.dump({"sf_dir": sf_dir, "sample_mode": sample, "minof": minof,
                   "repo_head": head,
                   "orchestrated": True, "band_size": band_size,
                   "standalone_rerun_seconds": STANDALONE_RERUN_SECONDS,
                   "standalone_remeasured": sorted(rerun),
                   "standalone_skipped_oracle_cost": skipped_oracle,
                   "control_query": CONTROL_QUERY,
                   "control_runs": control_runs,
                   "sampled_queries": sorted(SAMPLED_QUERIES & set(results)),
                   "vec_cap": SAMPLE_VEC_CAP if sample else None,
                   "passed": sum(1 for r in results.values() if r["pass"]),
                   "total": len(results),
                   "results": results}, fh, indent=1)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sample = "--sample" in sys.argv
    json_out = _flag_value(args, "--json")
    minof = max(1, int(_flag_value(args, "--minof") or 1))
    orch = None
    if "--orchestrate" in sys.argv:
        nxt = sys.argv[sys.argv.index("--orchestrate") + 1] \
            if sys.argv.index("--orchestrate") + 1 < len(sys.argv) else ""
        orch = int(nxt) if nxt.isdigit() else DEFAULT_BAND
        if orch <= 0:   # a 0 band would silently fall through to the
            sys.exit("--orchestrate band size must be >= 1")  # bad sweep
        if nxt.isdigit() and nxt in args:
            args.remove(nxt)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if orch:
        if not json_out:
            sys.exit("--orchestrate requires --json OUT")
        orchestrate(sf_dir, only, sample, minof, json_out, orch)
        return

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from kstream_spark import get_spark
    from kstream_spark.util import cache_scope

    spark = get_spark()
    slice_dir = make_slice_dir(sf_dir) if sample else None

    def connect(d: str):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{_table_path(d, t)}'")
        return con

    con_full = connect(sf_dir)
    con_slice = connect(slice_dir) if slice_dir else None

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    results = {}
    control_runs = []

    def run_spark(fn, q_dir):
        """(pandas df, min-of-``minof`` spark seconds), one scope a run."""
        best, sdf = None, None
        for _ in range(minof):
            with cache_scope():
                t0 = time.time()
                out = fn(spark, q_dir).toPandas()
                dt = time.time() - t0
            if best is None or dt < best:
                best, sdf = dt, out
        return sdf, best

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc.sc()

    def pinned(before: set) -> tuple[bool, set]:
        """(whether the CacheManager holds a Dataset, the ids of stored
        RDDs not in ``before``)."""
        return (not cache_manager.isEmpty(),
                {i.id() for i in jsc.getRDDStorageInfo()} - before)

    def run_control(at: int) -> None:
        if CONTROL_QUERY not in queries:
            return
        _df, dt = run_spark(queries[CONTROL_QUERY], sf_dir)
        control_runs.append({"after_n_queries": at,
                             "spark_seconds": round(dt, 2)})
        print(f"ctrl {CONTROL_QUERY}: {dt:.2f}s (after {at} queries)",
              flush=True)

    todo = [(n, f) for n, f in queries.items() if not only or n in only]
    if json_out:          # sweeps carry the drift sentinel; ad-hoc runs skip
        run_control(0)
    def check_one(name, fn, q_dir, con, sampled):
        try:
            sdf, spark_s = run_spark(fn, q_dir)
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}", flush=True)
            results[name] = {"pass": False, "err": f"spark: {e}"}
            return
        tag = " [sampled]" if sampled else ""
        if name not in oracles:
            print(f"ok?  {name}: rows={len(sdf)} ({spark_s:.1f}s) [no oracle — rows-only]{tag}", flush=True)
            results[name] = {"pass": True, "rows": len(sdf),
                             "spark_seconds": round(spark_s, 2),
                             "rows_only": True, "sampled": sampled}
            return
        t1 = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error: {e}", flush=True)
            results[name] = {"pass": False, "err": f"oracle: {e}"}
            return
        oracle_s = time.time() - t1
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems and canonical(sdf) != canonical(odf):
            problems.append("value-hash mismatch")
            merged = sdf[sorted(sdf.columns)].round(6) if len(sdf) else sdf
            print(merged.head(3))
            print(odf[sorted(odf.columns)].head(3))
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            results[name] = {"pass": False, "err": "; ".join(problems),
                             "sampled": sampled}
        else:
            print(f"PASS {name}: rows={len(sdf)} "
                  f"(spark {spark_s:.1f}s, oracle {oracle_s:.1f}s){tag}",
                  flush=True)
            results[name] = {"pass": True, "rows": len(sdf),
                             "spark_seconds": round(spark_s, 2),
                             "oracle_seconds": round(oracle_s, 2),
                             "sampled": sampled}

    was_cached, stored = pinned(set())
    for qi, (name, fn) in enumerate(todo, start=1):
        sampled = sample and name in SAMPLED_QUERIES
        check_one(name, fn,
                  slice_dir if sampled else sf_dir,
                  con_slice if sampled else con_full, sampled)
        cached, rdds = pinned(stored)
        leak = [what for what, hit in (
            ("a Dataset in the CacheManager", cached and not was_cached),
            (f"stored RDDs {sorted(rdds)}", rdds)) if hit]
        was_cached, stored = cached, stored | rdds
        if leak:
            err = "LEAK: left " + " and ".join(leak)
            print(f"LEAK {name}: {err}", flush=True)
            if name not in failures:
                failures.append(name)
            row = results[name]
            row["err"] = "; ".join(filter(None, [row.get("err"), err]))
            row["pass"] = False
        if json_out and qi % CONTROL_EVERY == 0:
            run_control(qi)
    if json_out:
        run_control(len(todo))
        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "sample_mode": sample,
                       "minof": minof, "repo_head": _repo_head(),
                       "control_query": CONTROL_QUERY,
                       "control_runs": control_runs,
                       "sampled_queries": sorted(SAMPLED_QUERIES & set(results)),
                       "vec_cap": SAMPLE_VEC_CAP if sample else None,
                       "passed": sum(1 for r in results.values() if r["pass"]),
                       "total": len(results),
                       "results": results}, fh, indent=1)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
