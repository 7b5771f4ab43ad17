"""The benchmark's output checks, without Spark: each must catch the defect
it exists for, including the two that made earlier streaming numbers
measure no work (zero-input batches, a join whose sides share no key)."""

import numpy as np
import pandas as pd
import pytest

import gen
import streams
from harness import Run, pct
from spans import Tracer, self_times


def _run() -> Run:
    return Run("t", 0, 1, "/nonexistent", Tracer(False), 0.0, {})


def test_join_pair_count_matches_brute_force():
    parts, expected = gen.join_inputs(np.random.default_rng(5), 3, 40)
    recs = pd.concat(parts)
    left, right = recs[recs.uuid % 2 == 0], recs[recs.uuid % 2 == 1]
    assert expected == len(left.merge(right, on="k")) == 120


def test_stream_bench_join_keys_are_disjoint_and_caught():
    # tools/stream_bench.py: k = uuid % (n // 5); left takes even uuids,
    # right odd ones.  With n // 5 even, parity splits the key space.
    n = 500_000
    uuid = np.arange(n)
    k = uuid % (n // 5)
    expected = gen.expected_pairs(k[uuid % 2 == 0], k[uuid % 2 == 1])
    assert expected == 0
    assert not streams.check_pairs(0, expected)


def test_join_check_rejects_wrong_count():
    assert streams.check_pairs(120, 120)
    assert not streams.check_pairs(119, 120)


def _progress(rows):
    return [{"numInputRows": r, "durationMs": {"addBatch": 5, "triggerExecution": 9},
             "stateOperators": []} for r in rows]


def test_zero_input_batches_are_visible():
    # materialize_stream into the in-memory registry: every batch reports
    # numInputRows=0 because the work is deferred to the first read
    run = _run()
    streams.batch_layers(run, _progress([0, 0, 0]), 100.0)
    assert run.metrics["streaming.input_rows"]["value"] == 0
    assert run.metrics["streaming.zero_input_batches"]["value"] == 3
    run = _run()
    streams.batch_layers(run, _progress([10, 0, 10]), 100.0)
    assert run.metrics["streaming.zero_input_batches"]["value"] == 1


def test_store_check_catches_a_store_missing_a_batch():
    parts, dim = gen.ingest_inputs(np.random.default_rng(7), 3, 200, 50, 10)
    want = gen.store_digest(gen.ingest_latest(parts, dim))
    assert streams._digest_equal(want, want)
    short = gen.store_digest(gen.ingest_latest(parts[:2], dim))
    assert not streams._digest_equal(short, want)


def test_exactly_once_inputs_stay_inside_the_watermark():
    parts, expected = gen.exactly_once_inputs(np.random.default_rng(3), 4, 500, 300)
    delay = pd.Timedelta(minutes=10)
    seen_max = None
    for part in parts:
        if seen_max is not None:
            assert part["ts"].min() >= seen_max - delay
        seen_max = part["ts"].max() if seen_max is None else max(seen_max, part["ts"].max())
    distinct = pd.concat(parts).drop_duplicates("uuid")
    assert len(distinct) == 2000 and expected["keys"] == distinct["k"].nunique()


def test_run_counts_known_failures_apart():
    run = _run()
    run.check(True, "ok")
    run.check(False, "probe", known_failure=True)
    assert (run.attempted, run.failed, run.known_failed) == (2, 1, 1)
    run.check(False, "wrong output")
    assert run.failed - run.known_failed == 1


def test_oracle_catches_a_changed_value(tmp_path):
    pytest.importorskip("duckdb")
    from oracle import Oracle
    df = pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 1.5, 2.5]})
    gen.write_table(df, f"{tmp_path}/t.parquet")
    oracle = Oracle(str(tmp_path), ["t"])
    try:
        sql = "SELECT a, b FROM t"
        assert oracle.mismatch(sql, df.iloc[::-1]) is None
        assert oracle.mismatch(sql, df.assign(b=[0.5, 1.5, 2.6])) == "value hash mismatch"
        assert oracle.mismatch(sql, df.iloc[:2]) == "rows 2 != 3"
    finally:
        oracle.close()


def test_self_time_subtracts_children():
    spans = [{"id": 0, "name": "outer", "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "name": "inner", "parent": 0, "start": 2.0, "end": 5.0},
             {"id": 2, "name": "inner", "parent": 0, "start": 4.0, "end": 6.0}]
    assert self_times(spans) == {"outer": 6.0, "inner": 5.0}


def test_percentile_interpolates():
    assert pct(list(range(101)), 90) == 90
    assert pct([1.0, 2.0], 50) == 1.5
