"""Parquet schema reuse (sources/parquet.py ``parquet_schema``): a re-read
of an unchanged path starts no Spark job; a changed file listing or a
changed inference conf infers again; the persistent store reads its own
snapshot back with the schema it wrote."""

import datetime
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from kstream_spark import util
from kstream_spark.inventory import INVENTORY
from kstream_spark.sources.parquet import read_parquet
from kstream_spark.stores.registry import PersistentStoreRegistry

_groups = itertools.count()


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"parquet-source-{next(_groups)}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_reread_of_an_unchanged_path_starts_no_job(spark, tmp_path, layout):
    if layout == "file":
        path = tmp_path / "t.parquet"
        _write(path, k=[1, 2, 3], s=["a", "b", None])
    else:
        path = tmp_path / "t"
        path.mkdir()
        _write(path / "part-0.parquet", k=[1, 2], s=["a", "b"])
        _write(path / "part-1.parquet", k=[3], s=pa.array([None], pa.string()))
    first, inferred = _jobs(spark, lambda: read_parquet(spark, str(path)))
    second, jobs = _jobs(spark, lambda: read_parquet(spark, str(path)))
    assert inferred >= 1 and jobs == 0
    assert second.schema == first.schema
    assert _rows(second) == _rows(first) == [(1, "a"), (2, "b"), (3, None)]


def test_a_changed_listing_is_seen_on_the_next_read(spark, tmp_path):
    f = tmp_path / "t.parquet"
    _write(f, k=[1])
    assert read_parquet(spark, str(f)).columns == ["k"]
    _write(f, k=[1, 2], extra=["x", "y"])
    assert _rows(read_parquet(spark, str(f))) == [(1, "x"), (2, "y")]

    d = tmp_path / "d"
    d.mkdir()
    _write(d / "part-0.parquet", k=[1])
    _ = read_parquet(spark, str(d))
    _write(d / "part-1.parquet", k=[2])
    df, jobs = _jobs(spark, lambda: read_parquet(spark, str(d)))
    assert jobs >= 1                    # inferred again
    assert _rows(df) == [(1,), (2,)]


def test_an_inference_conf_is_part_of_the_key(spark, tmp_path):
    f = tmp_path / "b.parquet"
    _write(f, b=pa.array([b"x", b"y"], pa.binary()))
    conf = "spark.sql.parquet.binaryAsString"
    was = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert read_parquet(spark, str(f)).schema["b"].dataType == T.BinaryType()
        spark.conf.set(conf, "true")
        df = read_parquet(spark, str(f))
        assert df.schema["b"].dataType == T.StringType()
        assert _rows(df) == [("x",), ("y",)]
    finally:
        spark.conf.set(conf, was)


def test_a_missing_path_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "missing.parquet"))


def test_a_glob_path_reads(spark, tmp_path):
    for i in range(2):
        _write(tmp_path / f"part-{i}.parquet", k=[i])
    (tmp_path / "other.txt").write_text("not parquet")
    for _ in range(2):
        assert _rows(read_parquet(spark, f"{tmp_path}/part-*.parquet")) \
            == [(0,), (1,)]


def test_nanos_timestamps_are_restored_on_reuse(spark, tmp_path):
    ts = [datetime.datetime(2024, 1, 1, 0, 0, 1, 123456),
          datetime.datetime(2024, 6, 30, 23, 59, 59)]
    f = tmp_path / "ns.parquet"
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns"))}),
                   str(f), coerce_timestamps=None)
    assert pq.read_schema(str(f)).field("ts").type == pa.timestamp("ns")
    first = read_parquet(spark, str(f))
    second, jobs = _jobs(spark, lambda: read_parquet(spark, str(f)))
    assert jobs == 0
    for df in (first, second):
        assert df.schema["ts"].dataType == T.TimestampType()
        assert [r.ts.replace(tzinfo=None) for r in df.orderBy("ts").collect()] \
            == ts


def test_snapshot_reads_back_its_schema_with_one_job_fewer(spark, tmp_path):
    # the column types the store tests write, nulls included, plus a
    # column Spark knows is never null
    df = spark.createDataFrame(
        [(1, "a", 1.5, datetime.datetime(2024, 1, 1), 1),
         (2, None, float("nan"), None, 2)],
        "k long, s string, d double, ts timestamp, ver long") \
        .selectExpr("*", "7 AS nn")
    assert not df.schema["nn"].nullable
    reg = PersistentStoreRegistry(spark, str(tmp_path / "snap"))
    # the fold's write starts 3 jobs; reading the snapshot back inferred
    # its schema in a fourth
    store, jobs = _jobs(spark, lambda: reg.materialize("p", df, key="k",
                                                       version="ver"))
    assert jobs == 3
    inferred = spark.read.parquet(str(tmp_path / "snap" / "p" / "epoch=1"))
    assert store._base.schema == inferred.schema
    assert repr(_rows(store.get_all())) == repr(_rows(inferred))  # NaN


# the DSL core queries the batch benchmark builds on every pass
BATCH_CORE = (
    "p1_filter_strict_dlq", "p6_branch_first_match", "j1_lookup_join_left",
    "j1_lookup_join_dlq", "j4_star_join", "gt_versioned_upsert",
    "gt_tombstone_compaction", "j2_stream_stream_join", "j_asof_join",
    "agg_window_tumbling", "dedup_exact", "sessionize_events",
)


@pytest.mark.parametrize("name", BATCH_CORE)
def test_a_second_build_starts_no_job(spark, sf_dir, name):
    fn = INVENTORY[name][0]
    for _ in range(2):     # the second build is the one counted
        with util.cache_scope():
            _, jobs = _jobs(spark, lambda: fn(spark, sf_dir))
    # gt_versioned_upsert builds a store, and its fold executes
    assert jobs == (3 if name == "gt_versioned_upsert" else 0)
