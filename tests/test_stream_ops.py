"""Stateless operator semantics (SURVEY §2.2), mirroring the reference's
operator unit tests (kstream/processors/*_test.go)."""

import pyspark.sql.functions as F
import pytest

from kstream_spark import StreamBuilder


@pytest.fixture(scope="module")
def events(spark):
    return StreamBuilder(spark).from_df(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, "c", 40.0)],
            "id long, cat string, v double",
        ),
        name="t",
    )


def test_filter(events):
    got = events.filter(F.col("v") > 15).to_df().collect()
    assert sorted(r.id for r in got) == [2, 3, 4]


def test_select_key_marks_rekeyed(events):
    s = events.select_key(F.col("cat"))
    assert s.key == "key"
    assert {r.key for r in s.to_df().collect()} == {"a", "b", "c"}


def test_transform_values_keeps_key(events):
    s = events.select_key("cat").transform_values(v2=F.col("v") * 2)
    rows = {r.id: r.v2 for r in s.to_df().collect()}
    assert rows == {1: 20.0, 2: 40.0, 3: 60.0, 4: 80.0}
    assert s.key == "key"


def test_branch_first_match_exclusive(events):
    # ref branch/branch.go:74-80 — a record reaches at most ONE branch
    br = events.branch([
        ("big", F.col("v") >= 30),
        ("cat_a", F.col("cat") == "a"),  # id=3 is both big and cat_a -> big only
        ("rest", F.lit(True)),
    ])
    big = {r.id for r in br["big"].to_df().collect()}
    cat_a = {r.id for r in br["cat_a"].to_df().collect()}
    rest = {r.id for r in br["rest"].to_df().collect()}
    assert big == {3, 4}
    assert cat_a == {1}
    assert rest == {2}
    assert big | cat_a | rest == {1, 2, 3, 4}
    assert not (big & cat_a) and not (big & rest) and not (cat_a & rest)


def test_merge(events):
    a = events.filter("cat = 'a'")
    b = events.filter("cat = 'b'")
    assert a.merge(b).to_df().count() == 3


def test_through_repartitions(events):
    s = events.select_key("cat").through(2)
    assert s.to_df().rdd.getNumPartitions() == 2
    assert s.to_df().count() == 4


def test_process_passthrough(events):
    seen = []
    out = events.process(lambda pdf: seen.append(len(pdf))).to_df()
    assert out.count() == 4
    # fn runs on executors; driver-side list only observable in local mode
    assert out.columns == events.to_df().columns


def test_to_sink_with_tombstone_filter(spark, events, tmp_path):
    out = tmp_path / "sink"
    events.to(str(out), tombstone_filter=F.col("v") >= 30, mode="overwrite")
    back = spark.read.parquet(str(out))
    assert sorted(r.id for r in back.collect()) == [1, 2]


def test_filter_strict_routes_null_predicates_to_dlq(spark):
    from kstream_spark import StreamBuilder
    from kstream_spark.operators.joins import DLQ
    b = StreamBuilder(spark)
    df = spark.createDataFrame(
        [(1, "5"), (2, "not-a-number"), (3, "50")], "id long, raw string")
    s = b.from_df(df)
    dlq = DLQ()
    # try_cast yields NULL for garbage -> predicate NULL -> DLQ, not dropped
    out = s.filter_strict(F.expr("try_cast(raw AS INT) > 10"), dlq).to_df()
    assert [r.id for r in out.collect()] == [3]
    assert [r.id for r in dlq.df().collect()] == [2]


def test_write_partitioned_layout(spark, tmp_path):
    import glob
    from kstream_spark.sources.parquet import write_partitioned
    from kstream_spark import StreamBuilder
    ev = StreamBuilder(spark).stream(
        "/root/testdata/sf0.001/events.parquet").to_df()
    out = str(tmp_path / "part_out")
    write_partitioned(ev, out, ["event_type"], files_per_partition=2,
                      sort_within=["user_id", "ts"])
    dirs = sorted(p.split("=")[-1] for p in glob.glob(f"{out}/event_type=*"))
    assert len(dirs) >= 3                      # hive-style dirs per type
    for d in glob.glob(f"{out}/event_type=*"):
        files = glob.glob(f"{d}/*.parquet")
        assert 1 <= len(files) <= 2            # bounded file count per dir
    back = spark.read.parquet(out)
    assert back.count() == ev.count()          # lossless roundtrip
    assert set(back.columns) == set(ev.columns)


def test_nanos_detection_warns_once_on_unreadable_footer(tmp_path,
                                                         monkeypatch):
    """A parquet footer that cannot be read leaves TIMESTAMP(NANOS)
    columns undetected; that must be said once per process with a
    RuntimeWarning naming the exception — never silently."""
    import warnings

    import kstream_spark.sources.parquet as P
    import kstream_spark.util as u
    d = tmp_path / "bad"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"not a parquet file")
    monkeypatch.setattr(u, "_warned", set())
    footer = P._listing(str(d))[1]
    with pytest.warns(RuntimeWarning, match="part-0.parquet .*Arrow"):
        assert P._nanos_timestamp_cols(footer) == ()
    with warnings.catch_warnings():
        warnings.simplefilter("error")          # second failure: silent
        assert P._nanos_timestamp_cols(footer) == ()


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob
    from kstream_spark.sources.parquet import compact_parquet
    from kstream_spark import StreamBuilder
    ev = StreamBuilder(spark).stream(
        "/root/testdata/sf0.001/events.parquet").to_df()
    src = str(tmp_path / "many"); dst = str(tmp_path / "compacted")
    ev.repartition(40).write.parquet(src)          # small-file explosion
    assert len(glob.glob(f"{src}/*.parquet")) == 40
    n = compact_parquet(spark, src, dst, target_file_bytes=64 * 1024 * 1024)
    files = glob.glob(f"{dst}/*.parquet")
    assert len(files) == n <= 2
    assert spark.read.parquet(dst).count() == ev.count()


def test_to_sink_transformer_hook(spark, events, tmp_path):
    """File-sink record-transformer (k_sink.go:195-248 parity with the
    Kafka sink hook): applied after the tombstone filter, before write."""
    out = tmp_path / "out"
    events.to(str(out), mode="overwrite",
              tombstone_filter=F.col("v") >= 30,
              transformer={"cat": F.upper("cat")})
    rows = {r.id: r.cat for r in spark.read.parquet(str(out)).collect()}
    assert rows == {1: "A", 2: "B"}
