"""Structured Streaming layer: file-source micro-batches driving the
materializer, dedup, DLQ routing, windowed and session aggs, and the
keyed funnel state.
Mirrors the reference's mock-cluster integration tests
(kstream/global_table_stream_test.go:22-160): produce N records -> run the
sync loop -> assert store contents.
"""

import shutil
import time

import pyspark.sql.functions as F
import pytest

from kstream_spark import StreamBuilder
from kstream_spark.sources.kafka import decode_records, encode_records, source_options
from kstream_spark.streaming import core as SC


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """A streaming source directory seeded with one parquet batch of events."""
    d = tmp_path / "in"
    d.mkdir()
    df = spark.createDataFrame(
        [(1, 10, "a", 1.0, "2024-01-01 00:00:00"),
         (2, 10, "b", 2.0, "2024-01-01 00:05:00"),
         (3, 20, "a", 3.0, "2024-01-01 00:10:00"),
         (2, 10, "b", 2.0, "2024-01-01 00:05:00")],   # duplicate uuid=2
        "uuid long, k long, t string, v double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(str(d))
    return str(d)


def _run(q):
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(10)


def test_materialize_stream_builds_store(spark, stream_dir, tmp_path):
    b = StreamBuilder(spark)
    src = SC.read_stream_parquet(spark, stream_dir)
    q = SC.materialize_stream(src, b.stores, "stream_store", key="k",
                              version="uuid",
                              checkpoint_dir=str(tmp_path / "ckpt"))
    _run(q)
    store = b.stores.store("stream_store")
    rows = {r.k: (r.uuid, r.t) for r in store.get_all().collect()}
    assert rows == {10: (2, "b"), 20: (3, "a")}

    # the key column keeps its input type
    src = SC.read_stream_parquet(spark, stream_dir) \
        .withColumn("k", F.concat(F.lit("k"), F.col("k")))
    q = SC.materialize_stream(src, b.stores, "stream_store_str", key="k",
                              version="uuid",
                              checkpoint_dir=str(tmp_path / "ckpt_str"))
    _run(q)
    store = b.stores.store("stream_store_str")
    assert dict(store.get_all().dtypes)["k"] == "string"
    rows = {r.k: r.uuid for r in store.get_all().collect()}
    assert rows == {"k10": 2, "k20": 3}


def test_materialize_stream_idempotent_replay(spark, stream_dir, tmp_path):
    # replaying the same data (fresh checkpoint, same store) must not change
    # the store: at-least-once + version-gated merge == effective exactly-once
    b = StreamBuilder(spark)
    for i in range(2):
        src = SC.read_stream_parquet(spark, stream_dir)
        q = SC.materialize_stream(src, b.stores, "replay_store", key="k",
                                  version="uuid",
                                  checkpoint_dir=str(tmp_path / f"ck{i}"))
        _run(q)
    rows = {r.k: r.uuid for r in b.stores.store("replay_store").get_all().collect()}
    assert rows == {10: 2, 20: 3}


def test_dedup_stream_drops_duplicate_uuid(spark, stream_dir, tmp_path):
    src = SC.read_stream_parquet(spark, stream_dir)
    deduped = SC.dedup_stream(src, ["uuid"], "ts")
    q = (deduped.writeStream.format("memory").queryName("dedup_out")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    _run(q)
    out = spark.sql("SELECT * FROM dedup_out").collect()
    assert sorted(r.uuid for r in out) == [1, 2, 3]


def test_route_errors_splits_dlq(spark, stream_dir, tmp_path):
    ok, bad = [], []
    src = SC.read_stream_parquet(spark, stream_dir)
    q = SC.route_errors(
        src, F.col("v") >= 3.0,
        ok_sink=lambda df, e: ok.extend(df.collect()),
        dlq_sink=lambda df, e: bad.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ck"))
    _run(q)
    assert sorted(r.uuid for r in bad) == [3]
    assert sorted(r.uuid for r in ok) == [1, 2, 2]


def test_windowed_agg_streaming(spark, stream_dir, tmp_path):
    src = SC.read_stream_parquet(spark, stream_dir)
    agg = SC.windowed_agg(src, "ts", "10 minutes", keys=["k"],
                          aggs={"n": F.count("*")}, watermark="1 minute")
    q = (agg.writeStream.format("memory").queryName("win_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    _run(q)
    # append mode only emits finalized windows; check plan validity + rows>=0
    out = spark.sql("SELECT * FROM win_out").collect()
    assert {c for c in spark.sql("SELECT * FROM win_out").columns} == \
        {"window_start", "window_end", "k", "n"}


def test_session_agg_batch_parity(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
         (1, "2024-01-01 01:00:00"), (2, "2024-01-01 00:00:00")],
        "k long, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    out = SC.session_agg(df, "ts", "30 minutes", keys=["k"],
                         aggs={"n": F.count("*")}).collect()
    sessions = {(r.k, r.n) for r in out}
    assert sessions == {(1, 2), (1, 1), (2, 1)}


def test_kafka_wire_roundtrip_batch(spark):
    """Kafka connector jar isn't in the container; the encode/decode path is
    exercised on a wire-shaped batch DataFrame (exact source schema)."""
    import pyspark.sql.types as T
    wire = spark.createDataFrame(
        [(b"7", b'{"a": 1}', "t", 0, 100, None, None, None)],
        "key binary, value binary, topic string, partition int, offset long,"
        " timestamp timestamp, timestampType int,"
        " headers array<struct<key:string,value:binary>>")
    schema = T.StructType([T.StructField("a", T.LongType())])
    decoded = decode_records(wire, schema, key_type="long")
    row = decoded.collect()[0]
    assert row.key == 7 and row.value.a == 1 and row.offset == 100

    typed = spark.createDataFrame([(7, "x", False), (8, "y", True)],
                                  "key long, payload string, deleted boolean")
    encoded = encode_records(typed, key_col="key", value_col="payload",
                             tombstone=F.col("deleted"))
    rows = {r.key: r.value for r in encoded.collect()}
    assert rows == {"7": "x", "8": None}    # tombstone -> null value


def test_kafka_decode_without_headers(spark):
    # Spark's Kafka source has no headers column unless includeHeaders=true
    import pyspark.sql.types as T
    wire = spark.createDataFrame(
        [(b"7", b'{"a": 1}', "t", 0, 100, None, 0)],
        "key binary, value binary, topic string, partition int, offset long,"
        " timestamp timestamp, timestampType int")
    schema = T.StructType([T.StructField("a", T.LongType())])
    decoded = decode_records(wire, schema, key_type="long")
    via_builder = StreamBuilder(spark).kafka_record_stream(
        wire, schema, key_type="long").to_df()
    for df in (decoded, via_builder):
        assert df.columns == ["key", "value", "topic", "partition", "offset",
                              "timestamp"]
        row = df.collect()[0]
        assert row.key == 7 and row.value.a == 1 and row.offset == 100


def test_stream_parquet_restores_nanos_like_the_batch_read(spark, tmp_path):
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T
    from kstream_spark.sources.parquet import read_parquet
    ts = [datetime.datetime(2024, 1, 1, 0, 0, 1, 123456),
          datetime.datetime(2024, 6, 30, 23, 59, 59)]
    d = tmp_path / "ns"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))}),
                   str(d / "part-0.parquet"), coerce_timestamps=None)
    src = SC.read_stream_parquet(spark, str(d))
    assert src.schema == read_parquet(spark, str(d)).schema
    assert src.schema["ts"].dataType == T.TimestampType()
    q = (src.writeStream.format("memory").queryName("nanos_stream_out")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT ts FROM nanos_stream_out ORDER BY k").collect()
    assert [r.ts.replace(tzinfo=None) for r in got] == ts


def test_kafka_source_options():
    opts = source_options("topic-a", "broker:9092", starting="latest",
                          max_offsets_per_trigger=50000)
    assert opts["subscribe"] == "topic-a"
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "50000"


def test_streaming_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream inner join (ref J2 with bounded state —
    the compat delta for join/window.go's unbounded buffers)."""
    import pyspark.sql.functions as F
    from kstream_spark.streaming import core as SC

    left_d, right_d = tmp_path / "l", tmp_path / "r"
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 02:00:00")],
        "k long, ts string").withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(left_d))
    spark.createDataFrame(
        [(1, "2024-01-01 00:05:00"), (2, "2024-01-01 03:30:00")],
        "k long, ts string").withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(right_d))

    l = SC.read_stream_parquet(spark, str(left_d)).withWatermark("ts", "1 hour")
    r = SC.read_stream_parquet(spark, str(right_d)) \
        .withColumnRenamed("ts", "rts").withColumnRenamed("k", "rk") \
        .withWatermark("rts", "1 hour")
    joined = l.join(
        r, F.expr("k = rk AND rts BETWEEN ts AND ts + INTERVAL 30 MINUTES"),
        "inner").select("k", "ts", "rts")
    q = (joined.writeStream.format("memory").queryName("ssj_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable(); q.stop(); q.awaitTermination(10)
    out = spark.sql("SELECT * FROM ssj_out").collect()
    assert [r.k for r in out] == [1]      # k=2 outside the 30-min bound


def test_with_retries_recovers_then_raises(spark):
    from kstream_spark.streaming.core import with_retries
    calls = {"n": 0}

    def flaky(bdf, eid):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retries(flaky, attempts=3, delay_ms=1)(None, 0) == "ok"

    def always_fails(bdf, eid):
        raise RuntimeError("permanent")

    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="permanent"):
        with_retries(always_fails, attempts=2, delay_ms=1)(None, 0)


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Checkpoint recovery (replaces the reference's changelog replay,
    kstream/processor.go:79-98): restarting with the same checkpoint resumes
    at the committed offset — already-processed files are NOT re-emitted."""
    src = tmp_path / "in"
    src.mkdir()
    ck = str(tmp_path / "ck")
    seen = []

    def sink(bdf, eid):
        seen.extend(r.uuid for r in bdf.collect())

    spark.createDataFrame([(1,), (2,)], "uuid long") \
        .coalesce(1).write.mode("append").parquet(str(src))
    df = spark.readStream.schema("uuid long").parquet(str(src))
    q = df.writeStream.foreachBatch(sink).option("checkpointLocation", ck).start()
    q.processAllAvailable(); q.stop(); q.awaitTermination(10)
    assert sorted(seen) == [1, 2]

    # second batch lands while the query is down; restart from checkpoint
    spark.createDataFrame([(3,)], "uuid long") \
        .coalesce(1).write.mode("append").parquet(str(src))
    df2 = spark.readStream.schema("uuid long").parquet(str(src))
    q2 = df2.writeStream.foreachBatch(sink).option("checkpointLocation", ck).start()
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination(10)
    assert sorted(seen) == [1, 2, 3]     # no duplicates of 1, 2


def test_write_stream_idempotent_epoch_overwrite(spark, stream_dir, tmp_path):
    from kstream_spark.streaming.core import write_stream_idempotent
    out = str(tmp_path / "out")
    for i in range(2):   # fresh checkpoint each time -> epochs replayed
        src = SC.read_stream_parquet(spark, stream_dir)
        q = write_stream_idempotent(src, out, str(tmp_path / f"ck{i}"))
        _run(q)
    back = spark.read.parquet(out)
    # replay overwrote its own epoch partitions: row count == source count
    assert back.count() == 4


def test_write_stream_idempotent_leaves_session_overwrite_mode(spark, stream_dir,
                                                              tmp_path):
    """The epoch sink's dynamic partition overwrite is a per-write option:
    the session's overwrite mode is unchanged afterwards, so a later
    unrelated partitioned overwrite still replaces every partition."""
    from kstream_spark.streaming.core import write_stream_idempotent
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    try:
        _run(write_stream_idempotent(SC.read_stream_parquet(spark, stream_dir),
                                     str(tmp_path / "out"),
                                     str(tmp_path / "ck")))
        assert spark.conf.get(key) == before
        other = str(tmp_path / "other")
        for cells in ([1, 2, 3], [3]):
            (spark.createDataFrame([(c, c) for c in cells],
                                   "cell_id long, v long")
             .write.mode("overwrite").partitionBy("cell_id").parquet(other))
        assert [r.cell_id for r in spark.read.parquet(other).collect()] == [3]
    finally:
        spark.conf.set(key, before)


def test_write_epoch_empty_replay_clears_its_epoch(spark, tmp_path):
    """A replayed epoch whose output is empty must leave that epoch
    empty: the first attempt's rows may not survive the replay, and other
    epochs stay untouched."""
    out = str(tmp_path / "out")
    schema = "id long, v string"
    SC.write_epoch(spark.createDataFrame([(1, "a"), (2, "b")], schema), out, 0)
    SC.write_epoch(spark.createDataFrame([(3, "c")], schema), out, 1)
    SC.write_epoch(spark.createDataFrame([], schema), out, 1)
    assert sorted(r.id for r in SC.read_epochs(spark, out).collect()) == [1, 2]
    SC.write_epoch(spark.createDataFrame([], schema), out, 0)
    assert SC.read_epochs(spark, out) is None


def test_streaming_lookup_join_against_refreshing_table(spark, stream_dir, tmp_path):
    """Streaming J1: per-batch lookup join against a global table — the
    streaming analog of JoinGlobalTable (the table is re-resolvable per
    micro-batch, which is how a refreshed dimension would be picked up)."""
    from kstream_spark import StreamBuilder
    b = StreamBuilder(spark)
    dim = b.global_table(spark.createDataFrame(
        [(10, "north"), (20, "south")], "k long, region string"),
        key="k", name="dim", sync=False)
    joined_rows = []

    def apply_batch(bdf, eid):
        out = (b.from_df(bdf)
               .join_global_table(dim, on="k", how="left")
               .to_df().collect())
        joined_rows.extend(out)

    src = SC.read_stream_parquet(spark, stream_dir)
    q = (src.writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    _run(q)
    regions = {r.uuid: r.region for r in joined_rows}
    assert regions[1] == "north" and regions[3] == "south"


def test_stateful_stream_join_unbounded_reference_semantics(spark, tmp_path):
    """Custom stateful join reproduces the reference's unbounded-buffer
    semantics in STREAMING mode: matched entries stay buffered and keep
    matching across micro-batches (side_joiner.go:54-93, window.go:5-29)."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T
    from kstream_spark.streaming import core as SC
    from kstream_spark.streaming.join import parse_joined, stateful_stream_join

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    # batch 1: left(1,a1) right(1,b1) -> 1 match
    spark.createDataFrame([(1, "a1")], "k long, lv string") \
        .coalesce(1).write.mode("append").parquet(str(ldir))
    spark.createDataFrame([(1, "b1"), (2, "b2")], "k long, rv string") \
        .coalesce(1).write.mode("append").parquet(str(rdir))

    l = SC.read_stream_parquet(spark, str(ldir))
    r = SC.read_stream_parquet(spark, str(rdir))
    joined = stateful_stream_join(l, r, "k", ["lv"], ["rv"])
    q = (joined.writeStream.format("memory").queryName("sj_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    first = spark.sql("SELECT * FROM sj_out").count()
    assert first == 1                      # (a1, b1); k=2 right buffered

    # batch 2: a second left for k=1 must match the STILL-BUFFERED b1
    # (Spark's native watermarked join would require a time bound; the
    # reference's buffers never evict) — and k=2 left matches buffered b2
    spark.createDataFrame([(1, "a2"), (2, "a3")], "k long, lv string") \
        .coalesce(1).write.mode("append").parquet(str(ldir))
    q.processAllAvailable()
    q.stop(); q.awaitTermination(10)

    out = parse_joined(
        spark.sql("SELECT * FROM sj_out"),
        T.StructType([T.StructField("lv", T.StringType())]),
        T.StructType([T.StructField("rv", T.StringType())]))
    rows = {(r.k, r.l.lv, r.r.rv) for r in out.collect()}
    assert rows == {(1, "a1", "b1"), (1, "a2", "b1"), (2, "a3", "b2")}


def test_materialize_stream_with_tombstones(spark, tmp_path):
    from kstream_spark import StreamBuilder
    b = StreamBuilder(spark)
    d = tmp_path / "in"
    spark.createDataFrame(
        [(1, 10, "x", False), (2, 10, None, True), (3, 20, "y", False)],
        "uuid long, k long, v string, deleted boolean") \
        .coalesce(1).write.parquet(str(d))
    src = SC.read_stream_parquet(spark, str(d))
    q = SC.materialize_stream(src, b.stores, "tomb_store", key="k",
                              version="uuid", tombstone=F.col("deleted"),
                              checkpoint_dir=str(tmp_path / "ck"))
    _run(q)
    rows = {r.k: r.v for r in b.stores.store("tomb_store").get_all().collect()}
    assert rows == {20: "y"}        # k=10's latest record is a tombstone


def test_stateful_join_equals_batch_unbounded_join(spark, tmp_path):
    """The streaming stateful join's match set == the batch unbounded join
    (reference semantics both ways) on the same data."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T
    from kstream_spark import StreamBuilder
    from kstream_spark.streaming import core as SC
    from kstream_spark.streaming.join import parse_joined, stateful_stream_join

    lrows = [(k, f"l{k}-{i}") for k in range(4) for i in range(3)]
    rrows = [(k, f"r{k}-{i}") for k in range(3) for i in range(2)]
    ldir, rdir = tmp_path / "l", tmp_path / "r"
    spark.createDataFrame(lrows, "k long, lv string").coalesce(2) \
        .write.parquet(str(ldir))
    spark.createDataFrame(rrows, "k long, rv string").coalesce(2) \
        .write.parquet(str(rdir))

    # streaming stateful join
    joined = stateful_stream_join(
        SC.read_stream_parquet(spark, str(ldir)),
        SC.read_stream_parquet(spark, str(rdir)), "k", ["lv"], ["rv"])
    q = (joined.writeStream.format("memory").queryName("eq_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable(); q.stop(); q.awaitTermination(10)
    streaming_set = {(r.k, r.l.lv, r.r.rv) for r in parse_joined(
        spark.sql("SELECT * FROM eq_out"),
        T.StructType([T.StructField("lv", T.StringType())]),
        T.StructType([T.StructField("rv", T.StringType())])).collect()}

    # batch unbounded join (ref parity path)
    b = StreamBuilder(spark)
    batch = b.from_df(spark.read.parquet(str(ldir))).join_stream(
        b.from_df(spark.read.parquet(str(rdir))), on="k",
        select=[F.col("l.k").alias("k"), F.col("l.lv").alias("lv"),
                F.col("r.rv").alias("rv")])
    batch_set = {(r.k, r.lv, r.rv) for r in batch.to_df().collect()}
    assert streaming_set == batch_set
    assert len(batch_set) == 3 * 3 * 2     # keys 0..2: 3 lefts x 2 rights


def test_stateful_join_bucketed_mode_same_match_set(spark, tmp_path):
    """Every bucket count (one bucket holding all keys, two, and the
    default "auto") produces the IDENTICAL match set as the batch
    unbounded join over all records — including cross-batch matches
    against still-buffered entries."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T
    from kstream_spark import StreamBuilder
    from kstream_spark.streaming import core as SC
    from kstream_spark.streaming.join import parse_joined, stateful_stream_join

    def run(buckets, name):
        ldir, rdir = tmp_path / f"l_{name}", tmp_path / f"r_{name}"
        spark.createDataFrame(
            [(k, f"l{k}-{i}") for k in range(5) for i in range(2)],
            "k long, lv string").coalesce(1) \
            .write.mode("append").parquet(str(ldir))
        spark.createDataFrame(
            [(k, f"r{k}-{i}") for k in range(4) for i in range(2)],
            "k long, rv string").coalesce(1) \
            .write.mode("append").parquet(str(rdir))
        joined = stateful_stream_join(
            SC.read_stream_parquet(spark, str(ldir)),
            SC.read_stream_parquet(spark, str(rdir)), "k", ["lv"], ["rv"],
            buckets=buckets)
        q = (joined.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .start())
        q.processAllAvailable()
        # second batch: late lefts must match the still-buffered rights
        spark.createDataFrame([(0, "late-0"), (3, "late-3")],
                              "k long, lv string").coalesce(1) \
            .write.mode("append").parquet(str(ldir))
        q.processAllAvailable(); q.stop(); q.awaitTermination(10)
        return {(r.k, r.l.lv, r.r.rv) for r in parse_joined(
            spark.sql(f"SELECT * FROM {name}"),
            T.StructType([T.StructField("lv", T.StringType())]),
            T.StructType([T.StructField("rv", T.StringType())])).collect()}

    got = {b: run(b, f"bm_{b}") for b in (1, 2, "auto")}
    b = StreamBuilder(spark)
    batch = b.from_df(spark.read.parquet(str(tmp_path / "l_bm_1"))) \
        .join_stream(b.from_df(spark.read.parquet(str(tmp_path / "r_bm_1"))),
                     on="k", select=[F.col("l.k").alias("k"),
                                     F.col("l.lv").alias("lv"),
                                     F.col("r.rv").alias("rv")])
    batch_set = {(r.k, r.lv, r.rv) for r in batch.to_df().collect()}
    assert len(batch_set) == 4 * 2 * 2 + 2 * 2
    for buckets, streaming_set in got.items():
        assert streaming_set == batch_set, buckets
    assert (0, "late-0", "r0-1") in got["auto"]


def test_stateful_join_per_key_checkpoint_fails_loudly(spark, tmp_path):
    """A checkpoint written by the removed one-group-per-key layout (state
    keyed by k, value (lbuf, rbuf)) cannot resume under bucketed state:
    the restart must stop on Spark's state-schema check, never run on
    with a silently empty state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kstream_spark.streaming.join import stateful_stream_join, tag_sides

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    spark.createDataFrame([(1, "a1")], "k long, lv string").coalesce(1) \
        .write.parquet(str(ldir))
    spark.createDataFrame([(1, "b1")], "k long, rv string").coalesce(1) \
        .write.parquet(str(rdir))

    def start(df):
        return (df.writeStream.format("parquet")
                .option("path", str(tmp_path / "out"))
                .option("checkpointLocation", str(tmp_path / "ck")).start())

    def per_key(pkey, pdfs, state):
        for _ in pdfs:
            pass
        state.update((b"l", b"r"))
        yield from ()

    l = SC.read_stream_parquet(spark, str(ldir))
    r = SC.read_stream_parquet(spark, str(rdir))
    q = start(tag_sides(l, r, "k", ["lv"], ["rv"]).groupBy("k")
              .applyInPandasWithState(
                  per_key, "k long, __l_lv string, __r_rv string",
                  "lbuf binary, rbuf binary", "append",
                  GroupStateTimeout.NoTimeout))
    q.processAllAvailable(); q.stop(); q.awaitTermination(10)

    spark.createDataFrame([(1, "a2")], "k long, lv string").coalesce(1) \
        .write.mode("append").parquet(str(ldir))
    q = start(stateful_stream_join(SC.read_stream_parquet(spark, str(ldir)),
                                   SC.read_stream_parquet(spark, str(rdir)),
                                   "k", ["lv"], ["rv"]))
    try:
        with pytest.raises(Exception, match="SCHEMA_NOT_COMPATIBLE"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_encode_records_struct_value_not_double_wrapped(spark):
    from kstream_spark.sources.kafka import encode_records
    import json
    df = spark.createDataFrame([(1,)], "key long").selectExpr(
        "key", "named_struct('a', 1, 'b', 'x') AS value")
    out = encode_records(df).collect()[0]
    assert json.loads(out.value) == {"a": 1, "b": "x"}   # not {"value": {...}}


def test_encode_records_timestamp_default(spark):
    from kstream_spark.sources.kafka import encode_records
    df = spark.createDataFrame([(1, "x")], "key long, value string")
    out = encode_records(df, include_timestamp=True).collect()[0]
    assert out.timestamp is not None          # defaults to now (k_sink.go:198)
    with_col = spark.createDataFrame(
        [(1, "x", "2024-01-01 00:00:00")], "key long, value string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out2 = encode_records(with_col, timestamp_col="ts").collect()[0]
    assert str(out2.timestamp).startswith("2024-01-01")


def test_dedup_stream_within_watermark_redelivery(spark, tmp_path):
    """Redelivered record: same uuid, LATER event time — classic dedup on
    (uuid, ts) keeps both; dropDuplicatesWithinWatermark keeps one."""
    d = tmp_path / "src"
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-01 00:00:07", 1.0),
         (2, "2024-01-01 00:01:00", 2.0)],
        "uuid long, ts string, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(d))
    src = SC.read_stream_parquet(spark, str(d))
    deduped = SC.dedup_stream(src, ["uuid"], "ts", within_watermark=True)
    q = (deduped.writeStream.format("memory").queryName("dedup_wm_out")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    _run(q)
    out = spark.sql("SELECT * FROM dedup_wm_out").collect()
    assert sorted(r.uuid for r in out) == [1, 2]


def test_streaming_stream_stream_left_outer_join(spark, tmp_path):
    """Watermarked LEFT OUTER stream-stream join: unmatched left rows emit
    with nulls once the watermark passes the join window."""
    left_d, right_d = tmp_path / "l", tmp_path / "r"
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:10:00")],
        "k long, ts string").withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(left_d))
    spark.createDataFrame(
        [(1, "2024-01-01 00:05:00")],
        "k long, ts string").withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(right_d))

    l = SC.read_stream_parquet(spark, str(left_d)).withWatermark("ts", "1 hour")
    r = SC.read_stream_parquet(spark, str(right_d)) \
        .withColumnRenamed("ts", "rts").withColumnRenamed("k", "rk") \
        .withWatermark("rts", "1 hour")
    joined = l.join(
        r, F.expr("k = rk AND rts BETWEEN ts AND ts + INTERVAL 30 MINUTES"),
        "left_outer").select("k", "ts", "rk")
    q = (joined.writeStream.format("memory").queryName("ssj_outer_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    # null emission for expired left rows needs a LATER micro-batch after the
    # GLOBAL watermark (min across both streams) has advanced past the join
    # window — push both sides forward, twice (advance, then evict+emit)
    for push_ts in ("2024-01-01 09:00:00", "2024-01-01 18:00:00"):
        spark.createDataFrame([(9, push_ts)], "k long, ts string") \
            .withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.mode("append").parquet(str(left_d))
        spark.createDataFrame([(99, push_ts)], "rk long, rts string") \
            .withColumn("rts", F.col("rts").cast("timestamp")) \
            .withColumnRenamed("rk", "k").withColumnRenamed("rts", "ts") \
            .coalesce(1).write.mode("append").parquet(str(right_d))
        q.processAllAvailable()
    q.stop(); q.awaitTermination(10)
    out = {r.k: r.rk for r in spark.sql("SELECT * FROM ssj_outer_out").collect()}
    assert out.get(1) == 1          # matched
    assert 2 in out and out[2] is None   # unmatched left row emitted with null


def test_streaming_metrics_reporter(spark, stream_dir, tmp_path):
    """Reporter parity: streaming progress feeds counters/observers with
    the reference's metric shapes (throughput, batch latency, input rate)."""
    from kstream_spark.metrics import InMemoryReporter, attach_streaming_metrics
    rep = InMemoryReporter()
    listener = attach_streaming_metrics(spark, rep)
    try:
        src = SC.read_stream_parquet(spark, stream_dir)
        q = (src.writeStream.format("memory").queryName("metrics_out")
             .option("checkpointLocation", str(tmp_path / "ck")).start())
        _run(q)
        import time
        deadline = time.time() + 15
        while time.time() < deadline and not rep.series("stream_processed_count"):
            time.sleep(0.5)
        assert sum(rep.series("stream_processed_count")) >= 4   # rows sank
        assert all(v >= 0 for v in rep.series("stream_batch_latency_ms"))
    finally:
        spark.streams.removeListener(listener)


def test_session_stream_in_batch_and_timeout_close(spark, tmp_path):
    """Streamed gap sessionization (``session_agg``): a session closed by
    an in-batch gap and a quiet user's open session are both emitted once
    the watermark passes their end, last event + gap."""
    d = tmp_path / "sess_in"
    d.mkdir()
    spark.createDataFrame(
        [(10, "2024-01-01 10:00:00"), (10, "2024-01-01 10:10:00"),
         (10, "2024-01-01 12:00:00"),           # >30min gap -> closes A
         (20, "2024-01-01 10:00:00")],          # quiet user
        "user_id long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.mode("overwrite").parquet(str(d))

    src = SC.read_stream_parquet(spark, str(d)) \
        .withWatermark("ts", "10 seconds")
    sess = SC.session_agg(src, "ts", "30 minutes", keys=["user_id"],
                          aggs={"n_events": F.count("*")})
    q = (sess.writeStream.format("memory").queryName("sess_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_sess")).start())
    q.processAllAvailable()
    got = {(r.user_id, str(r.session_start), r.n_events)
           for r in spark.sql("SELECT * FROM sess_out").collect()}
    # user 10's first session closed by the in-batch gap (n=2); user 20
    # closed by timeout — the batch-1 watermark (11:59:50) already passed
    # its 10:30 session end
    assert got == {(10, "2024-01-01 10:00:00", 2),
                   (20, "2024-01-01 10:00:00", 1)}

    # batch 2: a late-day event pushes the watermark past user 10's open
    # 12:00 session -> it times out; the 18:00 event opens a fresh session
    spark.createDataFrame([(30, "2024-01-01 18:00:00")],
                          "user_id long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.mode("append").parquet(str(d))
    q.processAllAvailable()
    # one more empty-ish batch so timeouts fire after the watermark update
    spark.createDataFrame([(30, "2024-01-01 18:00:01")],
                          "user_id long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.mode("append").parquet(str(d))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(10)
    got = {(r.user_id, str(r.session_start), r.n_events)
           for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert (20, "2024-01-01 10:00:00", 1) in got
    assert (10, "2024-01-01 12:00:00", 1) in got

    # string user ids: the output key column takes the input key's type
    src = SC.read_stream_parquet(spark, str(d)) \
        .withColumn("user_id", F.concat(F.lit("u"), F.col("user_id"))) \
        .withWatermark("ts", "10 seconds")
    sess = SC.session_agg(src, "ts", "30 minutes", keys=["user_id"],
                          aggs={"n_events": F.count("*")})
    q = (sess.writeStream.format("memory").queryName("sess_out_str")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_sess_str")).start())
    _run(q)
    got = {(r.user_id, str(r.session_start), r.n_events)
           for r in spark.sql("SELECT * FROM sess_out_str").collect()}
    assert ("u10", "2024-01-01 10:00:00", 2) in got


def _feed(spark, d, rows, schema):
    """Append ``rows`` to the parquet stream source ``d`` as one file."""
    spark.createDataFrame(rows, schema) \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.mode("append").parquet(str(d))


def test_session_agg_stream_gap_rule_matches_batch(spark, tmp_path):
    """An event exactly ``gap`` after the last one joins its session and a
    later one starts a new session, also across micro-batches; NULL user
    ids are one user; and the streamed sessions are the batch
    ``session_agg`` of the same rows less those the final watermark has
    not closed."""
    d = tmp_path / "gap_in"
    schema = "user_id long, ts string"
    _feed(spark, d, [(1, "2024-01-01 10:00:00"),
                     (2, "2024-01-01 10:00:00"),
                     (None, "2024-01-01 10:00:00")], schema)

    def sessions(df):
        return SC.session_agg(df, "ts", "30 minutes", keys=["user_id"],
                              aggs={"n_events": F.count("*")}).select(
            "user_id", "session_start", "session_end", "n_events")

    src = SC.read_stream_parquet(spark, str(d)) \
        .withWatermark("ts", "10 seconds")
    q = (sessions(src).writeStream.format("memory").queryName("gap_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    _feed(spark, d, [(1, "2024-01-01 10:30:00"),      # exactly the gap
                     (1, "2024-01-01 11:00:01"),      # one second past it
                     (2, "2024-01-01 10:30:01"),
                     (None, "2024-01-01 10:10:00"),
                     (3, "2024-01-01 20:00:00")], schema)
    _run(q)
    got = {tuple(r) for r in spark.table("gap_out").collect()}
    assert {(u, str(s), str(e), n) for u, s, e, n in got} == {
        (1, "2024-01-01 10:00:00", "2024-01-01 11:00:00", 2),
        (1, "2024-01-01 11:00:01", "2024-01-01 11:30:01", 1),
        (2, "2024-01-01 10:00:00", "2024-01-01 10:30:00", 1),
        (2, "2024-01-01 10:30:01", "2024-01-01 11:00:01", 1),
        (None, "2024-01-01 10:00:00", "2024-01-01 10:40:00", 2)}
    # user 3's session ends past the final watermark, 19:59:50
    batch = sessions(spark.read.parquet(str(d)))
    assert got == {tuple(r) for r in batch.filter(
        F.col("session_end") <= F.lit("2024-01-01 19:59:50")
        .cast("timestamp")).collect()}


def test_funnel_stream_stage_advances_across_batches(spark, tmp_path):
    """Streaming funnel: stages advance in strict order, state carries
    across micro-batches, and an out-of-order shallow event can't re-fire
    a completed stage."""
    from kstream_spark.streaming.state import funnel_stream

    d = tmp_path / "fun_in"
    d.mkdir()

    def feed(rows, mode="append"):
        spark.createDataFrame(rows, "user_id long, event_type string, ts string") \
            .withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.mode(mode).parquet(str(d))

    feed([(1, "view", "2024-01-01 10:00:00"),
          (1, "click", "2024-01-01 10:05:00"),
          (2, "click", "2024-01-01 10:00:00")], mode="overwrite")  # u2: no view yet

    src = SC.read_stream_parquet(spark, str(d))
    out = funnel_stream(src, "user_id", "event_type", "ts",
                        ["view", "click", "purchase"])
    q = (out.writeStream.format("memory").queryName("funnel_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_fun")).start())
    q.processAllAvailable()
    got = {(r.user_id, r.stage, r.step)
           for r in spark.sql("SELECT * FROM funnel_out").collect()}
    assert got == {(1, 1, "view"), (1, 2, "click")}   # u2 blocked at 0

    # batch 2: u1 purchases (stage 3); u2's view arrives -> stage 1, but
    # the earlier click stays consumed-less (strict order, no re-fire)
    feed([(1, "purchase", "2024-01-01 11:00:00"),
          (2, "view", "2024-01-01 10:30:00")])
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(10)
    got = {(r.user_id, r.stage, r.step)
           for r in spark.sql("SELECT * FROM funnel_out").collect()}
    assert (1, 3, "purchase") in got
    assert (2, 1, "view") in got
    assert (2, 2, "click") not in got

    # string user ids, every event in one batch: same advances
    src = SC.read_stream_parquet(spark, str(d)) \
        .withColumn("user_id", F.concat(F.lit("u"), F.col("user_id")))
    out = funnel_stream(src, "user_id", "event_type", "ts",
                        ["view", "click", "purchase"])
    q = (out.writeStream.format("memory").queryName("funnel_out_str")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_fun_str")).start())
    _run(q)
    got = {(r.user_id, r.stage, r.step)
           for r in spark.sql("SELECT * FROM funnel_out_str").collect()}
    assert got == {("u1", 1, "view"), ("u1", 2, "click"),
                   ("u1", 3, "purchase"), ("u2", 1, "view")}


def test_funnel_stream_null_user_is_one_user(spark, tmp_path):
    """NULL user ids advance as one user across micro-batches, the stage
    batch ``behavior.funnel`` gives them."""
    from kstream_spark.operators.behavior import funnel
    from kstream_spark.streaming.state import funnel_stream

    d = tmp_path / "null_fun_in"
    schema = "user_id long, event_type string, ts string"
    steps = ["view", "click", "purchase"]
    _feed(spark, d, [(None, "view", "2024-01-01 10:00:00"),
                     (5, "view", "2024-01-01 10:00:00")], schema)
    out = funnel_stream(SC.read_stream_parquet(spark, str(d)),
                        "user_id", "event_type", "ts", steps)
    q = (out.writeStream.format("memory").queryName("null_fun_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    _feed(spark, d, [(None, "click", "2024-01-01 10:05:00"),
                     (None, "click", "2024-01-01 10:06:00")], schema)
    _run(q)
    got = {(r.user_id, r.stage) for r in spark.sql(
        "SELECT user_id, max(stage) AS stage FROM null_fun_out "
        "GROUP BY user_id").collect()}
    assert got == {(None, 2), (5, 1)}
    batch = funnel(spark.read.parquet(str(d)), "user_id", "event_type",
                   "ts", steps)
    assert got == {(r.user_id, r.stage) for r in batch.collect()}


def test_encode_records_transformer_hook(spark):
    """Sink record-transformer (k_sink.go:195-248): runs over the ENCODED
    wire record — both the Column-expr-dict form and the callable form."""
    from kstream_spark.sources.kafka import encode_records
    df = spark.createDataFrame([(1, "x"), (2, "y")], "key long, value string")
    out = {r.key: r.value for r in encode_records(
        df, transformer={"value": F.upper(F.col("value"))}).collect()}
    assert out == {"1": "X", "2": "Y"}

    def drop_evens(wire):
        return wire.filter(F.col("key").cast("long") % 2 == 1)

    out2 = [r.key for r in encode_records(df, transformer=drop_evens).collect()]
    assert out2 == ["1"]


def test_encode_records_header_extractor(spark):
    """Header-extractor hook (k_sink.go:33-35): headers built from a Column
    expression over the row, in the wire array<struct<key,value>> shape."""
    from kstream_spark.sources.kafka import encode_records
    df = spark.createDataFrame([(1, "x", "svc-a")], "key long, value string, origin string")
    hdr = F.array(F.struct(F.lit("origin").alias("key"),
                           F.encode(F.col("origin"), "UTF-8").alias("value")))
    row = encode_records(df, headers_col=hdr).collect()[0]
    assert row.headers[0].key == "origin"
    assert bytes(row.headers[0].value) == b"svc-a"


def test_dlq_per_topic_routing(spark):
    """Per-source-topic DLQ routing via the %s-style format (dlq.go:29-45):
    failures from different sources land on their own dlq topics; with no
    format every failure lands on the single named topic."""
    from kstream_spark.operators.joins import DLQ
    routed = DLQ(topic_format="{}-dlq")
    a = spark.createDataFrame([(1,)], "id long")
    b = spark.createDataFrame([(2,)], "id long")
    routed.add(a, reason="decode error", source="orders")
    routed.add(b, reason="lookup miss", source="events")
    assert routed.topics() == ["events-dlq", "orders-dlq"]
    by_topic = {r.dlq_topic: r.id for r in routed.df().collect()}
    assert by_topic == {"orders-dlq": 1, "events-dlq": 2}

    single = DLQ(name="dead-letters")
    single.add(a, reason="x", source="orders")
    assert single.topics() == ["dead-letters"]


def test_lookup_join_dlq_tags_source(spark):
    """Inner-miss records carry their source stream's routed topic
    (global_table_joiner_test.go:68-130 error-path analog)."""
    from kstream_spark import StreamBuilder
    from kstream_spark.operators.joins import DLQ
    b = StreamBuilder(spark)
    s = b.from_df(spark.createDataFrame([(1, 10), (2, 99)], "id long, fk long"),
                  name="facts")
    dim = b.global_table(spark.createDataFrame([(10, "d")], "k long, name string"),
                         key="k", name="dim", sync=False, snapshot=True)
    dlq = DLQ(topic_format="{}.dlq")
    s.join_global_table(dim, on="fk", how="inner", dlq=dlq)
    rows = dlq.df().collect()
    assert len(rows) == 1 and rows[0].id == 2
    assert rows[0].dlq_topic == "facts.dlq"


def test_dedup_stream_by_content_hash(spark, tmp_path):
    """Streaming ingestion dedup: identical (whitespace-normalized) document
    text re-ingested under a DIFFERENT doc id within the watermark horizon
    is dropped — the streaming member of the exact-dedup family."""
    d = tmp_path / "src"
    spark.createDataFrame(
        [(1, "hello  world", "2024-01-01 00:00:00"),
         (2, "hello world", "2024-01-01 00:00:30"),    # normalized dup of 1
         (3, "something else", "2024-01-01 00:01:00")],
        "doc_id long, text string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(d))
    src = SC.read_stream_parquet(spark, str(d))
    deduped = SC.dedup_stream_by_content(src, "text", "ts")
    q = (deduped.writeStream.format("memory").queryName("dedup_content_out")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    _run(q)
    out = spark.sql("SELECT * FROM dedup_content_out").collect()
    assert sorted(r.doc_id for r in out) == [1, 3]
    assert "__content_hash" not in spark.sql(
        "SELECT * FROM dedup_content_out").columns


def test_admit_stream_incremental_corpus(spark, tmp_path, monkeypatch):
    """Streaming corpus admission: batch 2's exact dup AND near-dup of
    batch-1 docs are rejected via the PERSISTED signature store (corpus
    text is never re-minhashed); novel docs are admitted.  Each batch
    frees its checkpointed survivors without free_local_checkpoint's
    ContextCleaner fallback (made to raise here, failing the query)."""
    import time as _time

    import kstream_spark.util as u
    from kstream_spark.streaming.corpus import admit_stream

    def fallback(exc):
        raise AssertionError(f"free_local_checkpoint fell back: {exc!r}")

    monkeypatch.setattr(u, "_warn_free_checkpoint_fallback", fallback)

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest to hide from every hunter")
    near = base.replace("hunter", "tracker")      # high-Jaccard near-dup
    src = tmp_path / "in"
    spark.createDataFrame([(1, base), (2, "completely different text about "
                                          "spark structured streaming state")],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.1)
    spark.createDataFrame([(3, base), (4, near),
                           (5, "a third topic entirely unrelated to both")],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(str(src))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = admit_stream(stream, str(tmp_path / "corpus"), str(tmp_path / "sigs"),
                     str(tmp_path / "ck"), id_col="doc_id", text_col="text")
    _run(q)

    admitted = {r.doc_id for r in
                spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert admitted == {1, 2, 5}        # 3 = exact dup, 4 = near-dup
    sig_ids = {r.doc_id for r in
               spark.read.parquet(str(tmp_path / "sigs")).collect()}
    assert sig_ids == {1, 2, 5}         # signature store tracks the corpus


def test_windowed_agg_streaming_approx_distinct(spark, stream_dir, tmp_path):
    """Windowed HLL in streaming mode: approx distinct users per event-time
    window — sketches compose with the windowed_agg surface because they
    are ordinary mergeable aggregates (partial sketches combine on the
    reduce side, exactly like sum/count)."""
    src = SC.read_stream_parquet(spark, stream_dir)
    agg = SC.windowed_agg(
        src, "ts", "10 minutes", keys=["t"],
        aggs={"approx_users": F.approx_count_distinct("k", 0.02),
              "n": F.count("*")}, watermark="1 minute")
    q = (agg.writeStream.format("memory").queryName("win_hll_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    _run(q)
    cols = set(spark.sql("SELECT * FROM win_hll_out").columns)
    assert cols == {"window_start", "window_end", "t", "approx_users", "n"}


def test_stateful_join_bucketed_ttl_smoke(spark, tmp_path):
    """ttl_ms composes with buckets (per-KEY last-seen pruning inside
    the bucket; the bucket-level timeout is only the idle-bucket GC
    backstop); smoke: query runs, state timeout registered without
    error, matches still emitted.

    NOTE: with ProcessingTimeTimeout the micro-batch engine keeps
    scheduling batches to service pending timeouts, so
    processAllAvailable never returns on a TTL query — poll the sink
    with a deadline and stop explicitly (the production pattern for
    TTL'd queries is a trigger interval, not processAllAvailable)."""
    from kstream_spark.streaming import core as SC
    from kstream_spark.streaming.join import stateful_stream_join

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    spark.createDataFrame([(1, "a")], "k long, lv string").coalesce(1) \
        .write.parquet(str(ldir))
    spark.createDataFrame([(1, "b")], "k long, rv string").coalesce(1) \
        .write.parquet(str(rdir))
    joined = stateful_stream_join(
        SC.read_stream_parquet(spark, str(ldir)),
        SC.read_stream_parquet(spark, str(rdir)), "k", ["lv"], ["rv"],
        ttl_ms=60_000, buckets=4)
    q = (joined.writeStream.format("memory").queryName("bt_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT * FROM bt_out").count() >= 1:
            break
        time.sleep(0.5)
    q.stop(); q.awaitTermination(10)
    assert spark.sql("SELECT * FROM bt_out").count() == 1


def test_stateful_join_bucketed_per_key_ttl_expiry(spark, tmp_path):
    """Per-key expiry INSIDE a bucket: a hot key must not keep a cold
    key's buffer alive.  Key 1 stays active (refreshed mid-TTL); key 2
    goes idle past ttl_ms; when both keys' right records then arrive,
    key 1's buffered lefts match but key 2's buffer has been pruned —
    even though both share the single bucket, whose state group WAS
    invoked throughout (the starvation scenario from the r5 advice)."""
    from kstream_spark.streaming import core as SC
    from kstream_spark.streaming.join import stateful_stream_join

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    spark.createDataFrame([(1, "l1"), (2, "l2")], "k long, lv string") \
        .coalesce(1).write.mode("append").parquet(str(ldir))
    spark.createDataFrame([(99, "seed")], "k long, rv string") \
        .coalesce(1).write.mode("append").parquet(str(rdir))
    joined = stateful_stream_join(
        SC.read_stream_parquet(spark, str(ldir)),
        SC.read_stream_parquet(spark, str(rdir)), "k", ["lv"], ["rv"],
        ttl_ms=30_000, buckets=1)
    q = (joined.writeStream.format("memory").queryName("pk_ttl_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    # key 1 stays hot (a write every 2s keeps the bucket invoked and
    # key 1's last-seen fresh); key 2 never reappears, so by t~40s its
    # age far exceeds ttl_ms=30s.  The TTL must sit WELL ABOVE the
    # micro-batch latency on a loaded machine (~10s observed): per-key
    # age is measured between batch invocations, so a ttl below the
    # batch cadence would prune even the hot key.
    for i in range(20):
        time.sleep(2)
        spark.createDataFrame([(1, f"keep{i}")], "k long, lv string") \
            .coalesce(1).write.mode("append").parquet(str(ldir))
    spark.createDataFrame([(1, "r1"), (2, "r2")], "k long, rv string") \
        .coalesce(1).write.mode("append").parquet(str(rdir))
    deadline = time.time() + 120
    while time.time() < deadline:
        got = {(r["k"], r["__l_lv"], r["__r_rv"])
               for r in spark.sql("SELECT * FROM pk_ttl_out").collect()}
        if (1, "l1", "r1") in got:
            break
        time.sleep(0.5)
    time.sleep(3)   # grace: let a (wrong) key-2 match surface if any
    q.stop(); q.awaitTermination(10)
    got = {(r["k"], r["__l_lv"], r["__r_rv"])
           for r in spark.sql("SELECT * FROM pk_ttl_out").collect()}
    # the hot key's OLD buffered record survived (activity refreshes TTL)
    assert (1, "l1", "r1") in got, got
    # the cold key's buffer was pruned: no key-2 match despite l2+r2
    assert not any(k == 2 for k, *_ in got), got


def test_streaming_ann_admit_and_search(spark, tmp_path):
    """Streaming ANN index maintenance: vectors arriving in two
    micro-batches are encoded against the PERSISTED index (no retrain)
    and appended to the code store; searching the accumulated store
    (codes only — raw vectors never re-read) returns exactly what the
    batch pq_adc_topk computes over the full corpus with the same
    codebooks."""
    from kstream_spark import StreamBuilder
    from kstream_spark.operators import similarity as S
    from kstream_spark.streaming import ann as A
    from kstream_spark.streaming import core as SC

    emb = StreamBuilder(spark) \
        .table("/root/testdata/sf0.001/embeddings.parquet").to_df()
    cents = S.kmeans_centroids(emb, "embedding", k=4, iters=1,
                               id_col="vec_id")
    books = S.pq_codebooks(emb, "embedding", m=4, k=8, iters=1,
                           id_col="vec_id")

    src, store = tmp_path / "in", tmp_path / "codes"
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1) \
        .write.mode("append").parquet(str(src))
    q = A.admit_stream(SC.read_stream_parquet(spark, str(src)),
                       "vec_id", "embedding", cents, books,
                       str(store), str(tmp_path / "ck"))
    q.processAllAvailable()
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop(); q.awaitTermination(10)

    codes = spark.read.parquet(str(store))
    assert codes.count() == emb.count()      # both batches admitted

    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    got = {(r.query_id, r.neighbor_id, r.adist, r.rank) for r in
           A.adc_topk_from_codes(codes, queries, "vec_id", "embedding",
                                 books, k=5).collect()}
    want = {(r.query_id, r.neighbor_id, r.adist, r.rank) for r in
            S.pq_adc_topk(emb, "vec_id", "embedding", [0, 1], books,
                          k=5).collect()}
    assert got == want


def test_streaming_ann_residual_mode_matches_batch(spark, tmp_path):
    """Residual-mode admission: codes streamed against the persisted
    residual index equal the batch ivfpq_residual path — searching the
    store with per-(query, cell) tables reproduces
    ivfpq_residual_topk's output when every cell is probed."""
    from kstream_spark import StreamBuilder
    from kstream_spark.operators import similarity as S
    from kstream_spark.streaming import ann as A
    from kstream_spark.streaming import core as SC

    emb = StreamBuilder(spark) \
        .table("/root/testdata/sf0.001/embeddings.parquet").to_df()
    cents = S.kmeans_centroids(emb, "embedding", k=4, iters=1,
                               id_col="vec_id")
    # residual codebooks: train on the spherical residuals (the batch
    # operator computes these internally; rebuild the residual frame)
    import pyspark.sql.functions as SF
    from kstream_spark.functions.vectors import as_double, norm
    import math
    corpus = emb.select(SF.col("vec_id"),
                        as_double(SF.col("embedding")).alias("v")) \
        .withColumn("n", norm(SF.col("v")))
    from kstream_spark.functions.vectors import dot
    scores = SF.array(*[
        SF.round(dot(SF.col("v"), SF.array(*[SF.lit(float(x)) for x in c]))
                 / (SF.col("n")
                    * SF.lit(math.sqrt(sum(float(x) ** 2 for x in c)))), 6)
        for c in cents])
    import numpy as np
    assigned = corpus.withColumn(
        "cell_id", (SF.array_position(scores, SF.array_max(scores)) - 1)
        .cast("long"))
    cm = np.asarray(cents)
    rows = assigned.select("vec_id", "cell_id", "v").collect()
    res_rows = [(r["vec_id"],
                 (np.asarray(r["v"]) / np.linalg.norm(r["v"])
                  - cm[r["cell_id"]]).tolist()) for r in rows]
    res_df = spark.createDataFrame(res_rows,
                                   "vec_id long, rv array<double>")
    books = S.pq_codebooks(res_df, "rv", m=4, k=8, iters=1,
                           id_col="vec_id")

    src, store = tmp_path / "in", tmp_path / "codes"
    emb.coalesce(1).write.mode("append").parquet(str(src))
    q = A.admit_stream(SC.read_stream_parquet(spark, str(src)),
                       "vec_id", "embedding", cents, books,
                       str(store), str(tmp_path / "ck"), residual=True)
    q.processAllAvailable()
    q.stop(); q.awaitTermination(10)

    codes = spark.read.parquet(str(store))
    queries = emb.filter(SF.col("vec_id").isin([0, 1]))
    for probes, np_arg in ((4, None), (2, 2)):
        got = {(r.query_id, r.neighbor_id, r.adist, r.rank) for r in
               A.adc_topk_from_codes(codes, queries, "vec_id",
                                     "embedding", books, k=5,
                                     centroids=cents,
                                     n_probe=np_arg).collect()}
        want = {(r.query_id, r.neighbor_id, r.adist, r.rank) for r in
                S.ivfpq_residual_topk(emb, "vec_id", "embedding", [0, 1],
                                      cents, m=4, pq_k=8, pq_iters=1,
                                      k=5, n_probe=probes).collect()}
        assert got == want, probes


def test_resolve_buckets_pins_across_restarts(spark, tmp_path):
    """B is part of the state layout: the first resolution with a
    checkpoint_dir writes a sidecar, and later resolutions reuse the
    pinned value even if 'auto' would now resolve differently or the
    caller requests another count — checkpointed state stays reachable."""
    from kstream_spark.streaming.join import resolve_buckets
    ckpt = str(tmp_path / "ckpt")
    first = resolve_buckets(spark, "auto", ckpt)
    assert first == spark.sparkContext.defaultParallelism * 4
    # a restart asking for an explicit different count still gets the pin
    assert resolve_buckets(spark, 7, ckpt) == first
    assert resolve_buckets(spark, "auto", ckpt) == first
    # a sidecar pinned to None comes from the removed per-key layout:
    # that checkpoint cannot resume, and says so
    import json
    import os
    ckpt2 = str(tmp_path / "ckpt2")
    os.makedirs(ckpt2)
    with open(os.path.join(ckpt2, "kstream_buckets.json"), "w") as fh:
        json.dump({"buckets": None}, fh)
    with pytest.raises(ValueError, match="per-key state layout"):
        resolve_buckets(spark, "auto", ckpt2)
    with pytest.raises(ValueError, match="positive int"):
        resolve_buckets(spark, None, None)
    # no checkpoint -> fresh resolution each time (no recoverable state)
    assert resolve_buckets(spark, 7, None) == 7


def test_compact_code_store_latest_wins_and_cell_layout(spark, tmp_path):
    """Compaction merges accumulated epoch partitions latest-per-id (a
    re-admitted vector's newer codes supersede), partitions the output by
    cell (so probed searches prune at the scan), and searching the
    compacted store equals searching the raw one."""
    import os

    from pyspark.sql import Window as W

    from kstream_spark import StreamBuilder
    from kstream_spark.operators import similarity as S
    from kstream_spark.streaming import ann as A

    emb = StreamBuilder(spark) \
        .table("/root/testdata/sf0.001/embeddings.parquet").to_df()
    cents = S.kmeans_centroids(emb, "embedding", k=4, iters=1,
                               id_col="vec_id")
    books = S.pq_codebooks(emb, "embedding", m=4, k=8, iters=1,
                           id_col="vec_id")
    store = str(tmp_path / "codes")
    # three epochs written batch-side (same layout admit_stream uses);
    # epoch 1 re-admits epoch 0's vectors (an upstream replay)
    full = A.encode_against_index(emb, "vec_id", "embedding", cents, books)
    for ep, flt in ((0, F.col("vec_id") < 10),
                    (1, F.col("vec_id") < 10),
                    (2, F.col("vec_id") >= 10)):
        (full.filter(flt).withColumn("__epoch", F.lit(ep))
         .write.mode("append").partitionBy("__epoch").parquet(store))

    out = str(tmp_path / "compacted")
    compacted = A.compact_code_store(spark, store, out, "vec_id")
    # latest-wins: one row per id, no epoch-0/1 duplicates
    assert compacted.count() == emb.count()
    assert compacted.groupBy("vec_id").count() \
        .filter(F.col("count") > 1).count() == 0
    # cell-partitioned layout on disk (partition pruning for probes)
    assert any(d.startswith("cell_id=") for d in os.listdir(out))
    # search equivalence vs the uncompacted store
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    raw = spark.read.parquet(store).withColumn(
        "_rn", F.row_number().over(
            W.partitionBy("vec_id").orderBy(F.desc("__epoch")))) \
        .filter("_rn = 1")
    got = {(r.query_id, r.neighbor_id, r.adist, r.rank) for r in
           A.adc_topk_from_codes(compacted, queries, "vec_id",
                                 "embedding", books, k=5).collect()}
    want = {(r.query_id, r.neighbor_id, r.adist, r.rank) for r in
            A.adc_topk_from_codes(raw, queries, "vec_id", "embedding",
                                  books, k=5).collect()}
    assert got == want


def test_selection_admit_stream_matches_batch_scores(spark, tmp_path):
    """Streaming DSIR admission: arrivals score against the persisted
    weight table bit-identically to the batch operator (exact integer
    scores), and only above-threshold docs are admitted."""
    from kstream_spark.operators import selection as SEL
    from kstream_spark.streaming.selection import admit_stream

    ref = spark.createDataFrame(
        [(0, "spark shuffle executor stage partition", "tgt"),
         (1, "spark codegen catalyst shuffle executor", "tgt"),
         (2, "banana apple orange grape melon", "other"),
         (3, "pear kiwi banana apple grape", "other")],
        "doc_id long, text string, src string")
    w = SEL.dsir_weights(ref, "text", F.col("src") == "tgt", n_buckets=64)
    w.write.parquet(str(tmp_path / "weights"))

    arrivals = spark.createDataFrame(
        [(10, "spark executor shuffle plan stage"),
         (11, "melon grape banana orange kiwi")],
        "doc_id long, text string")
    src = tmp_path / "in"
    arrivals.coalesce(1).write.parquet(str(src))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(src)))
    q = admit_stream(stream, str(tmp_path / "weights"),
                     str(tmp_path / "out"), str(tmp_path / "ck"),
                     id_col="doc_id", text_col="text", min_micro=1,
                     n_buckets=64)
    _run(q)

    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert out["doc_id"].tolist() == [10]      # spark-y doc admitted only
    batch = (SEL.dsir_apply(arrivals, "doc_id", "text",
                            spark.read.parquet(str(tmp_path / "weights")),
                            n_buckets=64)
             .toPandas().set_index("doc_id"))
    assert int(out["dsir_micro"].iloc[0]) == int(batch.loc[10, "dsir_micro"])
    assert int(batch.loc[11, "dsir_micro"]) < 1


def test_watermarked_native_stream_join(spark, tmp_path):
    """The Spark-native bounded-state join matches within the interval and
    excludes pairs outside it; state cleanup is engine-managed (no custom
    state schema in the plan)."""
    import datetime as dt
    from kstream_spark.streaming.join import watermarked_stream_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    lrows = [(1, t0, "l1"), (2, t0 + dt.timedelta(minutes=30), "l2")]
    rrows = [(1, t0 + dt.timedelta(minutes=2), "r1"),     # within 5m of l1
             (1, t0 + dt.timedelta(minutes=20), "r2"),    # outside
             (2, t0 + dt.timedelta(minutes=29), "r3")]    # within of l2
    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    spark.createDataFrame(lrows, "k long, lts timestamp, lv string") \
        .coalesce(1).write.parquet(str(lsrc))
    spark.createDataFrame(rrows, "k long, rts timestamp, rv string") \
        .coalesce(1).write.parquet(str(rsrc))
    lstream = spark.readStream.schema("k long, lts timestamp, lv string") \
        .parquet(str(lsrc))
    rstream = spark.readStream.schema("k long, rts timestamp, rv string") \
        .parquet(str(rsrc))
    joined = watermarked_stream_join(lstream, rstream, "k", "lts", "rts",
                                     watermark="10 minutes",
                                     within="5 minutes")
    q = (joined.writeStream.format("memory").queryName("wm_join_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    _run(q)
    got = {(r.lv, r.rv) for r in spark.sql(
        "SELECT lv, rv FROM wm_join_out").collect()}
    assert got == {("l1", "r1"), ("l2", "r3")}


def test_watermarked_join_suffixes_colliding_columns(spark, tmp_path):
    """Non-key column names shared by both sides (the common case being
    an identical timestamp column name) come out suffixed `_right` so
    the output is unambiguous by name."""
    import datetime as dt
    from kstream_spark.streaming.join import watermarked_stream_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    spark.createDataFrame([(1, t0, "l1")], "k long, ts timestamp, v string") \
        .coalesce(1).write.parquet(str(lsrc))
    spark.createDataFrame([(1, t0 + dt.timedelta(minutes=1), "r1")],
                          "k long, ts timestamp, v string") \
        .coalesce(1).write.parquet(str(rsrc))
    lstream = spark.readStream.schema("k long, ts timestamp, v string") \
        .parquet(str(lsrc))
    rstream = spark.readStream.schema("k long, ts timestamp, v string") \
        .parquet(str(rsrc))
    joined = watermarked_stream_join(lstream, rstream, "k", "ts", "ts",
                                     watermark="10 minutes",
                                     within="5 minutes")
    assert joined.columns == ["k", "ts", "v", "ts_right", "v_right"]
    q = (joined.writeStream.format("memory").queryName("wm_join_sfx")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    _run(q)
    rows = spark.sql("SELECT * FROM wm_join_sfx").collect()
    assert len(rows) == 1
    assert rows[0].v == "l1" and rows[0].v_right == "r1"
    assert rows[0].ts_right - rows[0].ts == dt.timedelta(minutes=1)


def test_compact_signature_store_latest_wins(spark, tmp_path):
    """Signature-store compaction: re-admitted docs keep only their newest
    signature; the compacted store drives incremental_dedup identically."""
    from kstream_spark.operators.dedup import corpus_signatures
    from kstream_spark.streaming.corpus import compact_signature_store

    d1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different text about spark state stores")],
        "doc_id long, text string")
    d2 = spark.createDataFrame(
        [(1, "totally revised text for document one after an edit")],
        "doc_id long, text string")
    store = str(tmp_path / "sigs")
    for epoch, batch in ((0, d1), (1, d2)):
        (corpus_signatures(batch, "doc_id", "text")
         .withColumn("__epoch", F.lit(epoch))
         .write.mode("overwrite").partitionBy("__epoch")
         .option("partitionOverwriteMode", "dynamic").parquet(store))
    out = compact_signature_store(spark, store, str(tmp_path / "compacted"))
    pdf = out.toPandas()
    assert sorted(pdf["doc_id"].tolist()) == [1, 2]      # one row per doc
    fresh = corpus_signatures(d2, "doc_id", "text").toPandas()
    assert pdf.set_index("doc_id").loc[1, "__ch"] == \
        fresh.set_index("doc_id").loc[1, "__ch"]          # newest text won


def test_tokenize_stream_matches_batch_unigram_tokenize(spark, tmp_path):
    """Streamed tokenize-on-ingest is bit-identical to the batch
    operator: same vocab, same DP, same counts."""
    from kstream_spark.operators import text as T
    from kstream_spark.streaming.text import tokenize_stream

    corpus = spark.createDataFrame(
        [(1, "hello hello world"), (2, "low lower lowest hello")],
        "doc_id long, text string")
    vocab_df = T.unigram_train(corpus, "text", seed_v=20, keep_v=10,
                               iters=2, max_piece_len=3)
    vocab_df.write.parquet(str(tmp_path / "vocab"))

    src = tmp_path / "in"
    corpus.coalesce(1).write.parquet(str(src))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(src)))
    q = tokenize_stream(stream, str(tmp_path / "vocab"),
                        str(tmp_path / "out"), str(tmp_path / "ck"),
                        id_col="doc_id", text_col="text",
                        max_piece_len=3)
    _run(q)

    streamed = (spark.read.parquet(str(tmp_path / "out"))
                .groupBy("token").count().toPandas()
                .set_index("token")["count"].to_dict())
    vocab = [(r["piece"], int(r["logp_micro"])) for r in vocab_df.collect()]
    batch = {r["token"]: r["cnt"] for r in
             T.unigram_tokenize(corpus, "text", vocab,
                                max_piece_len=3).collect()}
    assert streamed == batch
    # positions are dense per doc
    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    for _, g in out.groupby("doc_id"):
        assert sorted(g["pos"]) == list(range(len(g)))


def _scd_log_stream(spark, src):
    """A change log written as two event-time-split files, and a stream
    that reads them as two ordered micro-batches (epochs 0 and 1)."""
    import datetime as dt

    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    log = [(1, "a", t(1), 10), (1, "b", t(3), 11), (1, "b", t(5), 12),
           (2, "x", t(2), 13), (2, "y", t(6), 14), (3, "q", t(7), 15)]
    df = spark.createDataFrame(
        log, "k long, attr string, ts timestamp, eid long")
    # two files -> maxFilesPerTrigger=1 gives two ordered micro-batches
    df.filter("ts < '2024-01-04'").coalesce(1) \
        .write.parquet(str(src / "b1"))
    df.filter("ts >= '2024-01-04'").coalesce(1) \
        .write.parquet(str(src / "b2"))
    stream = (spark.readStream
              .schema("k long, attr string, ts timestamp, eid long")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    return df, stream


def _dimension_rows(pdf):
    return sorted(map(tuple, pdf[["k", "attr", "valid_from", "valid_to",
                                  "is_current"]]
                      .astype(str).itertuples(index=False, name=None)))


def test_scd2_stream_matches_batch_history(spark, tmp_path):
    """Streamed dimension maintenance == one batch scd2_history over the
    full log for a strict event-time split (the documented contract:
    same-timestamp events for a key must not straddle batches)."""
    from kstream_spark.operators.scd import scd2_history
    from kstream_spark.streaming.scd import read_dimension, scd2_stream

    df, stream = _scd_log_stream(spark, tmp_path / "in")
    q = scd2_stream(stream, str(tmp_path / "dim"), str(tmp_path / "ck"),
                    "k", ["attr"], "ts", id_col="eid")
    _run(q)

    got = read_dimension(spark, str(tmp_path / "dim")).toPandas()
    want = scd2_history(df, "k", ["attr"], "ts", id_col="eid").toPandas()
    assert _dimension_rows(got) == _dimension_rows(want)


def test_scd2_stream_replay_after_open_swap_keeps_history(spark, tmp_path):
    """A crash after a batch's open-relation swap but before Spark's
    commit log replays that batch on restart.  The replay must leave the
    dimension as an uninterrupted run does: the batch's closed interval
    (key 2's "x") may not be lost to an empty re-derivation."""
    import os

    from kstream_spark.operators.scd import scd2_history
    from kstream_spark.streaming.scd import read_dimension, scd2_stream

    df, stream = _scd_log_stream(spark, tmp_path / "in")
    dim, ck = str(tmp_path / "dim"), str(tmp_path / "ck")
    _run(scd2_stream(stream, dim, ck, "k", ["attr"], "ts", id_col="eid"))
    # the crash: epoch 1's batch ran to its end, its commit is lost
    commit = os.path.join(ck, "commits", "1")
    os.remove(commit)
    crc = os.path.join(ck, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _run(scd2_stream(stream, dim, ck, "k", ["attr"], "ts", id_col="eid"))
    assert os.path.exists(commit)               # epoch 1 was replayed

    got = read_dimension(spark, dim).toPandas()
    want = scd2_history(df, "k", ["attr"], "ts", id_col="eid").toPandas()
    assert ("2", "x") in {r[:2] for r in _dimension_rows(got)}
    assert _dimension_rows(got) == _dimension_rows(want)


def test_drift_stream_matches_batch_psi(spark, tmp_path):
    """A single-batch stream scored against the persisted reference
    reproduces the batch drift_psi report bit-for-bit, and a shifted
    batch raises a positive PSI alarm."""
    from kstream_spark.operators.quality import (bucket_counts, drift_psi)
    from kstream_spark.streaming.quality import drift_stream

    ref = spark.createDataFrame([(i, float(i % 4)) for i in range(400)],
                                "id long, v double")
    bucket = F.floor("v").cast("long")
    bucket_counts(ref, bucket, [], "count_ref") \
        .write.parquet(str(tmp_path / "ref"))

    cur = spark.createDataFrame([(i, float(3)) for i in range(100)],
                                "id long, v double")
    src = tmp_path / "in"
    cur.coalesce(1).write.parquet(str(src))
    stream = (spark.readStream.schema("id long, v double")
              .parquet(str(src)))
    q = drift_stream(stream, str(tmp_path / "ref"), str(tmp_path / "out"),
                     str(tmp_path / "ck"), F.floor("v").cast("long"),
                     n_buckets=4)
    _run(q)

    got = (spark.read.parquet(str(tmp_path / "out"))
           .drop("__epoch").toPandas())
    want = drift_psi(ref, cur, bucket, n_buckets=4).toPandas()
    k = lambda p: sorted(map(tuple, p[["bucket", "count_ref", "count_cur",
                                       "psi_micro"]]
                             .itertuples(index=False, name=None)))
    assert k(got) == k(want)
    assert got["psi_micro"].sum() > 250_000  # the shift alarms


def test_retrain_if_drifted_decision_and_recovery(spark):
    """The drift->retrain decision (streaming/ann.retrain_if_drifted):
    an underfit bootstrap index triggers a retrain whose recall report
    matches the full-corpus codebooks; a permissive threshold keeps the
    incumbent.  Arm-equality with the sim_ann_retrain driver row's
    semantics (before rows = bootstrap audit, after = fresh audit)."""
    from pyspark.sql import functions as F
    from kstream_spark.operators.similarity import pq_codebooks
    from kstream_spark.streaming.ann import recall_report, retrain_if_drifted
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .limit(120).cache())
    qids = [0, 1, 2]
    boot = pq_codebooks(emb.filter(F.col("vec_id") < 16), "embedding",
                        m=4, k=8, iters=2, id_col="vec_id")
    # permissive threshold: incumbent kept, report is the before-audit
    books, report, retrained = retrain_if_drifted(
        emb, "vec_id", "embedding", qids, boot, threshold_hits=0, k=5)
    assert not retrained and books is boot
    before_total = report.agg(F.sum("n_hits")).collect()[0][0]
    # impossible threshold: retrain fires, returned books are the
    # full-corpus training result
    books2, report2, retrained2 = retrain_if_drifted(
        emb, "vec_id", "embedding", qids, boot,
        threshold_hits=len(qids) * 5 + 1, k=5, m=4, pq_k=8, pq_iters=2)
    assert retrained2
    fresh = pq_codebooks(emb, "embedding", m=4, k=8, iters=2,
                         id_col="vec_id")
    assert books2 == fresh
    # the before-audit is identical in both calls (pure measurement)
    assert (report2.agg(F.sum("n_hits")).collect()[0][0] == before_total)
    after_total = (recall_report(emb, "vec_id", "embedding", qids, books2,
                                 k=5).agg(F.sum("n_hits")).collect()[0][0])
    assert after_total >= 0  # recovery magnitude is fixture-dependent
    emb.unpersist()


def test_admit_cluster_balanced_stream_quota_and_dedup(spark, tmp_path):
    """Cluster-balanced streaming admission: per-cell totals never exceed
    the quota across micro-batches, re-arriving ids are not re-admitted,
    and batch-1 admissions equal the batch operator run on the same
    slice (same key, same centroids, empty store)."""
    from pyspark.sql import functions as F
    from kstream_spark.operators.selection import cluster_balanced_select
    from kstream_spark.operators.similarity import (kmeans_centroids,
                                                    save_centroids)
    from kstream_spark.streaming import core as SC
    from kstream_spark.streaming.selection import \
        admit_cluster_balanced_stream

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", "embedding").limit(200).cache())
    cents = kmeans_centroids(emb, "embedding", k=4, iters=2,
                             id_col="vec_id")
    save_centroids(spark, cents, str(tmp_path / "cents"))

    src = tmp_path / "in"
    first = emb.filter(F.col("vec_id") < 100)
    first.coalesce(1).write.mode("append").parquet(str(src))
    q = admit_cluster_balanced_stream(
        SC.read_stream_parquet(spark, str(src)), str(tmp_path / "cents"),
        str(tmp_path / "adm"), str(tmp_path / "ck"),
        "vec_id", "embedding", per_cell_quota=10)
    q.processAllAvailable()
    got1 = spark.read.parquet(str(tmp_path / "adm"))
    want1 = cluster_balanced_select(first, "vec_id", "embedding", cents,
                                    per_cell=10)
    assert ({(r.vec_id, r.cell_id) for r in got1.collect()}
            == {(r.vec_id, r.cell_id) for r in want1.collect()})

    # batch 2: re-send half of batch 1 (must not re-admit) + new arrivals
    second = emb.filter((F.col("vec_id") >= 50))
    second.coalesce(1).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop(); q.awaitTermination(10)  # noqa: E702
    adm = spark.read.parquet(str(tmp_path / "adm"))
    per_cell = adm.groupBy("cell_id").count().collect()
    assert all(r["count"] <= 10 for r in per_cell)   # quota holds globally
    ids = [r.vec_id for r in adm.select("vec_id").collect()]
    assert len(ids) == len(set(ids))                 # no double admission
    assert adm.count() >= got1.count()               # monotone growth
    emb.unpersist()


def test_admit_stream_quality_gate(spark, tmp_path):
    """The gopher quality gate screens each batch BEFORE dedup: rejected
    docs are never admitted and never enter the signature store."""
    from kstream_spark.streaming.corpus import admit_stream, gopher_gate

    good = ("the be quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest to hide from the hunter "
            "while the moon rises over the quiet hills and the wind moves")
    spam = "buy " * 60                               # no stop words
    src = tmp_path / "in"
    spark.createDataFrame([(1, good), (2, spam)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(str(src))

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(src)))
    q = admit_stream(stream, str(tmp_path / "corpus"), str(tmp_path / "sigs"),
                     str(tmp_path / "ck"), id_col="doc_id", text_col="text",
                     quality_gate=gopher_gate("doc_id", "text",
                                              min_words=20, max_words=200))
    _run(q)
    admitted = {r.doc_id for r in
                spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert admitted == {1}
    sigs = {r.doc_id for r in
            spark.read.parquet(str(tmp_path / "sigs")).collect()}
    assert 2 not in sigs


def _seed_corpus_batches(spark, src):
    """Two one-file batches for ``corpus.admit_stream``: batch 2 carries an
    exact dup and a near-dup of batch-1 docs plus one novel doc."""
    import time as _time
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest to hide from every hunter")
    spark.createDataFrame([(1, base), (2, "completely different text about "
                                          "spark structured streaming state")],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.1)
    spark.createDataFrame([(3, base), (4, base.replace("hunter", "tracker")),
                           (5, "a third topic entirely unrelated to both")],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(str(src))


def _corpus_stream(spark, src):
    return (spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(str(src)))


@pytest.mark.parametrize("sink", ["corpus", "cluster_balanced"])
def test_admit_stream_corrupt_store_fails_the_batch(spark, tmp_path, sink):
    """A store that exists but cannot be read fails the batch, naming the
    read error, instead of reading as "first batch" and admitting against
    an empty corpus (or an empty quota)."""
    store = tmp_path / "store"
    (store / "__epoch=0").mkdir(parents=True)
    (store / "__epoch=0" / "part-0.parquet").write_text("not parquet")
    src = tmp_path / "in"
    if sink == "corpus":
        from kstream_spark.streaming.corpus import admit_stream
        _seed_corpus_batches(spark, src)
        q = admit_stream(_corpus_stream(spark, src), str(tmp_path / "corpus"),
                         str(store), str(tmp_path / "ck"), id_col="doc_id",
                         text_col="text", min_trigger=None)
    else:   # the admitted rows are the store
        from kstream_spark.operators.similarity import save_centroids
        from kstream_spark.streaming.selection import \
            admit_cluster_balanced_stream
        save_centroids(spark, [[1.0, 0.0], [0.0, 1.0]],
                       str(tmp_path / "cents"))
        spark.createDataFrame([(1, [1.0, 0.1]), (2, [0.1, 1.0])],
                              "vec_id long, embedding array<double>") \
            .coalesce(1).write.parquet(str(src))
        q = admit_cluster_balanced_stream(
            SC.read_stream_parquet(spark, str(src)), str(tmp_path / "cents"),
            str(store), str(tmp_path / "ck"), "vec_id", "embedding",
            per_cell_quota=10)
    with pytest.raises(Exception, match="not a Parquet file"):
        q.processAllAvailable()
    q.stop()
    # nothing was admitted
    assert [p.name for p in store.iterdir()] == ["__epoch=0"]
    assert not (tmp_path / "corpus").exists()


def test_admit_stream_crash_mid_batch_replays_to_same_stores(spark, tmp_path,
                                                             monkeypatch):
    """A crash inside an admission batch, just before or just after its
    signature-store write, replays from the checkpoint to the same corpus
    and signature stores as an uninterrupted run."""
    from kstream_spark.streaming.corpus import admit_stream

    src = tmp_path / "in"
    _seed_corpus_batches(spark, src)

    def run(name):
        q = admit_stream(_corpus_stream(spark, src),
                         str(tmp_path / f"corpus_{name}"),
                         str(tmp_path / f"sigs_{name}"),
                         str(tmp_path / f"ck_{name}"), id_col="doc_id",
                         text_col="text", min_trigger=None)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def stores(name):
        return [sorted(tuple(r) for r in spark.read.parquet(
            str(tmp_path / f"{kind}_{name}")).collect())
            for kind in ("corpus", "sigs")]

    run("clean")
    want = stores("clean")
    assert {r[0] for r in want[0]} == {1, 2, 5}

    write = SC.write_epoch
    for crash in ("before", "after"):
        writes = []

        def writer(df, path, epoch_id, crash=crash, writes=writes):
            kind = (path.rsplit("/", 1)[-1].split("_")[0], epoch_id)
            first = kind == ("sigs", 1) and kind not in [w[:2] for w in writes]
            writes.append((*kind, df.count()))
            if first and crash == "before":
                raise RuntimeError("crash before the signature write")
            write(df, path, epoch_id)
            if first:
                raise RuntimeError("crash after the signature write")

        monkeypatch.setattr(SC, "write_epoch", writer)
        with pytest.raises(Exception, match=f"crash {crash}"):
            run(crash)
        run(crash)               # restart: epoch 1 is replayed
        # the replay rewrites epoch 1 with the rows its first attempt wrote
        assert writes == [("corpus", 0, 2), ("sigs", 0, 2),
                          ("corpus", 1, 1), ("sigs", 1, 1),
                          ("corpus", 1, 1), ("sigs", 1, 1)]
        assert stores(crash) == want
