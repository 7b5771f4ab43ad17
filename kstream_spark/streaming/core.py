"""Structured Streaming execution layer.

Reference parity map (citations into /root/reference/):
  consumer loop + processor pool   kstream/streams.go:210-328,
                                   kstream/processor.go:103-144
      -> Spark micro-batch engine (one task per source partition; the worker
         pool / OrderByKey machinery of worker_pool/pool.go:131-150 is
         subsumed by shuffle-by-key parallelism)
  changelog mark->process->commit  kstream/processor.go:116-170,
                                   kstream/streams.go:311-318,
                                   kstream/changelog/*
      -> checkpointLocation: WAL + state snapshots; replay-after-crash gives
         the same at-least-once-with-idempotent-apply guarantee the
         changelog protocol implements by hand; file sinks replay
         idempotently through the epoch store (write_epoch / read_epochs /
         compact_epochs), which every file sink in streaming/ uses
  exactly-once via record UUID     consumer/consumer.go:16-41
      -> dedup_stream(): withWatermark + dropDuplicates on the UUID
  GlobalTable continuous sync      kstream/global_table_stream_instance.go:105-161
      -> materialize_stream(): each micro-batch checkpointed once into the
         store registry, folded version-gated latest-by-key on read
  DLQ producer                     kstream/dlq/dlq.go:12-79
      -> route_errors(): per-batch predicate split, failures to a DLQ sink
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kstream_spark.functions import to_col
from kstream_spark.sources.parquet import parquet_schema, restore_nanos


def read_stream_parquet(spark: SparkSession, path: str) -> DataFrame:
    """File-based streaming source (test/dev path; Kafka source in
    sources/kafka.py): the schema and TIMESTAMP(NANOS) columns of the batch
    read (``sources/parquet.read_parquet``), so both yield the same types."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, nanos = parquet_schema(spark, path)
    return restore_nanos(spark.readStream.schema(schema).parquet(path), nanos)


def dedup_stream(df: DataFrame, uuid_cols: Sequence[str], ts_col: str,
                 watermark_delay: str = "10 minutes",
                 within_watermark: bool = False) -> DataFrame:
    """Exactly-once-style source dedup on a record UUID.

    Ref: consumer/consumer.go:16-41 (per-record UUID extraction) + the
    changelog replay dedup (changelog/state_changelog.go:285-305).  The
    watermark bounds dedup state — the reference's equivalent structure (the
    changelog buffer) is also bounded, by flush interval.

    ``within_watermark=True`` switches to ``dropDuplicatesWithinWatermark``:
    duplicates match on the UUID alone even when retries carry a DIFFERENT
    event time (the reference's redelivery case — same UUID, later receive
    ts); state is still bounded by the watermark delay."""
    wm = df.withWatermark(ts_col, watermark_delay)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(list(uuid_cols))
    return wm.dropDuplicates([*uuid_cols, ts_col])


def dedup_stream_by_content(df: DataFrame, text_col: str, ts_col: str,
                            watermark_delay: str = "10 minutes",
                            hash_col: str = "__content_hash") -> DataFrame:
    """Streaming EXACT-dedup by normalized content hash — the ingestion-time
    member of the dedup family (operators/dedup.exact_dedup is the batch
    member; same whitespace-normalized md5).  Re-ingested identical documents
    within the watermark horizon are dropped regardless of their record ids;
    state is bounded by the watermark (at 100 TB/day ingest the horizon, not
    the corpus, sizes the state store).  Near-dup streaming admission is the
    batch ``incremental_dedup`` run per micro-batch via foreachBatch against
    the standing corpus — exact matching is the only part that needs
    engine-held streaming state."""
    from kstream_spark.functions.text import content_hash
    hashed = df.withColumn(hash_col, content_hash(F.col(text_col)))
    return (hashed.withWatermark(ts_col, watermark_delay)
            .dropDuplicatesWithinWatermark([hash_col])
            .drop(hash_col))


def materialize_stream(df: DataFrame, registry, store_name: str,
                       key: str | Sequence[str], version: str | None = None,
                       tombstone: Column | str | None = None,
                       checkpoint_dir: str | None = None,
                       query_name: str | None = None):
    """Continuously maintain a named latest-by-key store from a stream.

    Ref: GlobalTable sync loop (global_table_stream_instance.go:105-161) and
    Materialize (processors/materializer.go:65-94).  Each micro-batch is
    executed exactly once, inside its batch, as one
    ``localCheckpoint(eager=True)`` (no shuffle): upstream operator state
    (``dedup_stream``) commits with the batch, and the lineage back to the
    source files is cut.  The checkpoint is appended to the store as a
    pending part; the store's next read folds it into the compacted base
    with a version-gated ``max_by``, so a replayed batch — after a crash
    anywhere in the batch, even after its part was appended — appends the
    same versions and folds to the same store: at-least-once delivery +
    idempotent apply == effective exactly-once, replacing the reference's
    mark->process->delete changelog protocol (processor.go:116-170).
    """
    def apply_batch(bdf: DataFrame, epoch_id: int) -> None:
        registry.materialize(store_name, bdf, key=key, version=version,
                             tombstone=tombstone)

    writer = df.writeStream.foreachBatch(apply_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


def route_errors(df: DataFrame, error_predicate: Column | str,
                 ok_sink: Callable[[DataFrame, int], None],
                 dlq_sink: Callable[[DataFrame, int], None],
                 checkpoint_dir: str | None = None):
    """Per-record error routing to a DLQ, streaming flavor.

    Ref: dlq/dlq.go:12-79 + per-processor retry/abort (k_stream.go:91-92).
    Rows matching ``error_predicate`` go to the DLQ sink, the rest to the
    main sink — both from ONE pass over each micro-batch (batch is persisted
    before the split so the source is read once)."""
    pred = to_col(error_predicate)

    def apply_batch(bdf: DataFrame, epoch_id: int) -> None:
        bdf.persist()
        try:
            dlq_sink(bdf.filter(pred), epoch_id)
            ok_sink(bdf.filter(~pred), epoch_id)
        finally:
            bdf.unpersist()

    writer = df.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def windowed_agg(df: DataFrame, ts_col: str, window: str, slide: str | None = None,
                 keys: Sequence[str] = (), aggs: dict | None = None,
                 watermark: str | None = None) -> DataFrame:
    """Tumbling/sliding window aggregation (works on batch AND streaming
    DataFrames — the reference's window interface is an unimplemented stub,
    kstream/window/sliding.go:5-10)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    agg_cols = [expr.alias(name) for name, expr in (aggs or {}).items()]
    return (df.groupBy(win, *keys)
            .agg(*agg_cols)
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"), *keys,
                    *[F.col(n) for n in (aggs or {})]))


def session_agg(df: DataFrame, ts_col: str, gap: str, keys: Sequence[str] = (),
                aggs: dict | None = None, watermark: str | None = None) -> DataFrame:
    """Session-window aggregation with Spark's ``session_window``, on
    batch and streaming DataFrames alike.

    Per key, an event at most ``gap`` after the session's last event
    joins the session, and a later one starts a new session: Spark merges
    windows that touch, so one exactly ``gap`` after the last event still
    joins.  The row labeler ``operators/behavior.sessionize`` splits by
    the same rule (``ts > prev + gap``).  ``session_end`` is the window
    end: the last event plus ``gap``.  NULL keys form one group, as in
    any ``groupBy``.

    On a stream in append mode a session is emitted once the watermark
    reaches its end, by the batch that moves the watermark or by the
    no-data batch that follows it.  A late event the watermark still
    admits merges every session it bridges."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    agg_cols = [expr.alias(name) for name, expr in (aggs or {}).items()]
    return (df.groupBy(F.session_window(F.col(ts_col), gap), *keys)
            .agg(*agg_cols)
            .select(F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"), *keys,
                    *[F.col(n) for n in (aggs or {})]))


def with_retries(fn: Callable, attempts: int = 3, delay_ms: int = 100) -> Callable:
    """Wrap a foreachBatch sink with bounded retries.

    Ref: per-processor retry count/interval (kstream/k_stream.go:91-92;
    defaults retry=2, interval=100ms at builder.go:210-211).  After the
    retries are exhausted the exception propagates and the streaming query
    fails — the checkpoint replays the batch on restart (at-least-once), so
    pair this with idempotent sinks (materialize_stream is)."""
    import time as _time

    def wrapped(bdf, epoch_id):
        last = None
        for _ in range(max(1, attempts)):
            try:
                return fn(bdf, epoch_id)
            except Exception as e:  # noqa: BLE001
                last = e
                _time.sleep(delay_ms / 1000.0)
        raise last

    return wrapped


# The epoch store: one parquet directory per sink, one ``__epoch=N``
# partition per micro-batch.  Every file sink in streaming/ writes, reads
# and compacts its store through the three helpers below.
EPOCH = "__epoch"


def _hadoop_path(spark: SparkSession, path: str):
    """The session's Hadoop FileSystem for ``path`` and its ``Path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_path(spark, path)
    return bool(fs.exists(p))


def write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Write micro-batch ``epoch_id`` into partition ``__epoch=epoch_id``
    of ``path``, replacing only that partition: the partition is deleted,
    then ``df`` is appended as it.  A replayed epoch so REPLACES its own
    rows instead of appending duplicates, and an empty replay leaves the
    epoch empty.  Other epochs are never touched.

    This is the file-sink analog of the reference's changelog
    mark->process->delete protocol (processor.go:116-170): replay is safe
    because re-applying epoch N is idempotent — provided the caller's
    batch computes the same rows on replay.  A batch that reads state it
    wrote itself must read it as its first attempt did
    (``read_epochs(exclude_epoch=)``, or ``streaming/scd``'s applied-epoch
    check)."""
    fs, p = _hadoop_path(df.sparkSession, f"{path}/{EPOCH}={int(epoch_id)}")
    fs.delete(p, True)
    (df.withColumn(EPOCH, F.lit(int(epoch_id)))
     .write.mode("append").partitionBy(EPOCH).parquet(path))


def read_epochs(spark: SparkSession, path: str,
                exclude_epoch: int | None = None) -> DataFrame | None:
    """The rows of the epoch store at ``path``, without the ``__epoch``
    column, or ``None`` when nothing was ever written there: Spark reports
    a missing directory (PATH_NOT_FOUND) or one holding no data files
    (UNABLE_TO_INFER_SCHEMA — every epoch's output was empty).  Every
    other failure, e.g. a corrupt file, raises.

    ``exclude_epoch``: leave that epoch's rows out.  A batch that reads
    its own sink passes its epoch id, so a replay after a crash that
    followed the write sees the store as its first attempt did."""
    from pyspark.errors import AnalysisException
    try:
        store = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
    if exclude_epoch is not None:
        store = store.filter(F.col(EPOCH) != int(exclude_epoch))
    return store.drop(EPOCH)


def compact_epochs(spark: SparkSession, path: str, id_col: str) -> DataFrame:
    """The epoch store at ``path`` reduced latest-wins by ``id_col``: a row
    re-admitted in a later epoch supersedes its earlier versions.  The
    ``__epoch`` column is dropped.  A missing store raises."""
    from kstream_spark.global_table import compact_latest
    return compact_latest(spark.read.parquet(path), id_col,
                          version=EPOCH).drop(EPOCH)


def write_stream_idempotent(df: DataFrame, path: str, checkpoint_dir: str):
    """Exactly-once file sink: each micro-batch lands in its own epoch
    partition of ``path`` (``write_epoch``), so replays are idempotent."""
    return (df.writeStream
            .foreachBatch(lambda bdf, epoch: write_epoch(bdf, path, epoch))
            .option("checkpointLocation", checkpoint_dir).start())
