"""Kafka source/sink builders.

Ref: kSource (kstream/k_source.go:10-77), KSink (kstream/k_sink.go:20-253),
Through (k_stream.go:540-556), offset modes (kstream/global_table.go:22-29,
kstream/offsets/manager.go:9-79).

The option surface maps 1:1 onto Spark's Kafka connector:
  topic + key/value encoders        -> subscribe + from_json/cast projection
  OffsetDefault(0) / OffsetLatest   -> startingOffsets earliest|latest
  changelog topics                  -> checkpointLocation (no broker round-trip)
  sink tombstone filter / headers   -> pre-write projection (encode_records)
  sink record transformer           -> apply_transformer (Stream.to's too)

``decode_records`` is the one record decoder, for ``read_stream`` and
``StreamBuilder.kafka_record_stream`` alike.

The container has no Kafka broker or spark-sql-kafka jar, so ``available()``
gates the live path; builders are pure and unit-testable without a broker.
The wire schema of Spark's Kafka source is EXACTLY the reference's
data.Record (data/record.go:32-41): key/value binary, topic string,
partition int, offset long, timestamp, headers array<struct<key,value>>.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kstream_spark.functions import to_col


def available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector jar is on the classpath."""
    try:
        spark.readStream.format("kafka") \
            .option("kafka.bootstrap.servers", "x").option("subscribe", "x").load()
        return True
    except Exception as e:  # noqa: BLE001
        return "Failed to find data source" not in str(e)


def source_options(topic: str, bootstrap_servers: str,
                   starting: str = "earliest", fail_on_data_loss: bool = False,
                   max_offsets_per_trigger: int | None = None) -> dict:
    """Kafka source options.  ``starting``: 'earliest' (ref OffsetDefault=0)
    or 'latest' (ref OffsetLatest=-1)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def sink_options(topic: str, bootstrap_servers: str) -> dict:
    return {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}


def read_stream(spark: SparkSession, topic: str, bootstrap_servers: str,
                value_schema: T.StructType | None = None,
                key_type: str = "string", **kw) -> DataFrame:
    """Streaming Kafka source decoded via "encoders" (from_json/cast).
    Ref: k_source.go:51-67 decode path, encoding/{json,int,string}_encoder.go."""
    reader = spark.readStream.format("kafka")
    for k, v in source_options(topic, bootstrap_servers, **kw).items():
        reader = reader.option(k, v)
    return decode_records(reader.load(), value_schema, key_type)


def decode_records(df: DataFrame, value_schema: T.StructType | None,
                   key_type: str = "string") -> DataFrame:
    """Kafka wire record -> typed columns; the metadata columns the frame
    has are kept alongside the payload (the reference exposes them via
    Context, kstream/context/context.go:13-33).  Spark's Kafka source has a
    ``headers`` column only with ``includeHeaders=true``."""
    key = F.col("key").cast("string")
    if key_type != "string":
        key = key.cast(key_type)
    value = F.col("value").cast("string")
    if value_schema is not None:
        value = F.from_json(value, value_schema)
    return df.select(key.alias("key"), value.alias("value"),
                     *[c for c in ("topic", "partition", "offset", "timestamp",
                                   "headers") if c in df.columns])


def apply_transformer(df: DataFrame, transformer) -> DataFrame:
    """A sink's per-record transformer hook (k_sink.go:195-248), the last
    step before the write: a dict of column -> Column expression, or a
    callable (DataFrame -> DataFrame); None leaves ``df`` as it is."""
    if transformer is None:
        return df
    if callable(transformer):
        return transformer(df)
    for name, expr in transformer.items():
        df = df.withColumn(name, expr)
    return df


def encode_records(df: DataFrame, key_col: str = "key", value_col: str = "value",
                   tombstone: F.Column | str | None = None,
                   headers_col: str | F.Column | None = None,
                   timestamp_col: str | None = None,
                   include_timestamp: bool = False,
                   transformer=None) -> DataFrame:
    """Typed columns -> Kafka wire record for the sink.

    Ref: k_sink.go:195-248 — encode key/value, optional tombstone predicate
    (rows matching it produce null value = delete marker, k_sink.go:230-240),
    optional headers; the record timestamp defaults to now when no column is
    given (k_sink.go:198).

    ``headers_col`` names an existing headers column OR is a Column
    expression building headers from the row — the sink's header-extractor
    hook (k_sink.go:33-35).

    ``transformer`` is the sink's per-record transformer hook
    (k_sink.go:195-248): either a dict of wire-column -> Column expression
    (applied over the encoded record, e.g. {"value": F.upper("value")}) or a
    callable (DataFrame -> DataFrame) over the encoded wire frame.  It runs
    AFTER encoding, exactly where the reference applies it (on the producer
    record, not the typed row)."""
    value = F.to_json(F.col(value_col)) if \
        dict(df.dtypes)[value_col].startswith("struct") else F.col(value_col).cast("string")
    if tombstone is not None:
        value = F.when(to_col(tombstone), F.lit(None).cast("string")).otherwise(value)
    cols = [F.col(key_col).cast("string").alias("key"), value.alias("value")]
    if headers_col is not None:
        h = headers_col if isinstance(headers_col, F.Column) else F.col(headers_col)
        cols.append(h.alias("headers"))
    if timestamp_col:
        cols.append(F.col(timestamp_col).alias("timestamp"))
    elif include_timestamp:
        cols.append(F.current_timestamp().alias("timestamp"))
    return apply_transformer(df.select(*cols), transformer)


def write_stream(df: DataFrame, topic: str, bootstrap_servers: str,
                 checkpoint_dir: str, include_headers: bool = False):
    writer = (df.writeStream.format("kafka")
              .option("checkpointLocation", checkpoint_dir)
              .option("includeHeaders", str(include_headers).lower()))
    for k, v in sink_options(topic, bootstrap_servers).items():
        writer = writer.option(k, v)
    return writer.start()
