"""StreamBuilder — the DSL entry point.

Ref: kstream/builder.go:164-254 — ``builder.Stream(topic, keyEnc, valEnc)``
creates a stream, ``builder.GlobalTable(...)`` a global table, ``Build`` wires
the topology.  In Spark the "encoders" (kstream/encoding/encoder.go:10-15)
become explicit schemas / from_json projections, and ``Build`` is implicit:
DataFrame lineage IS the topology, materialized on write.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

from kstream_spark.global_table import GlobalTable
from kstream_spark.sources.kafka import decode_records
from kstream_spark.sources.parquet import read_parquet
from kstream_spark.stores.registry import StoreRegistry
from kstream_spark.stream import Stream


def _read(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    """A source path as a DataFrame: parquet through ``read_parquet``, any
    other format through Spark's reader with its defaults."""
    if fmt == "parquet":
        return read_parquet(spark, path)
    return spark.read.format(fmt).load(path)


class StreamBuilder:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.stores = StoreRegistry(spark)

    # -- batch sources -----------------------------------------------------
    def table(self, path: str, fmt: str = "parquet", name: str | None = None,
              key: str | None = None) -> Stream:
        return Stream(_read(self.spark, path, fmt), key=key, name=name or path)

    def stream(self, path: str, fmt: str = "parquet", name: str | None = None,
               key: str | None = None) -> Stream:
        """Batch-bounded stream from files (test path).  The Kafka source
        (ref kstream/k_source.go:10-77) lives in kstream_spark.sources.kafka.
        """
        return self.table(path, fmt=fmt, name=name, key=key)

    def from_df(self, df: DataFrame, name: str = "stream", key: str | None = None) -> Stream:
        return Stream(df, key=key, name=name)

    def global_table(self, source: str | DataFrame, key: str | Sequence[str],
                     version: str | None = None,
                     tombstone: Column | str | None = None,
                     broadcast: bool = True, fmt: str = "parquet",
                     name: str | None = None, sync: bool = True,
                     snapshot: bool = False) -> GlobalTable:
        """Ref: kstream/builder.go:226-254.  ``sync=True`` reproduces the boot
        barrier (tables synced before streams start, streams.go:143-166).

        ``snapshot=True`` declares the source already latest-per-key (a table
        snapshot, not a changelog) — skips the compaction groupBy, so lookup
        joins against it are a zero-shuffle broadcast probe."""
        df = source if isinstance(source, DataFrame) \
            else _read(self.spark, source, fmt)
        gt = GlobalTable(df, key=key, version=version, tombstone=tombstone,
                         broadcast=broadcast, pre_compacted=snapshot,
                         name=name or (source if isinstance(source, str) else "global_table"))
        return gt.sync() if sync else gt

    # -- Kafka-record-shaped source (ref data/record.go:32-41) -------------
    def kafka_record_stream(self, df: DataFrame, value_schema: T.StructType,
                            key_type: str = "string", name: str = "kafka") -> Stream:
        """Decode a Kafka-wire-shaped DataFrame (key/value binary + metadata,
        exactly Spark's Kafka source schema) via "encoders":
        value -> from_json(value_schema), key -> cast.  Ref encoders:
        kstream/encoding/{int,string,json}_encoder.go."""
        return Stream(decode_records(df, value_schema, key_type), key="key",
                      name=name)
