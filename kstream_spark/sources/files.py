"""Generic file sources/sinks: JSON-lines, CSV, ORC, parquet — batch and
streaming.

The reference's only source is a Kafka topic (kstream/builder.go:197-224);
a Spark-native engine gets every columnar/row file format for free, but the
defaults matter at 100 TB:

  * ALWAYS pass a schema.  Schema inference is a full extra scan of the
    input before the real job starts; at cluster scale that doubles cost
    and at streaming start it's forbidden anyway (Spark requires an
    explicit schema for file streams).  ``read_table`` therefore only
    infers when explicitly asked (``infer=True``) and the streaming reader
    requires a schema outright.
  * JSON/CSV are row formats: no column pruning, no predicate pushdown, no
    min/max skipping.  They are ingest formats — land them, convert to
    parquet (``convert_to_parquet``) with a layout (partition dirs /
    Z-order, sources/parquet.py + operators/layout.py), then query the
    parquet.  The converter exists so pipelines do this in one hop.

``write_table`` is the one batch file sink (``Stream.to`` writes through
it); every path here defaults CSV to a header, out and back in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_BATCH_FORMATS = {"json", "csv", "orc", "parquet", "text"}


def _with_options(rw, fmt: str, options: dict):
    """``options`` set on a reader or writer; CSV gets ``header=true``
    unless the caller says otherwise, so what is written reads back."""
    if fmt == "csv":
        options = {"header": "true", **options}
    return rw.options(**options)


def read_table(spark: SparkSession, path: str, fmt: str = "json",
               schema: T.StructType | str | None = None,
               infer: bool = False, **options) -> DataFrame:
    """Batch read of a file table.  CSV defaults to header=true; schema
    inference is opt-in (it costs a full extra pass over the data)."""
    if fmt not in _BATCH_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_BATCH_FORMATS)}")
    if schema is None and not infer and fmt in ("json", "csv"):
        raise ValueError(
            f"{fmt} without a schema requires infer=True (inference is a "
            "full extra scan — pass an explicit schema in production)")
    r = spark.read.format(fmt)
    if fmt == "csv" and schema is None and infer:
        r = r.option("inferSchema", "true")
    if schema is not None:
        r = r.schema(schema)
    return _with_options(r, fmt, options).load(path)


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                mode: str = "overwrite", partition_by: list[str] | None = None,
                **options) -> None:
    """Batch write; partition_by creates hive-style partition directories
    (the coarse pruning layer — see sources/parquet.write_partitioned for
    the full layout recipe with file sizing + clustering)."""
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    _with_options(w, fmt, options).save(path)


def read_stream_files(spark: SparkSession, path: str, fmt: str,
                      schema: T.StructType | str, **options) -> DataFrame:
    """File-source streaming read (micro-batches of newly arrived files).
    Schema is mandatory — Spark file streams cannot infer, and inference
    would race arriving data anyway.  ``maxFilesPerTrigger`` is the
    file-source analog of Kafka's maxOffsetsPerTrigger for backpressure."""
    r = spark.readStream.format(fmt).schema(schema)
    return _with_options(r, fmt, options).load(path)


def convert_to_parquet(spark: SparkSession, src_path: str, fmt: str,
                       schema: T.StructType | str, dest_path: str,
                       partition_by: list[str] | None = None,
                       **options) -> None:
    """Land a row-format table (json/csv) as parquet in one hop: the
    ingest step every 100 TB pipeline runs before real queries."""
    df = read_table(spark, src_path, fmt, schema=schema, **options)
    write_table(df, dest_path, "parquet", partition_by=partition_by)


def read_table_with_dlq(spark: SparkSession, path: str, fmt: str,
                        schema: T.StructType | str,
                        corrupt_col: str = "_corrupt_record",
                        **options) -> tuple[DataFrame, DataFrame]:
    """Batch read with per-record error routing: rows that fail to parse
    against the declared schema land in a DLQ relation (raw text +
    source file) instead of aborting the job or silently nulling — the
    file-source analog of the reference's per-record abort -> retry ->
    DLQ contract (processors/filter.go:72-89; streams get the same via
    streaming/core.route_errors).

    Returns ``(good, dlq)``.  Spark's PERMISSIVE mode parks the raw line
    of any unparseable record in ``columnNameOfCorruptRecord``; good rows
    carry NULL there.  Works for json and csv (the row ingest formats —
    columnar formats fail at the footer, not per record).

    Scale shape: one scan feeds both relations (the corrupt column is a
    projection, the split two filters); no shuffle at all.  Spark
    requires the corrupt-record column to be PART of the declared schema
    for the split to survive column pruning — this helper appends it.
    """
    if fmt not in ("json", "csv"):
        raise ValueError(f"per-record DLQ needs a row format, got {fmt!r}")
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    full = T.StructType(schema.fields
                        + [T.StructField(corrupt_col, T.StringType())])
    r = (spark.read.format(fmt).schema(full)
         .option("mode", "PERMISSIVE")
         .option("columnNameOfCorruptRecord", corrupt_col))
    r = _with_options(r, fmt, options)
    # input_file_name() only resolves while the scan is the file source —
    # once the cache below interposes an InMemoryRelation it returns ''.
    # Capture provenance in the initial projection, before caching.
    from pyspark.sql import functions as F
    df = r.load(path).withColumn("_source_file", F.input_file_name())
    # Spark refuses to filter on ONLY the corrupt column of a json scan
    # (SPARK-26108) unless the parsed columns are referenced too — cache
    # the split point so both relations come from one materialization
    from kstream_spark.util import owned
    df = owned(df.cache())
    good = (df.filter(F.col(corrupt_col).isNull())
            .drop(corrupt_col, "_source_file"))
    dlq = (df.filter(F.col(corrupt_col).isNotNull())
           .select(F.col(corrupt_col).alias("raw"),
                   F.col("_source_file").alias("source_file")))
    return good, dlq
