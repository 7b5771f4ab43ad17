"""SparkSession factory.

Local testing runs on local[N]; the same config block is what we would ship to
a 1000-executor cluster (AQE on, skew-join handling on, UTC, Arrow).  Shuffle
partitions default to cores locally; on a real cluster AQE coalesces from a
high initial number, so we set the initial high and let AQE shrink -- that is
the scale-safe default.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def _driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY`` if set, else the smaller of 16g and half
    of the machine's ``MemTotal``.  A fixed 16g heap outgrows a 16 GB
    box: the driver JVM is killed mid-run and every later action fails
    with a py4j ``EOFError``."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    cap_mb = 16 << 10
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{cap_mb}m"     # no /proc/meminfo: the historical default
    return f"{min(cap_mb, kb // 2 // 1024)}m"


def get_spark(
    app_name: str = "kstream_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    mem = _driver_memory()
    log.info("spark.driver.memory=%s", mem)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata parquet carries TIMESTAMP(NANOS); surface as long, the
        # parquet source (sources/parquet.py) restores TimestampType
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
