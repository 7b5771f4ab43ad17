"""GlobalTable — full-topic latest-value-per-key replica, read-only.

Ref: kstream/global_table.go:117-146 (all stream ops panic -> read-only),
kstream/global_table.go:32-42 (upsert/tombstone writer),
kstream/builder.go:226-254 (construction + default version comparator
``newVersion > currentVersion``, lines 231-233),
kstream/global_table_stream_instance.go:236-268 (writability/version check),
kstream/global_table.go:22-29 (start offset Default(0) | Latest(-1)).

Spark-first design: the reference replicates the whole topic into a local KV
store on EVERY instance — the Spark analog of "replicated everywhere" is a
BROADCAST relation.  We compact the source to latest-per-key with
``max_by(struct(*), (version, offset))`` — one shuffle on the key, map-side
partial aggregation — and mark the result broadcastable so every lookup join
against it is a broadcast hash join (no shuffle of the fact side).  At 100 TB
fact scale this is exactly the plan you want: dimension tables compact to
millions of rows and broadcast; the stream side never shuffles for the join.

For dimension tables too large to broadcast, pass ``broadcast=False`` —
lookup joins then fall back to a shuffled hash/sort-merge join and Spark AQE
picks the strategy at runtime.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kstream_spark.functions import to_col


def compact_latest(df: DataFrame, key: str | Sequence[str],
                   version: str | Column | None = None,
                   tombstone: Column | str | None = None) -> DataFrame:
    """Reduce a change-stream to latest-row-per-key.

    Ref semantics: last-write-wins upsert (global_table.go:32-42) optionally
    gated by a version comparator (builder.go:231-233); a tombstone (nil
    value) deletes the key (global_table.go:36-41).

    Implemented as ``max_by(struct(cols), version)`` — a single hash
    aggregation with map-side combine; no window function, no global sort.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if version is None:
        version = F.monotonically_increasing_id()
        df = df.withColumn("__ver", version)
        ver_col = F.col("__ver")
    else:
        ver_col = version if isinstance(version, Column) else F.col(version)
        df = df.withColumn("__ver", ver_col)
        ver_col = F.col("__ver")

    payload = [c for c in df.columns if c not in keys and c != "__ver"]
    compacted = (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*payload), ver_col).alias("__row"))
        .select(*keys, "__row.*")
    )
    if tombstone is not None:
        # re-evaluate tombstone on the surviving latest row: a key whose
        # latest record is a delete disappears from the table
        compacted = compacted.filter(~to_col(tombstone))
    return compacted


class GlobalTable:
    """Read-only latest-by-key table; lookup-join target.

    ``sync()`` materializes (caches) the compacted relation — the analog of
    the reference's boot barrier: tables fully synced before streams start
    (kstream/streams.go:143-166, global_table_stream.go:128-152).
    """

    def __init__(self, df: DataFrame, key: str | Sequence[str],
                 version: str | None = None,
                 tombstone: Column | str | None = None,
                 broadcast: bool = True,
                 pre_compacted: bool = False,
                 name: str = "global_table"):
        self.key = [key] if isinstance(key, str) else list(key)
        self.name = name
        self.broadcast = broadcast
        self.df = df if pre_compacted else compact_latest(df, self.key, version, tombstone)

    def sync(self) -> "GlobalTable":
        """Boot barrier: force materialization before dependent streams run."""
        self.df = self.df.cache()
        self.df.count()
        return self

    def lookup_relation(self) -> DataFrame:
        """The relation a lookup join should use (broadcast-hinted when small).

        Read-only: mutating ops are not exposed (ref: global_table.go:128-146
        panics on every stream op)."""
        return F.broadcast(self.df) if self.broadcast else self.df

    def get(self, key_value) -> DataFrame:
        """Point lookup (interactive query surface, ref store/http.go:333-392)."""
        cond = F.col(self.key[0]) == F.lit(key_value)
        return self.df.filter(cond)
