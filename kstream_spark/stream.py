"""Stream — the core DSL type.  A thin, declarative wrapper over a DataFrame.

Reference parity (all citations into /root/reference/):
  Filter            kstream/processors/filter.go:9-89
  SelectKey         kstream/processors/key_selector.go:9-80
  TransformValue    kstream/processors/value_transformer.go:9-80
  Transform         kstream/processors/transformer.go:9-84
  Process           kstream/processors/processor.go:16-91
  Branch            kstream/branch/branch.go:9-155 (first-match-wins, line 74-80)
  Through           kstream/k_stream.go:540-556 (explicit repartition point)
  To                kstream/k_sink.go:20-253
  Materialize       kstream/k_stream.go:558-573, processors/materializer.go:13-134
  JoinGlobalTable   kstream/processors/join/global_table_joiner.go:11-132
  JoinStream        kstream/k_stream.go:383-516, processors/join/side_joiner.go
  Merge             README.md:35 (no DSL verb in ref; fan-in via common topic)

Design stance: every operator returns a new Stream whose ``df`` is DataFrame
lineage — Catalyst sees the whole pipeline and optimizes across operator
boundaries (pushdown, pruning, join planning).  The reference executes its
node tree verbatim (SURVEY.md §4); we deliberately do NOT reproduce that.

The stream tracks its logical key column (``key``), set by ``select_key`` /
``transform``.  The reference also marks a re-keyed stream
(``kstream/k_stream.go:294-300`` ``keySelected``) so keyed operators know to
repartition; in Spark the shuffle on the new key is planned by Catalyst, so
no such flag is kept.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kstream_spark.functions import to_col


class Stream:
    """An unbounded (or batch-bounded) record stream.

    Ref: KStream, kstream/k_stream.go:36-87.  Batch and streaming DataFrames
    share this API; streaming execution is wired in kstream_spark.streaming.
    """

    def __init__(self, df: DataFrame, key: str | None = None,
                 name: str = "stream"):
        self.df = df
        self.key = key
        self.name = name

    # -- internals ---------------------------------------------------------
    def _derive(self, df: DataFrame, *, key: str | None = None,
                name: str | None = None) -> "Stream":
        return Stream(
            df,
            key=key if key is not None else self.key,
            name=name or self.name,
        )

    # -- stateless operators (SURVEY §2.2) ---------------------------------
    def filter(self, predicate: Column | str) -> "Stream":
        """Drop records failing the predicate.  Ref: processors/filter.go:72-89.

        Predicate errors in the reference abort the record; in Spark a failing
        expression fails the task — same strictness, coarser granularity.
        """
        return self._derive(self.df.filter(to_col(predicate)))

    def filter_strict(self, predicate: Column | str, dlq) -> "Stream":
        """Filter with the reference's error path made explicit: rows where
        the predicate evaluates to NULL (SQL's silent third value — the
        closest analog of a predicate error, e.g. a malformed field) are
        routed to the DLQ instead of silently dropped.
        Ref: processors/filter.go:72-89 — predicate error aborts the record
        into retry/DLQ, never a silent drop."""
        p = to_col(predicate)
        errored = self.df.filter(p.isNull())
        dlq.add(errored, reason="filter predicate evaluated to NULL")
        return self._derive(self.df.filter(p.isNotNull() & p))

    def select_key(self, expr: Column | str, key_col: str = "key") -> "Stream":
        """Re-key the stream.  Ref: processors/key_selector.go:54-68.

        Downstream keyed ops shuffle on the new key (implicit in Spark).
        """
        df = self.df.withColumn(key_col, to_col(expr))
        return self._derive(df, key=key_col)

    def transform_values(self, **exprs: Column | str) -> "Stream":
        """Map value columns, key unchanged.  Ref: value_transformer.go:54-68."""
        df = self.df
        for name, expr in exprs.items():
            df = df.withColumn(name, to_col(expr))
        return self._derive(df)

    def transform(self, key_expr: Column | str, key_col: str = "key",
                  **value_exprs: Column | str) -> "Stream":
        """Map (k, v) -> (k', v').  Ref: processors/transformer.go:54-68."""
        return self.transform_values(**value_exprs).select_key(key_expr, key_col)

    def select(self, *cols) -> "Stream":
        """Projection (column pruning reaches the scan via Catalyst)."""
        return self._derive(self.df.select(*cols))

    def process(self, fn: Callable, schema=None) -> "Stream":
        """Side-effecting per-batch callback, records pass through unchanged.
        Ref: processors/processor.go:41-55.

        ``fn(pandas.DataFrame) -> None`` is invoked per Arrow batch via
        mapInPandas (the UDF slow path — reference semantics demand per-record
        user code, so this is the honest mapping; avoid in hot paths).
        """
        out_schema = schema or self.df.schema

        def _run(batches):
            for pdf in batches:
                fn(pdf)
                yield pdf

        return self._derive(self.df.mapInPandas(_run, out_schema))

    def branch(self, branches: Sequence[tuple[str, Column | str]]) -> dict[str, "Stream"]:
        """Split by ordered predicates, first-match-wins (a record reaches at
        most ONE branch).  Ref: branch/branch.go:65-84 (``break`` at 74-80).
        """
        from kstream_spark.operators.branch import branch as _branch
        return _branch(self, branches)

    def merge(self, *others: "Stream") -> "Stream":
        """Fan-in by name-aligned union (ref achieves this by consuming a
        common topic: examples/example_2/stream/abcCommonStream.go:9-27)."""
        df = self.df
        for o in others:
            df = df.unionByName(o.df, allowMissingColumns=True)
        return self._derive(df)

    def through(self, num_partitions: int | None = None) -> "Stream":
        """Explicit repartition point.  Ref: k_stream.go:540-556 routes via an
        intermediate Kafka topic; in Spark a hash shuffle on the key is the
        same physical operation without the broker round-trip."""
        if self.key is None:
            df = self.df.repartition(num_partitions) if num_partitions else self.df
        elif num_partitions:
            df = self.df.repartition(num_partitions, self.key)
        else:
            df = self.df.repartition(F.col(self.key))
        return self._derive(df)

    # -- joins (SURVEY §2.3) ----------------------------------------------
    def join_global_table(self, table, on, how: str = "inner", dlq=None,
                          select: Sequence | None = None) -> "Stream":
        """Lookup join against a GlobalTable.  Ref: join/global_table_joiner.go:94-124.

        how='inner': missing right is an ERROR routed to the DLQ, not a silent
        drop (ref line 109-113).  how='left': missing right -> nulls.
        ``on``: join Column expression, or the FK column name on this stream.
        """
        from kstream_spark.operators.joins import join_global_table
        return join_global_table(self, table, on, how=how, dlq=dlq, select=select)

    def join_stream(self, other: "Stream", on, within=None, ts_col: str = "ts",
                    how: str = "inner", select: Sequence | None = None) -> "Stream":
        """Stream-stream join on key.  Ref: join/side_joiner.go:54-93 buffers
        both sides in unbounded maps; Spark uses watermarked/interval joins —
        ``within=(lower, upper)`` bounds the time difference (compat delta
        documented in operators/joins.py)."""
        from kstream_spark.operators.joins import join_stream
        return join_stream(self, other, on, within=within, ts_col=ts_col, how=how,
                           select=select)

    def join_asof(self, other: "Stream", key: str, left_ts: str, right_ts: str,
                  right_cols: Sequence[str], how: str = "left",
                  tolerance: str | None = None,
                  right_key: str | None = None,
                  direction: str = "backward") -> "Stream":
        """As-of (temporal) join — latest right row at-or-before each left
        row's timestamp (or the earliest-after / nearest variant via
        ``direction``).  Superset operator; see operators/joins.asof_join."""
        from kstream_spark.operators.joins import asof_join
        return self._derive(asof_join(self.df, other.df, key, left_ts, right_ts,
                                      right_cols, how=how, tolerance=tolerance,
                                      right_key=right_key, direction=direction),
                            name=f"{self.name}⋈asof")

    def join_table(self, store, on, how: str = "inner", dlq=None,
                   select: Sequence | None = None) -> "Stream":
        """Stream–table join against a materialized registry Store — the
        KTable join the reference declares but never implements
        (kstream/k_stream.go:518-520 panics; k_table.go:10-31 commented out).
        Free upgrade via Spark: the store is already a keyed relation.  The
        store is broadcast-hinted only when its base fits the driver
        (``Store.fits_driver``); a larger one is left to Spark's planner."""
        from kstream_spark.global_table import GlobalTable
        from kstream_spark.operators.joins import join_global_table
        gt = GlobalTable(store.df(), key=store.key, pre_compacted=True,
                         broadcast=store.fits_driver(), name=store.name)
        return join_global_table(self, gt, on, how=how, dlq=dlq, select=select)

    # -- state (SURVEY §2.4 / §1.3) ---------------------------------------
    def materialize(self, registry, store_name: str, key: str | Sequence[str],
                    version: str | None = None, tombstone: Column | str | None = None) -> "Stream":
        """Upsert latest-value-per-key into a named store, forward downstream
        unchanged.  Ref: processors/materializer.go:65-94 (version extract),
        k_stream.go:558-573."""
        registry.materialize(store_name, self.df, key=key, version=version,
                             tombstone=tombstone)
        return self

    def group_by(self, *cols):
        """Grouped aggregation entry (capability superset — the reference has
        no aggregation DSL, SURVEY §2.4; Spark gives it natively)."""
        return self.df.groupBy(*cols)

    # -- sinks (SURVEY §2.1) ----------------------------------------------
    def to(self, path: str, fmt: str = "parquet", mode: str = "append",
           partition_by: Sequence[str] | None = None,
           tombstone_filter: Column | str | None = None,
           transformer=None) -> None:
        """Write to a file sink.  Ref: k_sink.go:195-253.
        ``tombstone_filter`` mirrors the sink's nil-value filter
        (k_sink.go:230-240): rows matching it are dropped before the write.
        ``transformer`` is the sink's per-record transformer hook
        (``sources/kafka.apply_transformer``, the Kafka sink's too), applied
        after the tombstone filter.  The write is
        ``sources/files.write_table``'s."""
        from kstream_spark.sources.files import write_table
        from kstream_spark.sources.kafka import apply_transformer
        df = self.df
        if tombstone_filter is not None:
            df = df.filter(~to_col(tombstone_filter))
        write_table(apply_transformer(df, transformer), path, fmt, mode=mode,
                    partition_by=partition_by)

    def to_bucketed_table(self, table: str, buckets: int,
                          key: str | Sequence[str] | None = None,
                          sort: bool = True, mode: str = "overwrite") -> None:
        """Persist hash-bucketed (and bucket-sorted) by key, so later joins /
        aggregations on the key are CO-LOCATED — no shuffle of either side.
        This is the batch analog of the reference's co-partitioned topics
        (streams joined on their Kafka partitioning, kstream/k_stream.go:383-516):
        pre-partition once at write time, join shuffle-free forever after.
        """
        keys = [key] if isinstance(key, str) else list(key or [self.key])
        w = self.df.write.mode(mode).bucketBy(buckets, *keys)
        if sort:
            w = w.sortBy(*keys)
        w.saveAsTable(table)

    def to_df(self) -> DataFrame:
        return self.df

    def explain(self, mode: str = "formatted"):
        return self.df.explain(mode)
