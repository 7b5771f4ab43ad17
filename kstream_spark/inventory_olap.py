"""OLAP / relational superset inventory: temporal (as-of) join, semi/anti
joins, set operations, rollup, multi-join analytics — everything SURVEY §2.3
lists as "not present in the reference", provided as capability upgrades.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kstream_spark.builder import StreamBuilder


# As-of join (temporal): latest order at-or-before each event, per customer
def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    events = b.stream(f"{sf}/events.parquet", name="events")
    orders = b.stream(f"{sf}/orders.parquet", name="orders")
    return (
        events.join_asof(orders, key="user_id", left_ts="ts",
                         right_ts="o_orderdate", right_cols=["o_orderkey"],
                         how="left", right_key="o_custkey")
        .select("event_id", "user_id", "o_orderkey")
        .to_df()
    )


SQL_ASOF_JOIN = """
WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
                  max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.user_id, r.o_orderkey
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
"""


# Semi join: customers with at least one event
def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    cust = b.table(f"{sf}/customer.parquet").to_df()
    events = b.stream(f"{sf}/events.parquet").to_df()
    return cust.join(events.select(F.col("user_id").alias("c_custkey")),
                     "c_custkey", "left_semi").select("c_custkey", "c_name")


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
"""


# Anti join: customers with no events
def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    cust = b.table(f"{sf}/customer.parquet").to_df()
    events = b.stream(f"{sf}/events.parquet").to_df()
    return cust.join(events.select(F.col("user_id").alias("c_custkey")),
                     "c_custkey", "left_anti").select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
"""


# Set operations: INTERSECT / EXCEPT (distinct semantics)
def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    ev = b.stream(f"{sf}/events.parquet").to_df()
    purchasers = ev.filter("event_type = 'purchase'").select("user_id")
    erroring = ev.filter("event_type = 'error'").select("user_id")
    big_signups = ev.filter("event_type = 'signup' AND value > 150").select("user_id")
    return purchasers.intersect(erroring).subtract(big_signups)


SQL_SET_OPS = """
(SELECT user_id FROM events WHERE event_type = 'purchase'
 INTERSECT
 SELECT user_id FROM events WHERE event_type = 'error')
EXCEPT
SELECT user_id FROM events WHERE event_type = 'signup' AND value > 150
"""


# Rollup aggregation (grouping-set superset)
def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    li = b.stream(f"{sf}/lineitem.parquet").to_df()
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count("*").alias("n")))


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# TPC-H Q3-like: high-revenue BUILDING orders.
# Revenue is summed in EXACT decimal arithmetic (inputs are 2-decimal
# values): double summation-order differences put per-order sums on either
# side of .005 rounding boundaries at larger SFs.  Cast back to double after
# the exact round so the schema is engine-neutral.
def q_top_revenue_orders(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    li = b.stream(f"{sf}/lineitem.parquet").to_df()
    orders = b.stream(f"{sf}/orders.parquet").to_df()
    cust = b.table(f"{sf}/customer.parquet").to_df()
    rev = F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)")
                   - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.filter("c_mktsegment = 'BUILDING'")),
              orders.o_custkey == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(rev, 2).cast("double").alias("revenue"))
        .filter(F.col("revenue") > 400000)
    )


SQL_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, o_orderdate,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
HAVING CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) > 400000
"""


# TPC-H Q5-like: revenue by nation through the full join chain
def q_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    li = b.stream(f"{sf}/lineitem.parquet").to_df()
    orders = b.stream(f"{sf}/orders.parquet").to_df()
    cust = b.table(f"{sf}/customer.parquet").to_df()
    nation = b.table(f"{sf}/nation.parquet").to_df()
    region = b.table(f"{sf}/region.parquet").to_df()
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    # join order: fact-fact first, then the broadcast dimension chain in one
    # codegen stage.  Two reduce-first variants (region filter onto orders
    # before meeting lineitem) measured 50-70% SLOWER here — the extra
    # broadcast-exchange stages cost more than the 5x row reduction saves at
    # this scale.  On a cluster with CBO stats enabled the reduce-first
    # order wins; that reordering is Catalyst's job once stats exist, not a
    # hand-tuning this query should bake in.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.filter("r_name = 'ASIA'")),
              nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(rev, 2).alias("revenue"))
    )


SQL_NATION_REVENUE = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


# J3 stream-table join (ref JoinKTable, k_stream.go:518-520 — unimplemented
# there; here: join against a materialized registry store)
def q_stream_table_join(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    orders = b.stream(f"{sf}/orders.parquet", name="orders")
    orders.materialize(b.stores, "latest_order", key="o_custkey",
                       version="o_orderkey")
    store = b.stores.store("latest_order")
    events = b.stream(f"{sf}/events.parquet", name="events")
    return (events.join_table(store, on="user_id", how="left",
                              select=["event_id", "user_id", "o_orderkey"])
            .to_df())


SQL_STREAM_TABLE_JOIN = """
SELECT e.event_id, e.user_id, s.o_orderkey
FROM events e LEFT JOIN
  (SELECT o_custkey, arg_max(o_orderkey, o_orderkey) AS o_orderkey
   FROM orders GROUP BY 1) s
  ON e.user_id = s.o_custkey
"""


OLAP_INVENTORY: dict[str, tuple] = {
    "j_asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "j_semi_join": (q_semi_join, SQL_SEMI_JOIN),
    "j_anti_join": (q_anti_join, SQL_ANTI_JOIN),
    "setop_intersect_except": (q_set_ops, SQL_SET_OPS),
    "agg_rollup": (q_rollup, SQL_ROLLUP),
    "agg_top_revenue_orders": (q_top_revenue_orders, SQL_TOP_REVENUE_ORDERS),
    "agg_nation_revenue": (q_nation_revenue, SQL_NATION_REVENUE),
    "j3_stream_table_join": (q_stream_table_join, SQL_STREAM_TABLE_JOIN),
}


# Range (theta) join: lineitems counted into price bands (bucketized path)
def q_range_join_bands(spark: SparkSession, sf: str) -> DataFrame:
    from kstream_spark.operators.joins import range_join
    b = StreamBuilder(spark)
    li = b.stream(f"{sf}/lineitem.parquet").to_df() \
        .select("l_orderkey", "l_extendedprice")
    from kstream_spark.util import local_df
    bands = local_df(
        spark, [(0.0, 10000.0, "small"), (10000.0, 40000.0, "medium"),
                (40000.0, 1e9, "large")],
        "lo double, hi double, band string")
    # clamp caps the catch-all band's bucket fan-out: [40000, 1e9) would
    # otherwise explode 200k dead bucket rows; TPC-H extendedprice tops
    # out near 105k, so [0, 120k) keeps exactness (see range_join)
    return (range_join(li, bands, "l_extendedprice", "lo", "hi",
                       bucket_width=5000.0, clamp=(0.0, 120000.0))
            .groupBy("band").agg(F.count("*").alias("n")))


SQL_RANGE_JOIN_BANDS = """
SELECT band, count(*) AS n
FROM lineitem
JOIN (VALUES (0.0, 10000.0, 'small'), (10000.0, 40000.0, 'medium'),
             (40000.0, 1e9, 'large')) b(lo, hi, band)
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
"""


OLAP_INVENTORY["j_range_join_bands"] = (q_range_join_bands, SQL_RANGE_JOIN_BANDS)


# Explicit GROUPING SETS (beyond rollup/cube): chosen slices only, with
# grouping_id so consumers can tell which slice a row belongs to.
def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    li = b.stream(f"{sf}/lineitem.parquet").to_df()
    li.createOrReplaceTempView("li_gs")
    return li.sparkSession.sql("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


# Higher-order array functions over the embedding column: transform/filter/
# aggregate lambdas stay inside whole-stage codegen (no UDF).
def q_fn_higher_order(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    emb = b.table(f"{sf}/embeddings.parquet", name="embeddings").to_df()
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x), 6)
            .alias("sq_norm"),
        F.round(F.array_max(v), 6).alias("vmax"))


SQL_FN_HIGHER_ORDER = """
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6)
         AS sq_norm,
       round(list_max(embedding::DOUBLE[]), 6) AS vmax
FROM embeddings
"""


# Time-series gap fill + forward fill: day spine per user from min to max
# activity, missing days carry the last seen cumulative value forward.
# The spine explodes from per-user bounds (sequence()), the fill is
# last(ignorenulls) over an unbounded-preceding window — no UDFs, one
# window shuffle; the standard warehouse gap-fill shape.
def q_ts_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W
    b = StreamBuilder(spark)
    ev = b.stream(f"{sf}/events.parquet").to_df() \
        .filter(F.col("user_id") < 10)
    daily = (ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
             .agg(F.round(F.sum("value"), 2).alias("day_value")))
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("lo"),
                                          F.max("day").alias("hi"))
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi",
                             F.expr("INTERVAL 1 DAY"))).alias("day"))
    w = (W.partitionBy("user_id").orderBy("day")
         .rowsBetween(W.unboundedPreceding, 0))
    return (spine.join(daily, ["user_id", "day"], "left")
            .select("user_id", "day",
                    F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
                    F.last("day_value", ignorenulls=True).over(w)
                     .alias("filled_value")))


SQL_TS_GAP_FILL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         round(sum(value), 2) AS day_value
  FROM events WHERE user_id < 10 GROUP BY 1, 2),
bounds AS (SELECT user_id, min(day) AS lo, max(day) AS hi
           FROM daily GROUP BY user_id),
spine AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
          FROM bounds)
SELECT s.user_id, s.day,
       coalesce(d.day_value, 0.0) AS day_value,
       last_value(d.day_value IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.day
               ROWS UNBOUNDED PRECEDING) AS filled_value
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
"""


OLAP_INVENTORY["agg_grouping_sets"] = (q_grouping_sets, SQL_GROUPING_SETS)
OLAP_INVENTORY["fn_higher_order"] = (q_fn_higher_order, SQL_FN_HIGHER_ORDER)
OLAP_INVENTORY["ts_gap_fill"] = (q_ts_gap_fill, SQL_TS_GAP_FILL)


# Hot-key-split (skew) join: the driver-provable row for util.skew_join —
# output must be IDENTICAL to the plain join it replaces, while the plan
# broadcasts the pinned hot keys' slice and shuffles only the tail
def q_skew_split_join(spark: SparkSession, sf: str) -> DataFrame:
    from kstream_spark.util import skew_join
    b = StreamBuilder(spark)
    li = b.table(f"{sf}/lineitem.parquet").to_df().select(
        F.col("l_orderkey").alias("okey"),
        "l_extendedprice", "l_discount")
    orders = b.table(f"{sf}/orders.parquet").to_df().select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority")
    joined = skew_join(li, orders, "okey",
                       hot_keys=[1, 2, 3, 32, 33, 34])
    return (joined.groupBy("o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").cast("long").alias("n_items"))
            .orderBy("o_orderpriority"))


SQL_SKEW_SPLIT_JOIN = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

OLAP_INVENTORY["j_skew_split"] = (q_skew_split_join, SQL_SKEW_SPLIT_JOIN)


# bloom-pruned semi join: output must equal the plain semi join (the bloom
# is scan-stage shedding only; operators/joins.bloom_semi_join)
def q_bloom_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    from kstream_spark.operators.joins import bloom_semi_join
    b = StreamBuilder(spark)
    orders = b.table(f"{sf}/orders.parquet").to_df().select(
        F.col("o_custkey").alias("ckey"), "o_orderpriority", "o_totalprice")
    rich = (b.table(f"{sf}/customer.parquet").to_df()
            .filter(F.col("c_acctbal") > 9000)
            .select(F.col("c_custkey").alias("ckey")))
    kept = bloom_semi_join(orders, rich, "ckey", m_bits=1 << 16, k=3)
    return (kept.groupBy("o_orderpriority")
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price"))
            .orderBy("o_orderpriority"))


SQL_BLOOM_SEMI_JOIN = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

OLAP_INVENTORY["j_bloom_semi"] = (q_bloom_semi_join, SQL_BLOOM_SEMI_JOIN)


# trailing-window EWMA: the recursive smoother in its distributed-safe
# bounded-frame form (operators/behavior.ewma); weight/normalizer tables
# are python-float literals shared verbatim with the oracle
def q_ts_ewma(spark: SparkSession, sf: str) -> DataFrame:
    from kstream_spark.operators.behavior import ewma
    ev = StreamBuilder(spark).stream(f"{sf}/events.parquet").to_df()
    return (ewma(ev, "user_id", ["ts", "event_id"], "value",
                 alpha=0.25, window=16)
            .select("user_id", "event_id", "value", "ewma"))


def _ewma_sql(alpha: float = 0.25, window: int = 16) -> str:
    w = [alpha * (1 - alpha) ** o for o in range(window)]
    norm = [sum(w[: s + 1]) for s in range(window)]
    wl = "[" + ", ".join(repr(x) for x in w) + "]"
    nl = "[" + ", ".join(repr(x) for x in norm) + "]"
    # FILTER matches Spark collect_list's NULL-drop: NULLs are observation
    # gaps on BOTH engines (weights shift to observed values; an all-NULL
    # frame yields arr=[] -> NULL ewma, same as the operator) — without it
    # DuckDB's list() keeps NULLs and len(arr)/weight indexing diverge the
    # moment a fixture carries a NULL value
    return f"""
WITH arrs AS (
  SELECT user_id, event_id, value,
    list(CAST(value AS DOUBLE)) FILTER (WHERE value IS NOT NULL) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW) AS arr
  FROM events)
SELECT user_id, event_id, value,
  round(list_sum(list_transform(range(1, len(arr) + 1),
                                j -> arr[j] * {wl}[len(arr) - j + 1]))
        / {nl}[len(arr)], 6) AS ewma
FROM arrs
"""


OLAP_INVENTORY["ts_ewma"] = (q_ts_ewma, _ewma_sql())


# asof direction variants (operators/joins.asof_join direction=):
# forward = earliest order at-or-after each event; nearest = closer of the
# backward/forward candidates, ties backward (pandas merge_asof parity)
def q_asof_forward(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    events = b.stream(f"{sf}/events.parquet", name="events")
    orders = b.stream(f"{sf}/orders.parquet", name="orders")
    return (events.join_asof(orders, key="user_id", left_ts="ts",
                             right_ts="o_orderdate",
                             right_cols=["o_orderkey"], how="left",
                             right_key="o_custkey", direction="forward")
            .select("event_id", "user_id", "o_orderkey").to_df())


SQL_ASOF_FORWARD = """
WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
                  max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.user_id, r.o_orderkey
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts <= r.o_orderdate
"""


def q_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    events = b.stream(f"{sf}/events.parquet", name="events")
    orders = b.stream(f"{sf}/orders.parquet", name="orders")
    return (events.join_asof(orders, key="user_id", left_ts="ts",
                             right_ts="o_orderdate",
                             right_cols=["o_orderkey"], how="left",
                             right_key="o_custkey", direction="nearest")
            .select("event_id", "user_id", "o_orderkey").to_df())


# definitional replay: both one-sided ASOF candidates, then the nearest
# choice (ties -> backward) in epoch seconds — the operator's exact rule
SQL_ASOF_NEAREST = """
WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
                  max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY 1, 2),
b AS (SELECT e.event_id, r.o_orderdate AS bd, r.o_orderkey AS bk
      FROM events e ASOF LEFT JOIN r
        ON e.user_id = r.user_id AND e.ts >= r.o_orderdate),
f AS (SELECT e.event_id, r.o_orderdate AS fd, r.o_orderkey AS fk
      FROM events e ASOF LEFT JOIN r
        ON e.user_id = r.user_id AND e.ts <= r.o_orderdate)
SELECT e.event_id, e.user_id,
       CASE WHEN bd IS NOT NULL AND (fd IS NULL OR
                 epoch(e.ts) - epoch(bd::TIMESTAMP)
                   <= epoch(fd::TIMESTAMP) - epoch(e.ts))
            THEN bk ELSE fk END AS o_orderkey
FROM events e JOIN b USING (event_id) JOIN f USING (event_id)
"""


OLAP_INVENTORY["j_asof_forward"] = (q_asof_forward, SQL_ASOF_FORWARD)
OLAP_INVENTORY["j_asof_nearest"] = (q_asof_nearest, SQL_ASOF_NEAREST)
