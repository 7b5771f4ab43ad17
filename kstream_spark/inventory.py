"""Query inventory: one entry per implemented operator (SURVEY.md §2).

Each query is a (spark, sf_dir) -> DataFrame callable built on the
kstream_spark DSL, paired with an ANSI-SQL oracle DuckDB runs over the same
parquet tables.  Column names are aliased identically on both sides; every
COMPUTED double column is rounded in-query on both sides so values are
bitwise-comparable regardless of summation order.

Registry:  INVENTORY: dict[name, (query_fn, oracle_sql | None)]
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kstream_spark.builder import StreamBuilder
from kstream_spark.operators.joins import DLQ


def _events(b: StreamBuilder, sf: str):
    return b.stream(f"{sf}/events.parquet", name="events", key="event_id")


# --------------------------------------------------------------------------
# P1 Filter (ref kstream/processors/filter.go:9-89)
def q_filter(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    return (
        _events(b, sf)
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .select("event_id", "user_id", "ts", "value")
        .to_df()
    )


SQL_FILTER = """
SELECT event_id, user_id, ts, value FROM events
WHERE event_type = 'purchase' AND value > 50
"""


# P1b Filter with the reference's per-record error path (ref
# processors/filter.go:72-89: a predicate ERROR aborts the record into
# retry/DLQ, never a silent drop).  The events table genuinely contains
# poison records — payload k == 0 — whose predicate value/k hits a real
# arithmetic error (ANSI Spark would abort the whole task); try_divide
# converts exactly those per-record errors to NULL, and filter_strict
# routes the NULL-predicate rows to the DLQ relation.  The query returns
# BOTH relations' per-type counts so kept/DLQ routing is driver-provable
# end-to-end.  (The oracle replays the error set with nullif(k, 0):
# DuckDB's IEEE double division would give inf, not an error.)
def q_filter_strict_dlq(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    dlq = DLQ()
    pred = F.expr(
        "try_divide(value,"
        " cast(get_json_object(props, '$.k') as double)) > 2.0d")
    kept = _events(b, sf).filter_strict(pred, dlq)
    k = (kept.to_df().groupBy("event_type")
         .agg(F.count("*").cast("long").alias("cnt"))
         .select(F.lit("kept").alias("relation"), "event_type", "cnt"))
    d = (dlq.df().groupBy("event_type")
         .agg(F.count("*").cast("long").alias("cnt"))
         .select(F.lit("dlq").alias("relation"), "event_type", "cnt"))
    return k.unionByName(d)


SQL_FILTER_STRICT_DLQ = """
WITH e AS (SELECT event_type,
    value / nullif(CAST(json_extract_string(props, '$.k') AS DOUBLE),
                   0.0) > 2.0 AS p
  FROM events)
SELECT 'kept' AS relation, event_type, CAST(count(*) AS BIGINT) AS cnt
FROM e WHERE p GROUP BY event_type
UNION ALL
SELECT 'dlq' AS relation, event_type, CAST(count(*) AS BIGINT) AS cnt
FROM e WHERE p IS NULL GROUP BY event_type
"""


# P2 SelectKey (ref processors/key_selector.go:9-80)
def q_select_key(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    s = _events(b, sf).select_key(F.concat_ws(":", "user_id", "event_type"))
    return s.select("event_id", "key").to_df()


SQL_SELECT_KEY = """
SELECT event_id, concat(user_id, ':', event_type) AS key FROM events
"""


# P3 TransformValue (ref processors/value_transformer.go:9-80)
def q_transform_values(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    s = _events(b, sf).transform_values(
        value_taxed=F.round(F.col("value") * 2, 2),
        event_type=F.upper("event_type"),
    )
    return s.select("event_id", "event_type", "value_taxed").to_df()


SQL_TRANSFORM_VALUES = """
SELECT event_id, upper(event_type) AS event_type,
       round(value * 2, 2) AS value_taxed
FROM events
"""


# P4 Transform (ref processors/transformer.go:9-84)
def q_transform(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    s = _events(b, sf).transform(
        F.col("user_id") % 10,
        value_bucket=F.floor(F.col("value") / 100),
    )
    return s.select("event_id", "key", "value_bucket").to_df()


SQL_TRANSFORM = """
SELECT event_id, user_id % 10 AS key,
       CAST(floor(value / 100) AS BIGINT) AS value_bucket
FROM events
"""


# P6 Branch — first-match-wins (ref branch/branch.go:65-84)
def q_branch(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    branches = _events(b, sf).branch([
        ("high_value", F.col("value") >= 150),
        ("purchase", F.col("event_type") == "purchase"),
        ("rest", F.lit(True)),
    ])
    parts = [
        s.select("event_id", F.lit(name).alias("branch")).to_df()
        for name, s in branches.items()
    ]
    return reduce(lambda a, c: a.unionByName(c), parts)


SQL_BRANCH = """
SELECT event_id,
       CASE WHEN value >= 150 THEN 'high_value'
            WHEN event_type = 'purchase' THEN 'purchase'
            ELSE 'rest' END AS branch
FROM events
"""


# Merge / fan-in (ref README.md:35; example_2 common-topic pattern)
def q_merge(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    purchases = _events(b, sf).filter("event_type = 'purchase'")
    signups = _events(b, sf).filter("event_type = 'signup'")
    return purchases.merge(signups).select("event_id", "event_type", "user_id").to_df()


SQL_MERGE = """
SELECT event_id, event_type, user_id FROM events
WHERE event_type IN ('purchase', 'signup')
"""


# --------------------------------------------------------------------------
# J1 lookup join, LEFT (ref join/global_table_joiner.go:94-124)
def q_lookup_join_left(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    customer = b.global_table(f"{sf}/customer.parquet", key="c_custkey",
                              name="customer", sync=False, snapshot=True)
    return (
        _events(b, sf)
        .join_global_table(customer, on="user_id", how="left",
                           select=["event_id", "user_id", "c_name", "c_mktsegment"])
        .to_df()
    )


SQL_LOOKUP_JOIN_LEFT = """
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""


# J1 lookup join, INNER — matched set (miss => DLQ, not dropped:
# ref join/global_table_joiner.go:109-113).  Joining events.user_id (0..~150)
# to nation (25 keys) guarantees both hits and misses.
def q_lookup_join_inner(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    nation = b.global_table(f"{sf}/nation.parquet", key="n_nationkey",
                            name="nation", sync=False, snapshot=True)
    dlq = DLQ()
    return (
        _events(b, sf)
        .join_global_table(nation, on="user_id", how="inner", dlq=dlq,
                           select=["event_id", "user_id", "n_name"])
        .to_df()
    )


SQL_LOOKUP_JOIN_INNER = """
SELECT e.event_id, e.user_id, n.n_name
FROM events e JOIN nation n ON e.user_id = n.n_nationkey
"""


# J1 inner-miss DLQ routing (ref join/global_table_joiner.go:109-113, dlq/dlq.go)
def q_lookup_join_dlq(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    nation = b.global_table(f"{sf}/nation.parquet", key="n_nationkey",
                            name="nation", sync=False, snapshot=True)
    dlq = DLQ()
    _events(b, sf).join_global_table(nation, on="user_id", how="inner", dlq=dlq)
    return dlq.df().select("event_id", "user_id", "dlq_reason")


SQL_LOOKUP_JOIN_DLQ = """
SELECT e.event_id, e.user_id, 'inner lookup miss: nation' AS dlq_reason
FROM events e WHERE NOT EXISTS
  (SELECT 1 FROM nation n WHERE n.n_nationkey = e.user_id)
"""


# J4-style chained star join (ref examples/example_1/stream/account_credited.go:44-63:
# branch -> filter -> lookup join -> lookup join -> project)
def q_star_join(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    customer = b.global_table(f"{sf}/customer.parquet", key="c_custkey",
                              name="customer", sync=False, snapshot=True)
    nation = b.global_table(f"{sf}/nation.parquet", key="n_nationkey",
                            name="nation", sync=False, snapshot=True)
    region = b.global_table(f"{sf}/region.parquet", key="r_regionkey",
                            name="region", sync=False, snapshot=True)
    branches = _events(b, sf).branch([
        ("purchase", F.col("event_type") == "purchase"),
        ("other", F.lit(True)),
    ])
    return (
        branches["purchase"]
        .filter(F.col("value") > 10)
        .join_global_table(customer, on="user_id")
        .join_global_table(nation, on="c_nationkey")
        .join_global_table(region, on="n_regionkey")
        .select("event_id", "c_name", "n_name", "r_name",
                F.round(F.col("value"), 2).alias("value"))
        .to_df()
    )


SQL_STAR_JOIN = """
SELECT e.event_id, c.c_name, n.n_name, r.r_name, round(e.value, 2) AS value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE e.event_type = 'purchase' AND e.value > 10
"""


# --------------------------------------------------------------------------
# GlobalTable compaction: latest-value-per-key (ref global_table.go:32-42)
def q_global_table_latest(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    gt = b.global_table(f"{sf}/events.parquet", key="user_id",
                        version="event_id", name="latest_events", sync=False)
    return gt.df.select("user_id", "event_id", "event_type",
                        F.round("value", 2).alias("value"))


SQL_GLOBAL_TABLE_LATEST = """
SELECT user_id, arg_max(event_id, event_id) AS event_id,
       arg_max(event_type, event_id) AS event_type,
       round(arg_max(value, event_id), 2) AS value
FROM events GROUP BY user_id
"""


# Version-gated upsert (ref builder.go:231-233, global_table_stream_instance.go:236-268,
# processors/materializer.go:65-94) via the store registry write path.
def q_versioned_upsert(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    orders = b.stream(f"{sf}/orders.parquet", name="orders")
    orders.materialize(b.stores, "latest_order_by_customer", key="o_custkey",
                       version="o_orderkey")
    store = b.stores.store("latest_order_by_customer")
    return store.get_all().select("o_custkey", "o_orderkey", "o_totalprice",
                                  "o_orderstatus")


SQL_VERSIONED_UPSERT = """
SELECT o_custkey, arg_max(o_orderkey, o_orderkey) AS o_orderkey,
       arg_max(o_totalprice, o_orderkey) AS o_totalprice,
       arg_max(o_orderstatus, o_orderkey) AS o_orderstatus
FROM orders GROUP BY o_custkey
"""


# Tombstone delete: a key whose LATEST record is a tombstone leaves the table
# (ref global_table.go:36-41; here event_type='error' plays the nil-value role)
def q_tombstone_compaction(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    gt = b.global_table(f"{sf}/events.parquet", key="user_id", version="event_id",
                        tombstone=F.col("event_type") == "error",
                        name="latest_live", sync=False)
    return gt.df.select("user_id", "event_id", "event_type")


SQL_TOMBSTONE_COMPACTION = """
SELECT * FROM (
  SELECT user_id, arg_max(event_id, event_id) AS event_id,
         arg_max(event_type, event_id) AS event_type
  FROM events GROUP BY user_id
) WHERE event_type <> 'error'
"""


# --------------------------------------------------------------------------
# J2 stream-stream join, time-bounded (ref side_joiner.go:54-93; the ref
# buffers unbounded — see operators/joins.py compat note)
def q_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    purchases = _events(b, sf).filter("event_type = 'purchase'")
    errors = _events(b, sf).filter("event_type = 'error'")
    return purchases.join_stream(
        errors, on="user_id", within=("0 seconds", "30 minutes"), ts_col="ts",
        select=[F.col("l.event_id").alias("purchase_id"),
                F.col("r.event_id").alias("error_id"),
                F.col("l.user_id").alias("user_id")],
    ).to_df()


SQL_STREAM_STREAM_JOIN = """
SELECT l.event_id AS purchase_id, r.event_id AS error_id, l.user_id AS user_id
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
WHERE l.event_type = 'purchase' AND r.event_type = 'error'
"""


# --------------------------------------------------------------------------
# Windowed aggregation (capability superset — ref window/sliding.go:5-10 is a
# stub; Spark gives real windows)
def q_window_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    s = _events(b, sf)
    return (
        s.group_by(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n",
                "sum_value")
    )


SQL_WINDOW_TUMBLING = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# TPC-H Q1-style pricing summary (bench headline; aggregation superset)
def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    b = StreamBuilder(spark)
    li = b.stream(f"{sf}/lineitem.parquet", name="lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .group_by("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("sum_disc_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                          * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# Top-K per group (common OLAP pattern; store range-scan analog)
def q_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W
    b = StreamBuilder(spark)
    orders = b.stream(f"{sf}/orders.parquet", name="orders").to_df()
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


SQL_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


INVENTORY: dict[str, tuple] = {
    "p1_filter": (q_filter, SQL_FILTER),
    "p1_filter_strict_dlq": (q_filter_strict_dlq, SQL_FILTER_STRICT_DLQ),
    "p2_select_key": (q_select_key, SQL_SELECT_KEY),
    "p3_transform_values": (q_transform_values, SQL_TRANSFORM_VALUES),
    "p4_transform": (q_transform, SQL_TRANSFORM),
    "p6_branch_first_match": (q_branch, SQL_BRANCH),
    "merge_fanin": (q_merge, SQL_MERGE),
    "j1_lookup_join_left": (q_lookup_join_left, SQL_LOOKUP_JOIN_LEFT),
    "j1_lookup_join_inner": (q_lookup_join_inner, SQL_LOOKUP_JOIN_INNER),
    "j1_lookup_join_dlq": (q_lookup_join_dlq, SQL_LOOKUP_JOIN_DLQ),
    "j4_star_join": (q_star_join, SQL_STAR_JOIN),
    "gt_latest_by_key": (q_global_table_latest, SQL_GLOBAL_TABLE_LATEST),
    "gt_versioned_upsert": (q_versioned_upsert, SQL_VERSIONED_UPSERT),
    "gt_tombstone_compaction": (q_tombstone_compaction, SQL_TOMBSTONE_COMPACTION),
    "j2_stream_stream_join": (q_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    "agg_window_tumbling": (q_window_tumbling, SQL_WINDOW_TUMBLING),
    "agg_pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "agg_topk_per_group": (q_topk_per_group, SQL_TOPK_PER_GROUP),
}


# Sliding window agg (superset; runs the streaming windowed_agg code path in
# batch mode — same lineage either way)
def q_window_sliding(spark: SparkSession, sf: str) -> DataFrame:
    from kstream_spark.streaming.core import windowed_agg
    b = StreamBuilder(spark)
    return windowed_agg(_events(b, sf).to_df(), "ts", "2 hours", "1 hour",
                        keys=["event_type"], aggs={"n": F.count("*")})


SQL_WINDOW_SLIDING = """
WITH s AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS w0 FROM events),
e2 AS (SELECT event_type, w0 AS ws FROM s
       UNION ALL SELECT event_type, w0 - INTERVAL 1 HOUR FROM s)
SELECT ws AS window_start, ws + INTERVAL 2 HOUR AS window_end, event_type,
       count(*) AS n
FROM e2 GROUP BY 1, 2, 3
"""


# Session window agg (superset; ref window/sliding.go:5-10 is a stub)
def q_window_session(spark: SparkSession, sf: str) -> DataFrame:
    from kstream_spark.streaming.core import session_agg
    b = StreamBuilder(spark)
    return session_agg(_events(b, sf).to_df(), "ts", "30 minutes",
                       keys=["user_id"], aggs={"n": F.count("*")})


SQL_WINDOW_SESSION = """
WITH o AS (SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events),
m AS (SELECT user_id, ts,
        CASE WHEN pts IS NULL OR ts >= pts + INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS brk FROM o),
g AS (SELECT user_id, ts,
        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS grp FROM m)
SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, count(*) AS n
FROM g GROUP BY user_id, grp
"""


INVENTORY["agg_window_sliding"] = (q_window_sliding, SQL_WINDOW_SLIDING)
INVENTORY["agg_window_session"] = (q_window_session, SQL_WINDOW_SESSION)


# -- data-pipeline superset (dedup / similarity / text / multimodal) --------
from kstream_spark.inventory_pipeline import PIPELINE_INVENTORY  # noqa: E402

INVENTORY.update(PIPELINE_INVENTORY)

# -- OLAP / relational superset ---------------------------------------------
from kstream_spark.inventory_olap import OLAP_INVENTORY  # noqa: E402

INVENTORY.update(OLAP_INVENTORY)

from kstream_spark.inventory_extra import EXTRA_INVENTORY  # noqa: E402

INVENTORY.update(EXTRA_INVENTORY)

from kstream_spark.inventory_sql import SQL_INVENTORY  # noqa: E402

INVENTORY.update(SQL_INVENTORY)

from kstream_spark.inventory_tpch import TPCH_INVENTORY  # noqa: E402
from kstream_spark.inventory_tpch_full import TPCH_FULL_INVENTORY  # noqa: E402

INVENTORY.update(TPCH_INVENTORY)
INVENTORY.update(TPCH_FULL_INVENTORY)

# -- corpus assembly (repetition / decontamination / shuffle / packing) ------
from kstream_spark.inventory_corpus import CORPUS_INVENTORY  # noqa: E402

INVENTORY.update(CORPUS_INVENTORY)

# -- behavioral analytics (funnels / cohort retention) -----------------------
from kstream_spark.inventory_behavior import BEHAVIOR_INVENTORY  # noqa: E402

INVENTORY.update(BEHAVIOR_INVENTORY)

# -- data quality + SCD2 -----------------------------------------------------
from kstream_spark.inventory_quality import QUALITY_INVENTORY  # noqa: E402

INVENTORY.update(QUALITY_INVENTORY)


# ---------------------------------------------------------------------------
# Driver-check ordering.  The verification driver samples queries in
# REGISTRATION order with a ~50-query budget per round.  Rotation policy —
# deterministic, derived from the committed CORRECTNESS_r*.json artifacts so
# every round automatically refreshes the stalest proof (no hand-reordering):
#   1. _TOUCHED_THIS_ROUND: queries whose operator/query code changed this
#      round (update the list alongside the change itself — a query whose
#      behavior may have shifted needs a fresh row regardless of history);
#   2. queries with no STRONG green row yet (never driver-checked, or only
#      ever a rows-only `no_oracle` row — e.g. a query that gained an oracle
#      after its last check);
#   3. everything else, stalest proof first (ascending latest-green round).
# Ties keep registration order, so the ordering is stable run-to-run.  New
# queries appear in no CORRECTNESS file and land in group 2 automatically.

# Per-round history of the touched list lives in git; the r11 window =
# touched + the 27-query r6-stale band (group 3's current front).

_TOUCHED_THIS_ROUND: list[str] = [
    # join_table hints the broadcast only when the store fits the driver
    "j3_stream_table_join",
    # the cluster-balanced pick key has one definition
    "select_cluster_balanced",
    # branch shares Stream's column coercion
    "p6_branch_first_match", "j4_star_join",
]



def _verification_order(inv: dict[str, tuple],
                        touched: list[str]) -> dict[str, tuple]:
    import glob
    import json
    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    strong: dict[str, int] = {}   # name -> latest round with a hash-green row
    weak: dict[str, int] = {}     # name -> latest rows-only (no_oracle) round
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path)[13:-5])
            with open(path) as fh:
                rows = json.load(fh)
        except Exception:
            continue  # unreadable artifact -> contributes no evidence
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True:
                strong[name] = max(strong.get(name, 0), rnd)
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                weak[name] = max(weak.get(name, 0), rnd)
    pos = {n: i for i, n in enumerate(inv)}
    tpos = {n: i for i, n in enumerate(touched)}
    has_oracle = {n: sql is not None for n, (_fn, sql) in inv.items()}

    def key(name: str):
        if name in tpos:
            return (0, tpos[name], 0)
        if name in strong:
            return (2, strong[name], pos[name])
        if name in weak and not has_oracle[name]:
            # rows-only is the strongest row this query CAN earn — rotate it
            # like a green row instead of pinning it to the front forever
            return (2, weak[name], pos[name])
        return (1, 0, pos[name])  # never checked, or oracle added post-check

    return {n: inv[n] for n in sorted(inv, key=key)}


INVENTORY = _verification_order(INVENTORY, _TOUCHED_THIS_ROUND)
