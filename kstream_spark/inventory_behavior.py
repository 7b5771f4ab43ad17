"""Behavioral-analytics inventory: ordered funnels + weekly cohort
retention over the events table (operators/behavior.py).

Parity notes: stages/counts are integer-only (no float boundaries);
timestamps are compared raw (both engines truncate parquet nanos to
micros); week arithmetic is integer day-diff // 7, never engine week
counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kstream_spark.builder import StreamBuilder
from kstream_spark.operators import behavior as B

STEPS = ["view", "click", "purchase"]


def _events(spark: SparkSession, sf: str) -> DataFrame:
    return StreamBuilder(spark).table(f"{sf}/events.parquet",
                                      name="events").to_df()


def q_funnel_stages(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user ordered funnel view->click->purchase (earliest-first)."""
    return B.funnel(_events(spark, sf), "user_id", "event_type", "ts",
                    STEPS).select("user_id", "stage", "t_1", "t_2", "t_3")


_FUNNEL_CTES = """
u AS (SELECT DISTINCT user_id FROM events),
s1 AS (SELECT user_id, min(ts) AS t_1 FROM events
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t_2
       FROM events e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t_3
       FROM events e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1),
staged AS (
  SELECT u.user_id, t_1, t_2, t_3,
         CAST(CASE WHEN t_3 IS NOT NULL THEN 3
                   WHEN t_2 IS NOT NULL THEN 2
                   WHEN t_1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id))
"""

SQL_FUNNEL_STAGES = f"""
WITH {_FUNNEL_CTES}
SELECT user_id, stage, t_1, t_2, t_3 FROM staged
"""


def q_funnel_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion table: users reaching each funnel stage."""
    return B.funnel_summary(_events(spark, sf), "user_id", "event_type",
                            "ts", STEPS)


SQL_FUNNEL_SUMMARY = f"""
WITH {_FUNNEL_CTES}
SELECT stage, count(*) AS n_users FROM staged GROUP BY 1
"""


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort x week-offset active-user grid."""
    return B.cohort_retention(_events(spark, sf), "user_id", "ts")


SQL_COHORT_RETENTION = """
WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
d AS (SELECT e.user_id,
        CAST(date_trunc('week', f.first_ts) AS TIMESTAMP) AS cohort_week,
        CAST(floor(date_diff('day',
                             CAST(date_trunc('week', f.first_ts) AS DATE),
                             CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS week_n
      FROM events e JOIN f ON e.user_id = f.user_id)
SELECT cohort_week, week_n, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
FROM d GROUP BY 1, 2
"""


BEHAVIOR_INVENTORY: dict[str, tuple] = {
    "funnel_stages": (q_funnel_stages, SQL_FUNNEL_STAGES),
    "funnel_summary": (q_funnel_summary, SQL_FUNNEL_SUMMARY),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
}


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level 30-min gap sessionization (operators/behavior.sessionize)."""
    return B.sessionize(_events(spark, sf), "user_id", "ts",
                        gap="30 minutes", id_col="event_id") \
        .select("event_id", "user_id", "is_session_start", "session_n")


SQL_SESSIONIZE = """
WITH p AS (SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
f AS (SELECT event_id, user_id, ts,
        CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS st
      FROM p)
SELECT event_id, user_id, CAST(st AS BIGINT) AS is_session_start,
       CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
FROM f
"""


def q_layout_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Morton key over (user_id, day-number) — the write-side clustering
    key for 2-D file pruning (operators/layout.zorder_key)."""
    from pyspark.sql import functions as SF
    from kstream_spark.operators.layout import zorder_key
    ev = _events(spark, sf)
    day = SF.datediff(SF.col("ts").cast("date"), SF.lit("2024-01-01"))
    return ev.select("event_id",
                     zorder_key(SF.col("user_id"), day, bits=16)
                     .alias("zkey"))


def _zorder_sql(bits: int = 16) -> str:
    a = "(user_id & 65535)"
    b = "(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) & 65535)"
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return ("SELECT event_id, CAST(" + " + ".join(terms)
            + " AS BIGINT) AS zkey FROM events")


BEHAVIOR_INVENTORY["sessionize_events"] = (q_sessionize, SQL_SESSIONIZE)
BEHAVIOR_INVENTORY["layout_zorder"] = (q_layout_zorder, _zorder_sql())


def q_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap join via bucket decomposition
    (operators/joins.interval_overlap_join): per-user SESSION intervals
    (gap sessionization, day granularity) overlap-joined with each
    user's +-3-day PURCHASE attribution windows — 'which sessions fell
    near a purchase'.  All-integer day arithmetic; the inequality join
    runs as an equi-join on (user, week-bucket)."""
    from pyspark.sql import functions as SF
    from kstream_spark.operators import behavior as B
    from kstream_spark.operators.joins import interval_overlap_join
    ev = _events(spark, sf)
    epoch = SF.lit("2024-01-01")
    sess = B.sessionize(ev, "user_id", "ts", gap="30 minutes",
                        id_col="event_id") \
        .withColumn("day", SF.datediff(SF.col("ts").cast("date"), epoch))
    intervals = (sess.groupBy("user_id", "session_n")
                 .agg(SF.min("day").cast("long").alias("s_start"),
                      SF.max("day").cast("long").alias("s_end")))
    purchases = ev.filter(SF.col("event_type") == "purchase") \
        .select("user_id", SF.col("event_id").alias("purchase_id"),
                SF.datediff(SF.col("ts").cast("date"), epoch)
                .cast("long").alias("pday")) \
        .select("user_id", "purchase_id",
                (SF.col("pday") - 3).alias("w_start"),
                (SF.col("pday") + 3).alias("w_end"))
    out = interval_overlap_join(intervals, purchases, "user_id",
                                a_id="session_n", a_start="s_start",
                                a_end="s_end", b_id="purchase_id",
                                b_start="w_start", b_end="w_end",
                                bucket=7)
    return out.select(
        "user_id", "session_n", "purchase_id",
        (SF.least("s_end", "w_end") - SF.greatest("s_start", "w_start")
         + 1).cast("long").alias("overlap_days"))


SQL_INTERVAL_OVERLAP = """
WITH p AS (SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
f AS (SELECT event_id, user_id, ts,
        CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS st
      FROM p),
s AS (SELECT event_id, user_id, ts,
        CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
      FROM f),
iv AS (SELECT user_id, session_n,
         CAST(min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
              AS BIGINT) AS s_start,
         CAST(max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
              AS BIGINT) AS s_end
       FROM s GROUP BY user_id, session_n),
ow AS (SELECT user_id, event_id AS purchase_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) - 3
              AS BIGINT) AS w_start,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 3
              AS BIGINT) AS w_end
       FROM events WHERE event_type = 'purchase')
SELECT iv.user_id, iv.session_n, ow.purchase_id,
       CAST(least(iv.s_end, ow.w_end)
            - greatest(iv.s_start, ow.w_start) + 1 AS BIGINT)
         AS overlap_days
FROM iv JOIN ow ON iv.user_id = ow.user_id
WHERE iv.s_start <= ow.w_end AND ow.w_start <= iv.s_end
"""

BEHAVIOR_INVENTORY["j_interval_overlap"] = (q_interval_overlap,
                                            SQL_INTERVAL_OVERLAP)


def q_behavior_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 three-step session-opening paths over the events stream
    (operators/behavior.top_paths) — the Sankey/user-flow query."""
    return B.top_paths(_events(spark, sf), "user_id", "ts",
                       "event_type", "event_id",
                       gap="30 minutes", steps=3, top_n=20)


SQL_BEHAVIOR_TOP_PATHS = """
WITH p AS (SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
f AS (SELECT event_id, user_id, event_type, ts,
        CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS st
      FROM p),
s AS (SELECT event_id, user_id, event_type, ts,
        sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_n
      FROM f),
stp AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_n
                                     ORDER BY ts, event_id) AS step
        FROM s),
pa AS (SELECT user_id, session_n,
         string_agg(event_type, ' > ' ORDER BY step) AS path
       FROM stp WHERE step <= 3 GROUP BY user_id, session_n),
cnt AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        FROM pa GROUP BY path)
SELECT path, n_sessions,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS BIGINT)
       AS rank
FROM cnt ORDER BY n_sessions DESC, path LIMIT 20
"""

BEHAVIOR_INVENTORY["behavior_top_paths"] = (q_behavior_top_paths,
                                            SQL_BEHAVIOR_TOP_PATHS)


# ---------------------------------------------------------------------------
# r9 registrations: the three r8-landed operators (hilbert_key, pagerank,
# triangle_count) whose oracles were pre-proven locally in r8
# (tests/test_layout.py::test_hilbert_oracle_parity,
#  tests/test_graph.py::test_{pagerank,triangle}_oracle_parity).
# ---------------------------------------------------------------------------


def q_layout_hilbert(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert-curve clustering key over the events table's
    (user_id mod 256, day-number mod 256) grid — the write-side layout
    key whose per-file bounding boxes beat Morton's
    (operators/layout.hilbert_key; one fold expression, whole-stage
    codegen, no UDF)."""
    from pyspark.sql import functions as SF
    from kstream_spark.operators.layout import hilbert_key
    ev = _events(spark, sf)
    day = SF.datediff(SF.col("ts").cast("date"), SF.lit("2024-01-01"))
    return ev.select("event_id",
                     hilbert_key(SF.col("user_id") % 256, day % 256,
                                 bits=8).alias("hkey"))


def q_graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact PageRank (3 rounds) over the customer->supplier
    purchase graph (operators/graph.pagerank)."""
    from pyspark.sql import functions as SF
    from kstream_spark.operators.graph import pagerank
    b = StreamBuilder(spark)
    orders = b.table(f"{sf}/orders.parquet", name="orders").to_df()
    li = b.table(f"{sf}/lineitem.parquet", name="lineitem").to_df()
    edges = (orders.join(li, orders.o_orderkey == li.l_orderkey)
             .select(SF.col("o_custkey").alias("src"),
                     SF.col("l_suppkey").alias("dst")).distinct())
    return pagerank(edges, "src", "dst", iters=3)


def _cooccur_pairs(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Ordered co-occurrence pairs (s < d) per group, GROUP-LOCAL: one
    groupBy collects each group's sorted distinct item set and the pairs
    explode from the array — one shuffle of (group, item), versus the
    self-join shape's two shuffles + join (sf1 supplier graph A/B:
    6.5s -> 4.0s warm for the same 4.5M edges).  Per-row fan-out is
    bounded by the group's item count choose 2 (TPC-H orders carry <= 7
    suppliers; a corpus with million-item groups should cap or sample
    the group first — the same hot-key proviso as any collect_set).
    Emits duplicates across groups; callers .distinct() or count."""
    return (df.groupBy(group_col)
            .agg(F.sort_array(F.collect_set(item_col)).alias("ps"))
            .select(F.explode(F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS s, y AS d))))")).alias("e"))
            .select("e.s", "e.d"))


def q_graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Degree-oriented exact triangle counts over the supplier
    co-purchase graph — suppliers linked when they share an order
    (operators/graph.triangle_count)."""
    from kstream_spark.operators.graph import triangle_count
    li = StreamBuilder(spark).table(f"{sf}/lineitem.parquet",
                                    name="lineitem").to_df()
    edges = _cooccur_pairs(li, "l_orderkey", "l_suppkey").distinct()
    return triangle_count(edges, "s", "d")


def q_graph_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components of the frequently-bought-together graph:
    parts linked when they co-occur in >= 2 distinct orders
    (operators/graph.connected_components).  collect_threshold=0 forces
    the DISTRIBUTED BSP min-label arm — the 100 TB path — so the driver
    oracle proves the arm the union-find shortcut would otherwise hide."""
    from pyspark.sql import functions as SF
    from kstream_spark.operators.graph import connected_components
    li = StreamBuilder(spark).table(f"{sf}/lineitem.parquet",
                                    name="lineitem").to_df()
    edges = (_cooccur_pairs(li, "l_orderkey", "l_partkey")
             .groupBy("s", "d").agg(SF.count("*").alias("n"))
             .filter(SF.col("n") >= 2).select("s", "d"))
    return connected_components(edges, "s", "d", collect_threshold=0)


# DuckDB replays the fixpoint exactly with a recursive CTE: walk =
# transitive closure of (node, reachable-label) pairs over the
# symmetrized edges, then min(label) per node == min id of the component
# (the same fixpoint the BSP min-label rounds converge to).
def _components_sql(rounds: int = 12) -> str:
    """Min-label + pointer-jumping replay of the connected-components
    fixpoint as an UNROLLED per-round CTE chain.

    The earlier transitive-closure recursive CTE (walk = every
    (node, reachable-label) pair) is O(sum of component-size^2) state —
    definitionally pretty, but DuckDB 1.0's execution of it proved
    planner-sensitive at sf1 (9s or 15+ MINUTES for the same query in
    the same process, run-to-run).  This formulation is O((m+n)*rounds)
    with no recursion: each round takes the min over (own label,
    neighbors' labels, label-of-own-label); the jump term gives
    O(log diameter) convergence, so ``rounds``=12 covers any diameter
    <= ~2^12.  SOUND-OR-LOUD: if rounds were ever insufficient the
    result simply differs from Spark's fixpoint and the driver records
    a hash MISMATCH — under-convergence cannot silently pass.
    """
    parts = ["""
WITH
pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT a.l_partkey AS s, b.l_partkey AS d
      FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
sym AS MATERIALIZED (SELECT s, d FROM e UNION ALL SELECT d, s FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS label FROM sym)"""]
    # every l{i} is referenced three times by round i+1 — DuckDB 1.0
    # INLINES plain CTEs, which would expand the chain 3^rounds-fold
    # (observed as "Too many open files"); MATERIALIZED pins each round
    for i in range(1, rounds + 1):
        parts.append(f""",
nm{i} AS (SELECT sym.d AS node, min(l.label) AS ml
         FROM sym JOIN l{i - 1} l ON l.node = sym.s GROUP BY 1),
l{i} AS MATERIALIZED (SELECT n.node,
           least(n.label,
                 coalesce(nm.ml, n.label),
                 coalesce(j.label, n.label)) AS label
         FROM l{i - 1} n
         LEFT JOIN nm{i} nm ON nm.node = n.node
         LEFT JOIN l{i - 1} j ON j.node = n.label)""")
    parts.append(f"\nSELECT node, label AS component FROM l{rounds}")
    return "".join(parts)


SQL_GRAPH_COMPONENTS = _components_sql()


def _hilbert_sql(bits: int, src: str = "pts") -> str:
    """DuckDB replay of operators/layout.hilbert_key as an UNROLLED
    per-bit CTE chain (``src`` must expose integer columns x, y; the
    chain carries the originals as ox/oy and ends in CTE ``h0``).

    Deliberately NOT a ``list_reduce`` fold: DuckDB 1.0 mis-executes
    correlated per-row folds — the row-dependent accumulator init
    sometimes reads zeros depending on the physical row layout (verified
    on a 16x16 grid: identical lambda, correct via UNION ALL literals,
    wrong via an unnest cross join) — so the oracle uses one plain
    projection per bit level instead.  Registration of the
    hilbert-key driver query is queued for r9 (the r8 window is full);
    tests/test_layout.py::test_hilbert_oracle_parity already proves
    Spark == this SQL on a full grid.
    """
    parts = [f"h{bits} AS (SELECT x::BIGINT AS ox, y::BIGINT AS oy, "
             f"x::BIGINT AS x, y::BIGINT AS y, 0::BIGINT AS d FROM {src})"]
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        parts.append(f""",
h{i} AS (SELECT ox, oy,
  CASE WHEN (y & {s}) = 0
       THEN CASE WHEN (x & {s}) > 0 THEN {s} - 1 - y ELSE y END
       ELSE x END AS x,
  CASE WHEN (y & {s}) = 0
       THEN CASE WHEN (x & {s}) > 0 THEN {s} - 1 - x ELSE x END
       ELSE y END AS y,
  d + {s}::BIGINT * {s}
    * xor(3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)::BIGINT,
          (CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)::BIGINT) AS d
  FROM h{i + 1})""")
    return "".join(parts)


def _pagerank_sql(iters: int = 3, damping_pct: int = 85,
                  edges_cte: str = "e") -> str:
    """DuckDB replay of operators/graph.pagerank as unrolled power-
    iteration CTE rounds (``edges_cte`` must expose src, dst).  Ends in
    CTE r{iters} (node, rank_micro).  Integer micro-units throughout —
    bit-identical to the Spark loop in any order.  Driver registration
    queued for r9; tests/test_graph.py::test_pagerank_oracle_parity is
    the local parity proof."""
    base = (100 - damping_pct) * 10_000
    parts = [f"""nodes AS (SELECT src AS node FROM {edges_cte}
          UNION SELECT dst FROM {edges_cte}),
deg AS (SELECT src, count(*)::BIGINT AS outd FROM {edges_cte} GROUP BY src),
r0 AS (SELECT node, 1000000::BIGINT AS rank_micro FROM nodes)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
c{k} AS (SELECT {edges_cte}.dst, r.rank_micro // d.outd AS c
        FROM {edges_cte}
        JOIN r{k - 1} r ON r.node = {edges_cte}.src
        JOIN deg d ON d.src = {edges_cte}.src),
r{k} AS (SELECT n.node,
          ({base} + ({damping_pct} * coalesce(s.i, 0)) // 100)::BIGINT
            AS rank_micro
        FROM nodes n
        LEFT JOIN (SELECT dst, sum(c)::BIGINT AS i
                   FROM c{k} GROUP BY dst) s ON s.dst = n.node)""")
    return "".join(parts)


def _triangle_sql(edges_cte: str = "raw") -> str:
    """DuckDB replay of operators/graph.triangle_count (degree
    orientation; ``edges_cte`` must expose s, d).  Ends in CTE ``tri``
    (node, n_triangles).

    deg and orient are MATERIALIZED: DuckDB 1.0 inlines plain CTEs at
    every reference, so the un-hinted form recomputed the lineitem
    self-join + degree join once per orient reference (three).  The
    wedge space of the dense supplier graph remains the irreducible
    cost at sf1 (~17 min, SWEEP_sf1_r10); a list_intersect adjacency
    variant measured far WORSE — DuckDB's list_intersect is
    O(|a|*|b|) per row, ~1e12 comparisons there, vs the wedge join's
    hash probes.  (Spark's method=adj runs the same counting in 45 s —
    that is the engine comparison, not an oracle defect.)
    tests/test_graph.py::test_triangle_oracle_parity is the local
    parity proof."""
    return f"""und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        FROM {edges_cte} WHERE s <> d),
deg AS MATERIALIZED (SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node),
orient AS MATERIALIZED (SELECT
    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         THEN a ELSE b END AS u,
    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         THEN b ELSE a END AS v
  FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
wedges AS (SELECT e1.u, e1.v, e2.v AS w
           FROM orient e1 JOIN orient e2 ON e1.u = e2.u
           WHERE e1.v < e2.v),
closing AS (SELECT least(u, v) AS v, greatest(u, v) AS w FROM orient),
tris0 AS (SELECT wedges.u, wedges.v, wedges.w
          FROM wedges JOIN closing ON wedges.v = closing.v
                                  AND wedges.w = closing.w),
corners AS (SELECT unnest([u, v, w]) AS node FROM tris0),
tri AS (SELECT dg.node,
               coalesce(c.n, 0)::BIGINT AS n_triangles
        FROM deg dg LEFT JOIN (SELECT node, count(*)::BIGINT AS n
                               FROM corners GROUP BY node) c
          ON c.node = dg.node)"""


# The hilbert oracle folds over the DISTINCT (x, y) grid, then joins the
# keys back to the per-event rows — folding per event would be N copies of
# the same 256x256 walk, and joining pts x pts-fold on (ox, oy) would
# multiply rows k^2 per shared cell.
SQL_LAYOUT_HILBERT = f"""
WITH pts AS (SELECT event_id,
                    user_id % 256 AS x,
                    date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) % 256 AS y
             FROM events),
grid AS (SELECT DISTINCT x, y FROM pts),
{_hilbert_sql(8, "grid")}
SELECT p.event_id, h.d AS hkey
FROM pts p JOIN h0 h ON h.ox = p.x AND h.oy = p.y
"""

SQL_GRAPH_PAGERANK = f"""
WITH e AS (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
{_pagerank_sql(3)}
SELECT node, rank_micro FROM r3
"""

SQL_GRAPH_TRIANGLES = f"""
WITH raw AS (SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS d
             FROM lineitem a JOIN lineitem b
               ON a.l_orderkey = b.l_orderkey
              AND a.l_suppkey < b.l_suppkey),
{_triangle_sql("raw")}
SELECT node, n_triangles FROM tri
"""

BEHAVIOR_INVENTORY["layout_hilbert"] = (q_layout_hilbert, SQL_LAYOUT_HILBERT)
BEHAVIOR_INVENTORY["graph_pagerank"] = (q_graph_pagerank, SQL_GRAPH_PAGERANK)
BEHAVIOR_INVENTORY["graph_triangles"] = (q_graph_triangles,
                                         SQL_GRAPH_TRIANGLES)
BEHAVIOR_INVENTORY["graph_components"] = (q_graph_components,
                                          SQL_GRAPH_COMPONENTS)


def q_graph_lpa(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic synchronous label propagation, 3 rounds, over the
    supplier co-purchase graph (the triangles edge relation;
    operators/graph.label_propagation)."""
    from kstream_spark.operators.graph import label_propagation
    li = StreamBuilder(spark).table(f"{sf}/lineitem.parquet",
                                    name="lineitem").to_df()
    edges = _cooccur_pairs(li, "l_orderkey", "l_suppkey").distinct()
    return label_propagation(edges, "s", "d", iters=3)


def _lpa_sql(iters: int = 3) -> str:
    """Unrolled per-round CTE chain: each round recomputes every node's
    most-frequent neighbor label with (count DESC, label ASC) tie-break —
    definitional replay of the argmax-by-struct aggregation."""
    parts = ["""
WITH e AS (SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS d
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
sym AS (SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e),
l0 AS (SELECT DISTINCT s AS node, CAST(s AS BIGINT) AS label FROM sym)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
c{i} AS (SELECT sym.d AS node, l.label, count(*) AS c
        FROM sym JOIN l{i - 1} l ON l.node = sym.s GROUP BY 1, 2),
l{i} AS (SELECT node, label FROM (
          SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY c DESC, label ASC) AS rn
          FROM c{i}) WHERE rn = 1)""")
    parts.append(f"\nSELECT node, label AS community FROM l{iters}")
    return "".join(parts)


BEHAVIOR_INVENTORY["graph_lpa"] = (q_graph_lpa, _lpa_sql())
