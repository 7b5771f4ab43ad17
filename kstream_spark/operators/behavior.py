"""Behavioral / product analytics over event streams: ordered funnels and
cohort retention.

The reference engine has no analytics DSL at all (user callbacks only —
kstream/processors/value_transformer.go:9-80); these are part of the
capability superset, built shuffle-minimal:

  * funnel(): ONE hash exchange on user_id; the t1→t2→t3 stage cascade is
    three stacked Window operators over the SAME partitioning (Spark reuses
    the exchange — no extra shuffle per stage), then a combiner-friendly
    count per stage.  No self-joins of the fact table.
  * cohort_retention(): ONE hash exchange on user_id for the first-event
    window, then one aggregation exchange on the (small) cohort grid.  The
    fact table is scanned once — the naive first-event-join shape scans it
    twice and shuffles three times.

At 100 TB both are scan-dominated single-pass plans; user_id skew is the
only hazard (bot users) — cap per-user events upstream with
sampling.stratified_cap if needed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def funnel(events: DataFrame, user_col: str, type_col: str, ts_col: str,
           steps: Sequence[str]) -> DataFrame:
    """Strictly-ordered funnel: a user reaches step k iff an event of type
    ``steps[k]`` happened AFTER their earliest qualifying step-(k-1) event
    (earliest-first matching, the standard product-analytics semantics).

    Returns one row per user: (user, stage, t_1..t_n) where stage is the
    number of steps reached (0..n) and t_k the completion timestamp.
    """
    w = W.partitionBy(user_col)
    df = events.select(user_col, type_col, ts_col)
    prev = None
    tcols = []
    for k, step in enumerate(steps, start=1):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        tc = f"t_{k}"
        df = df.withColumn(tc, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = tc
        tcols.append(tc)
    # build deepest-step-first: the FINAL wrap must test t_n, so a user who
    # completed step n gets stage n, not the first non-null shallow step
    stage = F.lit(0)
    for k in range(1, len(steps) + 1):
        stage = F.when(F.col(f"t_{k}").isNotNull(), k).otherwise(stage)
    return (df.groupBy(user_col)
            .agg(*[F.min(c).alias(c) for c in tcols])
            .withColumn("stage", stage.cast("long")))


def funnel_summary(events: DataFrame, user_col: str, type_col: str,
                   ts_col: str, steps: Sequence[str]) -> DataFrame:
    """Funnel conversion table: (stage, n_users) for stage 0..len(steps)."""
    per_user = funnel(events, user_col, type_col, ts_col, steps)
    return (per_user.groupBy("stage")
            .agg(F.count(F.lit(1)).alias("n_users")))


def sessionize(events: DataFrame, user_col: str, ts_col: str,
               gap: str = "30 minutes", id_col: str | None = None
               ) -> DataFrame:
    """Row-level gap sessionization: every event gets (session_n,
    is_session_start) where a new session begins after MORE than ``gap``
    of inactivity (``ts > prev + gap``).  Complements
    streaming/core.session_agg, Spark's session window on batch and
    streaming frames, which splits by the same rule but emits only
    per-session aggregates; this labels the raw rows — what a training
    pipeline needs to group clickstreams into examples.

    One hash exchange on user_col; the lag + running-sum pair shares the
    same window ordering (single sort).  ``id_col`` breaks timestamp ties
    deterministically.
    """
    order = [F.col(ts_col).asc()] + \
        ([F.col(id_col).asc()] if id_col else [])
    w = W.partitionBy(user_col).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    new_sess = F.when(
        prev.isNull() | (F.col(ts_col) > prev + F.expr(f"INTERVAL {gap}")),
        1).otherwise(0)
    df = events.withColumn("is_session_start", new_sess.cast("long"))
    run = W.partitionBy(user_col).orderBy(*order) \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn(
        "session_n", F.sum("is_session_start").over(run).cast("long"))


def cohort_retention(events: DataFrame, user_col: str, ts_col: str
                     ) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event; n_active = distinct users of that cohort active k weeks later.

    week_n is floor(days-since-cohort-week-start / 7) so engines agree at
    boundaries (integer day arithmetic, no week-boundary counting).
    """
    w = W.partitionBy(user_col)
    # cohort_week stays TIMESTAMP (engines render dates differently; raw
    # timestamps compare exactly)
    df = (events.select(user_col, F.col(ts_col).alias("_ts"))
          .withColumn("_first", F.min("_ts").over(w))
          .select(F.col(user_col),
                  F.date_trunc("week", F.col("_first")).alias("cohort_week"),
                  F.floor(F.datediff(
                      F.col("_ts").cast("date"),
                      F.date_trunc("week", F.col("_first")).cast("date"))
                      / 7).cast("long").alias("week_n")))
    return (df.groupBy("cohort_week", "week_n")
            .agg(F.count_distinct(user_col).cast("long").alias("n_active")))


def top_paths(events: DataFrame, user_col: str, ts_col: str,
              type_col: str, id_col: str, gap: str = "30 minutes",
              steps: int = 3, top_n: int = 20) -> DataFrame:
    """Top-N session-opening PATHS — the Sankey / user-flow query of
    product analytics: sessionize the event stream, take each session's
    first ``steps`` event types in time order, and rank the resulting
    path strings by session count (ties toward the lexicographically
    lowest path).  Returns (path, n_sessions, rank).

    Determinism: event order inside a session is (ts, id); the ordered
    path string is built by sorting collected (step, type) structs —
    ``collect_list`` alone has no order guarantee after a shuffle, the
    sort_array-of-structs trick restores one deterministically.

    Scale shape: sessionize's one hash exchange per user (shared
    ordering with the step window — same sort), a map-side-combinable
    per-session aggregation (sessions ~ users, never event-sized
    groups beyond the step cap), a path count over the tiny distinct-
    path space, and a TakeOrdered top-N.
    """
    sess = sessionize(events, user_col, ts_col, gap=gap, id_col=id_col)
    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    w = W.partitionBy(user_col, "session_n").orderBy(*order)
    stepped = (sess.withColumn("_step", F.row_number().over(w))
               .filter(F.col("_step") <= steps))
    paths = stepped.groupBy(user_col, "session_n").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("_step"), F.col(type_col).alias("t")))),
                lambda x: x["t"]),
            " > ").alias("path"))
    ranked = (paths.groupBy("path")
              .agg(F.count("*").cast("long").alias("n_sessions"))
              .orderBy(F.desc("n_sessions"), F.asc("path")).limit(top_n))
    from pyspark.sql import Window as W2
    return ranked.withColumn(
        "rank", F.row_number().over(
            W2.orderBy(F.desc("n_sessions"), F.asc("path"))).cast("long"))


def ewma(events: DataFrame, key_col: str, order_cols: list[str],
         value_col: str, alpha: float = 0.25, window: int = 16
         ) -> DataFrame:
    """Trailing-window EWMA per key: the per-entity smoothed signal
    (user spend, sensor level, queue depth) every monitoring pipeline
    wants next to the raw value.

    The classic recursive EWMA is a sequential scan — the one shape a
    distributed engine must NOT implement literally.  This is the
    bounded-window form: over the last ``window`` events,

        ewma_i = sum_j v_j * a*(1-a)^(i-j)  /  sum_j a*(1-a)^(i-j)

    (normalized, so short prefixes are unbiased).  Truncation error vs
    the infinite recursion is (1-a)^window — under 1% at the defaults —
    and in exchange every row is a PURE function of a bounded frame:
    one shuffle on the key, one ordered window, no cross-partition
    recursion, identical answers in any engine.

    The weight and normalizer tables are PYTHON-computed literals
    embedded in the plan, so Spark and a SQL oracle multiply the exact
    same constants — no cross-engine pow() drift; the frame fold is
    codegen array math (collect_list + zip_with + aggregate).

    NULL values are OBSERVATION GAPS: collect_list drops them, so the
    weights decay per observed value, not per row, and a row whose
    trailing frame is all-NULL gets ewma NULL (not a crash).
    """
    w = [alpha * (1 - alpha) ** o for o in range(window)]   # offset 0..W-1
    norm = [sum(w[: s + 1]) for s in range(window)]         # frame size s+1
    W_lit, N_lit = F.lit(w), F.lit(norm)
    frame = (W.partitionBy(key_col)
             .orderBy(*[F.col(c).asc() for c in order_cols])
             .rowsBetween(-(window - 1), 0))
    arr = F.collect_list(F.col(value_col).cast("double")).over(frame)
    s = F.size(arr)
    # element j (1-based) of an s-row frame has trailing offset s-j
    weighted = F.zip_with(
        arr, F.sequence(F.lit(1), s),
        lambda v, j: v * F.element_at(W_lit, (s - j + 1).cast("int")))
    total = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    return events.withColumn(
        "ewma",
        F.when(s > 0,
               F.round(total / F.element_at(N_lit, s.cast("int")), 6)))
