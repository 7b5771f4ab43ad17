"""Graph operators: integer-exact PageRank power iteration.

The iterative-algorithm showcase of the bounded-driver-loop discipline
(bpe_train / kmeans_centroids / unigram_train): each round is ONE
map-side-combinable aggregation over the edge relation; the driver sees
nothing per round (the rank relation stays distributed), and every
quantity is integer micro-units so the result is bit-identical in any
engine and any aggregation order — a DuckDB oracle replays the rounds as
unrolled CTEs.

No reference analog (tryfix/kstream routes records; it has no graph
surface); part of the analytics capability superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kstream_spark.util import fits_driver


def pagerank(edges: DataFrame, src_col: str, dst_col: str,
             iters: int = 3, damping_pct: int = 85) -> DataFrame:
    """PageRank by power iteration over a directed edge list, in EXACT
    integer micro-units:

      rank0        = 1_000_000 per node
      contribution = rank div out_degree        (integer division)
      rank'        = (100 - d)% * 1e6 / 100
                     + (d * sum(contributions)) div 100

    Integer division loses a bounded sub-micro remainder per edge —
    deterministically, identically in every engine — which is the point:
    float contributions would make the per-node sum depend on shuffle
    order.  Dangling nodes (no out-edges) appear as rank receivers only;
    their mass share simply stops circulating (the standard simplified
    treatment; add explicit teleport edges for the full formulation).

    Scale shape: the node and degree relations derive once; each round
    is one join of the rank relation onto the edge list (AQE broadcasts
    ranks when small, shuffles on the node key otherwise) + one
    map-side-combinable sum keyed on the destination — the classic BSP
    round as two bounded exchanges, no driver traffic at all.  Returns
    (node, rank_micro) after ``iters`` rounds.
    """
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct())
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("outd"))
    base = F.lit((100 - damping_pct) * 10_000).cast("long")
    rank = nodes.withColumn("rank_micro",
                            F.lit(1_000_000).cast("long"))
    for _ in range(iters):
        contrib = (e.join(rank.withColumnRenamed("node", "src"), "src")
                   .join(deg, "src")
                   .select("dst",
                           F.expr("rank_micro div outd").alias("c")))
        recv = contrib.groupBy(F.col("dst").alias("node")) \
            .agg(F.sum("c").cast("long").alias("_in"))
        rank = (nodes.join(recv, "node", "left")
                .select("node",
                        (base + F.expr(
                            f"({damping_pct}L * coalesce(_in, 0L)) div 100"))
                        .cast("long").alias("rank_micro")))
    return rank


def connected_components(edges: DataFrame, src_col: str, dst_col: str,
                         max_iter: int = 20,
                         collect_threshold: int = 1_000_000) -> DataFrame:
    """Connected components over an undirected edge list ->
    (node, component), component = min node id in the component.  Nodes
    are the edge endpoints (supply isolated nodes by left-joining the
    result back onto the full node relation).

    Hybrid execution, sized by the EDGE list (which in the dedup/ANN
    pipelines is a thresholded similarity output, tiny relative to the
    corpus): below ``collect_threshold`` edges, one bounded ``take``
    feeds an exact driver-side union-find (milliseconds, no BSP
    round-trips); above it, ALTERNATING LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — the GraphFrames production algorithm):

      large-star(u): every neighbor BIGGER than u re-attaches to the
        min of u's closed neighborhood;
      small-star(u): every neighbor SMALLER than u (plus u itself)
        re-attaches to the smallest of them.

    Both operations preserve connectivity and monotonically flatten the
    graph toward its fixed point — a star forest whose centers are the
    component minima — in O(log n) rounds INDEPENDENT OF DIAMETER
    (min-label propagation, the previous arm, needs diameter rounds and
    pointer-jumping tricks to cut that to log(diameter); star
    contraction gets the log bound structurally, and each round is two
    window-min passes + a distinct instead of three joins).  A path
    graph — the adversarial case for label propagation — collapses in a
    handful of rounds.  Per round the edge relation only shrinks (one
    out-edge per non-center node survives), so late rounds are cheap.

    Generalized out of the dedup module's cluster step
    (dedup.connected_components now delegates here) so the graph family
    shares one implementation with the near-dup clustering pipeline.
    """
    from pyspark.sql import Window as W

    from kstream_spark.util import free_local_checkpoint, owned

    # canonical undirected relation (v >= m), persisted because EVERY
    # consumer reads it — the arm-routing take, round 1 of the loop, and
    # the node set.  Self-loop rows are KEPT here (a self-loop-only node
    # is still a node) and filtered only inside the contraction loop.
    # The routing take() runs ON canon, not on the raw input: the input
    # edge relation is often an expensive subquery (a similarity join, a
    # co-occurrence self-join), and probing it separately would evaluate
    # that subquery twice — measured at sf1, the double evaluation was
    # 2/3 of graph_components' wall-clock.
    canon = (edges.select(F.greatest(src_col, dst_col).alias("v"),
                          F.least(src_col, dst_col).alias("m"))
             .distinct().persist())
    # one action: pulls at most threshold+1 deduped edges; spilling past
    # the limit routes to the distributed path.  take() fills the cache
    # only for the partitions it scans — the rest materialize from the
    # distinct's shuffle files on the next action, not from the source.
    rows = canon.take(collect_threshold + 1)
    if len(rows) <= collect_threshold:
        canon.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            ra, rb = find(r["v"]), find(r["m"])
            if ra != rb:
                # union by min so the root IS the min id of the component
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {x for r in rows for x in (r["v"], r["m"])}
        out = [(n, find(n)) for n in sorted(nodes)]
        from kstream_spark.util import local_df
        return local_df(edges.sparkSession, out,
                        "node long, component long")
    # node set is consumed once, at the very end — checkpoint it so the
    # final join doesn't re-derive the input after canon is freed
    nodes = owned(canon.select(F.col("v").alias("node"))
                  .unionByName(canon.select(F.col("m").alias("node")))
                  .distinct().localCheckpoint(eager=True))
    # localCheckpoint (eager) per round is load-bearing, not a tuning
    # knob: persist() caches DATA but the logical plan still nests — the
    # edge relation is referenced several times per round (two window
    # passes + the star-forest check), so the plan tree compounds per
    # round and ~20 rounds OOM the driver JVM during analysis alone.
    # Checkpoint truncates the lineage so every round plans against a
    # leaf; util.free_local_checkpoint releases the PREVIOUS round's
    # blocks at the RDD level (Dataset.unpersist does not touch
    # localCheckpoint storage — ADVICE r9, verified on PySpark 4.1.2).
    # r14 (guide §2.2, the LPA treatment): seed the round loop with a
    # RIGHT-SIZED checkpointed edge relation instead of the 32-cached-
    # partition canon.  Round 0 otherwise pays cores-many near-empty map
    # tasks across its four stages (rounds >= 1 already read 1-partition
    # checkpoints that AQE sized) — profiled at sf0.1: round 0 star pass
    # 2.59 s vs round 1's 0.74 s on a 3.6k-edge relation; this A/B'd
    # 5.8 -> 3.75 s for the whole operator.  The count is a real-row
    # signal on the already-persisted canon (scan estimates are garbage
    # through the co-occurrence explode feeding the graph queries), and
    # the partition count is capped at shuffle.partitions so cluster-
    # scale behavior is unchanged.  Keyed on "v" — the key every round's
    # first window needs.
    n_canon = canon.count()
    nparts = min(
        int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        max(1, -(-2 * n_canon // _BSP_ROWS_PER_PART)))
    seed = (canon.filter(F.col("v") != F.col("m"))
            .repartition(nparts, "v").localCheckpoint(eager=True))
    canon.unpersist()   # routing take, nodes, and seed all served
    edges = seed
    prev = seed
    for _ in range(max_iter):
        # large-star: symmetric view, each node u re-attaches its
        # bigger neighbors to min(closed neighborhood of u).  Edges
        # stay big->small: w > u >= mn, so no self-loops arise.
        sym = edges.unionByName(edges.select(F.col("m").alias("v"),
                                             F.col("v").alias("m")))
        wu = W.partitionBy("v")
        # large-star output is NOT deduped (r13): duplicates — two
        # centers re-attaching the same node to the same min — cannot
        # change the small-star window MIN, and new_edges' distinct
        # dedups the round's output anyway, so the old ls.distinct()
        # bought nothing but a fourth exchange per round (A/B'd at
        # sf0.1; edge set per round is provably identical)
        ls = (sym.withColumn("mn", F.least(F.min("m").over(wu), F.col("v")))
              .filter(F.col("m") > F.col("v"))
              .select(F.col("m").alias("v"), F.col("mn").alias("m")))
        # small-star: each node v re-attaches its smaller neighbors
        # (and itself) to the smallest of them
        wv = W.partitionBy("v")
        ss = ls.withColumn("mn", F.min("m").over(wv))
        new_edges = (ss.filter(F.col("m") != F.col("mn"))
                     .select(F.col("m").alias("v"), F.col("mn").alias("m"))
                     .unionByName(ss.select("v", F.col("mn").alias("m")))
                     .distinct()
                     .localCheckpoint(eager=True))
        free_local_checkpoint(prev)
        prev = edges = new_edges
        # fixed point == star forest: every child appears exactly once
        # and no center is itself a child (one action for both tests);
        # a star forest's centers are the component minima because both
        # star operations preserve connectivity, so each component
        # collapses into ONE star rooted at its smallest node
        # equivalent single-aggregation form (r13): a star-forest
        # violation is a node that is EITHER a duplicate child (appears
        # >1 time as v) OR both child and parent (appears as v and as m)
        # — same two tests as the old groupBy + self-semi-join pair, in
        # ONE map-side-combinable aggregation over the checkpointed
        # round output instead of two shuffles and a join
        violations = (
            edges.select(F.col("v").alias("node"),
                         F.lit(1).alias("c"), F.lit(0).alias("p"))
            .unionByName(
                edges.select(F.col("m").alias("node"),
                             F.lit(0).alias("c"), F.lit(1).alias("p")))
            .groupBy("node")
            .agg(F.sum("c").alias("c"), F.sum("p").alias("p"))
            .filter((F.col("c") > 1)
                    | ((F.col("c") > 0) & (F.col("p") > 0)))
            .limit(1).count())
        if violations == 0:
            break
    # the result is star-forest-sized (one row per node) but stays lazy
    # so callers can compose; the blocks behind it (final round's edges +
    # the node checkpoint) ARE the result relation
    owned(edges)
    return (nodes.join(edges.withColumnRenamed("v", "node"), "node", "left")
            .select("node", F.coalesce("m", "node").alias("component")))


def triangle_count(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Exact per-node triangle counts over an UNDIRECTED graph (the
    edge list may contain either or both directions and self-loops;
    both are canonicalized away), via DEGREE ORIENTATION — the standard
    skew-robust formulation (Cohen's MapReduce triangle counting /
    Latapy's compact-forward): orient every edge from its lower-rank
    endpoint to the higher, rank = (degree, node id).  Each triangle is
    then enumerated exactly once from its lowest-rank vertex, and the
    wedge join's per-key fan-out is bounded by the oriented out-degree
    <= O(sqrt(2m)) regardless of how skewed the raw degrees are — a
    hub with a million neighbors contributes ZERO wedges from itself
    (all its edges point in), instead of 10^12.

    Returns (node, n_triangles) for every node of the graph (zero rows
    included).

    Edge-iterator over oriented ADJACENCY ARRAYS: attach each edge's two
    out-neighbor arrays (rows bounded by the oriented out-degree <=
    O(sqrt(2m)), so an array is at most that long) and close wedges with
    one in-memory ``array_intersect`` — the O(#wedges) intermediate never
    exists as ROWS and never shuffles; only (node, count) contributions
    leave the stage.  On dense graphs this removes the dominant exchange
    (sf0.1 supplier graph: 46s -> ~8s).  The adjacency RELATION totals
    O(m); it is hinted to broadcast only when it fits the driver
    (``util.fits_driver``), since a broadcast is collected by the driver
    and hard-capped by Spark at 8 GB.  A larger graph leaves the join to
    the planner.
    """
    both = edges.select(F.col(src_col).alias("a"),
                        F.col(dst_col).alias("b")) \
        .filter(F.col("a") != F.col("b"))
    und = (both.select(F.least("a", "b").alias("a"),
                       F.greatest("a", "b").alias("b"))
           .distinct())
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").cast("long").alias("deg")))
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_degb"))
    ranked = und.join(da, "a").join(db, "b")
    lower_first = (F.col("_dega") < F.col("_degb")) | \
        ((F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b")))
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"))
    # for a triangle with rank order u < v < w the oriented edges are
    # u->v, u->w, v->w, so it is found EXACTLY once: at edge (u, v),
    # as w in adj(u) ∩ adj(v)
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("_n"))
    # the edge relation is BYTE-small but the per-row intersect/explode
    # work is amplified by O(out-degree) — AQE would coalesce the
    # ~MB-sized exchange to one task and serialize the whole closure
    # phase (measured: 85s vs 8s at sf0.1).  An EXPLICIT partition
    # count survives AQE coalescing; round-robin balances perfectly
    # and the adj sides broadcast, so no co-partitioning is lost.
    par = oriented.sparkSession.sparkContext.defaultParallelism
    # the adjacency holds each undirected edge once, so it is about the
    # size of ``und``, which Catalyst sizes from the input's scan (its own
    # estimate multiplies the sizes of the joins above and reads unknown)
    hint = F.broadcast if fits_driver(und) else (lambda df: df)
    au = hint(adj.select("u", F.col("_n").alias("_nu")))
    av = hint(adj.select(F.col("u").alias("v"), F.col("_n").alias("_nv")))
    e = oriented.repartition(par).join(au, "u").join(av, "v")
    e = (e.withColumn("_ws", F.array_intersect("_nu", "_nv"))
         .withColumn("_c", F.size("_ws").cast("long"))
         .filter(F.col("_c") > 0))
    # ONE explode carries all three corner attributions (a union of
    # three selects would re-run the join + intersect per branch)
    one = F.lit(1).cast("long")
    contrib = F.explode(F.concat(
        F.array(F.struct(F.col("u").alias("node"),
                         F.col("_c").alias("c")),
                F.struct(F.col("v").alias("node"),
                         F.col("_c").alias("c"))),
        F.transform("_ws", lambda w: F.struct(w.alias("node"),
                                              one.alias("c")))))
    per_corner = (e.select(contrib.alias("x"))
                  .select("x.node", "x.c")
                  .groupBy("node").agg(
                      F.sum("c").cast("long").alias("n_triangles")))
    return (deg.select("node").join(per_corner, "node", "left")
            .select("node", F.coalesce("n_triangles", F.lit(0))
                    .cast("long").alias("n_triangles")))


# BSP round sizing: one partition per this many symmetric-edge rows
# ((long, long) rows — ~128k rows is a few MB cached / shuffled, small
# enough that a round's per-task work dominates its scheduling cost,
# large enough that toy-scale graphs collapse to a handful of tasks).
# Swept at sf0.1 (907k sym rows): 1 part 4.18 s, 4 parts 3.15 s,
# 8 parts 2.91 s, 32 parts (the r13 fixed count) 3.57 s — 2^17 rows/part
# lands on 7.  Capped at spark.sql.shuffle.partitions, so at cluster
# scale the round partitioning is exactly what it was before this knob.
_BSP_ROWS_PER_PART = 1 << 17


def label_propagation(edges: DataFrame, src_col: str, dst_col: str,
                      iters: int = 3) -> DataFrame:
    """Synchronous label propagation (community detection) over an
    undirected edge list, made fully deterministic: every node starts
    labeled with its own id, and each round adopts the MOST FREQUENT
    label among its neighbors, ties broken by SMALLEST label — so a
    fixed ``iters`` yields one well-defined answer any engine replays
    (an unrolled per-round CTE chain is the oracle).

    Returns (node, community) after ``iters`` rounds (or earlier: a
    round in which NO label changed is a fixed point of this
    deterministic rule — every later round reproduces the same labels —
    so the loop stops there and the result is bit-identical to the
    fully-unrolled replay).

    Scale shape (the BSP discipline of ``pagerank``, tightened r13 to
    ONE exchange per round): ``sym`` is PERSISTED pre-partitioned on the
    source key and every round's label relation is persisted partitioned
    on the SAME key space, so the neighbor join is exchange-free on both
    sides.  The round's single shuffle re-keys the neighbor stream by
    destination; everything above it — the (node, label) count, the
    argmax-by-struct, the changed-label probe join against the old
    co-partitioned labels, and the next round's join — reuses that one
    HashPartitioning(node) (Spark's subset rule: partitioning on ``node``
    satisfies clustering on ``(node, label)``).  Driver traffic is one
    count per round; rounds are O(edges) each and ``iters`` caps them.
    Each round's intermediate persists are released here; the final
    label relation is ``owned``.
    """
    integral = {"tinyint", "smallint", "int", "bigint"}
    bad = [c for c in (src_col, dst_col)
           if dict(edges.dtypes)[c] not in integral]
    if bad:
        # label = node id cast to long: a non-integral id would cast to
        # NULL and every round would silently propagate NULL communities
        raise ValueError(f"label_propagation needs integral node ids; "
                         f"non-integral columns: {bad} — map ids to longs "
                         f"(e.g. hash or dense rank) first")
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    # r14 (guide §2.2/§2.4, VERDICT r13 #6): the BSP rounds' partition
    # count is derived from a REAL row count of the symmetric edge
    # relation, not left at spark.sql.shuffle.partitions.  The r13
    # one-exchange rounds pinned shuffle.partitions-many partitions,
    # which persist() freezes (AQE cannot re-coalesce a cached plan's
    # output partitioning), so at toy scale every round paid
    # cores-many near-empty tasks across 4+ stages (sf0.1: 3.34->4.03 s).
    # Catalyst scan estimates are garbage through the explode that feeds
    # this query (the r13 §19 negative result), so the count is the only
    # honest sizing signal — one cheap action against the persisted
    # union, which the round loop needs materialized anyway.  The count
    # never RAISES the partition count above shuffle.partitions, so
    # cluster-scale behavior is unchanged (n/_BSP_ROWS_PER_PART exceeds
    # any sane shuffle.partitions long before 100 TB).
    base = (e.unionByName(e.select(F.col("d").alias("s"),
                                   F.col("s").alias("d")))
            .persist())
    n_sym = base.count()
    nparts = min(
        int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        max(1, -(-n_sym // _BSP_ROWS_PER_PART)))
    sym = base.repartition(nparts, "s").persist()
    # distinct() leaves labels hash-partitioned on node == sym's key space
    labels = (sym.select(F.col("s").alias("node")).distinct()
              .withColumn("label", F.col("node").cast("long"))
              .persist())
    for rnd in range(iters):
        # both sides hash-partitioned on the join key -> exchange-free
        nbr = (sym.join(labels.withColumnRenamed("node", "s"), "s")
               .select(F.col("d").alias("node"), "label"))
        # the round's ONE shuffle; both aggs and the probe join ride it
        counts = nbr.repartition(nparts, "node").groupBy("node", "label") \
            .agg(F.count("*").cast("long").alias("c"))
        # lexicographic struct max == (count DESC, label ASC) argmax
        best = counts.groupBy("node").agg(
            F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))
            .alias("b"))
        new_labels = best.select(
            "node", (-F.col("b.nl")).cast("long").alias("label")).persist()
        # fixed-point probe: zero changed labels means every later round
        # is identical — stop, hash-safe.  The probe COUNTS the changed
        # rows (a full count, unlike isEmpty's take(1) short-circuit), so
        # it also fully materializes new_labels into cache — that must
        # happen before the old labels unpersist, or later rounds / the
        # final collect would recompute the round chain from lineage.
        changed = (new_labels.join(
            labels.withColumnRenamed("label", "old"), "node")
            .where(F.col("label") != F.col("old")).count())
        labels.unpersist()
        labels = new_labels
        if rnd == 0:
            # round 0's actions have materialized sym (and labels) from
            # the cached union — the un-repartitioned base is done
            base.unpersist()
        if changed == 0 and rnd < iters - 1:
            break
    base.unpersist()   # no-op when round 0 already released it
    sym.unpersist()
    from kstream_spark.util import owned
    return owned(labels).select("node", F.col("label").alias("community"))
