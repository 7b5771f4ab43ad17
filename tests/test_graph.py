"""Graph operators: integer-exact PageRank."""

from pyspark.sql import functions as F

from kstream_spark.operators.graph import pagerank


def _reference_pagerank(edges, iters=3, damping_pct=85):
    """Sequential reference with the SAME integer arithmetic."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    rank = {n: 1_000_000 for n in nodes}
    base = (100 - damping_pct) * 10_000
    for _ in range(iters):
        recv = {n: 0 for n in nodes}
        for s, d in edges:
            recv[d] += rank[s] // outd[s]
        rank = {n: base + (damping_pct * recv[n]) // 100 for n in nodes}
    return rank


def test_pagerank_matches_integer_reference(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (2, 4)]
    df = spark.createDataFrame(edges, "s long, d long")
    got = {r.node: r.rank_micro for r in
           pagerank(df, "s", "d", iters=4).collect()}
    assert got == _reference_pagerank(edges, iters=4)
    # the hub (3: three in-edges) outranks the leaf (4: one in-edge)
    assert got[3] > got[4]


def test_pagerank_deterministic_under_partitioning(spark):
    edges = [(i, (i * 7) % 23) for i in range(200)] + \
            [(i % 23, (i * 3) % 23) for i in range(200)]
    a = spark.createDataFrame(edges, "s long, d long")
    r1 = {r.node: r.rank_micro for r in pagerank(a, "s", "d").collect()}
    r2 = {r.node: r.rank_micro for r in
          pagerank(a.repartition(13), "s", "d").collect()}
    assert r1 == r2  # integer micro-units: order-insensitive sums


def test_pagerank_dangling_receiver(spark):
    # node 9 has in-edges but no out-edges: it accumulates, never emits
    df = spark.createDataFrame([(1, 9), (2, 9), (9, 9)][:2],
                               "s long, d long")
    got = {r.node: r.rank_micro for r in
           pagerank(df, "s", "d", iters=2).collect()}
    assert set(got) == {1, 2, 9}
    assert got[9] > got[1] == got[2]


def test_pagerank_oracle_parity(spark):
    """Spark pagerank == the unrolled DuckDB power-iteration oracle on a
    customer->supplier purchase graph from the fixture — the r9
    registration's parity proof, run locally now (r8 window is full)."""
    import duckdb
    from kstream_spark.inventory_behavior import _pagerank_sql
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'/root/testdata/sf0.001/{t}.parquet'")
    oracle = con.execute(f"""
WITH e AS (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
{_pagerank_sql(3)}
SELECT node, rank_micro FROM r3
""").fetchdf().set_index("node")["rank_micro"].to_dict()
    from kstream_spark import StreamBuilder
    b = StreamBuilder(spark)
    orders = b.table("/root/testdata/sf0.001/orders.parquet").to_df()
    li = b.table("/root/testdata/sf0.001/lineitem.parquet").to_df()
    edges = (orders.join(li, orders.o_orderkey == li.l_orderkey)
             .select(F.col("o_custkey").alias("src"),
                     F.col("l_suppkey").alias("dst")).distinct())
    got = {r.node: r.rank_micro for r in
           pagerank(edges, "src", "dst", iters=3).collect()}
    assert got == oracle


def _reference_triangles(edges):
    """Per-node triangle counts by brute force."""
    from itertools import combinations
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {n: 0 for n in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                counts[n] += 1
    return counts


def test_triangle_count_matches_brute_force(spark):
    from kstream_spark.operators.graph import triangle_count
    # dirty input: duplicates, both directions, self-loop, a hub
    edges = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (3, 4), (4, 5),
             (5, 3), (1, 2)] + [(9, k) for k in range(1, 8)]
    df = spark.createDataFrame(edges, "s long, d long")
    got = {r.node: r.n_triangles for r in
           triangle_count(df, "s", "d").collect()}
    assert got == _reference_triangles(edges)
    assert got[1] >= 1 and sum(got.values()) % 3 == 0


def test_triangle_count_hub_emits_no_wedges(spark):
    """Degree orientation: the hub's edges all point IN, so the wedge
    relation stays linear even when one node touches everything."""
    from pyspark.sql import functions as F
    from kstream_spark.operators.graph import triangle_count
    hub = [(0, k) for k in range(1, 41)]
    ring = [(k, k + 1) for k in range(1, 40)]
    df = spark.createDataFrame(hub + ring, "s long, d long")
    got = {r.node: r.n_triangles for r in
           triangle_count(df, "s", "d").collect()}
    assert got == _reference_triangles(hub + ring)
    assert got[0] == 39  # hub closes every consecutive ring pair


def test_triangle_oracle_parity(spark):
    """Spark triangle_count == the DuckDB degree-orientation oracle on
    a supplier co-purchase graph from the fixture (suppliers linked when
    they share an order) — the r9 registration's parity proof."""
    import duckdb
    from kstream_spark.inventory_behavior import _triangle_sql
    from kstream_spark.operators.graph import triangle_count
    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                "'/root/testdata/sf0.001/lineitem.parquet'")
    oracle = con.execute(f"""
WITH raw AS (SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS d
             FROM lineitem a JOIN lineitem b
               ON a.l_orderkey = b.l_orderkey
              AND a.l_suppkey < b.l_suppkey),
{_triangle_sql("raw")}
SELECT node, n_triangles FROM tri
""").fetchdf().set_index("node")["n_triangles"].to_dict()
    from kstream_spark import StreamBuilder
    li = StreamBuilder(spark).table(
        "/root/testdata/sf0.001/lineitem.parquet").to_df()
    a = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_suppkey").alias("s"))
    b = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_suppkey").alias("d"))
    edges = (a.join(b, "o").filter(F.col("s") < F.col("d"))
             .select("s", "d").distinct())
    got = {r.node: r.n_triangles for r in
           triangle_count(edges, "s", "d").collect()}
    assert got == oracle and sum(got.values()) > 0


def test_connected_components_bsp_matches_union_find(spark):
    """The distributed min-label arm (collect_threshold=0) and the
    driver-side union-find arm agree on a multi-component graph with a
    transitive chain and duplicate edges."""
    from kstream_spark.operators.graph import connected_components
    edges = [(1, 2), (2, 3), (3, 4), (2, 1),       # chain -> comp 1
             (10, 11), (11, 12),                   # chain -> comp 10
             (20, 21), (21, 20),                   # pair  -> comp 20
             (30, 30)]                             # self-loop only
    df = spark.createDataFrame(edges, "s long, d long")
    uf = {r.node: r.component for r in
          connected_components(df, "s", "d").collect()}
    bsp = {r.node: r.component for r in
           connected_components(df, "s", "d",
                                collect_threshold=0).collect()}
    assert uf == bsp
    assert bsp[4] == 1 and bsp[12] == 10 and bsp[21] == 20
    assert bsp[30] == 30


def test_connected_components_oracle_parity(spark):
    """Spark BSP components == the DuckDB recursive-CTE fixpoint on the
    frequently-bought-together parts graph — the graph_components
    registration's parity proof."""
    import duckdb
    from kstream_spark.inventory_behavior import (SQL_GRAPH_COMPONENTS,
                                                  q_graph_components)
    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                "'/root/testdata/sf0.001/lineitem.parquet'")
    oracle = con.execute(SQL_GRAPH_COMPONENTS).fetchdf() \
        .set_index("node")["component"].to_dict()
    got = {r.node: r.component for r in
           q_graph_components(spark, "/root/testdata/sf0.001").collect()}
    assert got == oracle


def test_label_propagation_two_cliques_converge(spark):
    """Two triangles joined by one bridge edge: after 3 deterministic
    rounds each clique agrees on its minimum member id; ties go to the
    smaller label."""
    from kstream_spark.operators.graph import label_propagation
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3),        # clique A
         (4, 5), (5, 6), (4, 6),        # clique B
         (3, 4)],                        # bridge
        "s long, d long")
    out = {r.node: r.community
           for r in label_propagation(edges, "s", "d", iters=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[5] == out[6]
    assert set(out) == {1, 2, 3, 4, 5, 6}


def test_label_propagation_tiebreak_is_smallest_label(spark):
    from kstream_spark.operators.graph import label_propagation
    # node 3 sees labels {1, 2} once each in round 1 -> must pick 1
    edges = spark.createDataFrame([(1, 3), (2, 3)], "s long, d long")
    out = {r.node: r.community
           for r in label_propagation(edges, "s", "d", iters=1).collect()}
    assert out[3] == 1


def test_triangle_count_methods_agree(spark):
    """The degree-orientation count must agree with the brute-force
    per-node counts on a random-ish graph with hubs, isolated pairs, and
    both edge directions present; the old method= switch is gone."""
    import random

    import pytest as _pytest

    from kstream_spark.operators.graph import triangle_count
    rng = random.Random(7)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    edges += [(0, i) for i in range(1, 20)]          # hub
    df = spark.createDataFrame(edges, "s long, d long")
    got = {r.node: r.n_triangles for r in
           triangle_count(df, "s", "d").collect()}
    assert got == _reference_triangles(edges) and sum(got.values()) > 0
    with _pytest.raises(TypeError):
        triangle_count(df, "s", "d", method="nope")


def test_triangle_count_broadcasts_adjacency_only_when_it_fits(
        spark, tmp_path, monkeypatch):
    """Both adjacency sides are hinted to broadcast while the edge list
    fits the driver gate; below the gate neither is, and the counts are
    unchanged."""
    from kstream_spark import util
    from kstream_spark.operators.graph import triangle_count
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (2, 4)] + \
        [(9, k) for k in range(1, 8)]
    path = str(tmp_path / "edges")
    spark.createDataFrame(edges, "s long, d long").write.parquet(path)
    df = spark.read.parquet(path)   # a scan, so Catalyst knows its size

    def broadcasts(out):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("strategy=broadcast")

    want = _reference_triangles(edges)
    out = triangle_count(df, "s", "d")
    assert broadcasts(out) == 2
    assert {r.node: r.n_triangles for r in out.collect()} == want
    monkeypatch.setattr(util, "DRIVER_LOCAL_BYTES", 1)
    out = triangle_count(df, "s", "d")
    assert broadcasts(out) == 0
    assert {r.node: r.n_triangles for r in out.collect()} == want
