"""PageRank (pipeline/graph.py): analytic fixed points, dangling mass,
and the invariants the gate grades."""

from pyspark.sql import functions as F

from ophidia_server_spark.pipeline.graph import pagerank


def test_two_node_cycle_is_the_fixed_point(spark):
    # a <-> b is already stationary: every iteration returns rank 1.0
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    ranks, _, residuals = pagerank(edges, iters=5)
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    assert got == {1: 1.0, 2: 1.0}
    assert all(r < 1e-12 for r in residuals)


def test_dangling_sink_conserves_mass_and_outranks_source(spark):
    # a -> b with b dangling: total mass stays N, and the sink outranks
    # the source (it receives the source's share plus teleport)
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    ranks, _, residuals = pagerank(edges, iters=20)
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    assert abs(sum(got.values()) - 2.0) < 1e-9
    assert got[2] > got[1] > 0
    # contraction: successive residuals shrink by at least the damping
    assert all(b <= a * 0.85 + 1e-9 for a, b in zip(residuals[1:], residuals[2:]))


def test_pagerank_deterministic_under_repartitioning(spark):
    import itertools

    pairs = [(a, b) for a, b in itertools.product(range(12), range(12))
             if (a * 7 + b) % 5 == 0 and a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    r1, _, _ = pagerank(edges, iters=4)
    r2, _, _ = pagerank(edges.repartition(9), iters=4)
    a = {(r["node"], round(r["rank"], 9)) for r in r1.collect()}
    b = {(r["node"], round(r["rank"], 9)) for r in r2.collect()}
    assert a == b


def test_triangle_counts_handcrafted_graph(spark):
    from ophidia_server_spark.pipeline.graph import triangle_counts

    # K4 on {1,2,3,4} (every node in C(3,2)=3 triangles) plus a pendant
    # node 5 and a duplicate/reversed/self-loop noise set
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (2, 1), (3, 1), (1, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_chunked_rounds_are_exact(spark):
    from ophidia_server_spark.pipeline.graph import triangle_counts

    # two K4s sharing node 4 plus a pendant: chunked execution must
    # reproduce the single-pass counts exactly for any K, including K
    # larger than the number of wedge centers (empty rounds)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 6), (4, 7), (4, 8), (6, 7), (6, 8), (7, 8), (8, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    base = {r["node"]: r["n_triangles"]
            for r in triangle_counts(df).collect()}
    assert base == {1: 3, 2: 3, 3: 3, 4: 6, 6: 3, 7: 3, 8: 3}
    for k in (2, 3, 64):
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(df, chunks=k).collect()}
        assert got == base, f"chunks={k} diverged"


def test_triangle_counts_auto_chunks(spark, monkeypatch):
    from ophidia_server_spark.pipeline.graph import triangle_counts

    # same two-K4 graph: auto must equal manual at any budget. The default
    # budget (32 GB) keeps this 13-wedge graph single-pass; a ~1 KB budget
    # forces K > 1 and the rounds must still reproduce exact counts
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 6), (4, 7), (4, 8), (6, 7), (6, 8), (7, 8), (8, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    base = {r["node"]: r["n_triangles"]
            for r in triangle_counts(df, chunks=1).collect()}
    auto = {r["node"]: r["n_triangles"]
            for r in triangle_counts(df).collect()}
    assert auto == base
    monkeypatch.setenv("SPARK_GRAFT_TRIANGLE_SCRATCH_GB", "0.000001")
    tiny = {r["node"]: r["n_triangles"]
            for r in triangle_counts(df, chunks="auto").collect()}
    assert tiny == base
    import pytest as _pytest

    with _pytest.raises(ValueError, match="chunks must be an int or 'auto'"):
        triangle_counts(df, chunks="all")


def test_triangle_counts_triangle_free_graph_is_empty(spark):
    from ophidia_server_spark.pipeline.graph import triangle_counts

    # a 4-cycle has wedges but no triangles
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    assert triangle_counts(df).count() == 0


def test_cooccurrence_similarity_hand_computed(spark):
    import math

    from ophidia_server_spark.pipeline.graph import cooccurrence_similarity

    # baskets: {1,2,3}, {1,2}, {1,4}; co(1,2)=2, co(1,3)=1, co(2,3)=1,
    # co(1,4)=1; n1=3, n2=2, n3=1, n4=1
    rows = [(10, 1), (10, 2), (10, 3), (11, 1), (11, 2), (12, 1), (12, 4),
            (10, 1)]  # duplicate item in a basket is counted once
    df = spark.createDataFrame(rows, "o long, i long")
    out = cooccurrence_similarity(df, "o", "i", top_k=2, min_co=1).collect()
    got = {(r["item"], r["neighbor"]): r for r in out}
    assert got[(1, 2)]["n_co"] == 2
    assert got[(1, 2)]["cosine"] == round(2 / math.sqrt(3 * 2), 6)
    assert got[(1, 2)]["rank"] == 1
    # item 1's second neighbor: ties at 1/sqrt(3) between 3 and 4 -> id 3
    assert got[(1, 3)]["rank"] == 2 and (1, 4) not in got
    # symmetry: item 3 sees item 1 and 2
    assert got[(3, 1)]["cosine"] == round(1 / math.sqrt(1 * 3), 6)
    # min_co filter drops every pair but (1,2)
    filtered = cooccurrence_similarity(df, "o", "i", top_k=5, min_co=2).collect()
    assert {(r["item"], r["neighbor"]) for r in filtered} == {(1, 2), (2, 1)}


def test_kcore_peels_constructed_graph(spark):
    from ophidia_server_spark.pipeline.graph import kcore

    # K4 on {1..4} (3-core) with a pendant chain 4-5-6 that must peel off
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=1: everything with an edge survives
    assert kcore(df, k=1).count() == 6
    # k=4: the K4 cannot satisfy degree 4 -> empty
    assert kcore(df, k=4).count() == 0


def test_kcore_cascading_peel(spark):
    from ophidia_server_spark.pipeline.graph import kcore

    # a path 1-2-3-4: k=2 peeling cascades from both ends to empty
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert kcore(df, k=2).count() == 0


def test_kcore_rejects_bad_k(spark):
    import pytest as _pytest

    from ophidia_server_spark.pipeline.graph import kcore

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError):
        kcore(df, k=0)


def test_kcore_raises_on_cost_cap(spark):
    import pytest as _pytest

    from ophidia_server_spark.pipeline.graph import kcore

    # a 12-node path with k=2 peels one layer per round from each end;
    # an explicit max_iter=2 cost cap cannot reach the (empty) fixed
    # point -> named error, never a silent partial peel
    path = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(path, "src long, dst long")
    with _pytest.raises(RuntimeError, match="cost cap"):
        kcore(df, k=2, max_iter=2)


def test_kcore_auto_budget_deep_peel(spark):
    from ophidia_server_spark.pipeline.graph import kcore

    # deep-peeling regression for the auto-scaled round budget: a
    # 201-node path needs ~100 peel rounds (one layer per round from
    # each end) — far beyond the old fixed max_iter=64 — and must reach
    # the empty 2-core without raising. A triangle welded to one end
    # must survive as the exact 2-core.
    path = [(i, i + 1) for i in range(200)]
    tri = [(1000, 1001), (1001, 1002), (1002, 1000), (200, 1000)]
    df = spark.createDataFrame(path + tri, "src long, dst long")
    got = {r["node"]: r["core_degree"] for r in kcore(df, k=2).collect()}
    assert got == {1000: 2, 1001: 2, 1002: 2}


def test_histogram_nulls_not_counted(spark):
    from ophidia_server_spark.functions.primitives import histogram

    df = spark.createDataFrame([([1.0, None, 5.0],)], "arr array<double>")
    got = df.select(histogram(1, 0.0, 10.0)("arr").alias("h")).first()
    assert got["h"] == [2]  # documented: nulls vanish from the counts


def test_bfs_distances_hand_graph(spark):
    from ophidia_server_spark.pipeline.graph import bfs_distances

    # path 1-2-3-4-5 with a branch 3-10, island 99-100
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (3, 10), (99, 100)],
        "src long, dst long",
    )
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, [1]).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 10: 3, 5: 4}  # island absent
    # multi-source takes the nearer anchor; max_depth truncates
    got2 = {r["node"]: r["dist"]
            for r in bfs_distances(edges, [1, 5], max_depth=1).collect()}
    assert got2 == {1: 0, 5: 0, 2: 1, 4: 1}
    # undirected: distances are symmetric from the other end
    got3 = {r["node"]: r["dist"] for r in bfs_distances(edges, [5]).collect()}
    assert got3[1] == 4 and got3[10] == 3


def test_bfs_distances_empty_sources_and_bidirectional_edges(spark):
    from ophidia_server_spark.pipeline.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3)], "src long, dst long"
    )
    # empty anchors: empty result with the right schema, not a crash
    empty = bfs_distances(edges, [])
    assert empty.count() == 0 and empty.columns == ["node", "dist"]
    # both-direction storage canonicalizes: distances unchanged
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, [1]).collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def test_kcore_default_cap_finite_none_unbounded(spark):
    # round-9 review finding: the unbounded default let a degenerate graph
    # run O(n) Spark jobs unattended. Default is a LARGE finite cap;
    # explicit None opts into unbounded peeling.
    import inspect

    from ophidia_server_spark.pipeline.graph import kcore

    assert inspect.signature(kcore).parameters["max_iter"].default == 4096
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    got = {r["node"] for r in kcore(df, k=2, max_iter=None).collect()}
    assert got == {0, 1, 2}
