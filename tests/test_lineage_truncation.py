"""The iterative family truncates lineage every round (ckpt.checkpoint):
the plan a loop returns is the same size after 2 rounds as after 6."""

from ophidia_server_spark.pipeline.als import als
from ophidia_server_spark.pipeline.graph import bfs_distances, pagerank


def _plan_size(df) -> int:
    """Node count of the analyzed logical plan."""

    def count(plan):
        kids = plan.children()
        return 1 + sum(count(kids.apply(i)) for i in range(kids.size()))

    return count(df._jdf.queryExecution().analyzed())


def _path(spark, n=10):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")


def test_bfs_plan_is_flat(spark):
    edges = _path(spark)
    sizes = [_plan_size(bfs_distances(edges, [0], max_depth=d)) for d in (2, 6)]
    assert sizes[0] == sizes[1]
    assert bfs_distances(edges, [0], max_depth=6).count() == 7  # 6 rounds ran


def test_pagerank_plan_is_flat(spark):
    edges = _path(spark)
    sizes = [_plan_size(pagerank(edges, iters=n)[0]) for n in (2, 6)]
    assert sizes[0] == sizes[1]


def test_als_plan_is_flat(spark):
    ratings = spark.createDataFrame(
        [(u, i, float((u * i) % 5 + 1)) for u in range(4) for i in range(3)],
        "user long, item long, rating double")
    for part in ("user_factors", "item_factors"):
        sizes = [_plan_size(getattr(als(ratings, k=2, iters=n), part)) for n in (2, 6)]
        assert sizes[0] == sizes[1], part
