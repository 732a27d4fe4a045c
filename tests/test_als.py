"""ALS-WR matrix factorization (pipeline/als.py)."""

import pytest


@pytest.fixture(scope="module")
def rank1_ratings(spark):
    # exact rank-1 matrix: r[u, i] = uu[u] * vv[i]
    uu = {1: 1.0, 2: 2.0, 3: 0.5, 4: 1.5}
    vv = {10: 2.0, 11: 1.0, 12: 3.0, 13: 0.5, 14: 1.2}
    rows = [(u, i, uu[u] * vv[i]) for u in uu for i in vv]
    return spark.createDataFrame(rows, "user long, item long, rating double")


def test_als_objective_nonincreasing_and_fits_rank1(rank1_ratings):
    from pyspark.sql import functions as F

    from ophidia_server_spark.pipeline.als import als, predict

    res = als(rank1_ratings, k=2, iters=6, reg=0.001)
    assert all(
        b <= a * (1 + 1e-9) + 1e-9
        for a, b in zip(res.objectives, res.objectives[1:])
    )
    err = (
        predict(res, rank1_ratings)
        .join(rank1_ratings, ["user", "item"])
        .agg(F.max(F.abs(F.col("prediction") - F.col("rating"))).alias("m"))
        .first()["m"]
    )
    # a rank-1 matrix is exactly representable at k=2; tiny reg -> near fit
    assert err < 0.05


def test_als_factor_shapes_and_unseen_pairs_dropped(spark, rank1_ratings):
    from ophidia_server_spark.pipeline.als import als, predict

    res = als(rank1_ratings, k=2, iters=2, reg=0.1)
    assert res.user_factors.count() == 4
    assert res.item_factors.count() == 5
    assert len(res.user_factors.first()["factors"]) == 2
    assert len(res.objectives) == 4  # two per sweep
    pairs = spark.createDataFrame(
        [(1, 10), (99, 10), (1, 99)], "user long, item long"
    )
    got = predict(res, pairs).collect()
    assert {(r["user"], r["item"]) for r in got} == {(1, 10)}


def test_als_init_is_content_addressed(spark):
    from ophidia_server_spark.pipeline.als import _init_factors

    df = spark.createDataFrame([(1,), (2,)], "item long")
    a = {r["id"]: r["factors"] for r in _init_factors(df, "item", 3, "s").collect()}
    b = {r["id"]: r["factors"] for r in _init_factors(df, "item", 3, "s").collect()}
    assert a == b
    assert all(-0.5 <= x < 0.5 for fs in a.values() for x in fs)
    c = {r["id"]: r["factors"] for r in _init_factors(df, "item", 3, "t").collect()}
    assert a != c


def test_als_jvm_cholesky_matches_arrow_solve(spark, rank1_ratings, monkeypatch):
    """The closed-form JVM Cholesky path (round-13 opt, k <= max gate) and
    the Arrow/numpy solve path must produce the same factors to float
    round-off — forcing the UDF path by shrinking the gate and comparing
    a full run proves the two solvers are interchangeable."""
    from ophidia_server_spark.pipeline import als as A

    res_jvm = A.als(rank1_ratings, k=2, iters=2, reg=0.05)
    jvm = {r["id"]: r["factors"] for r in res_jvm.user_factors.collect()}
    monkeypatch.setattr(A, "_JVM_SOLVE_MAX_K", 0)
    res_udf = A.als(rank1_ratings, k=2, iters=2, reg=0.05)
    udf = {r["id"]: r["factors"] for r in res_udf.user_factors.collect()}
    assert jvm.keys() == udf.keys()
    for i in jvm:
        for a, b in zip(jvm[i], udf[i]):
            assert abs(a - b) < 1e-12, (i, jvm[i], udf[i])
    for a, b in zip(res_jvm.objectives, res_udf.objectives):
        assert abs(a - b) <= 1e-9 * max(1.0, abs(a))


def test_als_empty_ratings_zero_objective(spark):
    """SUM over zero rows is NULL: an empty ratings frame must yield 0.0
    objectives, not a TypeError (ADVICE r12)."""
    from ophidia_server_spark.pipeline.als import als

    empty = spark.createDataFrame(
        [], "user long, item long, rating double"
    )
    res = als(empty, k=2, iters=1)
    assert res.objectives == [0.0, 0.0]
    assert res.user_factors.count() == 0


def test_als_expr_bundle_cache_identity_and_gate_key(spark, rank1_ratings,
                                                     monkeypatch):
    """Round-14: the half-step's (k, reg) Column trees are cached per live
    session (_expr_bundle via session.session_cached). Pins (a) the cache
    actually hits — same object back for a repeated key; (b) the solver
    gate is part of the key, so monkeypatching _JVM_SOLVE_MAX_K (the
    Cholesky-vs-Arrow equivalence test's technique) gets a fresh
    Arrow-path bundle instead of silently reusing the cached JVM one;
    (c) warm-cache results are bit-identical to a cold-cache run."""
    from ophidia_server_spark import session
    from ophidia_server_spark.pipeline import als as A

    b1 = A._expr_bundle(spark, 2, 0.05)
    assert A._expr_bundle(spark, 2, 0.05) is b1          # (a) cache hit
    assert A._expr_bundle(spark, 3, 0.05) is not b1      # different k
    assert b1.solve_steps is not None                     # JVM path at k=2

    monkeypatch.setattr(A, "_JVM_SOLVE_MAX_K", 0)
    b_udf = A._expr_bundle(spark, 2, 0.05)
    assert b_udf is not b1 and b_udf.solve_steps is None  # (b) gate in key
    assert b_udf.udf_col is not None
    monkeypatch.undo()
    assert A._expr_bundle(spark, 2, 0.05) is b1           # original restored

    cold = A.als(rank1_ratings, k=2, iters=2, reg=0.05)
    cold_f = {r["id"]: r["factors"] for r in cold.user_factors.collect()}
    session.clear("als")                                  # drop the cache
    assert A._expr_bundle(spark, 2, 0.05) is not b1
    fresh = A.als(rank1_ratings, k=2, iters=2, reg=0.05)
    fresh_f = {r["id"]: r["factors"] for r in fresh.user_factors.collect()}
    assert cold_f == fresh_f                              # (c) bit-identical
    assert cold.objectives == fresh.objectives
