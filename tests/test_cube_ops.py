"""Cube operator semantics on a tiny hand-built cube (golden expectations)."""

import datetime
import re

import pytest
from pyspark.sql import functions as F

from ophidia_server_spark.cube import Cube, build_cube
from ophidia_server_spark.functions.hierarchy import concept_level
from ophidia_server_spark.functions import primitives as prim
from ophidia_server_spark.operators import cube_ops as C


@pytest.fixture(scope="module")
def small(spark):
    rows = [
        # (g, t, v)
        ("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0),
        ("b", 1, 10.0), ("b", 3, 30.0),
    ]
    df = spark.createDataFrame(rows, "g string, t int, v double")
    return build_cube(df, ["g"], "t", F.col("v"), measure="v")


def as_map(df, *cols):
    return {tuple(r[c] for c in cols[:-1]): r[cols[-1]] for r in df.collect()}


def test_build_packs_sorted(small):
    rows = {r.g: (list(r["__dim"]), list(r["__m"])) for r in small.df.collect()}
    assert rows["a"] == ([1, 2, 3], [1.0, 2.0, 3.0])
    assert rows["b"] == ([1, 3], [10.0, 30.0])


def test_reduce_ops(small):
    assert as_map(C.oph_reduce(small, "sum", "s"), "g", "s") == {("a",): 6.0, ("b",): 40.0}
    assert as_map(C.oph_reduce(small, "max", "s"), "g", "s") == {("a",): 3.0, ("b",): 30.0}
    assert as_map(C.oph_reduce(small, "count", "s"), "g", "s") == {("a",): 3, ("b",): 2}


def test_subset_index_is_position(small):
    # positions 1,3 of each array — NOT coordinate values
    c = C.oph_subset(small, {"t": "1,3"}, "index")
    rows = {r.g: list(r["__m"]) for r in c.df.collect()}
    assert rows["a"] == [1.0, 3.0]
    assert rows["b"] == [10.0]  # only 2 elements: position 3 absent


def test_subset_coord_is_value(small):
    c = C.oph_subset(small, {"t": "3"}, "coord")
    rows = {r.g: list(r["__m"]) for r in c.df.collect()}
    assert rows == {"a": [3.0], "b": [30.0]}


def test_aggregate_elementwise_across_rows(small):
    a = C.oph_aggregate(small, "sum", ["g"])
    long = as_map(a.long(), "t", "v")
    assert long == {(1,): 11.0, (2,): 2.0, (3,): 33.0}


def test_drilldown_roundtrip(small):
    lf = small.long()
    assert lf.count() == 5
    assert set(lf.columns) == {"g", "t", "v"}


def test_rollup_packs_explicit(small):
    ru = C.oph_rollup(small, "g")
    assert ru.explicit_dims == ()
    row = ru.df.collect()[0]
    assert len(row["__m"]) == 5
    assert ru.implicit_dims == ("g", "t")


def test_intercube_zip(small):
    doubled = C.oph_apply(small, prim.scale(2.0), "v2")
    ic = C.oph_intercube(doubled, small, "sub", "d")
    vals = as_map(ic.long(), "g", "t", "d")
    assert vals == {("a", 1): 1.0, ("a", 2): 2.0, ("a", 3): 3.0, ("b", 1): 10.0, ("b", 3): 30.0}


def test_apply_moving_avg(small):
    ap = C.oph_apply(small, prim.moving_avg(2), "ma")
    vals = {(r.g, r.t): r.ma for r in ap.long().collect()}
    assert vals[("a", 1)] == 1.0
    assert vals[("a", 2)] == pytest.approx(1.5)
    assert vals[("a", 3)] == pytest.approx(2.5)


def test_permute_reorders(small):
    ru = C.oph_rollup(small, "g")
    pm = C.oph_permute(ru, ["t", "g"])
    first = pm.df.collect()[0]["__dim"][0]
    assert first["t"] == 1 and first["g"] == "a"


# -- round-1 primitive pack additions ----------------------------------------

def _apply_first_row(small, p, measure="out"):
    ap = C.oph_apply(small, p, measure)
    rows = {r.g: [float(x) for x in r[ap.df.columns[-1]]] for r in ap.df.collect()}
    return rows


def test_prim_shift_and_rotate(small):
    rows = _apply_first_row(small, prim.shift(1, 0.0))
    assert rows["a"] == [0.0, 1.0, 2.0]
    rows = _apply_first_row(small, prim.shift(-1, -9.0))
    assert rows["a"] == [2.0, 3.0, -9.0]
    rows = _apply_first_row(small, prim.rotate(1))
    assert rows["a"] == [3.0, 1.0, 2.0]


def test_prim_reverse_clip_quantize(small):
    assert _apply_first_row(small, prim.reverse_array())["a"] == [3.0, 2.0, 1.0]
    assert _apply_first_row(small, prim.clip(1.5, 2.5))["a"] == [1.5, 2.0, 2.5]
    assert _apply_first_row(small, prim.quantize(2.0))["a"] == [0.0, 2.0, 2.0]


def test_prim_zscore(small):
    z = _apply_first_row(small, prim.zscore())["a"]
    # mean 2, std_pop sqrt(2/3)
    import math

    s = math.sqrt(2.0 / 3.0)
    assert all(abs(got - want) < 1e-9 for got, want in zip(z, [-1 / s, 0.0, 1 / s]))


def test_prim_nan_handling(spark):
    df = spark.createDataFrame(
        [("a", [1.0, float("nan"), 3.0])], "g string, arr array<double>"
    )
    out = df.select(
        prim.count_nan("arr").alias("n"),
    ).first()
    assert out.n == 1
    rep = df.select(prim.replace_nan(0.0)("arr").alias("r")).first().r
    assert [float(x) for x in rep] == [1.0, 0.0, 3.0]


def test_prim_percentile(spark):
    df = spark.createDataFrame([("a", [1.0, 2.0, 3.0, 4.0])], "g string, arr array<double>")
    p = df.select(prim.percentile(0.5)("arr").alias("p")).first().p
    assert abs(p - 2.5) < 1e-9
    p25 = df.select(prim.percentile(0.25)("arr").alias("p")).first().p
    assert abs(p25 - 1.75) < 1e-9


def test_prim_edge_cases(spark):
    df = spark.createDataFrame(
        [("e", []), ("one", [7.0])], "g string, arr array<double>"
    )
    # percentile: null on empty, identity on singleton
    rows = {r.g: r.p for r in df.select("g", prim.percentile(0.5)("arr").alias("p")).collect()}
    assert rows["e"] is None and rows["one"] == 7.0
    # shift beyond length -> all fill
    rows = {r.g: r.s for r in df.select("g", prim.shift(5, -1.0)("arr").alias("s")).collect()}
    assert rows["e"] == [] and rows["one"] == [-1.0]
    # rotate by more than length wraps
    df2 = spark.createDataFrame([("x", [1.0, 2.0, 3.0])], "g string, arr array<double>")
    got = df2.select(prim.rotate(4)("arr").alias("r")).first().r
    assert [float(v) for v in got] == [3.0, 1.0, 2.0]
    # zscore of empty stays empty
    z = df.filter(F.col("g") == "e").select(prim.zscore()("arr").alias("z")).first().z
    assert z == []


def test_prim_haar_wavelet(spark):
    df = spark.createDataFrame(
        [("ev", [1.0, 3.0, 2.0, 6.0]), ("odd", [4.0, 8.0, 5.0])],
        "g string, arr array<double>",
    )
    rows = {r.g: [float(x) for x in r.w] for r in
            df.select("g", prim.haar_step()("arr").alias("w")).collect()}
    assert rows["ev"] == [2.0, 4.0, -1.0, -2.0]       # [a0, a1, d0, d1]
    assert rows["odd"] == [6.0, 5.0, -2.0]            # [a0, tail, d0]
    # empty array stays empty
    e = spark.createDataFrame([("e", [])], "g string, arr array<double>")
    assert e.select(prim.haar_step()("arr").alias("w")).first().w == []


def test_mergecubes_n_ary(small):
    m = C.oph_mergecubes_n([small, small, small])
    rows = {r.g: r for r in m.df.collect()}
    a = rows["a"]
    assert [float(x) for x in a[m.df.columns[-1]]] == [1.0, 2.0, 3.0] * 3
    srcs = [d["src"] for d in a["__dim"]]
    assert srcs == [0, 0, 0, 1, 1, 1, 2, 2, 2]
    # binary helper and n-ary agree
    b2 = C.oph_mergecubes(small, small)
    n2 = C.oph_mergecubes_n([small, small])
    assert b2.df.collect() == n2.df.collect()


def test_subset_composite_implicit_after_rollup(small):
    # rollup g into the array -> composite implicit (g, t); coord-subset the
    # rolled dim g, then the inner dim t, on the struct coordinates
    rolled = C.oph_rollup(small, "g")
    assert rolled.implicit_dims == ("g", "t")
    only_a = C.oph_subset(rolled, {"g": "a"}, "coord")
    row = only_a.df.first()
    assert [d["g"] for d in row["__dim"]] == ["a", "a", "a"]
    assert [float(v) for v in row[only_a.df.columns[-1]]] == [1.0, 2.0, 3.0]
    t13 = C.oph_subset(rolled, {"t": "1:1"}, "coord")
    row = t13.df.first()
    assert [(d["g"], d["t"]) for d in row["__dim"]] == [("a", 1), ("b", 1)]
    # index subset on composite stays explicitly unsupported
    with pytest.raises(NotImplementedError):
        C.oph_subset(rolled, {"g": "1:2"}, "index")


def test_prim_subarray_padding_find_sd(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0, 4.0, 5.0])], "g string, arr array<double>"
    )
    sub = df.select(prim.get_subarray(2, 3)("arr").alias("s")).first().s
    assert [float(x) for x in sub] == [2.0, 3.0, 4.0]
    pad = df.select(prim.padding(8, -1.0)("arr").alias("p")).first().p
    assert [float(x) for x in pad] == [1.0, 2.0, 3.0, 4.0, 5.0, -1.0, -1.0, -1.0]
    # already long enough -> unchanged
    same = df.select(prim.padding(3)("arr").alias("p")).first().p
    assert [float(x) for x in same] == [1.0, 2.0, 3.0, 4.0, 5.0]
    n = df.select(prim.find_count("x > 2.5")("arr").alias("n")).first().n
    assert n == 3
    s = df.select(prim.sd()("arr").alias("s")).first().s
    assert abs(s - 1.4142135623730951) < 1e-9
    import pytest as _pytest

    with _pytest.raises(ValueError):
        prim.get_subarray(0, 2)


def test_prim_interpolate(spark):
    nan = float("nan")
    df = spark.createDataFrame(
        [
            ("mid", [1.0, nan, 3.0, nan, nan, 6.0]),
            ("edges", [nan, 2.0, nan]),
            ("allnan", [nan, nan]),
            ("clean", [1.0, 2.0]),
        ],
        "g string, arr array<double>",
    )
    got = {r.g: r.i for r in df.select("g", prim.interpolate_nan()("arr").alias("i")).collect()}
    assert [float(x) for x in got["mid"]] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    assert [float(x) for x in got["edges"]] == [2.0, 2.0, 2.0]
    import math

    # no valid points -> all null/NaN through the Arrow boundary
    assert all(x is None or math.isnan(x) for x in got["allnan"])
    assert [float(x) for x in got["clean"]] == [1.0, 2.0]


def test_fit_linear_primitive_exact_line_and_coeffs(spark):
    from pyspark.sql import functions as F

    from ophidia_server_spark.functions.primitives import (
        fit_linear,
        fit_linear_coeff,
    )

    df = spark.createDataFrame(
        [([1.0, 3.0, 5.0, 7.0],), ([2.0, 2.0, 2.0],), ([4.0],)],
        "arr array<double>",
    )
    fit = df.select(fit_linear()("arr").alias("f")).collect()
    assert fit[0]["f"] == [1.0, 3.0, 5.0, 7.0]  # already a line: 1 + 2i
    assert fit[1]["f"] == [2.0, 2.0, 2.0]       # flat
    assert fit[2]["f"] == [4.0]                 # single point: slope 0
    co = df.select(fit_linear_coeff()("arr").alias("c")).collect()
    assert co[0]["c"] == [1.0, 2.0]
    assert co[1]["c"] == [2.0, 0.0]
    assert co[2]["c"] == [4.0, 0.0]


def test_histogram_primitive_clamps_and_counts(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ophidia_server_spark.functions.primitives import histogram

    df = spark.createDataFrame(
        [([-5.0, 0.0, 1.0, 2.5, 5.0, 9.99, 10.0, 25.0],)],
        "arr array<double>",
    )
    # [0, 10) in 2 bins of width 5: below-range clamps to bin 0,
    # at-or-above-range clamps to the last bin
    got = df.select(histogram(2, 0.0, 10.0)("arr").alias("h")).first()
    # {-5, 0, 1, 2.5} -> bin 0 (y < 5); {5, 9.99, 10, 25} -> bin 1
    assert got["h"] == [4, 4]
    one = df.select(histogram(1, 0.0, 10.0)("arr").alias("h")).first()
    assert one["h"] == [8]
    with _pytest.raises(ValueError):
        histogram(0, 0.0, 1.0)
    with _pytest.raises(ValueError):
        histogram(4, 5.0, 5.0)


def test_cubes_from_cells_keep_their_aggregates(spark):
    """Each cube built from cells is one cell aggregate and one packing
    aggregate (oph_rollup packs its distinct cells without the first), over
    an input whose own plan holds none."""
    df = spark.createDataFrame(
        [("a", datetime.date(2020, 1, 15), [1, 2], [1.0, 2.0]),
         ("b", datetime.date(2020, 2, 3), [1], [3.0])],
        "g string, day date, __dim array<int>, __m array<double>")
    gd = Cube(df, ("g", "day"), ("t",), "v")
    dates = Cube(df.selectExpr("g", "transform(__dim, i -> date_add(day, i)) AS __dim", "__m"),
                 ("g",), ("t",), "v")
    month = concept_level("month")
    cubes = {
        "build_cube": build_cube(gd.long(), ["g"], "t", "v"),
        "aggregate": C.oph_aggregate(gd, "avg", ["day"]),
        "aggregate2": C.oph_aggregate2(gd, "sum", "day", month),
        "reduce2": C.oph_reduce2(dates, "max", month),
        "rollup": C.oph_rollup(gd, "day"),
    }

    def aggregates(cube):
        plan = cube.df._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(r"^[\s:|+-]*Aggregate \[", plan, re.M))

    assert {k: aggregates(c) for k, c in cubes.items()} == {
        "build_cube": 2, "aggregate": 2, "aggregate2": 2, "reduce2": 2, "rollup": 1}
