"""Array kernels and the array-building cube operators against recorded
outputs: values and dtypes of every primitive, and of oph_intercube,
oph_intercube_corr, oph_permute, oph_mergecubes_n and randcube, over arrays
that are null, empty, one element long, or hold a null or a NaN, with int,
double and decimal elements. `kernel_goldens.json` was recorded from the
Python-lambda implementation that the SQL text replaced (`record`). The
cubes built from cells (build_cube, oph_aggregate, oph_aggregate2,
oph_reduce2, oph_rollup, oph_drilldown, oph_concat) were recorded from their
hand-written groupBy plans, before `cube.pack` replaced them."""

import copy
import decimal
import json
import math
import os

from dataclasses import replace

import pytest
from pyspark.sql import Row

from ophidia_server_spark.cube import AGG_FNS, DIM_COL, MEASURE_COL, Cube, build_cube, randcube
from ophidia_server_spark.functions import primitives as prim
from ophidia_server_spark.functions.hierarchy import concept_level
from ophidia_server_spark.operators import cube_ops as C
from ophidia_server_spark.operators import io_ops as IO

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "kernel_goldens.json")

_NAN = float("nan")
_D = decimal.Decimal
ARRAYS = [
    # k, int elements, double elements, decimal elements
    (0, None, None, None),
    (1, [], [], []),
    (2, [7], [7.5], [_D("7.25")]),
    (3, [1, None, 3], [1.0, None, 3.0], [_D("1.10"), None, _D("3.30")]),
    (4, [2, 2, 2], [1.0, _NAN, 3.0], [_D("2.00"), _D("2.00"), _D("2.00")]),
    (5, [3, 1, 4, 1, 5, 9, 2, 6], [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, -2.0, 6.0],
     [_D("3.10"), _D("1.20"), _D("-4.00"), _D("1.50"), _D("5.55")]),
]
ARRAYS_SCHEMA = "k int, ai array<int>, ad array<double>, ac array<decimal(10,2)>"

# case id -> (primitive factory, parameters); integer parameters are ints
PRIMS = {
    "scale": ("scale", (2.0, 1.0)),
    "mask_above": ("mask_above", (2.5,)),
    "clip": ("clip", (1.5, 4.0)),
    "quantize": ("quantize", (2.0,)),
    "moving_avg_3": ("moving_avg", (3,)),
    "moving_avg_1": ("moving_avg", (1,)),
    "boxcar_2": ("boxcar", (2,)),
    "cumsum": ("cumsum", ()),
    "delta": ("delta", ()),
    "shift_2": ("shift", (2, -1.0)),
    "shift_left": ("shift", (-1, 0.0)),
    "shift_past_end": ("shift", (10, 5.0)),
    "rotate_3": ("rotate", (3,)),
    "rotate_left": ("rotate", (-1,)),
    "reverse": ("reverse_array", ()),
    "zscore": ("zscore", ()),
    "haar": ("haar_step", ()),
    "replace_nan": ("replace_nan", (-1.0,)),
    "percentile_50": ("percentile", (0.5,)),
    "percentile_25": ("percentile", (0.25,)),
    "percentile_0": ("percentile", (0.0,)),
    "percentile_100": ("percentile", (1.0,)),
    "get_subarray": ("get_subarray", (2, 3)),
    "get_subarray_empty": ("get_subarray", (1, 0)),
    "padding_6": ("padding", (6, -1.0)),
    "padding_short": ("padding", (2,)),
    "fit_linear": ("fit_linear", ()),
    "fit_linear_coeff": ("fit_linear_coeff", ()),
    "histogram_3": ("histogram", (3, 1.0, 7.0)),
    "histogram_1": ("histogram", (1, 0.0, 10.0)),
    "find_count": ("find_count", ("CAST(x AS DOUBLE) > 2.5D",)),
    "sd": ("sd", ()),
    "interpolate": ("interpolate_nan", ()),
    "fft": ("fft_magnitude", ()),
}
# primitives that are not factories
DIRECT = {"count_nan": "count_nan"}
# the numpy kernels' goldens start at row k = 2, recorded when a null or an
# empty array failed their job; test_numpy_kernels_keep_null_and_empty_rows
# pins those two rows
NUMPY = {"interpolate", "fft"}


def plain(v):
    """JSON-exact form of a collected value: floats keep their repr, NaN and
    the infinities become strings, decimals keep their text."""
    if isinstance(v, (Row, list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, float) and not math.isfinite(v):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return "Decimal:" + str(v)
    return v.isoformat() if hasattr(v, "isoformat") else v


def output(df, order):
    """Column types and ordered rows of df, or the failure."""
    try:
        rows = [plain(list(r)) for r in (df.orderBy(*order) if order else df).collect()]
    except Exception as e:  # a kernel that fails must still fail
        return {"error": type(e).__name__}
    return {"dtypes": [list(t) for t in df.dtypes], "rows": rows}


def arrays_df(spark):
    return spark.createDataFrame(ARRAYS, ARRAYS_SCHEMA)


def prim_output(spark, p, col, min_k=0):
    df = arrays_df(spark).filter(f"k >= {min_k}")
    return output(df.select("k", p("a" + col).alias("o")), ["k"])


def cubes(spark):
    """Measure cubes A (3 rows) and B (row b lacks t=3, row c is absent) per
    element type; `nd` carries a null and a NaN cell."""
    a = [("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 4.0), ("b", 1, 10.0),
         ("b", 2, 30.0), ("b", 3, 20.0), ("c", 1, 5.0), ("c", 2, 5.0), ("c", 3, 5.0)]
    b = [("a", 1, 2.0), ("a", 2, 3.0), ("a", 3, 8.0), ("b", 1, 4.0), ("b", 2, -1.0)]
    nd = [("a", 1, None), ("a", 2, _NAN), ("a", 3, 1.0), ("b", 1, 2.0), ("b", 2, 3.0)]
    out = {}
    for typ in ("int", "double", "decimal(10,2)"):
        def cube(rows):
            df = spark.createDataFrame(rows, "g string, t int, v double")
            return build_cube(df.selectExpr("g", "t", f"CAST(v AS {typ}) AS v"),
                              ["g"], "t", "v", measure="v")
        out[typ] = (cube(a), cube(b))
    out["nd"] = (out["double"][0], build_cube(
        spark.createDataFrame(nd, "g string, t int, v double"), ["g"], "t", "v", measure="v"))
    return out


# cells per element type, the `nd` ones with a null and a NaN cell: `dup`
# repeats (g, t) pairs; `day` has date coordinates; `gd` has the explicit
# dims (g, day). Every (g, t) group of `gd` holds at most two cells, so the
# var and std of oph_aggregate are exact whatever order the partials merge in
CELLS = {
    "dup": ("g string, t int, v double", [
        ("a", 1, 1.0), ("a", 1, 2.5), ("a", 2, 3.0), ("b", 1, 4.0), ("b", 1, -1.5),
        ("b", 3, 0.5)]),
    "day": ("g string, t string, v double", [
        ("a", "2020-01-15", 1.0), ("a", "2020-01-20", 2.5), ("a", "2020-02-03", 4.0),
        ("a", "2020-03-01", 8.0), ("a", "2020-12-05", 16.0), ("b", "2020-02-28", 3.0),
        ("b", "2020-06-10", 5.5), ("b", "2021-01-01", 7.0)]),
    "gd": ("g string, day string, t int, v double", [
        ("a", "2020-01-15", 1, 1.5), ("a", "2020-01-15", 2, 2.0), ("a", "2020-02-03", 1, 4.0),
        ("a", "2020-02-03", 2, 8.0), ("b", "2020-01-15", 1, 6.0), ("b", "2020-01-20", 1, 3.0),
        ("b", "2020-01-20", 2, 5.0)]),
}
ND_CELLS = {  # shape -> (row index, value) overrides
    "dup": {0: None, 2: _NAN},
    "day": {1: None, 6: _NAN},
    "gd": {2: None, 5: _NAN},
}
NEW_DATA = [("a", 4, 3.5), ("d", 1, 7.0), ("d", 2, -2.0)]  # overlapping key a, new key d


def cells_df(spark, shape, typ):
    """The `shape` cells with v cast to `typ` (`nd`: double, with its null
    and NaN) and date strings cast to dates."""
    schema, rows = CELLS[shape]
    if typ == "nd":
        nd = ND_CELLS[shape]
        rows = [(*r[:-1], nd[i]) if i in nd else r for i, r in enumerate(rows)]
        typ = "double"
    df = spark.createDataFrame(rows, schema)
    date = {"day": "t", "gd": "day"}.get(shape)
    return df.selectExpr(*(f"CAST({c} AS DATE) AS {c}" if c == date else c
                           for c in df.columns[:-1]), f"CAST(v AS {typ}) AS v")


def cube_output(cube):
    return output(cube.df, list(cube.explicit_dims))


def cube_cases(spark):
    """case id -> zero-argument builder of the operator's output."""
    cs = cubes(spark)
    cases = {}
    for typ, (a, b) in cs.items():
        for op in ("sum", "sub", "mul", "div", "abs", "max", "min"):
            cases[f"intercube_{op}_{typ}"] = lambda a=a, b=b, op=op: cube_output(
                C.oph_intercube(a, b, op, "o"))
        cases[f"intercube_corr_{typ}"] = lambda a=a, b=b: output(
            C.oph_intercube_corr(a, b, "r"), ["g"])
        cases[f"permute_{typ}"] = lambda a=a: cube_output(
            C.oph_permute(C.oph_rollup(a, "g"), ["t", "g"]))
        cases[f"mergecubes_n_{typ}"] = lambda a=a, b=b: cube_output(
            C.oph_mergecubes_n([a, b, a]))
    for typ in cs:
        def cube(shape, dims, t, typ=typ):
            return build_cube(cells_df(spark, shape, typ), dims, t, "v", measure="v")
        base = cs[typ][1] if typ == "nd" else cs[typ][0]
        cases[f"build_cube_dup_{typ}"] = lambda cube=cube: cube_output(cube("dup", ["g"], "t"))
        for op in AGG_FNS:
            cases[f"aggregate_{op}_{typ}"] = lambda cube=cube, op=op: cube_output(
                C.oph_aggregate(cube("gd", ["g", "day"], "t"), op, ["day"]))
        cases[f"aggregate_all_sum_{typ}"] = lambda cube=cube: cube_output(
            C.oph_aggregate(cube("gd", ["g", "day"], "t"), "sum", ["g", "day"]))
        cases[f"aggregate2_month_{typ}"] = lambda cube=cube: cube_output(
            C.oph_aggregate2(cube("gd", ["g", "day"], "t"), "avg", "day", concept_level("month")))
        for level, op in (("month", "avg"), ("season", "sum")):
            cases[f"reduce2_{level}_{typ}"] = lambda cube=cube, level=level, op=op: cube_output(
                C.oph_reduce2(cube("day", ["g"], "t"), op, concept_level(level)))
        cases[f"rollup_{typ}"] = lambda cube=cube: cube_output(
            C.oph_rollup(cube("gd", ["g", "day"], "t"), "day"))
        cases[f"drilldown_rolled_{typ}"] = lambda cube=cube: output(
            C.oph_drilldown(C.oph_rollup(cube("gd", ["g", "day"], "t"), "day")),
            ["g", "day", "t"])
        cases[f"concat_{typ}"] = lambda base=base, typ=typ: cube_output(IO.oph_concat(
            base, spark.createDataFrame(NEW_DATA, "g string, t int, v double").selectExpr(
                "g", "t", f"CAST(v AS {'double' if typ == 'nd' else typ}) AS v"), "t", "v"))
    cases["mergecubes_n_mixed"] = lambda: cube_output(
        C.oph_mergecubes_n([cs["int"][0], cs["double"][1], cs["decimal(10,2)"][0]]))
    for n, m in ((3, 5), (2, 1)):
        cases[f"randcube_{n}x{m}"] = lambda n=n, m=m: cube_output(randcube(spark, n, m))
    return cases


def record(spark, find_count_cond):
    """The goldens of this module's cases from the package on sys.path;
    `find_count_cond` is the find_count condition in that package's form."""
    golden = {}
    for case, (fn, params) in {**PRIMS, **{k: (v, None) for k, v in DIRECT.items()}}.items():
        if params is None:
            p = getattr(prim, fn)
        else:
            p = getattr(prim, fn)(*(params if fn != "find_count" else (find_count_cond,)))
        for col in ("i", "d", "c"):
            golden[f"{case}/{col}"] = prim_output(spark, p, col, 2 * (case in NUMPY))
    for case, build in cube_cases(spark).items():
        golden[case] = build()
    return golden


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def _prim(case):
    if case in DIRECT:
        return getattr(prim, DIRECT[case])
    fn, params = PRIMS[case]
    return getattr(prim, fn)(*params)


@pytest.mark.parametrize("col", ["i", "d", "c"])
@pytest.mark.parametrize("case", sorted({*PRIMS, *DIRECT}))
def test_primitive_matches_golden(spark, golden, case, col):
    assert prim_output(spark, _prim(case), col, 2 * (case in NUMPY)) == golden[f"{case}/{col}"]


@pytest.mark.parametrize("case", sorted(k for k, (_, ps) in PRIMS.items()
                                        if any(type(p) is int for p in ps)))
def test_integral_float_parameters_match_ints(spark, golden, case):
    fn, params = PRIMS[case]
    p = getattr(prim, fn)(*(float(v) for v in params))
    for col in ("i", "d", "c"):
        assert prim_output(spark, p, col) == golden[f"{case}/{col}"]


@pytest.mark.parametrize("fn,params", [
    ("moving_avg", (2.5,)), ("shift", (math.nan,)), ("rotate", (math.inf,)),
    ("get_subarray", (1, -math.inf)), ("padding", (3.5,)), ("histogram", (2.5, 0.0, 1.0)),
])
def test_non_integral_integer_parameters_are_value_errors(fn, params):
    with pytest.raises(ValueError, match="integer"):
        getattr(prim, fn)(*params)


@pytest.mark.parametrize("name", ["x", "i", "y", "j", "acc", "I"])
def test_array_named_like_a_lambda_variable_is_refused(name):
    # inside the kernel's lambda body the variable would shadow the column
    with pytest.raises(ValueError, match="lambda variable"):
        prim.cumsum()(name)


def test_cube_operators_match_golden(spark, golden):
    got = {case: build() for case, build in cube_cases(spark).items()}
    assert got == {case: golden[case] for case in got}


@pytest.mark.parametrize("col", ["i", "d", "c"])
@pytest.mark.parametrize("case", sorted(NUMPY))
def test_numpy_kernels_keep_null_and_empty_rows(spark, golden, case, col):
    # a null array gives null and an empty one [], as the SQL-text kernels
    # do; the job runs on and the other rows are the recorded ones
    cube = Cube(arrays_df(spark).selectExpr(
        "k", f"transform(a{col}, (x, i) -> i + 1) AS {DIM_COL}", f"a{col} AS {MEASURE_COL}"),
        ("k",), ("t",))
    out = output(C.oph_apply(cube, _prim(case)).df.select("k", MEASURE_COL), ["k"])
    assert out["rows"] == [[0, None], [1, []]] + golden[f"{case}/{col}"]["rows"]


@pytest.mark.parametrize("typ", ["int", "double", "decimal(10,2)"])
def test_intercube_div_by_zero_is_a_null_cell(spark, golden, typ):
    a, b = cubes(spark)[typ]
    zero = b.df.selectExpr("g", DIM_COL, f"CASE WHEN g = 'a' THEN transform({MEASURE_COL}, "
                           f"(x, i) -> IF(i = 1, CAST(0 AS {typ}), x)) ELSE {MEASURE_COL} END "
                           f"AS {MEASURE_COL}")
    want = copy.deepcopy(golden[f"intercube_div_{typ}"])
    want["rows"][0][2][1] = None  # row a, t = 2: the zero divisor
    assert cube_output(C.oph_intercube(a, replace(b, df=zero), "div", "o")) == want


_HOFS = {"transform", "filter", "aggregate", "zip_with", "exists", "forall", "array_sort"}
# the binary oph_mergecubes keeps its Column lambdas: it is the independent
# reference that test_mergecubes_n_ary compares the SQL-text n-ary form with
_LAMBDA_OWNERS = {("operators/cube_ops.py", "oph_mergecubes")}


def _calls(path, names, with_lambda=False):
    """Top-level def of every call in `path` to a function named in `names`
    (only those passed a Python lambda when `with_lambda`)."""
    import ast

    found = set()
    for top in ast.parse(open(path).read(), path).body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                args = [*node.args, *(k.value for k in node.keywords)]
                if name in names and (
                        not with_lambda or any(isinstance(a, ast.Lambda) for a in args)):
                    found.add(getattr(top, "name", "<module>"))
    return found


PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "ophidia_server_spark")


def test_array_kernels_pass_no_python_lambda_to_spark():
    """Array kernels are SQL text: no Python lambda reaches a Spark
    higher-order function in the kernel modules."""
    found = {(rel, owner)
             for rel in ("functions/primitives.py", "operators/cube_ops.py",
                         "operators/io_ops.py", "cube.py")
             for owner in _calls(os.path.join(PKG, rel), _HOFS, with_lambda=True)}
    assert found - _LAMBDA_OWNERS == set()
    assert found == _LAMBDA_OWNERS  # the scan still sees the one exception


def test_cubes_are_packed_only_by_pack():
    """cube.pack is the one builder of a cube from cells: no other code of the
    cube modules collects cells into arrays."""
    found = {(rel, owner)
             for rel in ("cube.py", "operators/cube_ops.py", "operators/io_ops.py")
             for owner in _calls(os.path.join(PKG, rel), {"collect_list"})}
    assert found == {("cube.py", "pack")}  # and the scan still sees pack's
