"""Cube window operators built from SQL text: oph_subset / oph_apply /
oph_reduce outputs, hostile request text, literal rendering, and the plan
shape each operator adds."""

import math
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ophidia_server_spark.cube import DIM_COL, MEASURE_COL, build_cube
from ophidia_server_spark.filters import compile_massive
from ophidia_server_spark.functions import primitives as prim
from ophidia_server_spark.functions.lits import double_sql
from ophidia_server_spark.operators import cube_ops as C
from ophidia_server_spark.plans.descriptors import operator_args
from ophidia_server_spark.plans.server import build_default_engine
from ophidia_server_spark.store import CubeStore, load_store, save_store
from ophidia_server_spark.subset import time_sql, values_sql


@pytest.fixture(scope="module")
def cubes(spark):
    # v = 100 g + 10 [h == y] + month: every cell names its coordinates
    rows = [(g, h, m, float(g * 100 + (h == "y") * 10 + m))
            for g in (1, 2) for h in ("x", "y") for m in range(1, 7)]
    df = spark.createDataFrame(rows, "g int, h string, month int, v double")
    tdf = df.withColumn("d", F.expr("add_months(DATE '1997-11-01', month)"))
    return {
        "base": build_cube(df, ["g", "h"], "month", F.col("v"), measure="v"),
        "strc": build_cube(df, ["g", "month"], "h", F.col("v"), measure="v"),
        "rolled": C.oph_rollup(build_cube(df, ["g", "h"], "month", F.col("v"), measure="v"), "h"),
        "timec": build_cube(tdf, ["g", "h"], "d", F.col("v"), measure="v"),
        "timex": build_cube(tdf, ["g", "d"], "h", F.col("v"), measure="v"),
    }


_INT = [["g", "int"], ["h", "string"], ["__dim", "array<int>"], ["__m", "array<double>"]]


def _rows(g_h, months):
    return [[g, h, months, [g * 100.0 + (h == "y") * 10 + m for m in months]] for g, h in g_h]


_ALL = [(1, "x"), (1, "y"), (2, "x"), (2, "y")]

# (cube, subset_dims, subset_type, offset) -> dtypes and sorted rows, as the
# Column-lambda implementation this one replaces returned them
FORMS = {
    "index_stride": (("base", {"month": "1:2:6"}, "index", 0), _INT, _rows(_ALL, [1, 3, 5])),
    "index_offset": (("base", {"month": "3"}, "index", 1), _INT, _rows(_ALL, [2, 3, 4])),
    "coord_offset": (("base", {"month": "3:4"}, "coord", 1), _INT, _rows(_ALL, [2, 3, 4, 5])),
    "multi_clause": (("base", {"month": "1:2,5:6", "g": "2"}, "coord", 0), _INT,
                     _rows([(2, "x"), (2, "y")], [1, 2, 5, 6])),
    "explicit_string": (("base", {"h": "y"}, "coord", 0), _INT,
                        _rows([(1, "y"), (2, "y")], [1, 2, 3, 4, 5, 6])),
    "implicit_string": (
        ("strc", {"h": "x,q"}, "coord", 0),
        [["g", "int"], ["month", "int"], ["__dim", "array<string>"], ["__m", "array<double>"]],
        [[g, m, ["x"], [g * 100.0 + m]] for g in (1, 2) for m in range(1, 7)]),
    "composite": (
        ("rolled", {"month": "2:3", "h": "y"}, "coord", 0),
        [["g", "int"], ["__dim", "array<struct<h:string,month:int>>"], ["__m", "array<double>"]],
        [[1, [["y", 2], ["y", 3]], [112.0, 113.0]], [2, [["y", 2], ["y", 3]], [212.0, 213.0]]]),
    "time": (
        ("timec", {"d": "1997-12_1998-01,1998-04-15"}, "time", 0),
        [["g", "int"], ["h", "string"], ["__dim", "array<date>"], ["__m", "array<double>"]],
        [[g, h, ["1997-12-01", "1998-01-01"], [g * 100.0 + (h == "y") * 10 + m for m in (1, 2)]]
         for g, h in _ALL]),
    "time_timestamp": (
        ("timec", {"d": "1997-12-01 00:00:00_1998-02-01 00:00:00,1998-04-01 00:00:00"}, "time", 0),
        [["g", "int"], ["h", "string"], ["__dim", "array<date>"], ["__m", "array<double>"]],
        [[g, h, ["1997-12-01", "1998-01-01", "1998-02-01", "1998-04-01"],
          [g * 100.0 + (h == "y") * 10 + m for m in (1, 2, 3, 5)]] for g, h in _ALL]),
    "time_timestamp_explicit": (
        ("timex", {"d": "1998-01-01 00:00:00_1998-03-01 00:00:00"}, "time", 0),
        [["g", "int"], ["d", "date"], ["__dim", "array<string>"], ["__m", "array<double>"]],
        [[g, f"1998-0{m - 1}-01", ["x", "y"], [g * 100.0 + m, g * 100.0 + 10 + m]]
         for g in (1, 2) for m in (2, 3, 4)]),
}


def _plain(v):
    if isinstance(v, Row):
        return [_plain(x) for x in v]
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v.isoformat() if hasattr(v, "isoformat") else v


@pytest.mark.parametrize("form", sorted(FORMS))
def test_subset_forms_match_the_lambda_chain_output(cubes, form):
    (name, dims, typ, off), dtypes, rows = FORMS[form]
    out = C.oph_subset(cubes[name], dims, typ, offset=off).df
    assert [list(t) for t in out.dtypes] == dtypes
    assert sorted(_plain(list(r)) for r in out.collect()) == sorted(rows)


# -- hostile request text stays data -------------------------------------------

# evaluated, the two function payloads would match every row or raise
HOSTILE = ["'", "\\", "\\'", "x' OR 'a' = 'a", "q\\') OR TRUE OR (h = \\'",
           "x') OR reflect('java.util.UUID', 'randomUUID') IS NOT NULL OR ('",
           "x') OR raise_error('evaluated') IS NULL OR ('"]


@pytest.mark.parametrize("value", HOSTILE)
def test_hostile_string_coordinates_match_nothing(cubes, value):
    for dims in ({"h": value}, {"h": "q," + value}):
        assert C.oph_subset(cubes["strc"], dims, "coord").df.count() == 0
        assert C.oph_subset(cubes["base"], dims, "coord").df.count() == 0


def test_quotes_and_backslashes_round_trip_as_literals(spark):
    names = ["o'brien", "back\\slash", "\\'", "plain"]
    df = spark.createDataFrame([(1, n, 1.0 + i) for i, n in enumerate(names)],
                               "g int, who string, v double")
    cube = build_cube(df, ["g"], "who", F.col("v"), measure="v")
    for n in names:
        (row,) = C.oph_subset(cube, {"who": n}, "coord").df.collect()
        assert row[DIM_COL] == [n]
    assert values_sql("`c`", "a'b,c\\d") == "(`c` IN ('a\\'b', 'c\\\\d'))"


@pytest.mark.parametrize("bound", [
    "1997-13", "1997-00", "1997-02-30", "97", "1997-1", "١٩٩٧", "1997-01 00:00:00",
    "1997-01-01 24:00:00", "1997-01-01 00:00", "1997-01-01T00:00:00", "1997-01-01  00:00:00",
    "1997-01-01 00:00:00' OR '1'='1", "1997') OR TRUE OR ('", "1997-01_1998' OR '1'='1",
])
def test_malformed_time_bounds_are_value_errors(cubes, bound):
    with pytest.raises(ValueError, match="time bound"):
        time_sql("d", bound)
    with pytest.raises(ValueError, match="time bound"):
        C.oph_subset(cubes["timec"], {"d": bound}, "time")


def test_timestamp_bounds_render_as_timestamp_literals():
    assert time_sql("d", "1997-03_1997-03-15 12:30:00") == (
        "((d >= DATE '1997-03-01' AND d <= TIMESTAMP '1997-03-15 12:30:00'))")


def _engine(spark, tmp_path, cube):
    store = CubeStore(spark=spark, workspace=str(tmp_path))
    pid = store.register(cube, "c")
    return build_default_engine(spark, store), store, pid


def _run_one(eng, operator, args):
    run = eng.run({"tasks": [{"name": "t", "operator": operator, "arguments": args}]})
    return run.status, run.results["t"]


@pytest.mark.parametrize("value", HOSTILE)
def test_hostile_subset_filter_over_the_engine_is_data(spark, tmp_path, cubes, value):
    eng, store, pid = _engine(spark, tmp_path, cubes["strc"])
    status, res = _run_one(eng, "oph_subset", {
        "cube": pid, "subset_dims": "h", "subset_filter": value, "subset_type": "coord"})
    assert status == "OPH_ODB_STATUS_COMPLETED", res.error
    assert store.get(res.value).df.count() == 0
    # over an int coordinate the subset task itself refuses the text
    eng, store, pid = _engine(spark, tmp_path, cubes["base"])
    status, res = _run_one(eng, "oph_subset", {
        "cube": pid, "subset_dims": "month", "subset_filter": value, "subset_type": "coord"})
    assert status != "OPH_ODB_STATUS_COMPLETED"
    assert "ValueError" in res.error and "numeric dimension 'month'" in res.error


def test_time_subset_is_refused_over_the_engine(spark, tmp_path, cubes):
    eng, _store, pid = _engine(spark, tmp_path, cubes["timec"])
    status, res = _run_one(eng, "oph_subset", {
        "cube": pid, "subset_dims": "d", "subset_filter": "1997') OR TRUE OR ('",
        "subset_type": "time"})
    assert status != "OPH_ODB_STATUS_COMPLETED"
    assert "subset_type" in (res.error or "")


# -- apply: literal rendering, non-finite parameters ---------------------------

def test_double_sql_literals():
    assert double_sql(2.0) == "2.0D" and double_sql(-0.0) == "-0.0D"
    assert double_sql(1e300) == "1e+300D"
    assert double_sql(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert double_sql("inf") == "CAST('Infinity' AS DOUBLE)"
    assert double_sql(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"


@pytest.mark.parametrize("param,check", [
    ("nan", math.isnan),
    ("inf", lambda v: v == math.inf),
    ("-inf", lambda v: v == -math.inf),
])
def test_non_finite_apply_parameters_over_the_engine(spark, tmp_path, cubes, param, check):
    eng, store, pid = _engine(spark, tmp_path, cubes["base"])
    status, res = _run_one(eng, "oph_apply", {
        "cube": pid, "query": "oph_mul_scalar", "parameters": param})
    assert status == "OPH_ODB_STATUS_COMPLETED", res.error
    vals = [v for r in store.get(res.value).df.collect() for v in r[MEASURE_COL]]
    assert len(vals) == 24 and all(map(check, vals))


def test_non_finite_primitive_parameters(cubes):
    def first(p):
        return C.oph_apply(cubes["base"], p).df.orderBy("g", "h").first()[MEASURE_COL]

    assert first(prim.clip(float("-inf"), float("inf")))[:2] == [101.0, 102.0]
    assert first(prim.clip(float("-inf"), 103.0))[2:4] == [103.0, 103.0]
    assert first(prim.mask_above(float("nan"))) == [0.0] * 6
    assert first(prim.mask_above(float("-inf"))) == [1.0] * 6
    assert all(map(math.isnan, first(prim.quantize(float("nan")))))
    assert all(map(math.isnan, first(prim.scale(1.0, float("nan")))))


# valid `parameters` of every served primitive, as a request sends them
SERVED = {
    "oph_mul_scalar": "2.0|1.0", "oph_affine": "2.0|1.0", "oph_sum_scalar": "1.0",
    "oph_moving_avg": "3", "oph_boxcar": "3", "oph_accumulate": "", "oph_deriv": "",
    "oph_gsl_fft": "", "oph_shift": "2|0.0", "oph_reverse": "", "oph_rotate": "2",
    "oph_clip": "1.0|5.0", "oph_quantize": "2.0", "oph_zscore": "", "oph_replace_nan": "0.0",
    "oph_percentile": "0.5", "oph_wavelet": "", "oph_mask": "2.0",
    "oph_get_subarray": "2|3", "oph_padding": "16|0.0", "oph_find": "1.0", "oph_gsl_sd": "",
    "oph_gsl_fit_linear": "", "oph_gsl_fit_linear_coeff": "",
    "oph_gsl_histogram": "4|0.0|1000.0", "oph_interpolate": "",
}
# refused by name: a scalar per row, or a condition that is program text
UNSERVED = {"oph_find", "oph_gsl_sd", "oph_percentile"}


def _built(name):
    if name == "oph_find":
        return prim.PRIMITIVES[name]("x > 1.0D")
    return prim.PRIMITIVES[name](*(float(v) for v in SERVED[name].split("|") if v))


@pytest.mark.parametrize("p", [prim.scale(2.0), prim.mask_above(1.0), prim.clip(0.0, 1.0),
                               prim.quantize(1.0), prim.count_nan,
                               *(_built(name) for name in sorted(SERVED))])
def test_sql_text_primitives_refuse_a_column(p):
    with pytest.raises(TypeError, match="column's name"):
        p(F.col(MEASURE_COL))


def test_every_primitive_has_served_parameters():
    assert set(SERVED) == set(prim.PRIMITIVES)


@pytest.mark.parametrize("query", sorted(SERVED))
def test_every_served_primitive_runs_or_is_refused_at_apply(spark, tmp_path, query):
    store = CubeStore(spark=spark, workspace=str(tmp_path))
    run = build_default_engine(spark, store).run({"tasks": [
        {"name": "r", "operator": "oph_randcube", "arguments": {"nrows": "3", "nvalues": "12"}},
        {"name": "a", "operator": "oph_apply", "dependencies": ["r"],
         "arguments": {"query": query, "parameters": SERVED[query]}},
        {"name": "e", "operator": "oph_explorecube", "dependencies": ["a"], "arguments": {}},
    ]})
    if query in UNSERVED:
        err = run.results["a"].error or ""
        assert "ValueError" in err and query in err
    else:
        assert run.status == "OPH_ODB_STATUS_COMPLETED", {
            n: r.error for n, r in run.results.items() if r.error}


@pytest.mark.parametrize("query", ["oph_predicate", "oph_math", "oph_find"])
def test_facade_refuses_callable_primitives_by_name(spark, tmp_path, cubes, query):
    eng, _store, pid = _engine(spark, tmp_path, cubes["base"])
    status, res = _run_one(eng, "oph_apply", {
        "cube": pid, "query": query, "parameters": "1.0|2.0|3.0"})
    assert status != "OPH_ODB_STATUS_COMPLETED"
    assert "ValueError" in res.error and query in res.error
    assert "not callable" not in res.error


# -- reduce --------------------------------------------------------------------

def test_engine_reduce_mean_is_avg(spark, tmp_path, cubes):
    eng, store, pid = _engine(spark, tmp_path, cubes["base"])
    status, res = _run_one(eng, "oph_reduce", {"cube": pid, "operation": "mean"})
    assert status == "OPH_ODB_STATUS_COMPLETED", res.error
    got = {(r.g, r.h): r[MEASURE_COL] for r in store.get(res.value).df.collect()}
    assert got == {(g, h): [g * 100.0 + (h == "y") * 10 + 3.5] for g, h in _ALL}
    assert dict(store.get(res.value).df.dtypes)[DIM_COL] == "array<int>"


# -- plan shape: one select per operator ----------------------------------------

def _nodes(df) -> dict[str, int]:
    tree = df._jdf.queryExecution().analyzed().treeString()
    counts: dict[str, int] = {}
    for line in tree.splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0]
        counts[node] = counts.get(node, 0) + 1
    return counts


def _added(before, after) -> dict[str, int]:
    a, b = _nodes(before), _nodes(after)
    return {k: b[k] - a.get(k, 0) for k in b if b[k] != a.get(k, 0)}


@pytest.mark.parametrize("dims,typ", [
    ({"month": "2:2:6"}, "index"),
    ({"month": "1:2,5:6", "g": "2", "h": "x"}, "coord"),
])
def test_subset_adds_one_project_and_one_filter(cubes, dims, typ):
    cube = cubes["base"]
    assert _added(cube.df, C.oph_subset(cube, dims, typ).df) == {"Project": 1, "Filter": 1}


def test_composite_subset_adds_one_project_and_one_filter(cubes):
    cube = cubes["rolled"]
    out = C.oph_subset(cube, {"month": "2:3", "h": "y"}, "coord")
    assert _added(cube.df, out.df) == {"Project": 1, "Filter": 1}


def test_apply_and_reduce_add_one_project(spark, tmp_path, cubes):
    cube = cubes["base"]
    for p in (prim.scale(2.0, 1.0), prim.clip(0.0, 150.0), prim.mask_above(110.0),
              prim.quantize(5.0), prim.moving_avg(2)):
        assert _added(cube.df, C.oph_apply(cube, p).df) == {"Project": 1}
    for op in C.REDUCE_OPS:
        assert _added(cube.df, C.oph_reduce(cube, op)) == {"Project": 1}
    store = CubeStore(spark=spark, workspace=str(tmp_path))
    pid = store.register(cube, "c")
    out = build_default_engine(spark, store).operators["oph_reduce"](
        None, operator_args("oph_reduce", {"cube": pid, "operation": "avg"}), {})
    assert _added(cube.df, store.get(out).df) == {"Project": 1}


# -- live-store container ids ------------------------------------------------------

def test_container_pid_selects_exactly_that_containers_cubes(spark, cubes, tmp_path):
    st = CubeStore(spark=spark, workspace=str(tmp_path))
    st.createcontainer("empty")
    pids = {c: [st.register(cubes["base"], c) for _ in range(n)]
            for c, n in (("cA", 2), ("cB", 3), ("cC", 1))}
    assert st.containers == {"empty": 1, "cA": 2, "cB": 3, "cC": 4}

    def selected(container):
        pid = f"{st.base_url}/{st.containers[container]}"
        return compile_massive(st.as_catalog(), f"[container_pid={pid}]")

    for c, ps in pids.items():
        assert selected(c) == sorted(st.entries[p].cube_id for p in ps)
    assert selected("empty") == []
    # ids are stable: deleting a container renumbers nothing, a new one
    # takes a fresh id, and a saved store reloads with the same ids
    st.deletecontainer("cA")
    st.register(cubes["base"], "cD")
    assert st.containers["cB"] == 3 and st.containers["cD"] == 5
    assert selected("cB") == sorted(st.entries[p].cube_id for p in pids["cB"])
    st2 = CubeStore(spark=spark, workspace=str(tmp_path))
    st2.createcontainer("cEmpty")
    st2.register(cubes["base"], "cZ", materialize=True)
    st2.register(cubes["base"], "cGone", materialize=True)
    st2.deletecontainer("cGone")
    save_store(st2, str(tmp_path / "catalog"))
    st2.register(cubes["base"], "cY")
    loaded = load_store(spark, str(tmp_path / "catalog"), str(tmp_path))
    # the ids of empty and emptied containers survive too, so none is reused
    assert loaded.containers == {"cEmpty": 1, "cZ": 2, "cGone": 3}
    assert loaded.container_id("cNew") == 4


def test_catalog_without_container_ids_loads(spark, cubes, tmp_path):
    # a catalog saved before container ids were kept has no `containers`
    # table: ids are assigned to its entries' containers on load
    st = CubeStore(spark=spark, workspace=str(tmp_path))
    for c in ("cA", "cB", "cA"):
        st.register(cubes["base"], c, materialize=True)
    save_store(st, str(tmp_path / "catalog"))
    shutil.rmtree(tmp_path / "catalog" / "containers")
    loaded = load_store(spark, str(tmp_path / "catalog"), str(tmp_path))
    assert loaded.containers == {"cA": 1, "cB": 2}
    got = compile_massive(loaded.as_catalog(), f"[container_pid={loaded.base_url}/1]")
    assert got == sorted(e.cube_id for e in loaded.entries.values() if e.container == "cA")
