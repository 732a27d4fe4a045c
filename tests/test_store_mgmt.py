"""CubeStore lifecycle + management shims (golden behavior tests)."""

import ast
import gc
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from ophidia_server_spark.cube import DIM_COL, MEASURE_COL, build_cube
from ophidia_server_spark.filters import compile_massive
from ophidia_server_spark.management import ManagementService, operators_list
from ophidia_server_spark.operators.cube_ops import REDUCE_OPS, oph_reduce
from ophidia_server_spark.store import CubeStore


def _qty_cube(tables):
    li = tables["lineitem"].withColumn("month", F.month("l_shipdate"))
    return build_cube(
        li, ["l_returnflag", "l_linestatus"], "month",
        F.col("l_quantity").cast("decimal(18,2)"), measure="qty",
    )


@pytest.fixture()
def store(spark, tables, tmp_path):
    st = CubeStore(spark=spark, workspace=str(tmp_path))
    st.createcontainer("c1", "/exp")
    pid = st.register(_qty_cube(tables), "c1", path="/exp", materialize=True)
    return st, pid


def test_register_and_get(store):
    st, pid = store
    cube = st.get(pid)
    assert cube.explicit_dims == ("l_returnflag", "l_linestatus")
    assert cube.df.count() == 6


def test_cubeschema(store):
    st, pid = store
    s = st.cubeschema(pid)
    assert s["measure"] == "qty"
    assert s["explicit_dims"] == ["l_returnflag", "l_linestatus"]
    assert s["implicit_dims"] == ["month"]


def test_cubeelements_and_size(store):
    st, pid = store
    assert st.cubeelements(pid) == 72  # 6 groups x 12 months
    assert st.cubesize(pid) > 0


def test_duplicate_lineage_and_cubeio(store):
    st, pid = store
    dup = st.duplicate(pid)
    assert st.cubeelements(dup) == st.cubeelements(pid)
    g = st.cubeio(dup)
    assert st.entries[pid].cube_id in g["nodes"]
    assert any(e["task"] == "duplicate" for e in g["edges"])


def test_metadata_crud(store):
    st, pid = store
    st.metadata_put(pid, "units", "kg")
    assert st.metadata_get(pid, "units") == "kg"
    st.metadata_delete(pid, "units")
    assert st.metadata_get(pid, "units") is None


def test_delete_and_deletecontainer(store):
    st, pid = store
    storage = st.entries[pid].storage
    dup = st.duplicate(pid)
    assert st.deletecontainer("c1") == 2
    assert not st.entries
    assert not os.path.isdir(storage)


def test_list_levels(store):
    st, pid = store
    l0 = st.list(level=0)
    assert any(d["type"] == "folder" for d in l0)
    l2 = st.list(level=2)
    assert any(d["type"] == "cube" and d["pid"] == pid for d in l2)


def test_explorecube_limit(store):
    st, pid = store
    assert st.explorecube(pid, limit=5).count() == 5


def test_store_catalog_feeds_massive_filter(store):
    st, pid = store
    st.metadata_put(pid, "experiment", "exp42")
    cat = st.as_catalog()
    got = compile_massive(cat, "[experiment=exp42]")
    assert got == [st.entries[pid].cube_id]


def _virtual_store(spark, tmp_path, n=6):
    from ophidia_server_spark.cube import randcube

    st = CubeStore(spark=spark, workspace=str(tmp_path))
    shape = randcube(spark, 3, 4)
    pids = [st.register(shape, f"c{i % 2}") for i in range(n)]
    return st, pids


def test_massive_cubeschema_over_store_launches_no_spark_job(spark, tmp_path):
    # the live store's catalog is evaluated in the driver: expanding the
    # massive argument and describing virtual cubes runs no Spark job
    from ophidia_server_spark.plans.server import build_default_engine

    st, pids = _virtual_store(spark, tmp_path)
    eng = build_default_engine(spark, st)
    sc = spark.sparkContext
    group = "massive-cubeschema-no-job"
    sc.setJobGroup(group, group)
    try:
        run = eng.run({"tasks": [{
            "name": "schema", "operator": "oph_cubeschema",
            "arguments": {"cube": "[container=c0]"},
        }]})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    res = run.results["schema"]
    assert res.status == "OPH_ODB_STATUS_COMPLETED"
    assert [v["pid"] for v in res.value] == pids[0::2]
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _window_workflow(pid):
    return {"tasks": [
        {"name": "sub", "operator": "oph_subset", "arguments": {
            "cube": pid, "subset_dims": "month", "subset_filter": "3:9",
            "subset_type": "coord"}},
        {"name": "apply", "operator": "oph_apply", "dependencies": ["sub"],
         "arguments": {"query": "oph_mul_scalar", "parameters": "2.0"}},
        {"name": "reduce", "operator": "oph_reduce", "dependencies": ["apply"],
         "arguments": {"operation": "avg"}},
        {"name": "explore", "operator": "oph_explorecube",
         "dependencies": ["reduce"], "arguments": {"limit": "50"}},
    ]}


def test_window_request_over_materialized_cube_runs_one_spark_job(store, spark):
    # subset -> apply -> reduce -> explore over a materialized cube is one
    # scan-and-project job once the cube has been read: reduce packs each
    # row in place (no shuffle) and the store reuses its read of the files
    from ophidia_server_spark.plans.server import build_default_engine

    st, pid = store
    eng = build_default_engine(spark, st)
    warm = eng.run(_window_workflow(pid))  # first fetch reads the parquet
    assert warm.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in warm.results.items()
    }
    sc = spark.sparkContext
    group = "window-request-one-job"
    sc.setJobGroup(group, group)
    try:
        run = eng.run(_window_workflow(pid))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert run.status == "OPH_ODB_STATUS_COMPLETED"
    grid = {k: v for k, v in run.results["explore"].value.items() if k != "title"}
    assert grid == {k: v for k, v in warm.results["explore"].value.items() if k != "title"}
    assert len(grid["rowvalues"]) == 6 and grid["colvalues"] == [0]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


@pytest.mark.parametrize("operation", sorted(REDUCE_OPS))
def test_facade_reduce_packs_each_row_in_place(store, spark, operation):
    # the facade's oph_reduce wraps each row's reduced scalar as a length-1
    # cube over implicit dim `__r` = [0], keeping the row and the metadata
    from ophidia_server_spark.plans.descriptors import operator_args
    from ophidia_server_spark.plans.server import build_default_engine

    st, pid = store
    cube = st.get(pid)
    op = build_default_engine(spark, st).operators["oph_reduce"]
    out_pid = op(None, operator_args("oph_reduce", {"cube": pid, "operation": operation}), {})
    out = st.get(out_pid)
    keys = list(cube.explicit_dims)
    kernel = oph_reduce(cube, operation)
    want = {tuple(r[k] for k in keys): r[kernel.columns[-1]] for r in kernel.collect()}
    rows = out.df.collect()
    assert len(rows) == len(want) == cube.df.count()
    for r in rows:
        assert r[DIM_COL] == [0]
        assert r[MEASURE_COL] == [want[tuple(r[k] for k in keys)]]
    mtype = "array<bigint>" if operation == "count" else "array<double>"
    assert dict(out.df.dtypes)[MEASURE_COL] == mtype
    assert out.explicit_dims == cube.explicit_dims
    assert out.implicit_dims == ("__r",)
    assert out.measure == cube.measure == "qty"
    assert out.level == st.entries[out_pid].level == 0
    assert (st.entries[out_pid].cube_id, "reduce", st.entries[pid].cube_id) in st.lineage


def test_materialized_cube_is_read_once(store, spark, tables, tmp_path):
    from ophidia_server_spark.store import load_store, save_store

    st, pid = store
    assert st.get(pid).df is st.get(pid).df
    schema = st.cubeschema(pid)
    assert schema["measure_type"] == "array<decimal(28,2)>"
    assert schema["implicit_dims"] == ["month"]
    grid = st.explorecube_response(pid, limit=3)
    assert len(grid["rowvalues"]) == 3 and len(grid["measurevalues"][0]) == 12
    li = tables["lineitem"].withColumn("month", F.month("l_shipdate"))
    bucketed = st.register_bucketed(
        build_cube(li, ["l_returnflag"], "month", "l_quantity", measure="qty"),
        "cb", n_buckets=2)
    try:
        assert st.get(bucketed).df is st.get(bucketed).df
        assert st.get(bucketed).df.count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS cube_b_%d" % st.entries[bucketed].cube_id)
    # a save/load round trip reads the cube afresh from its files, once
    cat_path = str(tmp_path / "catalog")
    save_store(st, cat_path)
    st2 = load_store(spark, cat_path, workspace=st.workspace)
    assert st2.get(pid).df is st2.get(pid).df
    assert st2.get(pid).df is not st.get(pid).df
    assert st2.get(pid).df.count() == 6
    st.delete(pid)
    with pytest.raises(KeyError):
        st.get(pid)


def _cached(df):
    return df.storageLevel != StorageLevel.NONE


def _tier_bytes(st):
    return sum(size for size, _ in st._tier.values())


def _plan_nodes(plan):
    """Node names of a physical plan, not descending into a cached
    relation's own plan (InMemoryTableScan has no children)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


def test_delete_and_deletecontainer_unpersist_the_cube(store):
    st, pid = store
    df = st.get(pid).df
    assert _cached(df) and list(st._tier) == [pid]
    other = st.register(st.get(pid), "c2", materialize=True)
    other_df = st.get(other).df
    st.delete(pid)
    assert not _cached(df) and list(st._tier) == [other]
    assert st.deletecontainer("c2") == 1
    assert not _cached(other_df) and not st._tier


def test_tier_evicts_least_recently_fetched_within_budget(spark, tables, tmp_path,
                                                          monkeypatch):
    from ophidia_server_spark import store as store_mod

    st = CubeStore(spark=spark, workspace=str(tmp_path))
    cube = _qty_cube(tables)
    pids = [st.register(cube, "c", materialize=True) for _ in range(3)]
    sizes = [st.cubesize(p) for p in pids]
    budget = sum(sizes) - 1  # any two cubes fit, all three do not
    monkeypatch.setattr(store_mod, "CUBE_CACHE_BUDGET_BYTES", budget)
    dfs = {}
    for p in pids[:2]:
        dfs[p] = st.get(p).df
        assert _tier_bytes(st) <= budget
    st.get(pids[0])  # pids[1] is now the least recently fetched
    dfs[pids[2]] = st.get(pids[2]).df
    assert list(st._tier) == [pids[0], pids[2]]
    assert _tier_bytes(st) == sizes[0] + sizes[2] <= budget
    assert not _cached(dfs[pids[1]])
    assert _cached(dfs[pids[0]]) and _cached(dfs[pids[2]])
    # an evicted cube is read back in on its next fetch, evicting in turn
    again = st.get(pids[1]).df
    assert again is not dfs[pids[1]] and _cached(again)
    assert list(st._tier) == [pids[2], pids[1]] and not _cached(dfs[pids[0]])
    assert _tier_bytes(st) <= budget
    # a cube larger than the whole budget is read but not cached
    monkeypatch.setattr(store_mod, "CUBE_CACHE_BUDGET_BYTES", min(sizes) - 1)
    big = st.register(cube, "c", materialize=True)
    big_df = st.get(big).df
    assert big not in st._tier and not _cached(big_df)
    assert big_df.count() == 6


def test_racing_first_fetches_cache_the_cube_once(store):
    # more threads than cores and a short switch interval: a first fetch
    # outside the lock would cache the cube twice or count its bytes twice
    st, pid = store
    workers = 2 * (os.cpu_count() or 2)
    barrier = threading.Barrier(workers, timeout=60)

    def fetch(_):
        barrier.wait()
        return st.get(pid).df

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(workers) as pool:
            futures = [pool.submit(fetch, i) for i in range(workers)]
            dfs = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(df is dfs[0] for df in dfs) and _cached(dfs[0])
    assert list(st._tier) == [pid] and _tier_bytes(st) == st.cubesize(pid)


def test_fetch_keeps_its_frame_when_evicted_after_the_lock(spark, tables, tmp_path,
                                                           monkeypatch):
    # room for one cube: a fetch of the other one, run the moment a fetch
    # releases the store's lock, evicts the cube that fetch is returning
    from ophidia_server_spark import store as store_mod

    st = CubeStore(spark=spark, workspace=str(tmp_path))
    cube = _qty_cube(tables)
    pids = [st.register(cube, "c", materialize=True) for _ in range(2)]
    monkeypatch.setattr(store_mod, "CUBE_CACHE_BUDGET_BYTES", max(map(st.cubesize, pids)))

    class EvictOnRelease:
        lock, armed = threading.Lock(), False

        def __enter__(self):
            self.lock.acquire()

        def __exit__(self, *exc):
            self.lock.release()
            if self.armed:
                self.armed = False
                st.get(pids[1])

    st._lock = EvictOnRelease()
    st.get(pids[0])
    st._lock.armed = True
    got = st.get(pids[0])
    assert list(st._tier) == [pids[1]] and st.entries[pids[0]].df is None
    assert got.df is not None and got.df.count() == 6


def test_dropped_store_releases_its_cubes(spark, tables, tmp_path):
    st = CubeStore(spark=spark, workspace=str(tmp_path))
    pid = st.register(_qty_cube(tables), "c", materialize=True)
    df = st.get(pid).df
    assert _cached(df)
    del st
    gc.collect()
    assert not _cached(df)


def test_window_request_caches_only_the_materialized_cube(store, spark):
    from ophidia_server_spark.plans.server import build_default_engine

    st, pid = store
    eng = build_default_engine(spark, st)
    cold = eng.run(_window_workflow(pid))
    assert cold.status == "OPH_ODB_STATUS_COMPLETED"
    assert list(st._tier) == [pid] and _cached(st.get(pid).df)
    for name in ("sub", "apply", "reduce"):
        virtual = cold.results[name].value
        assert st.entries[virtual].cube is not None
        assert not _cached(st.get(virtual).df)
    warm = eng.run(_window_workflow(pid))
    assert warm.status == "OPH_ODB_STATUS_COMPLETED"
    reduced = st.get(warm.results["reduce"].value).df
    nodes = _plan_nodes(reduced._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScan" in nodes, nodes
    assert not [n for n in nodes if n.startswith("Scan ")], nodes
    assert list(st._tier) == [pid]


def test_bucketed_cube_delete_and_cubesize_use_its_files(store, spark, tables):
    st, _pid = store
    li = tables["lineitem"].withColumn("month", F.month("l_shipdate"))
    pid = st.register_bucketed(
        build_cube(li, ["l_returnflag"], "month", "l_quantity", measure="qty"),
        "cb", n_buckets=2)
    table = st.entries[pid].storage[len("table:"):]
    files = os.path.join(st.workspace, table)
    on_disk = sum(os.path.getsize(os.path.join(dp, f))
                  for dp, _, fs in os.walk(files) for f in fs)
    assert st.cubesize(pid) == on_disk > st.cubeelements(pid) * 8
    assert pid not in st._tier  # bucketed cubes are read, not cached
    st.delete(pid)
    assert not spark.catalog.tableExists(table)
    assert not os.path.exists(files)


def test_store_reads_no_environment_variable():
    # the cache budget is a constant: the store has no env knob
    from ophidia_server_spark import store as store_mod

    tree = ast.parse(open(store_mod.__file__).read())
    os_attrs = [n.attr for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
                and n.value.id == "os"]
    assert "path" in os_attrs  # the scan sees the module's os calls
    assert not {"environ", "environb", "getenv", "getenvb"} & set(os_attrs)
    from_os = [a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
               and n.module == "os" for a in n.names]
    assert from_os == []


@pytest.mark.parametrize("max_workers", [1, 2])
def test_massive_unknown_explicit_pid_is_named_error(spark, tmp_path, max_workers):
    # an explicit PID the store does not hold fails by name, on the serial
    # path and on the concurrent-wave pool path alike
    from ophidia_server_spark.plans.server import build_default_engine
    from ophidia_server_spark.plans.workflow import WorkflowError

    st, pids = _virtual_store(spark, tmp_path, n=2)
    eng = build_default_engine(spark, st)
    wf = {"tasks": [
        {"name": "massive", "operator": "oph_cubeschema",
         "arguments": {"cube": "[container=c0]|http://spark-engine/c0/999"}},
        {"name": "single", "operator": "oph_cubeschema",
         "arguments": {"cube": pids[1]}},
    ]}
    with pytest.raises(WorkflowError, match="unknown cube 999"):
        eng.run(wf, max_workers=max_workers)


def test_pid_map_follows_the_entries(spark, tmp_path):
    # the PID resolver's cube id -> PID map agrees with a scan of the
    # entries after every kind of change to them
    from ophidia_server_spark.plans.server import build_default_engine
    from ophidia_server_spark.store import load_store, save_store

    def scan(st):
        return {e.cube_id: pid for pid, e in st.entries.items()}

    st, pids = _virtual_store(spark, tmp_path)
    assert st.by_id == scan(st) and len(st.by_id) == 6
    st.delete(pids[0])
    assert st.deletecontainer("c1") == 3
    kept = st.register(st.get(pids[2]), "c2", materialize=True)
    assert st.by_id == scan(st) and sorted(st.by_id.values()) == sorted([pids[2], pids[4], kept])
    save_store(st, str(tmp_path / "catalog"))
    loaded = load_store(spark, str(tmp_path / "catalog"), str(tmp_path))
    assert loaded.by_id == scan(loaded) == scan(st)
    resolve = build_default_engine(spark, loaded).pid_resolver
    assert resolve(str(loaded.entries[kept].cube_id)) == kept


# -- management shims ---------------------------------------------------------

def test_manage_session_roundtrip(spark):
    m = ManagementService(spark)
    sid = m.manage_session("new", user="alice")
    m.manage_session("grant", user="alice", session=sid, grantee="bob", role="read")
    assert m.manage_session("listusers", user="alice", session=sid) == {
        "alice": "owner", "bob": "read",
    }
    m.manage_session("setenv", user="alice", session=sid, key="K", value="V")
    assert m.manage_session("env", user="alice", session=sid) == {"K": "V"}
    with pytest.raises(PermissionError):
        m.manage_session("setenv", user="mallory", session=sid, key="K", value="X")


def test_get_config_and_service(spark):
    m = ManagementService(spark)
    assert m.get_config("TIMEOUT") == {"TIMEOUT": "3600"}
    assert m.service("down")["status"] == "down"
    assert m.service("up")["status"] == "up"


def test_cluster_info(spark):
    m = ManagementService(spark)
    info = m.cluster("info")
    assert info["default_parallelism"] >= 1
    assert info["master"].startswith("local")


def test_ledger_resume_status_mask(spark):
    m = ManagementService(spark)
    sid = m.manage_session("new", user="a")
    r1 = m.record(sid, {"op": "one"})
    r2 = m.record(sid, {"op": "two"})
    r1.status = "OPH_ODB_STATUS_COMPLETED"
    r2.status = "OPH_ODB_STATUS_ERROR"
    done = m.resume(sid, document_type="request", status_filter=1 << 2)
    assert done == [{"op": "one"}]
    failed = m.resume(sid, document_type="request", status_filter=1 << 3)
    assert failed == [{"op": "two"}]


def test_resume_execute_resubmits(spark):
    # oph_resume execute=yes: stored request re-enters the engine as a NEW
    # request with its own workflow_id (oph_execute_main.c:6026)
    from ophidia_server_spark.plans.workflow import WorkflowEngine

    m = ManagementService(spark)
    sid = m.manage_session("new", user="a")
    calls = []

    def op(engine, args, inputs):
        calls.append(args["x"])
        return args["x"]

    engine = WorkflowEngine({"op": op})
    req = {"tasks": [{"name": "t", "operator": "op", "arguments": {"x": "v1"}}]}
    orig = m.record(sid, req)
    orig.status = "OPH_ODB_STATUS_COMPLETED"

    reruns = m.resume(sid, execute=True, submit=lambda r: engine.run(r))
    assert calls == ["v1"]
    assert len(reruns) == 1
    assert reruns[0].workflow_id != orig.workflow_id
    assert reruns[0].status == "OPH_ODB_STATUS_COMPLETED"
    assert reruns[0].response.results["t"].value == "v1"
    # the re-run landed in the ledger as its own row
    assert len(m.tasks_history(session_id=sid)) == 2


def test_script_allowlist(spark):
    m = ManagementService(spark)
    assert m.script("echo", ["hi"]).strip() == "hi"
    with pytest.raises(PermissionError):
        m.script("rm", ["-rf", "/"])


def test_operators_list_nonempty(spark):
    ops = operators_list()
    names = {o["operator"] for o in ops}
    assert "oph_reduce" in names and "oph_importcsv" in names


def test_instances_tasks_loggingbk(spark):
    m = ManagementService(spark)
    inst = m.instances()
    assert inst and inst[0]["cores"] > 0 and inst[0]["status"] == "up"
    r1 = m.record("sess-a", {"name": "wf1"})
    r2 = m.record("sess-b", {"name": "wf2"})
    r1.status = "OPH_ODB_STATUS_COMPLETED"
    hist = m.tasks_history()
    assert [h["workflow_id"] for h in hist] == [r1.workflow_id, r2.workflow_id]
    assert m.tasks_history(session_id="sess-a")[0]["operator"] == "wf1"
    assert m.tasks_history(status="OPH_ODB_STATUS_COMPLETED")[0]["workflow_id"] == r1.workflow_id
    log = m.loggingbk()
    assert log[0]["workflow_id"] == r2.workflow_id  # newest first
    assert m.loggingbk(session_filter="sess-a")[0]["session"] == "sess-a"


def test_exportnc_importnc_roundtrip(spark, tables, tmp_path):
    # cube -> .nc (pure-Python NetCDF3 writer) -> importnc -> same values
    from ophidia_server_spark.operators import io_ops as io

    c = build_cube(
        tables["lineitem"].withColumn("month", F.month("l_shipdate")),
        ["l_linenumber"], "month",
        F.col("l_quantity").cast("decimal(18,2)"), measure="qty",
    )
    files = io.oph_exportnc(c, str(tmp_path / "nc_out"))
    assert len(files) == 1 and files[0].endswith(".nc")
    c2 = io.oph_importnc(spark, files, "qty", ["l_linenumber"], "month")
    want = {
        (int(r["l_linenumber"]), int(r["month"]), float(r["qty"]))
        for r in c.long().collect()
    }
    got = {
        (int(r["l_linenumber"]), int(r["month"]), float(r["qty"]))
        for r in c2.long().collect()
        if r["qty"] == r["qty"]  # drop NaN grid holes
    }
    assert got == want and len(got) > 0

    info = io.oph_explorenc(spark, files[0], measure="qty")
    assert set(info["dims"]) == {"l_linenumber", "month"}
    assert info["stats"]["n"] == len(want)


def test_exportnc_per_dim_files_and_string_dims(spark, tables, tmp_path):
    from ophidia_server_spark.operators import io_ops as io

    c = build_cube(
        tables["lineitem"].withColumn("month", F.month("l_shipdate")),
        ["l_returnflag", "l_linestatus"], "month",
        F.col("l_quantity").cast("decimal(18,2)"), measure="qty",
    )
    files = io.oph_exportnc(c, str(tmp_path / "nc_shards"), per_dim_files=True)
    # one shard per l_returnflag value, written executor-side
    flags = {r["l_returnflag"] for r in c.df.select("l_returnflag").distinct().collect()}
    assert len(files) == len(flags)
    info = io.oph_explorenc(spark, files[0], measure="qty")
    # string dim -> index coordinate with labels attribute
    from ophidia_server_spark.sources import netcdf3

    ds = netcdf3.read(files[0])
    assert "labels" in ds.variables["l_linestatus"].attributes


def test_explore_stats_matches_known(spark):
    from ophidia_server_spark.operators import io_ops as io

    df = spark.createDataFrame([(i, float(2 * i + 1)) for i in range(10)], "k int, v double")
    row = io.explore_stats(df, "v", order_cols=["k"]).first()
    assert row.n == 10 and row.min == 1.0 and row.max == 19.0
    assert abs(row.fit_slope - 2.0) < 1e-9 and abs(row.fit_intercept - 1.0) < 1e-9


def test_showgrid_and_inspectfrag(spark, tables):
    from ophidia_server_spark.operators import cube_ops as C

    c = build_cube(
        tables["lineitem"].withColumn("month", F.month("l_shipdate")),
        ["l_returnflag", "l_linestatus"], "month",
        F.col("l_quantity").cast("decimal(18,2)"), measure="qty",
    )
    grid = C.oph_showgrid(c)
    dims = {r.dim for r in grid.collect()}
    assert dims == {"l_returnflag", "l_linestatus", "month"}
    # fragments partition the cube rows exactly
    total = c.df.count()
    frags = [C.oph_inspectfrag(c, i, 3).count() for i in range(3)]
    assert sum(frags) == total and all(f > 0 for f in frags)


def test_folder_mv_and_container_moves(store):
    store, _pid = store
    store.folder("mkdir", "/expA")
    store.folder("mkdir", "/expA/sub")
    store.folder("mv", "/expA", to="/expB")
    assert any(f.endswith("/expB/sub") for f in store.folders)
    assert not any("/expA" in f for f in store.folders)


def test_trash_restore_container(store):
    store, pid = store
    cont = store.entries[pid].container
    orig_path = store.entries[pid].path
    n = store.trashcontainer(cont)
    assert n >= 1 and "/.trash" in store.entries[pid].path
    got = store.restorecontainer(cont)
    assert got == n and store.entries[pid].path == orig_path
    with pytest.raises(KeyError):
        store.restorecontainer(cont)  # nothing trashed now


def test_movecontainer(store):
    store, pid = store
    cont = store.entries[pid].container
    store.movecontainer(cont, "/elsewhere")
    assert store.entries[pid].path.endswith("/elsewhere")
    with pytest.raises(KeyError):
        store.movecontainer("nope", "/x")


def test_bucketed_join_no_exchange(store, spark, tables):
    # two cubes bucketed on the same explicit dims must intercube-join with
    # no shuffle (the Exchange-free co-located path)
    from ophidia_server_spark.operators.cube_ops import oph_intercube

    store, _pid = store
    li = tables["lineitem"].withColumn("month", F.month("l_shipdate"))
    qty = build_cube(
        li, ["l_returnflag", "l_linestatus"], "month",
        F.col("l_quantity").cast("decimal(18,2)"), measure="qty",
    )
    price = build_cube(
        li, ["l_returnflag", "l_linestatus"], "month",
        F.col("l_extendedprice").cast("decimal(18,2)"), measure="price",
    )
    p1 = store.register_bucketed(qty, "cb", n_buckets=4)
    p2 = store.register_bucketed(price, "cb", n_buckets=4)
    a, b = store.get(p1), store.get(p2)
    # tiny fixtures would broadcast (also exchange-free but not the path under
    # test); force the sort-merge planner to show the bucketed co-location
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = oph_intercube(a, b, "div", measure="ratio")
        assert out.df.count() > 0
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS cube_b_%d" % store.entries[p1].cube_id)
    spark.sql("DROP TABLE IF EXISTS cube_b_%d" % store.entries[p2].cube_id)


def test_ledger_persist_roundtrip(spark, tmp_path):
    m = ManagementService(spark)
    r1 = m.record("sess-p", {"name": "wfA"})
    r1.status = "OPH_ODB_STATUS_COMPLETED"
    r1.response = {"tasks": [{"task": "t1", "status": "OPH_ODB_STATUS_COMPLETED"}]}
    m.record("sess-p", {"name": "wfB"})
    path = str(tmp_path / "ledger")
    m.persist_ledger(path)
    m2 = ManagementService(spark)
    assert m2.load_ledger(path) == 2
    assert m2.ledger[0].request == {"name": "wfA"}
    assert m2.ledger[0].response["tasks"][0]["task"] == "t1"
    assert m2.ledger[1].response is None
    nxt = m2.record("sess-p", {"name": "wfC"})
    assert nxt.workflow_id == 3  # ids continue after reload


def test_massive_parallel_light_tasks():
    import threading

    from ophidia_server_spark.plans.workflow import WorkflowEngine

    class FakeCatalog:
        pass

    seen = []

    def op(engine, args, inputs):
        import time as _t

        _t.sleep(0.05)
        seen.append((args["cube"], threading.get_ident()))
        return args["cube"]

    eng = WorkflowEngine({"op": op})
    # bypass catalog: patch _massive_expand to a fixed item list
    eng._massive_expand = (
        lambda args: ("cube", ["p1", "p2", "p3", "p4"], None) if "cube" in args else None
    )
    run = eng.run(
        {
            "tasks": [
                {"name": "m", "operator": "op", "arguments": {"cube": "[x]"}, "ncores": 4}
            ]
        }
    )
    assert run.results["m"].value == ["p1", "p2", "p3", "p4"]  # order preserved
    assert len({t for _, t in seen}) > 1  # ran on multiple threads


def test_explorecube_multigrid_response(store):
    store, pid = store
    resp = store.explorecube_response(pid, limit=5)
    assert resp["objclass"] == "multigrid"
    assert resp["rowkeys"] == ["l_returnflag", "l_linestatus"]
    assert resp["measurename"] == "qty"
    assert len(resp["rowvalues"]) == len(resp["measurevalues"]) <= 5
    # colvalues are the implicit dim coordinates of the first row
    assert len(resp["colvalues"]) == len(resp["measurevalues"][0])


def test_script_env_injection(spark):
    m = ManagementService(spark)
    out = m.script("print_env", session_id="sessX", workflow_id=7).strip()
    assert out == "sessX:7"


def test_store_persist_reload(spark, tables, tmp_path):
    from ophidia_server_spark.store import load_store, save_store

    st = CubeStore(spark=spark, workspace=str(tmp_path / "ws"))
    li = tables["lineitem"].withColumn("month", F.month("l_shipdate"))
    cube = build_cube(
        li, ["l_returnflag", "l_linestatus"], "month",
        F.col("l_quantity").cast("decimal(18,2)"), measure="qty",
    )
    st.createcontainer("c1", "/exp")
    pid = st.register(cube, "c1", path="/exp", materialize=True)
    dup = st.duplicate(pid)
    st.metadata_put(pid, "units", "kg")
    cat_path = str(tmp_path / "catalog")
    save_store(st, cat_path)

    st2 = load_store(spark, cat_path, workspace=str(tmp_path / "ws"))
    assert set(st2.entries) == set(st.entries)
    assert st2.metadata_get(pid, "units") == "kg"
    assert st2.lineage == st.lineage
    # the materialized cube is readable after reload and ids keep counting
    assert st2.get(pid).df.count() == 6
    pid3 = st2.register(cube, "c1", path="/exp")
    assert st2.entries[pid3].cube_id > st2.entries[dup].cube_id


def test_resume_document_levels(spark):
    m = ManagementService(spark)
    sid = m.manage_session("new", user="a")
    req = {
        "name": "wf-demo",
        "command": "oph_list level=2",
        "tasks": [
            {"name": "t", "operator": "oph_reduce", "arguments": {"operation": "sum"}}
        ],
    }
    rec = m.record(sid, req)
    rec.response = {"rows": 3}
    rec.status = "OPH_ODB_STATUS_COMPLETED"

    assert m.resume(sid, level=0) == [
        {"workflow_id": rec.workflow_id, "marker": rec.marker,
         "status": "OPH_ODB_STATUS_COMPLETED"}
    ]
    # level 1 prefers the stored command; level 2 prefers the task string
    assert m.resume(sid, level=1) == ["oph_list level=2"]
    assert m.resume(sid, level=2) == ["oph_reduce operation=sum"]
    assert m.resume(sid, level=3) == [req]
    assert m.resume(sid, level=4) == [{"rows": 3}]
    ext = m.resume(sid, level=5)
    assert ext[0]["status"] == "OPH_ODB_STATUS_COMPLETED"
    assert ext[0]["response"] == {"rows": 3}


def test_cluster_partition_reservation_lifecycle(spark):
    # metadata-level host-partition semantics (hostpartition/hashost,
    # oph_ophidiadb_query.h:79-93): deploy within pool + per-user quota,
    # name collision refused, info scoped to owner, info_cluster admin,
    # undeploy by name and 'all'
    m = ManagementService(
        spark, config={"HOST_POOL_SIZE": "8", "USER_MAX_HOSTS": "5"},
        admins={"root"},
    )
    got = m.cluster("deploy", user="alice", host_partition="exp1", nhost=3)
    assert got["host_partition"] == "exp1" and got["hosts"] == 3
    auto = m.cluster("deploy", user="alice", host_partition="auto", nhost=2)
    assert auto["host_partition"].startswith("part_alice_")
    # quota: alice holds 5 of maxhosts 5
    with pytest.raises(ValueError, match="maxhosts"):
        m.cluster("deploy", user="alice", host_partition="exp2", nhost=1)
    # pool: 5 of 8 reserved; bob asking 4 exceeds the pool
    with pytest.raises(ValueError, match="free hosts"):
        m.cluster("deploy", user="bob", host_partition="bx", nhost=4)
    m.cluster("deploy", user="bob", host_partition="bx", nhost=3)
    with pytest.raises(ValueError, match="already reserved"):
        m.cluster("deploy", user="bob", host_partition="exp1", nhost=1)
    # info: owner-scoped + name filter
    mine = m.cluster("info", user="alice")
    assert {r["partition"] for r in mine["partitions"]} == {
        "exp1", auto["host_partition"]}
    assert mine["reserved_hosts"] == 8
    only = m.cluster("info", user="alice", host_partition="exp")
    assert [r["partition"] for r in only["partitions"]] == ["exp1"]
    # info_cluster: admin-only, all users
    with pytest.raises(PermissionError):
        m.cluster("info_cluster", user="alice")
    allv = m.cluster("info_cluster", user="root")
    assert {(r["partition"], r["user"]) for r in allv["partitions"]} == {
        ("exp1", "alice"), (auto["host_partition"], "alice"), ("bx", "bob")}
    # undeploy: foreign partition needs admin; 'all' releases the caller's
    with pytest.raises(PermissionError):
        m.cluster("undeploy", user="bob", host_partition="exp1")
    m.cluster("undeploy", user="root", host_partition="bx")
    rel = m.cluster("undeploy", user="alice", host_partition="all")
    assert set(rel["released"]) == {"exp1", auto["host_partition"]}
    assert m.cluster("info", user="alice")["partitions"] == []
    with pytest.raises(ValueError, match="no host partition"):
        m.cluster("undeploy", user="alice", host_partition="ghost")


def test_pipeline_task_without_input_is_named_error(spark, tmp_path):
    # a pipeline task with neither src_path nor a string parent output
    # fails by naming the missing argument (was an empty StopIteration)
    from ophidia_server_spark.plans.server import build_default_engine

    eng = build_default_engine(spark, CubeStore(spark=spark, workspace=str(tmp_path)))
    run = eng.run({"tasks": [{
        "name": "chunk", "operator": "pipeline_chunk",
        "arguments": {"output_path": str(tmp_path / "chunks")},
    }]})
    res = run.results["chunk"]
    assert res.status == "OPH_ODB_STATUS_ERROR"
    assert res.error == (
        "ValueError: no src_path argument and no parent output to inherit"
    )
