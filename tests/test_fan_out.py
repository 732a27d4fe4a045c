"""session.fan_out, the one concurrent runner for workflow waves, massive
light tasks and concurrent probes: every job a fan-out launches stays in
the caller's Spark job group, each concurrent call runs in its own FAIR
pool, and the caller's own properties are left alone."""

import ast
import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

import pytest

from ophidia_server_spark.plans.workflow import WorkflowEngine
from ophidia_server_spark.session import fan_out

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextmanager
def job_group(sc, group, pool=None):
    """Run the block on this thread under `group` (and `pool`), then clear
    both so later tests start clean."""
    sc.setJobGroup(group, group)
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel", "spark.scheduler.pool"):
            sc.setLocalProperty(key, None)


def _spark_op(spark, seen, barrier=None):
    """Operator that records (item, job group, pool) as its thread sees
    them, optionally after meeting its siblings at `barrier`, then runs
    exactly one Spark job."""

    def op(engine, args, inputs):
        sc = spark.sparkContext
        if barrier is not None:
            barrier.wait()
        seen[args.get("cube") or args["tag"]] = (
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.scheduler.pool"),
        )
        sc.parallelize([1], 1).count()
        return args.get("cube") or args["tag"]

    return op


def _massive_engine(op, items):
    eng = WorkflowEngine({"op": op})
    eng._massive_expand = lambda args: ("cube", items, None) if "cube" in args else None
    return eng


def _massive_wf(ncores):
    return {"tasks": [{"name": "m", "operator": "op",
                       "arguments": {"cube": "[x]"}, "ncores": ncores}]}


def _wave_wf(names):
    return {"tasks": [{"name": n, "operator": "op", "arguments": {"tag": n}}
                      for n in names]}


def test_massive_pool_jobs_stay_in_caller_group(spark):
    sc = spark.sparkContext
    seen = {}
    eng = _massive_engine(_spark_op(spark, seen), ["p1", "p2", "p3", "p4"])
    with job_group(sc, "fan-out-massive"):
        run = eng.run(_massive_wf(ncores=2))
    assert run.results["m"].value == ["p1", "p2", "p3", "p4"]
    assert len(sc.statusTracker().getJobIdsForGroup("fan-out-massive")) == 4
    assert seen == {p: ("fan-out-massive", "mf_m") for p in ("p1", "p2", "p3", "p4")}


def test_wave_pool_jobs_stay_in_caller_group(spark):
    sc = spark.sparkContext
    seen = {}
    eng = WorkflowEngine({"op": _spark_op(spark, seen)})
    with job_group(sc, "fan-out-wave"):
        run = eng.run(_wave_wf(["a", "b", "c"]), max_workers=2)
    assert all(r.status == "OPH_ODB_STATUS_COMPLETED" for r in run.results.values())
    assert len(sc.statusTracker().getJobIdsForGroup("fan-out-wave")) == 3
    assert {g for g, _ in seen.values()} == {"fan-out-wave"}


def test_concurrent_wave_members_each_see_their_own_pool(spark):
    # both members read their properties only once both are running, so
    # two threads sharing one Properties object would read the same pool
    sc = spark.sparkContext
    seen = {}
    eng = WorkflowEngine({"op": _spark_op(spark, seen, threading.Barrier(2, timeout=60))})
    with job_group(sc, "fan-out-pools"):
        eng.run(_wave_wf(["a", "b"]), max_workers=2)
    assert seen == {"a": ("fan-out-pools", "wf_a"), "b": ("fan-out-pools", "wf_b")}


def test_fan_out_leaves_caller_group_and_pool_unchanged(spark):
    sc = spark.sparkContext
    seen = {}
    op = _spark_op(spark, seen)
    with job_group(sc, "fan-out-caller", pool="caller"):
        # serial light tasks run on this very thread: they see the caller's
        # pool as it is and leave it so
        _massive_engine(op, ["p1", "p2"]).run(_massive_wf(ncores=1))
        assert seen == {p: ("fan-out-caller", "caller") for p in ("p1", "p2")}
        WorkflowEngine({"op": op}).run(_wave_wf(["a", "b"]), max_workers=2)
        _massive_engine(op, ["p1", "p2"]).run(_massive_wf(ncores=2))
        assert sc.getLocalProperty("spark.jobGroup.id") == "fan-out-caller"
        assert sc.getLocalProperty("spark.scheduler.pool") == "caller"


def test_first_error_in_item_order_propagates():
    def fn(x):
        if x == 2:
            time.sleep(0.2)  # raises after item 3 has already raised
            raise ValueError("two")
        if x == 3:
            raise KeyError("three")
        return x

    with pytest.raises(ValueError, match="two"):
        fan_out(fn, [1, 2, 3], 3, str)
    assert fan_out(lambda x: x * 10, [1, 2, 3], 3, str) == [10, 20, 30]


_NO_CONTEXT = r"""
import warnings
from pyspark import SparkContext
from ophidia_server_spark.plans.workflow import WorkflowEngine

def op(engine, args, inputs):
    return args["tag"]

wf = {"tasks": [{"name": f"t{i}", "operator": "op", "arguments": {"tag": i}}
                for i in range(4)]}
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    run = WorkflowEngine({"op": op}).run(wf, max_workers=4)
assert [run.results[f"t{i}"].value for i in range(4)] == [0, 1, 2, 3]
assert caught == [], [str(w.message) for w in caught]
assert SparkContext._active_spark_context is None
print("ok")
"""


def test_fan_out_without_spark_context_starts_nothing():
    """A Spark-free engine fans out without starting a session or warning."""
    out = subprocess.run(
        [sys.executable, "-c", _NO_CONTEXT], cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith("ok")


_THREAD_MAKERS = {"ThreadPoolExecutor", "Thread"}
# fan_out copies the caller's Spark properties into its threads; httpd's
# request farm sets its own job group per HTTP job
_THREAD_OWNERS = {
    ("session.py", "fan_out"),
    ("plans/httpd.py", "EngineHttpServer.start"),
}


def _thread_makers(path):
    """(enclosing def, e.g. `Class.method`) of every call in `path` that
    creates a ThreadPoolExecutor or a threading.Thread, aliases included."""
    tree = ast.parse(open(path).read(), path)
    makers = set(_THREAD_MAKERS)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            makers |= {a.asname for a in node.names if a.name in _THREAD_MAKERS and a.asname}
    found = []

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = scope + (node.name,)
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in makers:
                found.append(".".join(scope) or "<module>")
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, ())
    return found


def test_threads_are_created_only_by_fan_out_and_httpd_farm():
    """Worker threads must carry the caller's Spark tags, so the package
    creates threads only in session.fan_out and httpd's farm."""
    pkg = os.path.join(ROOT, "ophidia_server_spark")
    found = set()
    for dirpath, _, files in os.walk(pkg):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                rel = os.path.relpath(path, pkg).replace(os.sep, "/")
                found |= {(rel, owner) for owner in _thread_makers(path)}
    assert found - _THREAD_OWNERS == set(), "threads created outside fan_out"
    assert found == _THREAD_OWNERS  # the scan still sees the allowed sites
