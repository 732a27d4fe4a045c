"""Session-scoped cache contract (session.session_cached / clear), the
strict boolean env parse, and the build-once artifacts' scratch-path rule."""

from __future__ import annotations

import gc
import os
import weakref

import pytest

from ophidia_server_spark import session as S


class _Box:
    """A weak-referenceable cache value."""

    def __init__(self, ref=None):
        self.ref = ref


def _cached(spark, key):
    return S.session_cached(spark, key, _Box)


def test_hit_returns_same_object(spark):
    s = spark.newSession()
    first = _cached(s, ("t_hit", 1))
    assert _cached(s, ("t_hit", 1)) is first
    assert _cached(s, ("t_hit", 2)) is not first


def test_new_session_misses(spark):
    s1 = spark.newSession()
    s2 = s1.newSession()
    v1 = _cached(s1, ("t_new", 1))
    assert _cached(s2, ("t_new", 1)) is not v1
    assert _cached(spark, ("t_new", 1)) is not v1


def test_entries_die_with_their_session(spark):
    s = spark.newSession()
    # the value points back at its session, as every cached DataFrame does
    value = S.session_cached(s, ("t_gc", 1), lambda: _Box(s))
    dead_session, dead_value = weakref.ref(s), weakref.ref(value)
    del s, value
    # pyspark pins the NEWEST session in an RDD.toDF closure; making
    # another one releases the session under test
    spark.newSession()
    gc.collect()
    assert dead_session() is None
    assert dead_value() is None


def test_cap_evicts_least_recently_used(spark):
    s = spark.newSession()
    cap = S.SESSION_CACHE_MAX_ENTRIES
    first = _cached(s, ("t_cap", 0))
    second = _cached(s, ("t_cap", 1))
    for i in range(2, cap):
        _cached(s, ("t_cap", i))
    assert _cached(s, ("t_cap", 0)) is first     # a hit refreshes entry 0
    _cached(s, ("t_cap", cap))                    # cap + 1: evicts entry 1
    assert _cached(s, ("t_cap", 0)) is first
    assert _cached(s, ("t_cap", 1)) is not second


def test_clear_namespace_is_selective(spark):
    s = spark.newSession()
    vstore = _cached(s, ("vstore", "/d", "ivf"))
    pq = _cached(s, ("pq", "/d"))
    S.clear("vstore")
    assert _cached(s, ("vstore", "/d", "ivf")) is not vstore
    assert _cached(s, ("pq", "/d")) is pq


def test_clear_all(spark):
    s1, s2 = spark.newSession(), spark.newSession()
    a, b = _cached(s1, ("t_all", 1)), _cached(s2, ("t_all_other", 1))
    S.clear()
    assert _cached(s1, ("t_all", 1)) is not a
    assert _cached(s2, ("t_all_other", 1)) is not b


def test_concurrent_fills_keep_the_cap(spark):
    """More threads than cores churning one session's cache: no update is
    lost to a race (every call returns a value and no eviction raises),
    and the cache ends holding exactly the cap."""
    import sys
    import threading

    s = spark.newSession()
    cap = S.SESSION_CACHE_MAX_ENTRIES
    errors = []

    def churn(seed):
        try:
            for i in range(1000):
                assert _cached(s, ("t_race", (seed * 7 + i) % (2 * cap)))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn, args=(n,)) for n in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(vars(s)[S._CACHE_ATTR]) == cap


@pytest.mark.parametrize(
    "raw,want",
    [(None, False), ("", False), ("1", True), ("true", True),
     ("YES", True), ("On", True), ("0", False), ("false", False),
     ("no", False), ("OFF", False)],
)
def test_env_flag_parse(monkeypatch, raw, want):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_TEST_FLAG", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_TEST_FLAG", raw)
    assert S.env_flag("SPARK_GRAFT_TEST_FLAG") is want


def test_env_flag_strips_and_rejects_unknown(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TEST_FLAG", " yes\n")
    assert S.env_flag("SPARK_GRAFT_TEST_FLAG") is True
    for bad in ("2", "enabled", "tru"):
        monkeypatch.setenv("SPARK_GRAFT_TEST_FLAG", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_TEST_FLAG"):
            S.env_flag("SPARK_GRAFT_TEST_FLAG")


def test_same_basename_datasets_keep_separate_stores(spark, tables, tmp_path):
    """/a/sf0.001 and /b/sf0.001 in one process: each gets its own
    snapshot catalog, and building the second leaves the first intact."""
    from pyspark.sql import functions as F

    from ophidia_server_spark import registry as R
    from ophidia_server_spark.catalog import load_snapshot_catalog

    part = tables["part"]
    dirs = []
    for name, n_parts in (("a", 30), ("b", 12)):
        d = str(tmp_path / name / "sf0.001")
        part.filter(F.col("p_partkey") < n_parts).write.parquet(
            os.path.join(d, "part.parquet")
        )
        dirs.append(d)
    paths = [R._snapcat(spark, d) for d in dirs]
    assert paths[0] != paths[1]
    counts = [load_snapshot_catalog(spark, p).cubes.count() for p in paths]
    assert counts == [30, 12]
    tags = {R._scratch_dir(f"vstore_{k}", d) for d in dirs
            for k in ("ivf", "lsh")} | {R._scratch_dir("mhidx", d) for d in dirs}
    assert len(tags) == 6


_STOP_RESTART = """
import sys
from pyspark.sql import SparkSession
from ophidia_server_spark.session import session_cached

def build(spark):
    return session_cached(spark, ("t_stop", 1), lambda: spark.range(3))

old = SparkSession.builder.master("local[1]").getOrCreate()
stale = build(old)
old.stop()
new = SparkSession.builder.master("local[1]").getOrCreate()
fresh = build(new)
assert new is not old and fresh is not stale
assert fresh.count() == 3
new.stop()
print("ok")
"""


def test_stop_then_new_session_never_returns_stale_frame():
    """A stopped session's frames are bound to a dead JVM context; the
    session that replaces it must rebuild, never get them back."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _STOP_RESTART], cwd=root,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith("ok")
