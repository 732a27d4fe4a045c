"""Role-enforcement tests (oph_auth.h:79-96 parity): cumulative role bits,
per-operator required roles at workflow dispatch, owner/admin checks on the
management surface, and the structural session-prefix scope on catalog
queries (oph_filters.c:576-601)."""

import pytest
from pyspark.sql import functions as F

from ophidia_server_spark import auth
from ophidia_server_spark.management import ManagementService


def test_role_bits_cumulative():
    assert auth.role_bits("read") == auth.READ
    assert auth.role_bits("write") == auth.READ | auth.WRITE
    assert auth.role_bits("execute") & auth.WRITE
    assert auth.role_bits("admin") & auth.EXECUTE
    assert auth.role_bits("owner") == auth.ALL
    assert auth.role_bits(None) == auth.ALL  # trusted driver-side caller
    with pytest.raises(ValueError, match="unknown role"):
        auth.role_bits("superuser")


def test_required_role_mapping():
    assert auth.required_role("oph_explorecube") == auth.READ
    assert auth.required_role("oph_exportcsv") == auth.READ
    assert auth.required_role("oph_subset") == auth.WRITE
    assert auth.required_role("oph_delete") == auth.WRITE
    assert auth.required_role("oph_script") == auth.EXECUTE
    assert auth.required_role("oph_service") == auth.ADMIN
    # the reference serves oph_cluster with permission=read
    # (etc/xml/OPH_CLUSTER_operator_1.0.xml:44): reservations are quota-
    # bounded per user, not admin-gated
    assert auth.required_role("oph_cluster") == auth.READ
    assert auth.required_role("oph_log_info") == auth.ADMIN
    assert auth.required_role("oph_manage_session") == auth.OWNER
    assert auth.required_role("some_new_operator") == auth.WRITE  # conservative


def test_check_role_raises():
    auth.check_role("read", "oph_explorecube")
    with pytest.raises(PermissionError, match="oph_delete"):
        auth.check_role("read", "oph_delete")
    with pytest.raises(PermissionError):
        auth.check_role("write", "oph_service")


def test_workflow_engine_enforces_role():
    from ophidia_server_spark.plans.workflow import WorkflowEngine

    calls = []
    eng = WorkflowEngine({
        "oph_explorecube": lambda e, a, i: calls.append("read") or "ok",
        "oph_delete": lambda e, a, i: calls.append("write") or "gone",
    })
    wf = {
        "tasks": [
            {"name": "peek", "operator": "oph_explorecube", "arguments": {}},
            {"name": "drop", "operator": "oph_delete", "arguments": {},
             "dependencies": ["peek"], "on_error": "continue"},
        ]
    }
    # read-only: the read op runs, the write op is denied at dispatch
    run = eng.run(wf, role="read")
    assert run.results["peek"].status == "OPH_ODB_STATUS_COMPLETED"
    assert run.results["drop"].status == "OPH_ODB_STATUS_ERROR"
    assert "PermissionError" in run.results["drop"].error
    assert calls == ["read"]  # the denied operator never executed

    # denial respects on_error=abort: dependents are skipped
    wf2 = {
        "tasks": [
            {"name": "drop", "operator": "oph_delete", "arguments": {}},
            {"name": "after", "operator": "oph_explorecube", "arguments": {},
             "dependencies": ["drop"]},
        ]
    }
    run2 = eng.run(wf2, role="read")
    assert run2.status == "OPH_ODB_STATUS_ERROR"
    assert "after" not in {
        n for n, r in run2.results.items()
        if r.status == "OPH_ODB_STATUS_COMPLETED"
    }

    # write role runs both; no role (trusted) unchanged
    calls.clear()
    assert eng.run(wf, role="write").status == "OPH_ODB_STATUS_COMPLETED"
    assert calls == ["read", "write"]


def test_manage_session_owner_and_write_checks(spark):
    m = ManagementService(spark)
    sid = m.manage_session("new", user="alice")
    m.manage_session("grant", user="alice", session=sid, grantee="bob", role="read")
    m.manage_session("grant", user="alice", session=sid, grantee="carol", role="write")

    # read member: no env writes, no grants
    with pytest.raises(PermissionError):
        m.manage_session("setenv", user="bob", session=sid, key="K", value="V")
    with pytest.raises(PermissionError):
        m.manage_session("grant", user="bob", session=sid, grantee="eve", role="owner")
    # write member: env/label yes, grants/lifecycle no
    m.manage_session("setenv", user="carol", session=sid, key="K", value="V")
    m.manage_session("label", user="carol", session=sid, value="lbl")
    with pytest.raises(PermissionError):
        m.manage_session("revoke", user="carol", session=sid, grantee="bob")
    with pytest.raises(PermissionError):
        m.manage_session("disable", user="carol", session=sid)
    # reads open to any member
    assert "bob" in m.manage_session("listusers", user="bob", session=sid)
    assert m.manage_session("env", user="bob", session=sid) == {"K": "V"}
    # owner does everything; server admin bypasses ownership
    m.manage_session("disable", user="alice", session=sid)
    m.manage_session("enable", user="admin", session=sid)
    m.manage_session("revoke", user="alice", session=sid, grantee="bob")


def test_admin_only_server_ops(spark):
    m = ManagementService(spark)
    # identity-less (driver-trusted) calls still work — back-compat
    assert m.service("up")["status"] == "up"
    m.cluster("info")
    # non-admin identities are rejected on privileged ops
    with pytest.raises(PermissionError, match="oph_service"):
        m.service("down", user="mallory")
    with pytest.raises(PermissionError, match="oph_log_info"):
        m.log_info("/tmp/nope.log", user="mallory")
    # cluster reservations are NOT admin-gated (reference permission=read):
    # any user deploys within quota, but the all-users view and another
    # user's partition stay privileged
    got = m.cluster("deploy", user="mallory", host_partition="m1", nhost=1)
    assert got["host_partition"] == "m1"
    with pytest.raises(PermissionError, match="oph_cluster"):
        m.cluster("info_cluster", user="mallory")
    with pytest.raises(PermissionError, match="oph_cluster"):
        m.cluster("undeploy", user="eve", host_partition="m1")
    m.cluster("undeploy", user="mallory", host_partition="m1")
    # info stays open; admins pass everywhere
    m.cluster("info", user="mallory")
    assert m.service("down", user="admin")["status"] == "down"
    m.service("up", user="admin")
    m.log_info("/tmp/nope.log", user="admin")


def test_catalog_queries_are_session_scoped(spark, tables):
    from ophidia_server_spark.catalog import catalog_from_part
    from ophidia_server_spark.filters import compile_massive

    cat = catalog_from_part(tables["part"])
    visible = len(compile_massive(cat, "[level=1]"))
    assert visible > 0
    # the same cubes under another session's prefix are invisible to every
    # filter key — the scope is structural, not an opt-in path filter
    cat_other = catalog_from_part(tables["part"])
    cat_other.session_prefix = "/sess_other"
    assert len(compile_massive(cat_other, "[level=1]")) == 0
    assert len(compile_massive(cat_other, "[measure=economy anodized steel]")) == 0


def test_facade_workflow_under_read_only_role(spark, tables, tmp_path):
    from ophidia_server_spark.plans.server import build_default_engine
    from ophidia_server_spark.store import CubeStore

    store = CubeStore(spark=spark, workspace=str(tmp_path))
    src = str(tmp_path / "li_csv")
    (
        tables["lineitem"].limit(200)
        .select("l_returnflag", "l_linestatus",
                F.month("l_shipdate").alias("month"), "l_quantity")
        .write.mode("overwrite").option("header", "true").csv(src)
    )
    eng = build_default_engine(spark, store)
    imp = {
        "name": "imp", "operator": "oph_importcsv",
        "arguments": {
            "src_path": src, "container": "exp",
            "explicit_dims": "l_returnflag|l_linestatus",
            "implicit_dim": "month", "measure": "l_quantity",
            "schema": "l_returnflag string, l_linestatus string, "
                      "month int, l_quantity double",
        },
    }
    # a writer ingests a cube first
    run_w = eng.run({"tasks": [imp]}, role="write")
    assert run_w.status == "OPH_ODB_STATUS_COMPLETED"
    pid = run_w.results["imp"].value

    # read-only caller: inspection succeeds, import/delete are denied
    ro = {
        "tasks": [
            {"name": "schema", "operator": "oph_cubeschema",
             "arguments": {"cube": pid}},
            {"name": "peek", "operator": "oph_explorecube",
             "arguments": {"cube": pid, "limit": "5"}},
        ]
    }
    run_r = eng.run(ro, role="read")
    assert run_r.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run_r.results.items()
    }
    denied = eng.run({"tasks": [imp]}, role="read")
    assert denied.results["imp"].status == "OPH_ODB_STATUS_ERROR"
    assert "PermissionError" in denied.results["imp"].error
    assert pid in store.entries  # the read-only caller mutated nothing
    drop = eng.run(
        {"tasks": [{"name": "del", "operator": "oph_delete",
                    "arguments": {"cube": pid}}]},
        role="read",
    )
    assert drop.results["del"].status == "OPH_ODB_STATUS_ERROR"
    assert pid in store.entries
