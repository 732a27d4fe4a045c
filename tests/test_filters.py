"""Massive-filter grammar tests (golden-predicate style, mirroring the
reference's oph_filters suite approach — /root/reference/test/
oph_server_test.c:2438+ asserts compiled SQL; we assert the *result set* of
cube ids over the deterministic part-derived catalog)."""

import pytest

from ophidia_server_spark.catalog import Catalog, RowCatalog, catalog_from_part
from ophidia_server_spark.filters import compile_massive, parse_massive, pid_cube_id


def row_catalog(cat: Catalog) -> RowCatalog:
    """The same three relations, collected into driver-side rows."""
    return RowCatalog(
        cubes=[tuple(r) for r in cat.cubes.collect()],
        metadata=[tuple(r) for r in cat.metadata.collect()],
        lineage=[tuple(r) for r in cat.lineage.collect()],
        session_prefix=cat.session_prefix,
    )


def both(cat: Catalog) -> dict:
    """A catalog in both shapes: its DataFrames, which compile_massive
    narrows per group before evaluating, and all of its rows, evaluated
    as they are."""
    return {"dataframe": cat, "rows": row_catalog(cat)}


def ids(cats, arg):
    """Expand `arg` on every catalog in `cats`. They must return the same
    ids, or raise the same exception type (which is then re-raised)."""
    got = {}
    for name, c in cats.items():
        try:
            got[name] = compile_massive(c, arg)
        except Exception as exc:  # noqa: BLE001 - compared across evaluators
            got[name] = exc
    first, *rest = got.values()
    assert all(
        type(o) is type(first) and (isinstance(o, Exception) or o == first)
        for o in rest
    ), f"catalogs disagree on {arg!r}: {got}"
    if isinstance(first, Exception):
        raise first
    return first


@pytest.fixture(scope="module")
def cat(tables):
    return both(catalog_from_part(tables["part"]))


@pytest.fixture(scope="module")
def part_rows(tables):
    return {r.p_partkey: r for r in tables["part"].collect()}


def test_parse_groups_and_pids():
    groups, pids = parse_massive("[level=2;measure=x][container=c]|http://s/3/7")
    assert groups == [{"level": "2", "measure": "x"}, {"container": "c"}]
    assert pids == ["http://s/3/7"]


def test_parse_default_key_inference():
    groups, _ = parse_massive("[2:5]")
    assert groups == [{"cube_filter": "2:5"}]


def test_pid_parsing():
    assert pid_cube_id("http://server/12/345") == 345
    assert pid_cube_id("345") == 345


def test_level_multivalue(cat, part_rows):
    got = ids(cat, "[level=1|2]")
    want = sorted(k for k, r in part_rows.items() if r.p_size % 5 in (1, 2))
    assert got == want


def test_container_filter(cat, part_rows):
    got = ids(cat, "[container=Brand#13]")
    want = sorted(k for k, r in part_rows.items() if r.p_brand == "Brand#13")
    assert got == want


def test_negation_is_and_of_neq(cat, part_rows):
    got = ids(cat, "[container!=Brand#13|Brand#14]")
    want = sorted(k for k, r in part_rows.items() if r.p_brand not in ("Brand#13", "Brand#14"))
    assert got == want


def test_cube_filter_triplet(cat, part_rows):
    got = ids(cat, "[cube_filter=1:7:50]")
    want = sorted(k for k in part_rows if 1 <= k <= 50 and (k - 1) % 7 == 0)
    assert got == want


def test_explicit_pid_union(cat):
    got = ids(cat, "[cube_filter=1:3]|http://s/0/42")
    assert 42 in got and 1 in got


def test_metadata_key_and_value(cat, part_rows):
    got = ids(cat, "[metadata_key=brand;metadata_value=Brand#2]")
    want = sorted(k for k, r in part_rows.items() if "Brand#2" in r.p_brand)
    assert got == want


def test_free_kv_is_metadata_like(cat, part_rows):
    got = ids(cat, "[size=3]")
    want = sorted(k for k, r in part_rows.items() if "3" in str(r.p_size))
    assert got == want


def test_path_exact_vs_recursive(cat, part_rows):
    exact = ids(cat, "[path=/sess1/economy]")
    rec = ids(cat, "[path=/sess1/economy;recursive=yes]")
    assert exact == []  # cubes live one level deeper
    want = sorted(k for k, r in part_rows.items() if r.p_type.lower() == "economy")
    assert rec == want


def test_parent_cube_lineage(cat, part_rows):
    got = ids(cat, "[parent_cube=http://s/0/5]")
    assert got == ([105] if 105 in part_rows else [])


def test_dry_run_listing(cat):
    # run=no returns the expansion without executing: id list is the expansion
    got = ids(cat, "[cube_filter=2:4;run=no]")
    assert got == [2, 3, 4]


# -- round-1 widening: more golden cases mirroring the reference's 46-case
#    oph_filters suite (combinations, negations, depth, measure, edge cases) --


def test_level_and_container_combined(cat, part_rows):
    got = ids(cat, "[level=1;container=Brand#13]")
    want = sorted(
        k for k, r in part_rows.items() if r.p_size % 5 == 1 and r.p_brand == "Brand#13"
    )
    assert got == want


def test_level_negation(cat, part_rows):
    got = ids(cat, "[level!=1|2|3]")
    want = sorted(k for k, r in part_rows.items() if r.p_size % 5 not in (1, 2, 3))
    assert got == want


def test_measure_filter_and_negation(cat, part_rows):
    # measure = lower(p_type) in the derived catalog
    pos = ids(cat, "[measure=economy]")
    assert pos == sorted(k for k, r in part_rows.items() if r.p_type.lower() == "economy")
    neg = ids(cat, "[measure!=economy]")
    assert neg == sorted(k for k, r in part_rows.items() if r.p_type.lower() != "economy")


def test_two_groups_or_combine(cat, part_rows):
    a = set(ids(cat, "[container=Brand#13]"))
    b = set(ids(cat, "[container=Brand#14]"))
    both = ids(cat, "[container=Brand#13][container=Brand#14]")
    assert set(both) == a | b


def test_cube_filter_multivalue_or(cat, part_rows):
    got = ids(cat, "[cube_filter=1:3|10:12]")
    want = sorted(k for k in part_rows if 1 <= k <= 3 or 10 <= k <= 12)
    assert got == want


def test_cube_filter_single_id(cat, part_rows):
    some = min(part_rows)
    assert ids(cat, f"[cube_filter={some}]") == [some]


def test_path_depth_limit(cat, part_rows):
    # depth bounds the recursion: depth=1 from / only reaches /sess1/<type>,
    # not the container level where cubes live
    shallow = ids(cat, "[path=/;recursive=yes;depth=1]")
    deep = ids(cat, "[path=/;recursive=yes]")
    assert shallow == []
    assert deep == sorted(part_rows)
    # depth=2 reaches exactly the container level: /sess1/<type>/<brand>
    assert ids(cat, "[path=/;recursive=yes;depth=2]") == deep


def test_metadata_key_only(cat, part_rows):
    got = ids(cat, "[metadata_key=brand]")
    assert got == sorted(part_rows)  # all cubes carry the brand key
    none = ids(cat, "[metadata_key=nonexistent_key]")
    assert none == []


def test_metadata_multi_key_and(cat, part_rows):
    got = ids(cat, "[metadata_key=brand|type]")
    assert got == sorted(part_rows)  # AND across keys; all cubes have both
    got2 = ids(cat, "[metadata_key=brand|nonexistent]")
    assert got2 == []


def test_container_pid_filter(cat, part_rows):
    # container_pid=URL selects by container id (p_partkey % 40) from the URL
    got = ids(cat, "[container_pid=http://s/5]")
    want = sorted(k for k in part_rows if k % 40 == 5)
    assert got == want
    # a full cube PID still resolves to its container component
    assert ids(cat, "[container_pid=http://s/5/0]") == want


def test_empty_selection_is_empty_not_error(cat):
    assert ids(cat, "[container=NoSuchContainer]") == []


def test_empty_clauses_tolerated():
    groups, pids = parse_massive("[;]")
    assert groups in ([], [{}]) and pids == []


# -- reference file-massive golden corpus (oph_server_test.c:2814-2839 filter
#    strings over the test/testdata tree, replicated here file-for-file) ------

import os


@pytest.fixture()
def ref_tree(tmp_path):
    d = tmp_path / "testdata"
    (d / "testdata2").mkdir(parents=True)
    (d / "a").mkdir()
    for f in ("a_12.test", "a_123.test"):
        (d / f).write_text("x")
    (d / "a" / "c_3.test").write_text("x")
    for f in ("b_1.tst", "b_123.tst", "b_124.test", "b_13.test"):
        (d / "testdata2" / f).write_text("x")
    return str(d)


def _expand(src_path, extra_args=None):
    from ophidia_server_spark.plans.workflow import WorkflowEngine

    eng = WorkflowEngine({})
    exp = eng._massive_expand({"src_path": src_path, **(extra_args or {})})
    assert exp is not None and exp[0] == "src_path"
    return exp


def _names(exp):
    return sorted(os.path.basename(p) for p in exp[1])


def test_golden_bare_glob_paths(ref_tree):
    assert _names(_expand(f"[{ref_tree}/*]")) == ["a_12.test", "a_123.test"]
    assert _names(_expand(f"[{ref_tree}/*.test]")) == ["a_12.test", "a_123.test"]
    assert _names(_expand(f"[{ref_tree}/testdata2/*]")) == [
        "b_1.tst", "b_123.tst", "b_124.test", "b_13.test",
    ]
    assert _names(_expand(f"[{ref_tree}/testdata2/*.tst]")) == ["b_1.tst", "b_123.tst"]


def test_golden_path_recursion(ref_tree):
    assert len(_expand(f"[path={ref_tree};recursive=no]")[1]) == 2
    # trailing ';' tolerated; recursion reaches both subdirs (7 files total)
    assert len(_expand(f"[path={ref_tree};recursive=yes;]")[1]) == 7
    assert len(_expand(f"[path={ref_tree}/testdata2;recursive=no]")[1]) == 4


def test_golden_glob_file_filters(ref_tree):
    # glob-style file= patterns (invalid as regex -> fnmatch semantics)
    assert _names(_expand(f"[path={ref_tree};file=*1*]")) == ["a_12.test", "a_123.test"]
    assert len(_expand(f"[path={ref_tree};file=*1*;recursive=yes]")[1]) == 6
    assert _names(_expand(f"[path={ref_tree};file=*12*;recursive=yes]")) == [
        "a_12.test", "a_123.test", "b_123.tst", "b_124.test",
    ]
    assert _names(
        _expand(f"[path={ref_tree}/testdata2;file=*2*te*;recursive=yes]")
    ) == ["b_124.test"]
    assert _expand(f"[path={ref_tree};file=nofile]")[1] == []


def test_golden_cmip5_group_and_union(ref_tree):
    # convention inside each group; groups union with '|'
    exp = _expand(
        f"[path={ref_tree};convention=cmip5]|[path={ref_tree}/a;convention=cmip5]"
    )
    assert _names(exp) == ["a_12.test", "a_123.test", "c_3.test"]
    got = {os.path.basename(p): e.get("measure") for p, e in zip(exp[1], exp[2])}
    assert got == {"a_12.test": "a", "a_123.test": "a", "c_3.test": "c"}
    # recursive variant covers all 7 files
    exp = _expand(f"[path={ref_tree};convention=cmip5;recursive=yes]")
    assert len(exp[1]) == 7
    assert {e["measure"] for e in exp[2]} == {"a", "b", "c"}


def test_golden_malformed_bracket_errors(ref_tree):
    from ophidia_server_spark.plans.workflow import WorkflowEngine, WorkflowError

    eng = WorkflowEngine({})
    try:
        eng._massive_expand({"src_path": "[wrong"})
        raised = False
    except Exception:
        raised = True
    assert raised


def test_golden_dry_run_with_measure(ref_tree):
    # [path=...;run=no;...]: run=no rides at task level in this engine
    from ophidia_server_spark.plans.workflow import WorkflowEngine

    seen = []

    def imp(engine, args, inputs):
        seen.append(args)
        return "ok"

    run = WorkflowEngine({"oph_import": imp}).run(
        {
            "tasks": [
                {
                    "name": "m", "operator": "oph_import",
                    "arguments": {
                        "src_path": f"[path={ref_tree}]",
                        "run": "no", "measure": "measure",
                    },
                }
            ]
        }
    )
    assert seen == []
    assert len(run.results["m"].value["expansion"]) == 2


# -- 1:1 port of the reference's 23-case cube-filter golden list
#    (oph_server_test.c:2412-2434; expectations re-derived against the
#    deterministic part-backed catalog instead of MySQL SQL text) ------------

def test_golden23_select_all_forms(cat, part_rows):
    everything = sorted(part_rows)
    assert ids(cat, "[*]") == everything          # case 0
    assert ids(cat, "[run=no]") == everything     # case 1
    assert ids(cat, "[all]") == everything        # case 21


def test_golden23_measure_container(cat, part_rows):
    some = next(iter(part_rows.values()))
    m, c = some.p_type.lower(), some.p_brand
    assert ids(cat, f"[measure={m}]") == sorted(
        k for k, r in part_rows.items() if r.p_type.lower() == m
    )  # case 2
    assert ids(cat, f"[container={c}]") == sorted(
        k for k, r in part_rows.items() if r.p_brand == c
    )  # case 3


def test_golden23_cube_filter_triplets(cat, part_rows):
    keys = set(part_rows)
    assert ids(cat, "[cube_filter=2]") == sorted({2} & keys)            # case 4
    assert ids(cat, "[cube_filter=2:4]") == sorted({2, 3, 4} & keys)    # case 5
    assert ids(cat, "[cube_filter=2:3:10]") == sorted({2, 5, 8} & keys)  # case 6
    assert ids(cat, "[cube_filter=2,3,10]") == sorted({2, 3, 10} & keys)  # case 7
    assert ids(cat, "[10]") == sorted({10} & keys)                      # case 18


def test_golden23_metadata_forms(cat, part_rows):
    everything = sorted(part_rows)
    # case 8: key existence, AND across keys — every cube carries both
    assert ids(cat, "[metadata_key=brand|type]") == everything
    # case 9: metadata_value without metadata_key -> "No query expected"
    with pytest.raises(ValueError):
        ids(cat, "[metadata_value=value1|value2]")
    # case 10: key + LIKE value
    assert ids(cat, "[metadata_key=size;metadata_value=7]") == sorted(
        k for k, r in part_rows.items() if "7" in str(r.p_size)
    )
    # case 11: paired keys/values AND-combined
    some = next(iter(part_rows.values()))
    b = some.p_brand
    want = sorted(
        k for k, r in part_rows.items() if b in r.p_brand and "7" in str(r.p_size)
    )
    assert ids(cat, f"[metadata_key=brand|size;metadata_value={b}|7]") == want


def test_golden23_level_path_combined(cat, part_rows):
    # case 12
    assert ids(cat, "[level=2|3]") == sorted(
        k for k, r in part_rows.items() if r.p_size % 5 in (2, 3)
    )
    some = next(iter(part_rows.values()))
    t = some.p_type.lower()
    leaf = f"/{t}/{some.p_brand.lower().replace('#', '_')}"
    # case 13: exact path
    assert ids(cat, f"[path={leaf}]") == sorted(
        k for k, r in part_rows.items()
        if r.p_type.lower() == t and r.p_brand == some.p_brand
    )
    # case 14: recursive under the type directory
    assert ids(cat, f"[path=/{t};recursive=yes]") == sorted(
        k for k, r in part_rows.items() if r.p_type.lower() == t
    )
    # case 15: everything at once
    got = ids(
        cat,
        f"[container={some.p_brand};metadata_key=type;metadata_value={some.p_type};"
        f"level={some.p_size % 5};path=/{t};recursive=yes]",
    )
    want = sorted(
        k for k, r in part_rows.items()
        if r.p_brand == some.p_brand and some.p_type in r.p_type
        and r.p_size % 5 == some.p_size % 5 and r.p_type.lower() == t
    )
    assert got == want and len(got) > 0


def test_golden23_pids_and_unions(cat, part_rows):
    # case 16: explicit pid list, no catalog query
    assert ids(cat, "1|3|5") == [1, 3, 5]
    # case 17: group | group | pid union
    some = next(iter(part_rows.values()))
    m = some.p_type.lower()
    want = sorted(
        {k for k, r in part_rows.items() if r.p_size % 5 in (1, 3)}
        | {k for k, r in part_rows.items() if r.p_type.lower() == m}
        | {5}
    )
    assert ids(cat, f"[level=1|3]|[measure={m}]|5") == want


def test_golden23_pid_lineage_and_empty(cat, part_rows):
    # case 19: container_pid URL -> container id
    assert ids(cat, "[container_pid=http://localhost/5]") == sorted(
        k for k in part_rows if k % 40 == 5
    )
    # case 20: parent_cube -> children through lineage (id>100 descends id-100)
    want = sorted(k for k in part_rows if k == 104)
    assert ids(cat, "[parent_cube=http://localhost/3/4]") == want
    # case 22: "[]" -> "No query expected"
    with pytest.raises(ValueError):
        ids(cat, "[]")


def test_negated_metadata_value_and_star_edge_cases(cat):
    # metadata_value! without metadata_key is still a caller error
    with pytest.raises(ValueError):
        ids(cat, "[metadata_value!=x]")
    # negated select-all selects nothing (not everything)
    assert ids(cat, "[cube_filter!=*]") == []


def test_oph_fs_glob_that_is_also_valid_regex(tmp_path):
    # 'data*' compiles as a regex, but the intent is a glob: prefix match only
    from ophidia_server_spark.operators.io_ops import oph_fs

    for f in ("data1.txt", "database.txt", "otherdat.txt"):
        (tmp_path / f).write_text("")
    names = [e["name"] for e in oph_fs(str(tmp_path), file_filter="data*")]
    assert names == ["data1.txt", "database.txt"]


# --- snapshot-store catalog backend (round 10) ------------------------------

@pytest.fixture(scope="module")
def snap_cat(spark, cat, tmp_path_factory):
    from ophidia_server_spark.catalog import snapshot_catalog_write

    base = str(tmp_path_factory.mktemp("snapcat"))
    snapshot_catalog_write(cat["dataframe"], base)
    return base


MF_BACKEND_CORPUS = [
    "[level=1|2;container=Brand#13]",
    "[measure!=economy;level=3]",
    "[cube_filter=1:7:150,180:185]",
    "[metadata_key=brand;metadata_value=Brand#2]",
    "[path=/sess1/economy;recursive=yes]",
    "[parent_cube=http://srv/0/5]|http://srv/0/7",
    "[size=3]",
    "[level=0;container!=Brand#13|Brand#21]",
    "[cube_filter=*]",
    # a metadata_value past the end of metadata_key pairs with any key
    "[metadata_key=brand;metadata_value=Brand#1|3]",
    # the lineage of a negated parent is read alongside the positive one
    "[parent_cube=http://srv/0/5;parent_cube!=http://srv/0/6]",
    # negated level/container next to positive ones: only the positive
    # values bound the narrowing rectangle
    "[level=1|2;level!=2;container!=Brand#13]",
    "[container=Brand#13|Brand#21;container!=Brand#21;level!=0]",
]


@pytest.mark.parametrize("arg", MF_BACKEND_CORPUS)
def test_snapshot_backend_matches_in_memory(spark, cat, snap_cat, arg):
    # the mf_* oracle contract on every backend: each massive filter
    # expands to the same cube set whether the catalog is an in-memory
    # DataFrame, its driver-side rows, or the snapshot store with pruned
    # reads
    from ophidia_server_spark.filters import compile_massive_snapshot

    mem = set(ids(cat, arg))
    snap = set(compile_massive_snapshot(spark, snap_cat, arg))
    assert snap == mem and mem


MF_ERROR_CASES = [
    "[]",
    "[metadata_value=x]",
    "[cube_filter=1:end]",
    "[wrong",
    "[container_pid=http://spark-engine/c01]",
]


@pytest.mark.parametrize("arg", MF_ERROR_CASES)
def test_error_cases_raise_same_type_on_every_backend(spark, cat, snap_cat, arg):
    from ophidia_server_spark.filters import compile_massive_snapshot

    with pytest.raises(Exception) as mem:
        ids(cat, arg)  # the DataFrame and row catalogs agree on the type
    with pytest.raises(Exception) as snap:
        compile_massive_snapshot(spark, snap_cat, arg)
    assert type(mem.value) is type(snap.value) is ValueError


def test_none_field_matches_neither_polarity(spark):
    # a NULL field fails both `=` and `!=` in SQL; the row evaluator's None
    # must do the same, and a NULL path is outside every session scope
    cubes = spark.createDataFrame(
        [(1, None, None, "/sess1/x", None, None),
         (2, 5, "c", "/sess1/x", 1, "m"),
         (3, 5, "c", None, 1, "m")],
        "cube_id long, container_id long, container string, path string, "
        "level long, measure string",
    )
    metadata = spark.createDataFrame(
        [(1, "k", None), (2, "k", "v")], "cube_id long, key string, value string"
    )
    lineage = spark.createDataFrame([], "out_cube long, task string, in_cube long")
    cats = both(Catalog(cubes=cubes, metadata=metadata, lineage=lineage))
    assert ids(cats, "[cube_filter=*]") == [1, 2]
    assert ids(cats, "[container=c]") == [2]
    assert ids(cats, "[container!=d]") == [2]
    assert ids(cats, "[level!=0]") == [2]
    assert ids(cats, "[measure!=x|y]") == [2]
    assert ids(cats, "[container_pid!=http://s/9]") == [2]
    assert ids(cats, "[metadata_key=k]") == [1, 2]
    assert ids(cats, "[k!=v]") == [1]
    assert ids(cats, "[path!=/sess1/y]") == [1, 2]


def test_narrow_collects_only_what_the_group_names(spark, cat):
    # a DataFrame catalog is cut per group before the driver sees it: a
    # metadata-free, lineage-free group collects no metadata or lineage
    # rows (one Spark job, for the cubes), and the cubes it collects are
    # inside the group's rectangle
    from ophidia_server_spark.filters import narrow

    df, sc = cat["dataframe"], spark.sparkContext
    group = "narrow-metadata-free"
    sc.setJobGroup(group, group)
    try:
        rows = narrow(df, {"level": "1|2", "container": "Brand#13"})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows.metadata == [] and rows.lineage == []
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert rows.cubes and all(
        r[4] in (1, 2) and r[2] == "Brand#13" for r in rows.cubes
    )
    # named keys only, and the lineage of either parent polarity
    rows = narrow(df, {"metadata_key!": "brand", "size": "3",
                       "parent_cube!": "http://s/0/5"})
    assert {r[1] for r in rows.metadata} == {"brand", "size"}
    assert {r[2] for r in rows.lineage} == {5}
    # a metadata_value pairing with no key reads every key
    rows = narrow(df, {"metadata_key": "brand", "metadata_value": "Brand#1|3"})
    assert {r[1] for r in rows.metadata} == {"brand", "type", "size"}


def test_snapshot_backend_prunes_files(spark, snap_cat):
    # the pruned-read plan assertion: a level+container group's predicate
    # rectangle must skip files (the write range-clusters on exactly those
    # columns, so per-file min-max envelopes separate)
    from ophidia_server_spark.filters import compile_massive_snapshot

    report = []
    compile_massive_snapshot(
        spark, snap_cat, "[level=1|2;container=Brand#13]",
        prune_report=report,
    )
    (gi, files_read, files_total), = report
    assert gi == 0
    assert 0 < files_read < files_total


def test_snapshot_backend_continuous_registration(spark, cat, snap_cat):
    # continuous registration + time travel: appended cubes appear in the
    # latest expansion, and a pinned earlier version never sees them
    from ophidia_server_spark.catalog import snapshot_catalog_append
    from ophidia_server_spark.filters import compile_massive_snapshot

    before = set(compile_massive_snapshot(spark, snap_cat, "[level=9]"))
    assert before == set()
    new = spark.createDataFrame(
        [(900001, 40, "Brand#99", "/sess1/new/brand_99", 9, "newmeasure")],
        "cube_id long, container_id long, container string, path string, "
        "level int, measure string",
    )
    snapshot_catalog_append(snap_cat, cubes=new)
    after = set(compile_massive_snapshot(spark, snap_cat, "[level=9]"))
    assert after == {900001}
    pinned = set(compile_massive_snapshot(
        spark, snap_cat, "[level=9]", version=1
    ))
    assert pinned == set()


def test_group_prune_ranges_only_implied_bounds(spark):
    from ophidia_server_spark.filters import group_prune_ranges

    r = group_prune_ranges(
        {"level": "1|2", "container": "Brand#13", "measure!": "economy"},
        "/sess1",
    )
    assert r["level"] == (1, 2)
    assert r["container"] == ("Brand#13", "Brand#13")
    assert "measure" not in r
    assert r["path"][0] == "/sess1"
    # negated / non-integer / wildcard keys contribute nothing
    assert "level" not in group_prune_ranges({"level!": "3"}, "/sess1")
    assert "cube_id" not in group_prune_ranges({"cube_filter": "*"}, "/sess1")
    assert group_prune_ranges({"cube_filter": "5:3"}, "/sess1").get("cube_id") is None


def test_snapshot_backend_negated_parent_not_pruned(spark, tmp_path):
    # review finding: a co-present parent_cube! must see the FULL lineage
    # table — pruning the read to the positive parent's rows would hand
    # the negation an empty kids set and silently keep cubes it excludes.
    # Constructed multi-parent lineage (cube 300 descends from BOTH 5 and
    # 7): [parent_cube=5; parent_cube!=7] must exclude 300.
    from ophidia_server_spark.catalog import Catalog, snapshot_catalog_write
    from ophidia_server_spark.filters import compile_massive_snapshot

    cubes = spark.createDataFrame(
        [(300, 1, "c", "/sess1/x", 0, "m"), (301, 1, "c", "/sess1/x", 0, "m")],
        "cube_id long, container_id long, container string, path string, "
        "level long, measure string",
    )
    lineage = spark.createDataFrame(
        [(300, "derive", 5), (300, "derive", 7), (301, "derive", 5)],
        "out_cube long, task string, in_cube long",
    )
    metadata = spark.createDataFrame(
        [], "cube_id long, key string, value string"
    )
    cat = Catalog(cubes=cubes, metadata=metadata, lineage=lineage)
    base = str(tmp_path / "mpcat")
    snapshot_catalog_write(cat, base)
    arg = "[parent_cube=http://srv/0/5;parent_cube!=http://srv/0/7]"
    mem = set(ids(both(cat), arg))
    snap = set(compile_massive_snapshot(spark, base, arg))
    assert mem == snap == {301}


def test_snapshot_backend_empty_container_not_pruned_away(spark, tmp_path):
    # review finding: '[container=|Brand#13]' must keep empty-string
    # containers on the snapshot backend (the envelope is dropped, not
    # narrowed past them)
    from ophidia_server_spark.catalog import Catalog, snapshot_catalog_write
    from ophidia_server_spark.filters import (
        compile_massive_snapshot, group_prune_ranges,
    )

    assert "container" not in group_prune_ranges(
        {"container": "|Brand#13"}, "/sess1"
    )
    cubes = spark.createDataFrame(
        [(1, 1, "", "/sess1/x", 0, "m"), (2, 1, "Brand#13", "/sess1/x", 0, "m"),
         (3, 1, "Brand#99", "/sess1/x", 0, "m")],
        "cube_id long, container_id long, container string, path string, "
        "level long, measure string",
    )
    empty_md = spark.createDataFrame([], "cube_id long, key string, value string")
    empty_lg = spark.createDataFrame([], "out_cube long, task string, in_cube long")
    cat = Catalog(cubes=cubes, metadata=empty_md, lineage=empty_lg)
    base = str(tmp_path / "emptycont")
    snapshot_catalog_write(cat, base)
    arg = "[container=|Brand#13]"
    mem = set(ids(both(cat), arg))
    snap = set(compile_massive_snapshot(spark, base, arg))
    assert mem == snap == {1, 2}


def test_snapshot_catalog_append_keeps_versions_aligned(spark, cat, tmp_path):
    # review finding: a partial append must advance ALL tables (empty
    # appends for the rest) so one version number = one catalog state
    from ophidia_server_spark import layout
    from ophidia_server_spark.catalog import (
        load_snapshot_catalog, snapshot_catalog_append, snapshot_catalog_write,
    )

    base = str(tmp_path / "aligned")
    snapshot_catalog_write(cat["dataframe"], base)
    new = spark.createDataFrame(
        [(910001, 40, "Brand#98", "/sess1/new/b98", 8, "m8")],
        "cube_id long, container_id long, container string, path string, "
        "level int, measure string",
    )
    vs = snapshot_catalog_append(base, cubes=new)
    assert vs == {"cubes": 2, "metadata": 2, "lineage": 2}
    # the pinned post-append version opens every table without error and
    # row counts are consistent (metadata/lineage unchanged)
    got = load_snapshot_catalog(spark, base, version=2)
    assert got.cubes.filter("cube_id = 910001").count() == 1
    assert got.metadata.count() == cat["dataframe"].metadata.count()
    import os
    assert layout.snapshot_versions(os.path.join(base, "lineage")) == [1, 2]
