"""Driver-contract smoke: entry() runs on a plain session, queries() and
oracle_sql() stay consistent."""

import __spark_entry__ as entry


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_oracle_has_query():
    qs = entry.queries()
    os_ = entry.oracle_sql()
    missing = set(os_) - set(qs)
    assert not missing, f"oracles without queries: {missing}"


def test_inventory_size():
    # coverage floor: keep the declared surface from shrinking silently
    assert len(entry.queries()) >= 55
    assert len(entry.oracle_sql()) >= 50


def test_priority_head_spans_families():
    # the driver grades the first 50 entries of queries(); keep that head a
    # curated cross-family sample, with nothing dropped from the full surface
    qs = entry.queries()
    assert len(entry.PRIORITY) == 50
    assert list(qs)[:50] == entry.PRIORITY
    families = ["tpch_", "cube_", "mf_", "workflow_", "io_", "catalog_",
                "dedup_", "sim_", "text_", "sample_", "multimodal_",
                "events_", "pipeline_"]
    for fam in families:
        assert any(n.startswith(fam) for n in entry.PRIORITY), fam
    # reordering must not lose queries
    from ophidia_server_spark.registry import QUERIES
    assert set(qs) == set(QUERIES)


def test_bench_headline_and_priority_names_resolve():
    import importlib.util
    import os

    from ophidia_server_spark.registry import ORACLES, QUERIES

    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    unknown = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not unknown, f"bench HEADLINE names not in QUERIES: {unknown}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate rows"
    import __spark_entry__ as e

    bad = [n for n in e.PRIORITY if n not in QUERIES]
    assert not bad, f"PRIORITY names not in QUERIES: {bad}"
    # the driver-graded head must be fully oracle-backed
    head = list(e.queries())[:50]
    assert all(n in ORACLES for n in head)



def _package_refs(path):
    """Dotted package names a tooling script uses: every `from
    ophidia_server_spark... import name` / `import ophidia_server_spark...`
    (at any depth) plus every `alias.attr` read through a name so imported."""
    import ast

    tree = ast.parse(open(path).read(), path)
    refs, aliases = [], {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
            node.module or ""
        ).startswith("ophidia_server_spark"):
            for a in node.names:
                aliases[a.asname or a.name] = f"{node.module}.{a.name}"
                refs.append(aliases[a.asname or a.name])
        elif isinstance(node, ast.Import):
            refs += [a.name for a in node.names
                     if a.name.startswith("ophidia_server_spark")]
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in aliases):
            refs.append(f"{aliases[node.value.id]}.{node.attr}")
    return refs


def _resolves(dotted):
    """getattr down the dotted path, importing submodules on the way."""
    import importlib

    parts = dotted.split(".")
    obj = importlib.import_module(parts[0])
    for i, part in enumerate(parts[1:], 2):
        if hasattr(obj, part):
            obj = getattr(obj, part)
            continue
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            return False
    return True


def test_tooling_package_imports_resolve():
    """bench.py and scripts/*.py are not run by the suite; statically check
    that every package name they use still exists, so deleting one from
    the package can never leave a tool that fails on import."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(root, "bench.py")] + sorted(
        glob.glob(os.path.join(root, "scripts", "*.py"))
    )
    missing = [
        (os.path.basename(p), ref)
        for p in paths for ref in _package_refs(p) if not _resolves(ref)
    ]
    assert not missing, f"tooling references missing package names: {missing}"
