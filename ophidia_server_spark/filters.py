"""Massive-operation selection algebra: the reference server's own query
language, evaluated against the cube catalog.

Grammar (studied at /root/reference/src/oph_massive_operations.c:409-585 and
oph_parser.h:89-94): a task argument of the form

    cube=[filter;filter;...][more]|<explicit PID>|...

where each `[...]` group is an implicit selector (semicolon-separated key=value
filters) and `|`-separated bare items are explicit cube PIDs. A bare value with
no '=' inside brackets is inferred as `cube_filter` (subset string over cube
ids) — default-key inference per oph_massive_operations.c:76-116. Any filter
key may be negated with a trailing '!' (OPH_MF_SYMBOL_NOT, oph_filters.h:62;
applied oph_filters.c:567-569). Multivalue `a|b` lists OR-combine, and
AND-combine when negated (oph_filters.c:61-76). The reference compiles all of
this into one catalog SQL `SELECT DISTINCT datacube.iddatacube, ...`
(oph_filters.c:718-721) and runs it on its metadata database, never on the
analytics cluster.

One evaluator, `compile_massive`, answers every catalog in the driver,
the way the reference answers with one small metadata query:

- a `RowCatalog` (the live CubeStore's snapshot) is evaluated as it is,
  over plain rows: no DataFrame, no Spark job;
- a `Catalog` of DataFrames (the part-derived fixture, the snapshot-store
  backend) is first narrowed in Spark, per bracket group, to the rows that
  group can match (`narrow`), and those rows are collected and evaluated
  the same way.

Supported filter keys (oph_filters.c): level, measure, container,
container_pid, cube_filter, parent_cube, metadata_key, metadata_value, path
(+recursive, depth), plus free key=value pairs treated as metadata LIKE
filters (oph_filters.c:545-555). `run=no` yields the expansion list without
executing (oph_massive_operations.c:151-153).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import functions as F

from ophidia_server_spark.catalog import Catalog, RowCatalog
from ophidia_server_spark.subset import parse_subset

NOT = "!"
_KNOWN = {
    "level", "measure", "container", "container_pid", "cube_filter",
    "parent_cube", "metadata_key", "metadata_value", "path", "recursive",
    "depth", "run",
}


def parse_massive(arg: str) -> tuple[list[dict[str, str]], list[str]]:
    """Split a massive argument into bracket filter-groups and explicit PIDs.

    Returns (groups, explicit_pids). Each group is an ordered {key: value}
    dict (keys keep their '!' negation suffix). Default-key inference: a bare
    value becomes cube_filter.
    """
    groups: list[dict[str, str]] = []
    rest = arg.strip()
    # extract [...] groups
    for m in re.finditer(r"\[([^\]]*)\]", rest):
        body = m.group(1)
        kv: dict[str, str] = {}
        for clause in body.split(";"):
            clause = clause.strip()
            if not clause:
                continue
            if "=" in clause:
                k, v = clause.split("=", 1)
                # tolerate both `key!=v` and `key! = v` spellings
                kv[k.strip()] = v.strip()
            else:
                kv["cube_filter"] = clause  # default-key inference
        groups.append(kv)
    # validate each bracket group against the OPH_MASSIVE descriptor before
    # compiling, exactly where the reference runs its parser on the
    # assembled task string (oph_massive_operations.c:118-123 ->
    # oph_tp_task_params_parser(OPH_MASSIVE_OPERATOR, ...)): a bad typed
    # value (depth=x, recursive=maybe) is a named ParamValidationError at
    # submit, never a deep TypeError mid-expansion. strict=False keeps the
    # free key=value -> metadata LIKE extension (oph_filters.c:545-555).
    from ophidia_server_spark.plans.descriptors import (
        DESCRIPTORS, validate_params)

    for kv in groups:
        validate_params(DESCRIPTORS["oph_massive"], kv, strict=False)
    rest_no_groups = re.sub(r"\[[^\]]*\]", "", rest)
    pids = [p.strip() for p in rest_no_groups.split("|") if p.strip()]
    for p in pids:
        # an unclosed/stray bracket is a parse error, not a PID
        # (oph_server_test.c:2831 "[wrong" -> error)
        if "[" in p or "]" in p:
            raise ValueError(f"malformed massive filter near {p!r}")
    return groups, pids


def _split_neg(key: str) -> tuple[str, bool]:
    if key.endswith(NOT):
        return key[:-1], True
    return key, False


def pid_cube_id(pid: str) -> int:
    """PID URL -> cube id: last path component
    (oph_massive_operations.c:346 renders http://server/<container>/<cube>)."""
    return int(str(pid).rstrip("/").rsplit("/", 1)[-1])


def _group_flags(kv: dict[str, str]) -> tuple[int, bool]:
    """Reject the groups the reference answers with "No query expected" and
    return the group's (depth, recursive) path options."""
    if not kv:
        # "[]" yields no query in the reference (oph_server_test.c case 22:
        # "No query expected") — an empty group is a caller error, not
        # select-all
        raise ValueError("empty massive filter group []")
    stripped = {_split_neg(k)[0] for k in kv}
    if "metadata_value" in stripped and not kv.get("metadata_key"):
        # metadata_value (negated or not) is only meaningful paired with
        # metadata_key (oph_server_test.c case 9 -> "No query expected")
        raise ValueError("metadata_value requires metadata_key")
    depth = int(kv.get("depth", "0") or 0)
    recursive = kv.get("recursive", "no").lower() == "yes"
    return depth, recursive


def _container_pid(value: str) -> int:
    """container PID = http://server/<idcontainer>; tolerate a full cube PID
    (<idcontainer>/<iddatacube>) by taking the container component
    (oph_filters.c:272-305 parses the id from the URL)."""
    nums = [p for p in str(value).rstrip("/").split("/") if p.isdigit()]
    if not nums:
        raise ValueError(f"container_pid {value!r} names no numeric container id")
    return int(nums[-2]) if len(nums) >= 2 else int(nums[-1])


def _path_base(value: str, session_prefix: str) -> str:
    """A path filter's folder, prefixed with the session prefix
    (oph_filters.c:576-601)."""
    base = value if value.startswith(session_prefix) else session_prefix + (
        "" if value.startswith("/") else "/"
    ) + value
    return base.rstrip("/")


def _metadata_pairs(kv: dict[str, str], value: str) -> list[tuple[str | None, str]]:
    """metadata_value's (key, substring) pairs: the i-th value pairs with
    the i-th metadata_key, or with any key past the end of that list."""
    keys = kv.get("metadata_key", "").split("|") if kv.get("metadata_key") else [None]
    return [
        (keys[i] if i < len(keys) and keys[i] else None, v)
        for i, v in enumerate(value.split("|"))
    ]


def _evaluate_group(cat: RowCatalog, kv: dict[str, str]) -> set[int]:
    """One bracket group's cube ids over a RowCatalog, in the driver.
    Each key becomes a test on one cubes column; a row matches when every
    test holds (the reference emits one WHERE conjunction). A None field
    fails its test whether or not the key is negated, as a SQL NULL fails
    both `=` and `!=`. Every group is session-scoped: cubes outside the
    session prefix are invisible whatever keys the caller supplies
    (oph_filters.c:576-601), so the boundary is structural, not opt-in."""
    cid, cont_id, cont, path, level, measure = range(6)
    tests: list[tuple[int, Callable[[object], bool]]] = []

    def add(col: int, test: Callable[[object], bool], neg: bool = False) -> None:
        tests.append((col, (lambda v: not test(v)) if neg else test))

    def md_hit(match: Callable[[str, str], bool]) -> set:
        return {c for c, k, v in cat.metadata if match(k, v)}

    sp = (cat.session_prefix or "").rstrip("/")
    if sp:
        add(path, lambda p: p == sp or p.startswith(sp + "/"))
    depth, recursive = _group_flags(kv)

    for rawk, value in kv.items():
        key, neg = _split_neg(rawk)
        if key in ("recursive", "depth", "run"):
            continue
        if key in ("level", "measure", "container"):
            # multivalue OR; negated, an AND of != (oph_filters.c:61-76)
            vals = set(value.split("|"))
            if key == "level":  # compared as a string
                add(level, lambda v, vals=vals: str(v) in vals, neg)
            else:
                add(measure if key == "measure" else cont, lambda v, vals=vals: v in vals, neg)
        elif key == "container_pid":
            want = _container_pid(value)
            add(cont_id, lambda v, want=want: v == want, neg)
        elif key == "cube_filter":
            # "[*]" / "[all]" select everything in scope (reference cases 0
            # and 21 compile to the bare folder-scoped query); otherwise each
            # |-separated item is its own subset string, OR-combined (AND of
            # complements when negated, oph_filters.c:61-76)
            if str(value).strip().lower() in ("*", "all"):
                if neg:  # not-all selects nothing, not everything
                    add(cid, lambda v: False)
                continue
            clauses = [
                c.resolved(None) for item in str(value).split("|") for c in parse_subset(item)
            ]
            add(cid, lambda v, cs=clauses: any(
                c.start <= v <= c.end and (v - c.start) % c.stride == 0 for c in cs
            ), neg)
        elif key == "parent_cube":
            parent = pid_cube_id(value)
            kids = {o for o, _, i in cat.lineage if i == parent}
            add(cid, lambda v, s=kids: v in s, neg)
        elif key == "path":
            base = _path_base(value, cat.session_prefix)
            if recursive:
                # depth-limited recursion (oph_filters.c:476-489): path may
                # be at most `depth` components below the base
                maxslash = base.count("/") + depth
                add(path, lambda p, b=base, m=maxslash: (
                    (p == b or p.startswith(b + "/")) and (depth <= 0 or p.count("/") <= m)
                ), neg)
            else:
                add(path, lambda p, b=base: p == b, neg)
        elif key == "metadata_key":
            # every listed key must exist for the cube (AND-combined,
            # oph_filters.c:307-369); negation: none may exist
            for k in value.split("|"):
                hit = md_hit(lambda mk, _, k=k: mk == k)
                add(cid, lambda v, s=hit: v in s, neg)
        elif key == "metadata_value":
            for k, sub in _metadata_pairs(kv, value):
                hit = md_hit(lambda mk, mv, k=k, sub=sub: (
                    mv is not None and sub in mv and (not k or mk == k)
                ))
                add(cid, lambda v, s=hit: v in s, neg)
        elif key not in _KNOWN:
            # free key=value -> metadata LIKE filter (oph_filters.c:545-555)
            hit = md_hit(lambda mk, mv, k=key, sub=value: (
                mk == k and mv is not None and sub in mv
            ))
            add(cid, lambda v, s=hit: v in s, neg)
    return {
        r[cid] for r in cat.cubes
        if all(r[col] is not None and test(r[col]) for col, test in tests)
    }


# --- Narrowing: the rectangle a group implies ------------------------------

def _subset_envelope(value: str) -> tuple[int, int] | None:
    """Conservative [lo, hi] integer envelope of a cube_filter subset
    string ('1:7:150,180:185' -> (1, 185)). None when any segment is not a
    pure index range (open ends, '*', 'end' keywords) — no envelope means
    no pruning, never a wrong one."""
    lo: int | None = None
    hi: int | None = None
    for item in str(value).split(","):
        parts = [p.strip() for p in item.split(":")]
        if not parts or any(not p.lstrip("-").isdigit() for p in parts):
            return None
        a, b = int(parts[0]), int(parts[-1])
        if b < a:
            return None
        lo = a if lo is None else min(lo, a)
        hi = b if hi is None else max(hi, b)
    return None if lo is None else (lo, hi)


def group_prune_ranges(kv: dict[str, str], session_prefix: str) -> dict:
    """The predicate rectangle a bracket group IMPLIES on the cubes table:
    the `between` filter `narrow` applies to a DataFrame catalog, and the
    min-max file-skipping lever for the snapshot-backed one.
    Only non-negated keys contribute (a negation implies no bound); a
    multivalue list contributes its envelope. Keys map to the stats
    columns snapshot_catalog_write records: level (numeric), container
    (string), path (string prefix range), cube_filter -> cube_id
    (integer envelope). Everything else contributes nothing — the
    rectangle must only ever keep more rows than _evaluate_group's exact
    tests, which run afterward."""
    ranges: dict = {}
    sp = (session_prefix or "").rstrip("/")
    # session scoping is structural (_evaluate_group enforces it for every
    # group), so the path envelope starts at the session prefix
    if sp:
        ranges["path"] = (sp, sp + "￿")
    for rawk, value in kv.items():
        key, neg = _split_neg(rawk)
        if neg:
            continue
        if key == "level":
            items = [i.strip() for i in str(value).split("|")]
            if all(i.lstrip("-").isdigit() for i in items) and items:
                vals = [int(i) for i in items]
                ranges["level"] = (min(vals), max(vals))
        elif key == "container":
            # all-or-nothing like level: dropping empty items before the
            # envelope would exclude empty-string containers the exact
            # test matches (missing rows, not an error)
            items = str(value).split("|")
            if items and all(items):
                ranges["container"] = (min(items), max(items))
        elif key == "path":
            base = _path_base(value, session_prefix or "")
            recursive = kv.get("recursive", "no").lower() == "yes"
            ranges["path"] = (base, base + "￿") if recursive else (
                base, base
            )
        elif key == "cube_filter":
            if str(value).strip().lower() in ("*", "all"):
                continue
            env = _subset_envelope(value)
            if env is not None:
                ranges["cube_id"] = env
    return ranges


# --- Expansion ----------------------------------------------------------------

def narrow(cat: Catalog, kv: dict[str, str]) -> RowCatalog:
    """The rows of a DataFrame catalog that bracket group `kv` can match,
    cut in Spark and collected for _evaluate_group:

    - cubes: the group's group_prune_ranges rectangle, which only ever
      keeps more rows than the exact tests accept;
    - metadata: the rows under a key the group names (metadata_key values
      and free keys); every row when a metadata_value pairs with no key;
      none when the group names no key;
    - lineage: the rows whose in_cube is a parent_cube the group names,
      of either polarity.
    """
    _group_flags(kv)  # a group the reference rejects launches no job
    keys: set[str] = set()
    every_key = False
    parents: set[int] = set()
    for rawk, value in kv.items():
        key = _split_neg(rawk)[0]
        if key == "metadata_key":
            keys.update(value.split("|"))
        elif key == "metadata_value":
            every_key |= any(k is None for k, _ in _metadata_pairs(kv, value))
        elif key == "parent_cube":
            parents.add(pid_cube_id(value))
        elif key not in _KNOWN:
            keys.add(key)
    cubes = cat.cubes
    for c, (lo, hi) in group_prune_ranges(kv, cat.session_prefix).items():
        cubes = cubes.filter(F.col(c).between(F.lit(lo), F.lit(hi)))
    metadata = cat.metadata if every_key else cat.metadata.filter(
        F.col("key").isin(sorted(keys))
    )
    lineage = cat.lineage.filter(F.col("in_cube").isin(sorted(parents)))
    return RowCatalog(
        cubes=cubes.select(
            "cube_id", "container_id", "container", "path", "level", "measure"
        ).collect(),
        metadata=metadata.select("cube_id", "key", "value").collect()
        if every_key or keys else [],
        lineage=lineage.select("out_cube", "task", "in_cube").collect()
        if parents else [],
        session_prefix=cat.session_prefix,
    )


def _expand(arg: str, rows_for: Callable[[int, dict[str, str]], RowCatalog]) -> list[int]:
    """The union of the argument's bracket groups, each evaluated over
    rows_for(group_index, group), plus its explicit PIDs: sorted, distinct
    cube ids, as `SELECT DISTINCT datacube.iddatacube` returns them
    (oph_filters.c:718-721)."""
    groups, pids = parse_massive(arg)
    if not groups and not pids:
        raise ValueError(f"empty massive argument {arg!r}")
    out = {pid_cube_id(p) for p in pids}
    for gi, g in enumerate(groups):
        out |= _evaluate_group(rows_for(gi, g), g)
    return sorted(out)


def compile_massive(cat: Catalog | RowCatalog, arg: str) -> list[int]:
    """Sorted, distinct cube ids a massive argument selects. A RowCatalog
    (the live store's snapshot) is evaluated as it is, with no Spark job;
    a Catalog of DataFrames is narrowed per group, then evaluated the same
    way."""
    if isinstance(cat, RowCatalog):
        return _expand(arg, lambda _, g: cat)
    return _expand(arg, lambda _, g: narrow(cat, g))


def compile_massive_snapshot(
    spark,
    base_path: str,
    arg: str,
    session_prefix: str | None = None,
    version: int | None = None,
    prune_report: list | None = None,
) -> list[int]:
    """compile_massive over the snapshot-store catalog backend
    (catalog.snapshot_catalog_write layout): per bracket group, the cubes
    table is opened as a PRUNED snapshot read — only files whose recorded
    (container, level, path, cube_id) min-max envelope intersects the
    group's predicate rectangle are scanned — then narrowed and evaluated
    like any DataFrame catalog. Same ids as the in-memory backend by
    construction (pruning is layout.py's conservative contract); at
    millions of cubes the win is reading O(matching files) of a
    continuously-appended catalog instead of all of it. `prune_report`
    (when a list) receives one (group_index, files_read, files_total)
    triple per group — the pruning visibility hook the plan-assertion
    tests use."""
    import os as _os

    from ophidia_server_spark import layout
    from ophidia_server_spark.catalog import SESSION_PREFIX

    sp = SESSION_PREFIX if session_prefix is None else session_prefix
    metadata, lineage = (
        layout.snapshot_read(spark, _os.path.join(base_path, t), version)
        for t in ("metadata", "lineage")
    )

    def rows_for(gi: int, g: dict[str, str]) -> RowCatalog:
        cubes, fr, ft = layout.snapshot_pruned_read(
            spark, _os.path.join(base_path, "cubes"),
            group_prune_ranges(g, sp), version,
        )
        if prune_report is not None:
            prune_report.append((gi, fr, ft))
        return narrow(Catalog(
            cubes=cubes, metadata=metadata, lineage=lineage, session_prefix=sp,
        ), g)

    return _expand(arg, rows_for)
