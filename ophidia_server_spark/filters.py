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

Two evaluators share the parser and the per-key semantics, chosen by the
catalog's type in `expand_massive`:

- a `RowCatalog` (the live CubeStore's snapshot) is evaluated in the driver
  over plain rows: no DataFrame, no Spark job;
- a `Catalog` of DataFrames (catalog tables: the part-derived fixture, the
  snapshot-store backend) is compiled by `compile_group` into Column
  predicates and semi-joins against the metadata/lineage tables, which
  Catalyst pushes into the (tiny, broadcastable) catalog scans.

Supported filter keys (oph_filters.c): level, measure, container,
container_pid, cube_filter, parent_cube, metadata_key, metadata_value, path
(+recursive, depth), plus free key=value pairs treated as metadata LIKE
filters (oph_filters.c:545-555). `run=no` yields the expansion list without
executing (oph_massive_operations.c:151-153).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ophidia_server_spark.catalog import Catalog, RowCatalog
from ophidia_server_spark.subset import parse_subset, subset_predicate

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


def _multival(col: Column, value: str, negate: bool) -> Column:
    """Multivalue 'a|b' => OR of equals; negated => AND of not-equals
    (oph_filters.c:61-76)."""
    vals = value.split("|")
    if negate:
        pred = None
        for v in vals:
            p = col != F.lit(v)
            pred = p if pred is None else (pred & p)
        return pred
    return col.isin(vals)


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


def compile_group(cat: Catalog, kv: dict[str, str]) -> DataFrame:
    """Compile one bracket group into a DataFrame of matching cube_ids.

    Predicates AND-combine across keys (the reference emits one WHERE
    conjunction). Session scoping: path filters are prefixed with the session
    prefix (oph_filters.c:576-601) — enforced here for every query.
    """
    df = cat.cubes
    # every catalog query is session-scoped (oph_filters.c:576-601): cubes
    # outside the session prefix are invisible no matter which filter keys
    # the caller supplies — the ACL boundary is structural, not opt-in
    sp = (cat.session_prefix or "").rstrip("/")
    if sp:
        df = df.filter((F.col("path") == sp) | F.col("path").startswith(sp + "/"))
    pred: Column | None = None

    def add(p: Column) -> None:
        nonlocal pred
        pred = p if pred is None else (pred & p)

    def semi(hit: DataFrame, neg: bool) -> None:
        nonlocal df
        df = df.join(F.broadcast(hit), "cube_id", "left_anti" if neg else "left_semi")

    depth, recursive = _group_flags(kv)

    for rawk, value in kv.items():
        key, neg = _split_neg(rawk)
        if key in ("recursive", "depth", "run"):
            continue
        if key == "level":
            add(_multival(F.col("level").cast("string"), value, neg))
        elif key == "measure":
            add(_multival(F.col("measure"), value, neg))
        elif key == "container":
            add(_multival(F.col("container"), value, neg))
        elif key == "container_pid":
            p = F.col("container_id") == _container_pid(value)
            add(~p if neg else p)
        elif key == "cube_filter":
            # "[*]" / "[all]" select everything in scope (reference cases 0
            # and 21 compile to the bare folder-scoped query); otherwise each
            # |-separated item is its own subset string, OR-combined (AND of
            # complements when negated, oph_filters.c:61-76)
            if str(value).strip().lower() in ("*", "all"):
                if neg:  # not-all selects nothing, not everything
                    add(F.lit(False))
                continue
            p = None
            for item in str(value).split("|"):
                q = subset_predicate(F.col("cube_id"), item)
                p = q if p is None else (p | q)
            add(~p if neg else p)
        elif key == "parent_cube":
            parent = pid_cube_id(value)
            kids = cat.lineage.filter(F.col("in_cube") == parent).select(
                F.col("out_cube").alias("cube_id")
            )
            semi(kids, neg)
        elif key == "path":
            base = _path_base(value, cat.session_prefix)
            if recursive:
                p = (F.col("path") == base) | F.col("path").startswith(base + "/")
                if depth > 0:
                    # depth-limited recursion (oph_filters.c:476-489): path may
                    # be at most `depth` components below the base
                    maxslash = base.count("/") + depth
                    p = p & (
                        F.length("path") - F.length(F.replace(F.col("path"), F.lit("/"), F.lit("")))
                        <= maxslash
                    )
            else:
                p = F.col("path") == base
            add(~p if neg else p)
        elif key == "metadata_key":
            # every listed key must exist for the cube (AND-combined,
            # oph_filters.c:307-369); negation: none may exist
            for k in value.split("|"):
                semi(cat.metadata.filter(F.col("key") == k).select("cube_id").distinct(), neg)
        elif key == "metadata_value":
            for k, v in _metadata_pairs(kv, value):
                cond = F.col("value").contains(v)
                if k:
                    cond = cond & (F.col("key") == k)
                semi(cat.metadata.filter(cond).select("cube_id").distinct(), neg)
        elif key not in _KNOWN:
            # free key=value -> metadata LIKE filter (oph_filters.c:545-555)
            hit = cat.metadata.filter(
                (F.col("key") == key) & F.col("value").contains(value)
            ).select("cube_id").distinct()
            semi(hit, neg)
    if pred is not None:
        df = df.filter(pred)
    return df.select("cube_id").distinct()


def _evaluate_group(cat: RowCatalog, kv: dict[str, str]) -> set[int]:
    """compile_group's semantics over a RowCatalog, in the driver. Each key
    becomes a test on one cubes column; a row matches when every test holds.
    A None field fails its test whether or not the key is negated, as a SQL
    NULL fails both `=` and `!=`."""
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
            if key == "level":  # compared as a string, like the cast above
                add(level, lambda v, vals=vals: str(v) in vals, neg)
            else:
                add(measure if key == "measure" else cont, lambda v, vals=vals: v in vals, neg)
        elif key == "container_pid":
            want = _container_pid(value)
            add(cont_id, lambda v, want=want: v == want, neg)
        elif key == "cube_filter":
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
                maxslash = base.count("/") + depth
                add(path, lambda p, b=base, m=maxslash: (
                    (p == b or p.startswith(b + "/")) and (depth <= 0 or p.count("/") <= m)
                ), neg)
            else:
                add(path, lambda p, b=base: p == b, neg)
        elif key == "metadata_key":
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
            hit = md_hit(lambda mk, mv, k=key, sub=value: (
                mk == k and mv is not None and sub in mv
            ))
            add(cid, lambda v, s=hit: v in s, neg)
    return {
        r[cid] for r in cat.cubes
        if all(r[col] is not None and test(r[col]) for col, test in tests)
    }


def expand_massive(cat: Catalog | RowCatalog, arg: str) -> list[int]:
    """Sorted, distinct cube ids a massive argument selects: the union of
    its bracket groups plus its explicit PIDs. A RowCatalog is evaluated in
    the driver; a Catalog of DataFrames goes through compile_massive and
    one collect."""
    if not isinstance(cat, RowCatalog):
        return sorted(r.cube_id for r in compile_massive(cat, arg).collect())
    groups, pids = parse_massive(arg)
    out: set[int] = set()
    for g in groups:
        out |= _evaluate_group(cat, g)
    out.update(pid_cube_id(p) for p in pids)
    if not groups and not pids:
        raise ValueError(f"empty massive argument {arg!r}")
    return sorted(out)


def compile_massive(cat: Catalog, arg: str) -> DataFrame:
    """Full massive expansion: union of all bracket groups plus explicit PIDs,
    DISTINCT — mirroring `SELECT DISTINCT datacube.iddatacube ...`
    (oph_filters.c:718-721). Returns DataFrame[cube_id]."""
    groups, pids = parse_massive(arg)
    parts: list[DataFrame] = [compile_group(cat, g) for g in groups]
    return _finish_expansion(cat.cubes.sparkSession, parts, pids, arg)


def _finish_expansion(spark, parts: list[DataFrame], pids: list[str],
                      arg: str) -> DataFrame:
    """Shared expansion tail for both catalog backends: explicit PIDs
    union in as literal ids, empty expansions are caller errors, and the
    result is DISTINCT cube_ids — `SELECT DISTINCT datacube.iddatacube`
    (oph_filters.c:718-721) either way."""
    if pids:
        ids = [pid_cube_id(p) for p in pids]
        parts = parts + [
            spark.createDataFrame([(i,) for i in ids], "cube_id long")
        ]
    if not parts:
        raise ValueError(f"empty massive argument {arg!r}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


# --- Snapshot-backed compilation (round 10) ---------------------------------

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
    """The predicate rectangle a bracket group IMPLIES on the cubes table —
    the min-max file-skipping lever for the snapshot-backed catalog.
    Only non-negated keys contribute (a negation implies no bound); a
    multivalue list contributes its envelope. Keys map to the stats
    columns snapshot_catalog_write records: level (numeric), container
    (string), path (string prefix range), cube_filter -> cube_id
    (integer envelope). Everything else contributes nothing — pruning
    must only ever be narrower than compile_group's exact predicates,
    which re-apply afterward."""
    ranges: dict = {}
    sp = (session_prefix or "").rstrip("/")
    # session scoping is structural (compile_group enforces it for every
    # query), so the path envelope starts at the session prefix
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
            # isin matches (missing rows, not an error)
            items = str(value).split("|")
            if items and all(items):
                ranges["container"] = (min(items), max(items))
        elif key == "path":
            base = value if value.startswith(sp) else sp + (
                "" if value.startswith("/") else "/"
            ) + value
            base = base.rstrip("/")
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


def compile_massive_snapshot(
    spark,
    base_path: str,
    arg: str,
    session_prefix: str | None = None,
    version: int | None = None,
    prune_report: list | None = None,
) -> DataFrame:
    """compile_massive over the snapshot-store catalog backend
    (catalog.snapshot_catalog_write layout): per bracket group, the cubes
    table is opened as a PRUNED snapshot read — only files whose recorded
    (container, level, path, cube_id) min-max envelope intersects the
    group's predicate rectangle are scanned — then the ordinary
    compile_group applies the exact filter semantics on what survived.
    Same rows as the in-memory backend by construction (pruning is
    layout.py's conservative contract); at millions of cubes the win is
    reading O(matching files) of a continuously-appended catalog instead
    of all of it. The lineage table prunes on in_cube when the group names
    a non-negated parent_cube; metadata reads stay full (semi-joined,
    broadcast). `prune_report` (when a list) receives one
    (group_index, files_read, files_total) triple per group — the pruning
    visibility hook the plan-assertion tests use."""
    import os as _os

    from ophidia_server_spark import layout
    from ophidia_server_spark.catalog import SESSION_PREFIX

    sp = SESSION_PREFIX if session_prefix is None else session_prefix
    groups, pids = parse_massive(arg)
    metadata = layout.snapshot_read(
        spark, _os.path.join(base_path, "metadata"), version
    )
    parts: list[DataFrame] = []
    for gi, g in enumerate(groups):
        ranges = group_prune_ranges(g, sp)
        cubes, fr, ft = layout.snapshot_pruned_read(
            spark, _os.path.join(base_path, "cubes"), ranges, version
        )
        if prune_report is not None:
            prune_report.append((gi, fr, ft))
        pc = {k: v for k, v in g.items() if _split_neg(k)[0] == "parent_cube"}
        parent = next(
            (v for k, v in pc.items() if not _split_neg(k)[1]), None
        )
        # prune ONLY when the group's sole parent_cube use is the positive
        # one: a co-present negated parent_cube! needs the OTHER parent's
        # lineage rows for its left_anti — a row-filtered read would hand
        # it an empty kids set and silently keep cubes it must exclude
        if parent is not None and len(pc) == 1:
            pid = pid_cube_id(parent)
            lineage, _, _ = layout.snapshot_pruned_read(
                spark, _os.path.join(base_path, "lineage"),
                {"in_cube": (pid, pid)}, version,
            )
        else:
            lineage = layout.snapshot_read(
                spark, _os.path.join(base_path, "lineage"), version
            )
        cat = Catalog(
            cubes=cubes, metadata=metadata, lineage=lineage,
            session_prefix=sp,
        )
        parts.append(compile_group(cat, g))
    return _finish_expansion(spark, parts, pids, arg)
