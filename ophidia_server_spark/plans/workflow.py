"""Workflow DAG engine — the reference server's core competence, re-built
driver-side.

Reference behavior studied (not copied) from /root/reference/src/:
  - JSON workflow -> task list with dependency edges; Kahn topological
    validation (oph_workflow_setup.c:113-300, algorithm comment :200-213).
  - Variable substitution `@var` / `@{var}` while building each task's
    submission string (oph_workflow_utils.c:104-272; prefixes
    oph_workflow_define.h:35-40).
  - Flow control served in-process: oph_for/endfor loop expansion
    (oph_flow_control_operators.c:1574-2001), oph_if/elseif/else/endif with a
    numeric condition evaluator and recursive branch-unselection
    (:476-671), oph_set variable definition (:1150-1571), oph_wait clock wait
    (:2003-2375).
  - on_error actions nop|skip|continue|break|abort and retry counters
    (oph_workflow_define.h:63-70, oph_workflow_structs.h:180-183).

Spark mapping: tasks execute Python callables that build/execute DataFrame
plans; Spark parallelizes *within* each task, the engine walks the DAG in
dependency order (ready set = indegree 0, exactly the reference's
residual_deps_num countdown). Flow-control operators never touch Spark.

`WorkflowEngine.run` is a loop over named steps: `_prepare` (parse,
branches, loops, DAG), `_ready_wave`, `_task_args` (role check,
substitution, wait carry, descriptor check), `_flow` (oph_set/oph_input/
oph_wait served in-process), `_dispatch`, `_settle` (on_error) and `_exit`
(exit actions). Every task's arguments pass its descriptor: an operator
gets `operator_args`; a served flow operator gets `_flow_args`, the
reference's strings, refused with the reference's own messages.

Workflow JSON shape (mirrors the reference request schema):
  {"name": ..., "variables": {k: v},
   "tasks": [{"name": t, "operator": op, "arguments": {k: v},
              "dependencies": [task_name, ...], "on_error": "abort|skip"}]}
"""

from __future__ import annotations

import ast
import operator as _op
import os
import re
import time
from collections import deque
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable

from ophidia_server_spark import auth
from ophidia_server_spark.plans.descriptors import (
    DESCRIPTORS, ParamValidationError, operator_args, validate_task)
from ophidia_server_spark.plans.response import extract_from_json
from ophidia_server_spark.session import fan_out

VAR_RE = re.compile(r"@\{(\w+)\}|@(\w+)")
IDX_RE = re.compile(r"&\{(\w+)\}|&(\w+)")

COMPLETED, ERROR, SKIPPED = (
    "OPH_ODB_STATUS_COMPLETED", "OPH_ODB_STATUS_ERROR", "OPH_ODB_STATUS_SKIPPED")

# the flow operators run() serves itself; oph_for/oph_if blocks are
# unrolled and selected before the first wave
FLOW_SERVED = ("oph_set", "oph_input", "oph_wait")

# the reference's message for a flow operator's refused parameter
# (oph_flow_control_operators.c), by (operator, parameter); any other
# refusal raises the descriptor's named error
_FLOW_MESSAGES = {
    ("oph_wait", "type"): "Wrong type '{}'!",
    ("oph_wait", "timeout_type"): "Wrong timeout type '{}'!",
    ("oph_wait", "run"): "Wrong value '{}' for parameter 'run'!",
    ("oph_set", "id"): "Wrong workflow identifier '{}'!",
    ("oph_input", "id"): "Wrong workflow identifier '{}'!",
    ("oph_input", "action"): "Wrong action '{}'!",
}

# Task types the reference's parser accepts (oph_workflow_define.h:109-112;
# anything else is rejected at parse time, oph_workflow_parsing.c:405).
TASK_TYPES = {"ophidia", "cdo", "generic", "control"}


def rewrite_task_types(tasks: list[dict]) -> list[dict]:
    """Task-type normalization, mirroring oph_workflow_parsing.c:
    - unknown types are rejected (:405);
    - type "cdo"/"generic": the task's operator string becomes the
      `command` argument and the operator is rewritten to oph_cdo /
      oph_generic, then the task proceeds as an ordinary one (:970-1002 —
      the original type is kept under `rtype` for the extended response);
    - type "control": the operator is written WITHOUT the oph_ prefix
      ("for", "if", ...) and gets it prepended (:1003-1010).
    Rewritten tasks are copies; untouched tasks pass through by reference."""
    out = []
    for t in tasks:
        ttype = str(t.get("type", "ophidia")).lower()
        if ttype not in TASK_TYPES:
            raise WorkflowError(
                f"task {t.get('name')!r}: unknown type {ttype!r} "
                f"(one of {sorted(TASK_TYPES)})"
            )
        op = str(t.get("operator", ""))
        if ttype in ("cdo", "generic"):
            t = dict(t)
            t["arguments"] = {**t.get("arguments", {}), "command": op}
            t["rtype"] = ttype
            t["operator"] = f"oph_{ttype}"
            t["type"] = "ophidia"
        elif ttype == "control" and not op.startswith("oph_"):
            t = dict(t)
            t["operator"] = f"oph_{op}"
        out.append(t)
    return out


def _op_external_command(engine, args: dict, inputs: dict) -> dict:
    """oph_generic / oph_cdo: allow-listed external command execution
    (management.run_command — the oph_script trust model). Composes with
    the engine's massive expansion: `src_path=[...]` fans out one light
    task per matched file, each appending its file to the command's argv
    and exporting it as OPH_FILE. stdout/stderr land in the task response;
    a non-zero exit flows through retry/backoff/on_error like any task
    error."""
    from ophidia_server_spark import management as _mgmt

    cmd = str(args["command"]).strip()
    if not cmd:
        raise WorkflowError("generic/cdo task without a command")
    # "-" is this engine's declared unset sentinel (the descriptor default;
    # cf. _wait_carry's unset tuple) — appending it would hand the command
    # a literal "-" argument (stdin to most tools)
    src = args["src_path"]
    if src in ("", "-"):
        src = None
    if src is not None and "|" in str(src):
        # multivalue src_path only fans out through the massive [] grammar;
        # a bare 'a.nc|b.nc' here would otherwise be appended verbatim as
        # ONE argv token — reject instead of mis-executing
        raise WorkflowError(
            "generic/cdo src_path with '|' must use massive [...] syntax "
            "(e.g. src_path=[path=...;file=...]) to fan out per file"
        )
    if args["run"] == "no":
        # dry run: validate the allow-list gate without executing
        _mgmt.resolve_command(cmd)
        return {
            "command": cmd, "args": [], "file": src,
            "returncode": 0, "stdout": "", "stderr": "", "dry_run": True,
        }
    return _mgmt.run_command(
        cmd,
        src_path=src,
        session_id=args["sessionid"],
        workflow_id=args["workflowid"],
        marker_id=args["markerid"],
    )


class WorkflowError(Exception):
    pass


def _flow_args(op: str, args: dict) -> dict:
    """A served flow operator's parameters as the reference hands them over:
    the request's strings, extras kept (oph_set's `taskname`, oph_wait's
    `input`, the ignored `cube`/`cwd`), checked against the descriptor with
    its defaults filled (`strict=False`). A "-" default is unset and stays
    out. A refused value raises the reference's message for it."""
    try:
        checked = validate_task(op, args, strict=False)
    except ParamValidationError as e:
        msg = _FLOW_MESSAGES.get((op, e.param))
        raise WorkflowError(msg.format(args[e.param]) if msg else str(e)) from None
    return {**args, **{k: v for k, v in checked.items() if k in args or v != "-"}}


def _given(args: dict, key: str, unset: tuple) -> str | None:
    """args[key] stripped, or None when absent, empty or one of `unset`."""
    v = args.get(key)
    s = str(v).strip() if v is not None else ""
    return s if s and s.lower() not in unset else None


def _split(value) -> list[str]:
    """A multivalue parameter's '|'-separated items; an unset one has none."""
    return [] if value is None else str(value).split("|")


# ---------------------------------------------------------------------------
# safe arithmetic condition evaluator (libmatheval replacement for oph_if;
# reference evaluates variable-free arithmetic strings,
# oph_flow_control_operators.c:592-628: non-zero => true)
# ---------------------------------------------------------------------------

_ALLOWED_BINOPS = {
    ast.Add: _op.add, ast.Sub: _op.sub, ast.Mult: _op.mul, ast.Div: _op.truediv,
    ast.Mod: _op.mod, ast.Pow: _op.pow, ast.FloorDiv: _op.floordiv,
}
_ALLOWED_CMPS = {
    ast.Lt: _op.lt, ast.LtE: _op.le, ast.Gt: _op.gt, ast.GtE: _op.ge,
    ast.Eq: _op.eq, ast.NotEq: _op.ne,
}


def eval_condition(expr: str) -> float:
    """Safely evaluate an arithmetic/comparison expression string.

    Failure taxonomy mirrors the reference's oph_if messages
    (oph_flow_control_operators.c via matheval, asserted case-for-case in
    oph_server_test.c oph_if_impl options 5/6/8/9/10):
      free variables ('x', unresolved '@var')  -> "Too variables in the expression ..."
      division by zero / non-finite result     -> "Wrong condition ..."
      unparseable text ('---')                 -> "Wrong expression ..."
    """

    def ev(node: ast.AST) -> Any:
        if isinstance(node, ast.Expression):
            return ev(node.body)
        if isinstance(node, ast.Constant) and isinstance(node.value, (int, float)):
            return node.value
        if isinstance(node, ast.BinOp) and type(node.op) in _ALLOWED_BINOPS:
            return _ALLOWED_BINOPS[type(node.op)](ev(node.left), ev(node.right))
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, (ast.USub, ast.UAdd, ast.Not)):
            v = ev(node.operand)
            if isinstance(node.op, ast.USub):
                return -v
            if isinstance(node.op, ast.Not):
                return not v
            return v
        if isinstance(node, ast.Compare):
            left = ev(node.left)
            for cmp_op, comparator in zip(node.ops, node.comparators):
                right = ev(comparator)
                if type(cmp_op) not in _ALLOWED_CMPS or not _ALLOWED_CMPS[type(cmp_op)](left, right):
                    return False
                left = right
            return True
        if isinstance(node, ast.BoolOp):
            vals = [ev(v) for v in node.values]
            return all(vals) if isinstance(node.op, ast.And) else any(vals)
        if isinstance(node, ast.Name):
            raise WorkflowError(f"Too variables in the expression '{expr}'!")
        raise WorkflowError(f"disallowed expression element: {ast.dump(node)}")

    text = str(expr).strip()
    if "@" in text:
        # an unresolved @variable survived substitution: a free variable
        raise WorkflowError(f"Too variables in the expression '{expr}'!")
    try:
        return ev(ast.parse(text or "0", mode="eval"))
    except ZeroDivisionError as e:
        raise WorkflowError(f"Wrong condition '{expr}'!") from e
    except SyntaxError as e:
        raise WorkflowError(f"Wrong expression '{expr}'!") from e


def substitute(
    value: Any, variables: dict[str, Any], indexes: dict[str, Any] | None = None
) -> Any:
    """@var / @{var} value substitution plus &var / &{var} loop-index
    substitution (oph_workflow_utils.c:104-272; prefixes "@&" from
    oph_workflow_define.h:35-40 — '&' yields the 1-based iteration index,
    "Non C-like indexing" per oph_flow_control_operators.c:1395). Unknown
    variables are left untouched."""
    if not isinstance(value, str):
        return value

    def repl(m: re.Match) -> str:
        name = m.group(1) or m.group(2)
        return str(variables.get(name, m.group(0)))

    out = VAR_RE.sub(repl, value)
    if indexes:

        def repl_idx(m: re.Match) -> str:
            name = m.group(1) or m.group(2)
            return str(indexes.get(name, m.group(0)))

        out = IDX_RE.sub(repl_idx, out)
    return out


def _parse_counter(spec: str) -> list[int]:
    """`counter=` index list: comma-separated ints and a:b / a:step:b subset
    triplets (oph_flow_control_operators.c:1649-1675 uses the common subset
    parser; indices are inclusive)."""
    out: list[int] = []
    for part in str(spec).split(","):
        part = part.strip()
        if not part:
            continue
        bits = part.split(":")
        if len(bits) == 1:
            out.append(int(float(bits[0])))
        elif len(bits) == 2:
            out.extend(range(int(float(bits[0])), int(float(bits[1])) + 1))
        elif len(bits) == 3:
            out.extend(
                range(int(float(bits[0])), int(float(bits[2])) + 1, int(float(bits[1])))
            )
        else:
            raise WorkflowError(f"bad counter segment {part!r}")
    return out


_FOR_ADDR_RE = re.compile(r"^([\w][\w.]*?)\((\*|\d+)(?:,(\*|\d+))?\)$|^([\w][\w.]*)$")


def resolve_for_values(item: str, responses: list | dict | None) -> list[str] | None:
    """Resolve one `values` item against task responses using the reference's
    response-addressing grammar for oph_for (oph_flow_control_operators.c:
    1694-1780, exercised by oph_server_test.c oph_for_impl options 9-28):

        objkey.title(row,col)     grid cell / row / column ('*' = all)
        objkey.title.rowkey(row)  named column, one row or '*'
        objkey.title              text objclass -> its message

    Indices are 1-based. Returns the resolved string list, or None when the
    address does not resolve — the caller keeps the literal item (reference
    behavior: unresolvable addresses iterate as their literal text,
    oph_server_test.c options 17/19/20)."""
    if not responses:
        return None
    m = _FOR_ADDR_RE.match(item.strip())
    if not m:
        return None
    path = (m.group(1) or m.group(4) or "").split(".")
    row_s, col_s = m.group(2), m.group(3)
    if isinstance(responses, dict):
        responses = [responses]
    objs: list[dict] = []
    for resp in responses:
        if isinstance(resp, dict):
            objs.extend(resp.get("response", [resp] if "objkey" in resp else []))
    for obj in objs:
        if obj.get("objkey") != path[0]:
            continue
        contents = obj.get("objcontent", [])
        if obj.get("objclass") == "text":
            # objkey.title -> message of the content whose title matches
            if len(path) == 2 and row_s is None:
                for c in contents:
                    if c.get("title") == path[1] and "message" in c:
                        return [str(c["message"])]
            continue
        if len(path) < 2:
            continue
        grid = next((c for c in contents if c.get("title") == path[1]), None)
        if grid is None or "rowvalues" not in grid:
            continue
        rows = grid["rowvalues"]
        try:
            if len(path) == 3:  # objkey.title.rowkey(row|*)
                ci = grid["rowkeys"].index(path[2])
                col = [r[ci] for r in rows]
                if row_s in (None, "*"):
                    return [str(v) for v in col]
                return [str(col[int(row_s) - 1])] if int(row_s) >= 1 else None
            if row_s is None:
                return None
            if row_s == "*":
                picked = rows
            else:
                if int(row_s) < 1:
                    return None
                picked = [rows[int(row_s) - 1]]
            if col_s in (None, "*"):
                return [str(v) for r in picked for v in r]
            return [str(r[int(col_s) - 1]) for r in picked] if int(col_s) >= 1 else None
        except (IndexError, ValueError, KeyError):
            return None
    return None


def parse_for_arguments(
    name: str, arguments: dict, variables: dict[str, Any],
    responses: list | dict | None = None,
) -> tuple[str, list[str], list[int], bool]:
    """Parse oph_for's key/values/counter/parallel with the reference's
    argument semantics and error messages (oph_flow_control_operators.c
    oph_for_impl, verified case-for-case by oph_server_test.c options 0-31):

      key       mandatory; '@'-unresolved or non-word characters are fatal
                ("Bad argument 'key'."); a leading digit is accepted (the
                reference only warns "Change variable name ...")
      values    '|'-separated; each item may be a response address
                (resolve_for_values) and unresolvable items stay literal
      counter   subset string; a valid-but-empty range is the reference's
                "Generic error in parsing arguments"; values/counter length
                mismatch is "Arguments 'values' and 'counter' have different
                sizes."
      parallel  must be yes/no after substitution, else the generic error
      neither values nor counter -> a single iteration (values_num == 1)

    Returns (key, values, idxs, parallel)."""
    args = {k: substitute(v, variables) for k, v in arguments.items()}
    key = str(args.get("key", "") or "")
    if not key or key.startswith("@") or not re.fullmatch(r"\w+", key):
        raise WorkflowError("Bad argument 'key'.")
    raw_values = str(args.get("values", "") or "")
    values: list[str] = []
    if raw_values:
        for item in raw_values.split("|"):
            resolved = resolve_for_values(item, responses)
            values.extend(resolved if resolved is not None else [item])
    counter = str(args.get("counter", "") or "")
    if counter:
        try:
            idxs = _parse_counter(counter)
        except (WorkflowError, ValueError):
            idxs = []  # unparseable counter -> length mismatch below
        else:
            if not idxs:
                raise WorkflowError(
                    f"Generic error in parsing arguments of task '{name}'."
                )
        if not values:
            # counter without values: the indices ARE the values
            values = [str(x) for x in idxs]
        elif len(idxs) != len(values):
            raise WorkflowError(
                "Arguments 'values' and 'counter' have different sizes."
            )
    else:
        idxs = list(range(1, len(values) + 1))  # non C-like indexing
    if not values:
        # no values and no counter: one iteration (reference pushes a stack
        # entry with values_num == 1 and no ivalues/svalues)
        values, idxs = [""], [1]
    par = str(args.get("parallel", "no") or "no").lower()
    if par not in ("yes", "no"):
        raise WorkflowError(f"Generic error in parsing arguments of task '{name}'.")
    return key, values, idxs, par == "yes"


def strip_json_comments(text: str) -> str:
    """C-style comment stripping outside JSON strings, matching
    _oph_workflow_skip_comments (oph_workflow_parsing.c:1776-1870): `//` runs
    to end-of-line, `/* ... */` may span lines (newlines inside are kept so
    error line numbers survive)."""
    out: list[str] = []
    i, n = 0, len(text)
    in_str = False
    while i < n:
        c = text[i]
        if in_str:
            out.append(c)
            if c == "\\" and i + 1 < n:
                out.append(text[i + 1])
                i += 2
                continue
            if c == '"':
                in_str = False
            i += 1
            continue
        if c == '"':
            in_str = True
            out.append(c)
            i += 1
            continue
        if c == "/" and i + 1 < n and text[i + 1] == "/":
            while i < n and text[i] != "\n":
                i += 1
            continue
        if c == "/" and i + 1 < n and text[i + 1] == "*":
            i += 2
            while i + 1 < n and not (text[i] == "*" and text[i + 1] == "/"):
                if text[i] == "\n":
                    out.append("\n")
                i += 1
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def parse_request(text: str) -> dict:
    """Reference-style request JSON -> workflow dict (comment stripping
    applied first, like oph_workflow_load at oph_workflow_parsing.c:70-80)."""
    import json

    return json.loads(strip_json_comments(text))


# ---------------------------------------------------------------------------
# DAG validation — Kahn topological sort (oph_workflow_setup.c:200-297)
# ---------------------------------------------------------------------------

def validate_dag(tasks: list[dict]) -> list[str]:
    """Unique names + all dependencies resolvable + acyclic. Returns a valid
    topological order of task names."""
    names = [t["name"] for t in tasks]
    if len(set(names)) != len(names):
        raise WorkflowError("duplicate task names")
    idx = {n: t for n, t in zip(names, tasks)}
    indeg = {n: 0 for n in names}
    dependents: dict[str, list[str]] = {n: [] for n in names}
    for t in tasks:
        for dep in t.get("dependencies", []):
            if dep not in idx:
                raise WorkflowError(f"unknown dependency {dep!r} of task {t['name']!r}")
            indeg[t["name"]] += 1
            dependents[dep].append(t["name"])
    queue = deque([n for n in names if indeg[n] == 0])
    order: list[str] = []
    while queue:
        n = queue.popleft()
        order.append(n)
        for d in dependents[n]:
            indeg[d] -= 1
            if indeg[d] == 0:
                queue.append(d)
    if len(order) != len(names):
        cyc = [n for n in names if indeg[n] > 0]
        raise WorkflowError(f"cycle detected among tasks {cyc}")
    return order


@dataclass
class TaskResult:
    name: str
    status: str  # OPH_STATUS-style strings (oph_gather.h:188-218)
    value: Any = None
    error: str | None = None
    attempts: int = 1
    elapsed: float = 0.0  # seconds (the reference's exec_time objkey)


@dataclass
class WorkflowRun:
    results: dict[str, TaskResult] = field(default_factory=dict)
    variables: dict[str, Any] = field(default_factory=dict)
    status: str = COMPLETED


@dataclass
class _RunState:
    """One run()'s state, shared by its steps."""

    run: WorkflowRun
    ops: dict[str, Callable]
    tasks: list[dict]
    by_name: dict[str, dict]
    order: list[str]
    role: str | int | None
    checkpoint_store: dict | None
    # failed tasks whose dependents are skipped (on_error skip/break)
    blocked: set[str] = field(default_factory=set)
    stopped: bool = False

    def record(self, res: TaskResult) -> None:
        self.run.results[res.name] = res
        if self.checkpoint_store is not None and res.status == COMPLETED:
            self.checkpoint_store[res.name] = res

    def pending(self) -> list[str]:
        return [n for n in self.order if n not in self.run.results]


class WorkflowEngine:
    """Driver-side DAG orchestrator.

    `operators` maps operator name -> callable(engine, task_args, inputs)
    where inputs is {dep_name: TaskResult.value}. Flow-control operators
    (for/if/set/wait) are interpreted by the engine itself, like the
    reference's in-process serve path (oph_known_operators.c:95-134).
    """

    def __init__(self, operators: dict[str, Callable] | None = None, catalog=None,
                 pid_resolver: Callable[[str], str] | None = None,
                 responses: list | dict | None = None):
        self.operators = dict(operators or {})
        # oph_generic / oph_cdo are engine built-ins (every deployment gets
        # the allow-listed command path); an explicit registration wins
        self.operators.setdefault("oph_generic", _op_external_command)
        self.operators.setdefault("oph_cdo", _op_external_command)
        # Catalog or RowCatalog (or a zero-arg callable returning one) for
        # massive `cube=[...]` expansion
        self.catalog = catalog
        # maps expanded cube ids to full PIDs (the reference renders PID URLs
        # for light tasks, oph_massive_operations.c:342-348)
        self.pid_resolver = pid_resolver
        # prior-task responses for oph_for response-addressed values
        # (resolve_for_values); the reference reads them from the loop's
        # dependencies at serve time
        self.responses = responses

    # -- flow-control expansion ------------------------------------------------
    def _expand_loops(self, tasks: list[dict], variables: dict[str, Any]) -> list[dict]:
        """Unroll oph_for/oph_endfor blocks (reference expands the body per
        loop value, oph_flow_control_operators.c:1574-1881 + engine expand
        oph_workflow_engine.c:1207-1704). Loop bodies are duplicated per value
        with `@key` bound; inner task names get a `_<i>` suffix; dependencies
        are rewired so iteration i depends on nothing extra (parallel=yes
        semantics) or on iteration i-1's endfor (serial default)."""
        out: list[dict] = []
        i = 0
        while i < len(tasks):
            t = tasks[i]
            if t.get("operator") != "oph_for":
                out.append(t)
                i += 1
                continue
            # find matching endfor at same nesting depth
            depth = 1
            j = i + 1
            while j < len(tasks) and depth:
                if tasks[j].get("operator") == "oph_for":
                    depth += 1
                elif tasks[j].get("operator") == "oph_endfor":
                    depth -= 1
                j += 1
            if depth:
                raise WorkflowError("oph_for without matching oph_endfor")
            body = tasks[i + 1 : j - 1]
            key, values, idxs, parallel = parse_for_arguments(
                t.get("name", "FOR"), t.get("arguments", {}), variables,
                responses=self.responses,
            )
            prev_iter_names: list[str] = []
            for it, val in enumerate(values):
                bound = dict(variables)
                bound[key] = val
                idx_val = idxs[it] if it < len(idxs) else it + 1
                iter_names = []
                for bt in self._expand_loops(body, bound):
                    nt = dict(bt)
                    nt["name"] = f"{bt['name']}_{it}"
                    nt["arguments"] = {
                        k: substitute(v, {key: val}, {key: idx_val})
                        for k, v in bt.get("arguments", {}).items()
                    }
                    deps = []
                    body_names = {b["name"] for b in body}
                    for d in bt.get("dependencies", []):
                        deps.append(f"{d}_{it}" if d in body_names else d)
                    if not parallel and it > 0 and not deps:
                        deps = list(prev_iter_names[-1:])  # serialize iterations
                    nt["dependencies"] = deps
                    out.append(nt)
                    iter_names.append(nt["name"])
                prev_iter_names = iter_names
            i = j
        return [t for t in out if t.get("operator") != "oph_endfor"]

    def _select_branches(self, tasks: list[dict], variables: dict[str, Any]) -> list[dict]:
        """Resolve if/elseif/else/endif selection blocks: evaluate guards and
        drop unselected branches (reference marks them UNSELECTED recursively,
        oph_flow_control_operators.c:476-544; here the block structure is
        linear between the markers so dropping is equivalent)."""
        out: list[dict] = []
        i = 0
        while i < len(tasks):
            t = tasks[i]
            if t.get("operator") != "oph_if":
                out.append(t)
                i += 1
                continue
            # segment the block into guarded branches. A missing OR empty
            # condition means TRUE (oph_server_test.c oph_if options 0/4:
            # an oph_if with no usable guard selects its first branch)
            branches: list[tuple[bool, list[dict]]] = []
            cond_expr = substitute(t.get("arguments", {}).get("condition", "1"), variables)
            cond = True if not str(cond_expr).strip() else bool(eval_condition(cond_expr))
            cur: list[dict] = []
            taken = cond
            chosen: list[dict] | None = None
            depth = 1
            j = i + 1
            while j < len(tasks):
                op = tasks[j].get("operator")
                if op == "oph_if":
                    depth += 1
                elif op == "oph_endif":
                    depth -= 1
                    if depth == 0:
                        break
                if depth == 1 and op in ("oph_elseif", "oph_else"):
                    if taken and chosen is None:
                        chosen = cur
                    cur = []
                    if op == "oph_elseif":
                        taken = bool(
                            eval_condition(
                                substitute(tasks[j].get("arguments", {}).get("condition", "0"), variables)
                            )
                        )
                    else:
                        taken = chosen is None
                else:
                    cur.append(tasks[j])
                j += 1
            if depth:
                raise WorkflowError("oph_if without matching oph_endif")
            if taken and chosen is None:
                chosen = cur
            if chosen:
                out.extend(self._select_branches(chosen, variables))
            i = j + 1
        return out

    # -- shared variable-name validation (oph_flow_control_operators.c:
    #    1280-1340: IEEE Std 1003.1-2001 name compliance per '|'-separated key)
    @staticmethod
    def _validate_var_keys(keys: list[str]) -> str:
        """Returns the non-fatal warning ('' if none); raises WorkflowError
        with the reference's exact message when a key contains a workflow
        separator character (fatal). A key merely starting with a digit is
        accepted with the reference's rename warning."""
        warning = ""
        for name in keys:
            for kk, ch in enumerate(name):
                if ch == "_" or ch.isalpha() or (kk and ch.isdigit()):
                    continue
                if not ch.isalnum():  # workflow separator/punctuation: fatal
                    raise WorkflowError("Bad argument 'key'.")
                warning = f"Change variable name '{name}'."
                break
        if not keys:
            raise WorkflowError("Bad argument 'key'.")
        return warning

    # -- oph_wait (clock / file / input, oph_flow_control_operators.c:2003-2375)
    @staticmethod
    def _resolve_wait_file(args: dict) -> str | None:
        """Watched-file resolution for type=file waits (OPH_WAIT XML args):
        `filename` is the base; a readable `fileref`'s first line overrides
        it; `output` (the documented alias that "will be overwritten")
        overrides both; `input` is the fallback when nothing else is set
        (oph_flow_control_operators.c:2081-2135)."""
        unset = ("-", "null")
        filename = _given(args, "filename", unset)
        fileref = _given(args, "fileref", unset)
        if fileref:
            try:
                with open(fileref) as fh:
                    first = fh.readline().strip()
                if first:
                    filename = first
            except OSError:
                pass    # unreadable fileref: keep the explicit filename
        return (_given(args, "output", unset) or filename
                or _given(args, "input", unset))

    def _wait_carry(self, args: dict) -> dict | None:
        """Subset carry of a completed file wait: the reference forwards the
        watched file plus subset_dims/subset_type/subset_filter/time_filter/
        offset (and measure) to its dependent tasks' argument lists by
        appending them to the notify string (OPH_WAIT_operator_1.0.xml;
        oph_flow_control_operators.c:2136-2185 subset_params/add_to_notify).
        `args` are the ones the request gave: no wait default rides along.
        _task_args puts each key into a dependent task's arguments that its
        descriptor knows and the request left out."""
        carry = {"src_path": self._resolve_wait_file(args)}
        for k in ("measure", "subset_dims", "subset_type", "subset_filter",
                  "time_filter", "offset"):
            carry[k] = _given(args, k, ("-", "null", "none", "all"))
        return {k: v for k, v in carry.items() if v} or None

    def _wait(self, args: dict, run: WorkflowRun) -> str:
        """Serve one oph_wait over its `_flow_args`, which fill every
        parameter; one missing here (a direct call) is unset: no timeout and
        a clock wait. Waits are capped at 30 s."""
        wtype = args.get("type")
        timeout = args.get("timeout")
        if timeout is None:
            remaining = 0.0
        elif args.get("timeout_type") == "deadline":
            deadline_dt = datetime.strptime(str(timeout), "%Y-%m-%d %H:%M:%S")
            remaining = (deadline_dt - datetime.now()).total_seconds()
        else:
            remaining = float(timeout)
        if remaining < 0 and wtype != "input":
            # negative duration / past deadline: infinity is input-only
            raise WorkflowError("Timeout can be infinity only for type 'input'. "
                                "Use a non-negative value!")
        keys = [k for k in _split(args.get("key")) if k]
        if wtype == "input" and keys:
            self._validate_var_keys(keys)
            if len(keys) > 1 and len(_split(args.get("value"))) < len(keys):
                raise WorkflowError("Bad number of keys in parameter 'value'.")
        timeout = min(max(remaining, 0.0), 30.0)
        if args.get("run") == "no":
            return COMPLETED  # validated dry run
        if wtype == "file":
            deadline = time.time() + timeout
            path = self._resolve_wait_file(args) or ""
            while not os.path.exists(path):
                if time.time() >= deadline:
                    return ERROR
                time.sleep(min(0.05, timeout or 0.05))
            return COMPLETED
        if wtype == "input":
            # satisfied when the awaited variable exists (set by oph_input/
            # oph_set earlier in the DAG; the reference blocks on a condition
            # variable signalled by oph_notify)
            return COMPLETED if args.get("key") in run.variables else ERROR
        if wtype not in (None, "clock"):
            raise WorkflowError(_FLOW_MESSAGES["oph_wait", "type"].format(wtype))
        time.sleep(timeout)
        return COMPLETED

    def _massive_expand(
        self, args: dict
    ) -> tuple[str, list[str], list[dict] | None] | None:
        """Massive-selection expansion. Returns (arg_key, items, extras) or
        None; extras (when set) is a per-item dict of extra light-task
        arguments.

        `cube=[filters]` expands against the catalog (§2.B algebra);
        `src_path=[path=...;file=regex;recursive=yes]` expands against the
        filesystem (the reference's file-massive path, which dispatches an
        oph_fs scan — oph_massive_operations.c:158-301). With
        `convention=cmip5` each expanded file also infers its measure from the
        CMIP5 filename rule — basename truncated at the first '_'
        (oph_massive_operations.c:350-363)."""
        cube_arg = args.get("cube")
        if cube_arg and "[" in str(cube_arg):
            if self.catalog is None:
                raise WorkflowError("massive cube argument but engine has no catalog")
            from ophidia_server_spark import filters

            # catalog may be a zero-arg callable so live stores (CubeStore)
            # are re-snapshotted at expansion time, not engine-build time;
            # compile_massive is looked up on the module at call time too
            cat = self.catalog() if callable(self.catalog) else self.catalog
            items = [str(i) for i in filters.compile_massive(cat, str(cube_arg))]
            if self.pid_resolver is not None:
                items = [self.pid_resolver(i) for i in items]
            return "cube", items, None
        src_arg = args.get("src_path")
        if src_arg and "[" in str(src_arg):
            from ophidia_server_spark.filters import parse_massive
            from ophidia_server_spark.operators.io_ops import oph_fs

            groups, explicit = parse_massive(str(src_arg))
            task_cmip5 = str(args.get("convention", "")).lower() == "cmip5"
            # path -> measure|None; convention may sit at task level or inside
            # each bracket group (the reference test passes
            # "[path=...;convention=cmip5]|[path=...;convention=cmip5]",
            # oph_server_test.c:2828)
            measure_of: dict[str, str | None] = {p: None for p in explicit}
            for g in groups:
                # bare value inside brackets defaults to `path` for files
                # (oph_massive_operations.c:76-116)
                path = str(g.get("path") or g.get("cube_filter") or ".").strip()
                if any(ch in path for ch in "*?") and not os.path.isdir(path):
                    # bare glob path like [testdata/*.test]
                    # (oph_server_test.c:2815-2818): expand files directly
                    import glob as _glob

                    found = [p for p in _glob.glob(path) if os.path.isfile(p)]
                else:
                    found = [
                        e["path"]
                        for e in oph_fs(
                            path,
                            file_filter=g.get("file"),
                            recursive=str(g.get("recursive", "no")).lower() == "yes",
                        )
                    ]
                cmip5 = task_cmip5 or str(g.get("convention", "")).lower() == "cmip5"
                for p in found:
                    # CMIP5 filename convention: measure = basename up to the
                    # first '_' (oph_massive_operations.c:350-363)
                    m = os.path.basename(p).split("_", 1)[0] if cmip5 else None
                    measure_of.setdefault(p, m)
                    if m is not None:
                        measure_of[p] = m
            if task_cmip5:
                for p in explicit:
                    measure_of[p] = os.path.basename(p).split("_", 1)[0]
            files = sorted(measure_of)
            extras = None
            if any(m is not None for m in measure_of.values()):
                extras = [
                    {"measure": measure_of[p]} if measure_of[p] else {} for p in files
                ]
            return "src_path", files, extras
        return None

    # -- oph_set / oph_input (oph_flow_control_operators.c:1150-1571; oph_input
    #    shares oph_set_impl and wakes a waiting task, :3155-3262) -----------
    def _flow(self, w: _RunState, t: dict, args: dict) -> TaskResult:
        """Serve a flow operator over its `_flow_args`."""
        name, op = t["name"], t["operator"]
        if op == "oph_wait":
            status = self._wait(args, w.run)
            carry = None
            if status == COMPLETED and args["type"] == "file":
                carry = self._wait_carry({k: args[k] for k in t.get("arguments", {})})
            return TaskResult(name, status, {"__wait_carry__": carry} if carry else None)
        keys = [k for k in _split(args.get("key")) if k]
        warning = self._validate_var_keys(keys)
        value, src = args.get("value"), args.get("taskname")
        if op == "oph_input" and src and src not in w.run.results:
            # the oph_wait it wakes, matched by name (:1338)
            if not any(x["name"] == src and x.get("operator") == "oph_wait" for x in w.tasks):
                raise WorkflowError("Invalid task name, task not found or ambiguous!")
            src = None
        if src:
            # `value` addresses that task's response (oph_extract_from_json,
            # :674-988)
            if src not in w.run.results:
                raise WorkflowError(f"oph_set taskname {src!r} has no result")
            value = extract_from_json(w.run.results[src].value, str(value))
        if op == "oph_set" and args["subset_filter"] != "no" and value is not None:
            # the value list becomes its 1-based index subset, each index
            # widened by `offset`
            off = int(float(args["offset"]))
            value = "|".join(f"{max(1, i - off)}:{i + off}" if off else str(i)
                             for i in range(1, len(_split(value)) + 1))
        if len(keys) > 1:
            # multi-key zip: each key gets its '|'-slot; fewer values than
            # keys is the reference's exact error
            vals = _split(value)
            if len(vals) < len(keys):
                raise WorkflowError("Bad number of keys in parameter 'value'.")
            w.run.variables.update(zip(keys, vals))
        else:
            w.run.variables[keys[0]] = value
        return TaskResult(name, COMPLETED, value, warning or None)

    @staticmethod
    def _backoff_delay(t: dict, attempt: int, cap: float = 2.0) -> float:
        """Retry backoff (oph_workflow_structs.h:205-206 backoff_time/type:
        constant | linear | exponential; attempt is 1-based)."""
        base = float(t.get("backoff_time", 0) or 0)
        if base <= 0:
            return 0.0
        btype = str(t.get("backoff_type", "constant")).lower()
        if btype == "linear":
            d = base * attempt
        elif btype == "exponential":
            d = base * (2 ** (attempt - 1))
        else:
            d = base
        return min(d, cap)

    def _exec_task(self, t: dict, fn: Callable, args: dict, inputs: dict) -> TaskResult:
        """Run one compute task with retry/backoff/repeat policy."""
        name = t["name"]
        retries = int(t.get("retry", 1) or 1)
        if str(t.get("on_error", "")).lower() == "repeat":
            retries += 1  # repeat = one extra attempt before failing
        last_err: str | None = None
        t0 = time.perf_counter()
        for attempt in range(1, retries + 1):
            try:
                value = fn(self, args, inputs)
                return TaskResult(name, COMPLETED, value, attempts=attempt,
                                  elapsed=round(time.perf_counter() - t0, 6))
            except Exception as e:  # noqa: BLE001 - operator errors feed on_error policy
                last_err = f"{type(e).__name__}: {e}"
                delay = self._backoff_delay(t, attempt)
                if delay and attempt < retries:
                    time.sleep(delay)
        return TaskResult(name, ERROR, error=last_err, attempts=retries,
                          elapsed=round(time.perf_counter() - t0, 6))

    def _exec_massive(
        self, t: dict, fn: Callable, args: dict, inputs: dict, items: list[str],
        item_key: str = "cube", extras: list[dict] | None = None,
    ) -> TaskResult:
        """Massive expansion -> light tasks (oph_workflow_engine.c:1010-1056);
        responses aggregate like oph_workflow_load_aggregate_response
        (:454-507). The light tasks run through `session.fan_out` on up to
        `ncores` threads (the reference's ncores inheritance policy,
        oph_workflow_engine.c:1019): concurrent ones share the FAIR pool
        `mf_<task>`, so the fan-out competes fairly with other wave
        members, and all of them stay in the caller's Spark job group."""
        name = t["name"]
        if str(args.get("run", "yes")).lower() == "no":
            return TaskResult(name, COMPLETED, {"expansion": items})
        ncores = int(t.get("ncores", 1) or 1)
        by_item = dict(zip(items, extras)) if extras else {}

        def one(item):
            return fn(self, {**args, item_key: item, **by_item.get(item, {})}, inputs)

        try:
            values = fan_out(one, items, ncores, lambda _: f"mf_{name}")
        except Exception as e:  # noqa: BLE001
            return TaskResult(name, ERROR, error=f"{type(e).__name__}: {e}")
        return TaskResult(name, COMPLETED, values)

    def _dispatch(self, t: dict, fn: Callable, args: dict, inputs: dict) -> TaskResult:
        """Run one compute task: fanned out to light tasks when an argument
        is a massive selection, else as a single task."""
        exp = self._massive_expand(args)
        if exp is not None:
            return self._exec_massive(t, fn, args, inputs, exp[1], exp[0], exp[2])
        return self._exec_task(t, fn, args, inputs)

    # -- run() and its steps -----------------------------------------------------
    def run(
        self,
        workflow: dict | str,
        extra_operators: dict[str, Callable] | None = None,
        max_workers: int = 1,
        checkpoint_store: dict | None = None,
        resume_from: dict | None = None,
        role: str | int | None = None,
    ) -> WorkflowRun:
        """Execute a workflow.

        max_workers > 1 executes each dependency wave's compute tasks
        concurrently through `session.fan_out` (the reference's ready-set
        fan-out, oph_workflow_engine.c:1706): each concurrent task runs in
        its own FAIR pool and keeps the caller's Spark job group, so a
        cancel or a per-request job count sees every job.
        checkpoint_store collects completed TaskResults by name
        (oph_workflow_save semantics); resume_from seeds results from a prior
        store so finished tasks are not re-run (checkpoint restart,
        oph_workflow_engine.c:244-288).
        `role` is the caller's session role (oph_auth.h:79-96); when given,
        every task's operator is checked against its required role before
        dispatch (the reference rejects at serve time) — a denied task fails
        with PermissionError through the normal on_error policy. None means
        a trusted driver-side caller (no enforcement).
        """
        w = self._prepare(workflow, extra_operators, checkpoint_store, resume_from, role)
        while not w.stopped and (wave := self._ready_wave(w)) is not None:
            results, batch = [], []
            for t in wave:
                args = self._task_args(w, t)
                if isinstance(args, TaskResult):
                    results.append(args)
                elif t.get("operator") in FLOW_SERVED:
                    w.record(self._flow(w, t, args))
                else:
                    batch.append(self._compute(w, t, args))
            # the wave's compute tasks, on up to max_workers threads, each
            # concurrent one in its own FAIR pool wf_<task> so wave members
            # interleave their Spark jobs instead of queueing FIFO
            results += fan_out(lambda item: self._dispatch(*item), batch, max_workers,
                               lambda item: f"wf_{item[0]['name']}")
            self._settle(w, results)
        self._exit(w)
        return w.run

    def _prepare(self, workflow, extra_operators, checkpoint_store, resume_from,
                 role) -> _RunState:
        """Parse the request, select if/else branches, unroll loops and order
        the DAG; completed results of a resumed run count as done."""
        if isinstance(workflow, str):
            workflow = parse_request(workflow)
        run = WorkflowRun(variables=dict(workflow.get("variables", {})))
        tasks = rewrite_task_types(list(workflow.get("tasks", [])))
        tasks = self._select_branches(tasks, run.variables)
        tasks = self._expand_loops(tasks, run.variables)
        order = validate_dag(tasks)
        by_name = {t["name"]: t for t in tasks}
        for n, res in (resume_from or {}).items():
            if n in by_name and getattr(res, "status", None) == COMPLETED:
                run.results[n] = res
        ops = {**self.operators, **(extra_operators or {})}
        return _RunState(run, ops, tasks, by_name, order, role, checkpoint_store)

    @staticmethod
    def _ready_wave(w: _RunState) -> list[dict] | None:
        """The pending tasks whose dependencies all have results, or None
        when nothing is pending. A ready task behind a skipped dependency,
        or behind a failure whose on_error blocks it, is recorded SKIPPED
        instead (oph_workflow_define.h:63-70)."""
        pending = w.pending()
        if not pending:
            return None
        results = w.run.results
        ready = [w.by_name[n] for n in pending
                 if all(d in results for d in w.by_name[n].get("dependencies", []))]
        if not ready:
            raise WorkflowError("deadlock: no ready tasks")  # pragma: no cover
        wave = []
        for t in ready:
            if any(results[d].status == SKIPPED
                   or (results[d].status == ERROR and d in w.blocked)
                   for d in t.get("dependencies", [])):
                w.record(TaskResult(t["name"], SKIPPED))
            else:
                wave.append(t)
        return wave

    @staticmethod
    def _task_args(w: _RunState, t: dict) -> dict | TaskResult:
        """The arguments task `t` runs with, or the TaskResult of its
        failure. In order: the role check; `@var` substitution, task
        variables shadowing workflow ones (oph_workflow_utils.c:183-186);
        the carry of a completed file wait it depends on (keys its
        descriptor knows, never over an explicit argument); the check
        against its descriptor before dispatch (oph_tp_task_params_parser,
        oph_task_parser_library.h:67), which fills every default."""
        name, op = t["name"], t.get("operator")
        if w.role is not None and op:
            try:
                auth.check_role(w.role, op)
            except PermissionError as e:
                return TaskResult(name, ERROR, error=f"PermissionError: {e}")
        scope = {**w.run.variables, **t.get("variables", {})}
        args = {k: substitute(v, scope) for k, v in t.get("arguments", {}).items()}
        desc = DESCRIPTORS.get(op)
        for d in t.get("dependencies", []):
            value = getattr(w.run.results[d], "value", None)
            if isinstance(value, dict) and "__wait_carry__" in value:
                for k, v in value["__wait_carry__"].items():
                    if desc is None or k in desc.by_name:
                        args.setdefault(k, v)
        if op in FLOW_SERVED:
            return _flow_args(op, args)
        try:
            return operator_args(op, args)
        except ParamValidationError as e:
            # the task's on_error policy applies (abort by default)
            return TaskResult(name, ERROR, error=f"ParamValidationError: {e}")

    @staticmethod
    def _compute(w: _RunState, t: dict, args: dict) -> tuple:
        """A compute task's dispatch item: (task, operator, args, inputs)."""
        fn = w.ops.get(t.get("operator"))
        if fn is None:
            raise WorkflowError(f"unknown operator {t.get('operator')!r}")
        inputs = {d: w.run.results[d].value for d in t.get("dependencies", [])}
        return t, fn, args, inputs

    @staticmethod
    def _settle(w: _RunState, results: list[TaskResult]) -> None:
        """Record a wave's results and apply each failure's on_error
        (oph_workflow_define.h:63-70): abort and repeat fail the workflow;
        break stops scheduling and leaves it COMPLETED; skip and break skip
        the task's dependents; continue and nop let them run."""
        for res in results:
            w.record(res)
            if res.status != ERROR:
                continue
            on_error = str(w.by_name[res.name].get("on_error", "abort")).lower()
            if on_error in ("abort", "repeat"):
                w.run.status = ERROR
                w.stopped = True
            elif on_error in ("break", "skip"):
                w.stopped = w.stopped or on_error == "break"
                w.blocked.add(res.name)

    def _exit(self, w: _RunState) -> None:
        """After the last wave: what a break left unscheduled is SKIPPED (an
        abort leaves it unrecorded; the reference stops the workflow
        outright). Then each task marked on_exit=oph_delete has its output
        cube deleted through the registered oph_delete
        (oph_workflow_define.h:72-79), best-effort like the reference's
        final cleanup."""
        if w.run.status != ERROR:
            for n in w.pending():
                w.run.results[n] = TaskResult(n, SKIPPED)
        deleter = w.ops.get("oph_delete")
        if deleter is None:
            return
        for t in w.tasks:
            res = w.run.results.get(t["name"])
            if (str(t.get("on_exit", "")).lower() == "oph_delete" and res is not None
                    and res.status == COMPLETED and res.value is not None):
                try:
                    deleter(self, operator_args("oph_delete", {"cube": res.value}), {})
                except Exception:  # noqa: BLE001 - GC is best-effort
                    pass
