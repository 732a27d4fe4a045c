"""Submit-time parameter validation against operator descriptors.

The reference validates every task's parameters before dispatch against an
XML descriptor per operator (entry `oph_tp_task_params_parser`,
oph_task_parser_library.h:67; value checks in
oph_tp_validate_task_string_param, oph_task_parser_library.c:430-585). The
descriptor grammar is the DTD etc/dtd/ophidiaoperator.dtd:20-27:

    type (char|string|int|real|date), mandatory (yes|no, default yes),
    default, minvalue, maxvalue, values (|-separated enum),
    multivalue (yes|no), allownot (yes|no)

This module is the engine's equivalent: a `ParamSpec`/`OperatorDescriptor`
table per registered operator, a `validate_params` that mirrors the
reference's semantics, and one registry (`DESCRIPTORS`) that both the
WorkflowEngine dispatch and the HTTP facade consult — and that oph_man /
operators_list serve as documentation (single source of truth, like the
reference serving its XMLs from OPH_SERVER_XML_EXT_PATH, oph_gather.h:184).
At dispatch, `operator_args` hands the operator the validated dict: every
default filled in and every `int`/`real` value already the number its range
check read, so no operator restates a default or parses a number again.

Reference semantics mirrored exactly:
- missing mandatory parameter -> error; missing optional -> default value
  substituted (oph_task_parser_library.c:445-461);
- `int` parses with strtol semantics and `real` with strtod semantics: the
  longest leading numeric prefix converts, no prefix converts as 0
  (oph_task_parser_library.c:469 strtol / :512 strtod,
  oph_task_parser_library.h:57-58) — range checks then apply to that number;
- minvalue == maxvalue forces the value to that constant
  (oph_task_parser_library.c:480-482 "changed to the only possible value");
- `values` enum membership is checked per |-separated element; a multivalue
  parameter has each element checked (oph_tp_parse_multiple_value_param
  splits on '|', oph_task_parser_library.c:40-42 separators);
- `allownot=yes` additionally accepts the negated key `<name>!`
  (oph_tp_task_params_parser, oph_task_parser_library.c:680-695).

One deliberate deviation, documented: unknown parameter names are rejected
with a named error listing the operator's valid parameters. The reference
silently ignores keys that match no descriptor entry, which turns a typo'd
optional parameter into a silent default — the single most common
interactive-user failure. `strict=False` restores the reference behavior.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ophidia_server_spark.cube import AGG_FNS
from ophidia_server_spark.operators.cube_ops import REDUCE_OPS

__all__ = [
    "ParamSpec",
    "OperatorDescriptor",
    "ParamValidationError",
    "validate_params",
    "operator_args",
    "DESCRIPTORS",
    "describe",
    "register_descriptor",
]


class ParamValidationError(ValueError):
    """Named submit-time validation failure: carries the operator, the
    parameter, and a reason — the HTTP facade maps it to a 400-class
    response instead of a Python traceback."""

    def __init__(self, operator: str, param: str, reason: str):
        self.operator = operator
        self.param = param
        self.reason = reason
        super().__init__(f"{operator}: parameter '{param}': {reason}")


@dataclass(frozen=True)
class ParamSpec:
    """One <argument> row of the descriptor DTD."""

    name: str
    type: str = "string"  # char|string|int|real|date
    mandatory: bool = True
    default: str | None = None
    minvalue: float | None = None
    maxvalue: float | None = None
    values: tuple[str, ...] | None = None
    multivalue: bool = False
    allownot: bool = False
    doc: str = ""

    def __post_init__(self):
        if self.type not in ("char", "string", "int", "real", "date"):
            raise ValueError(f"bad descriptor type {self.type!r} for {self.name}")


@dataclass
class OperatorDescriptor:
    name: str
    abstract: str = ""
    args: tuple[ParamSpec, ...] = ()
    # like the XML <permission> element (read|write|execute)
    permission: str = "read"
    by_name: dict = field(init=False, repr=False)

    def __post_init__(self):
        self.by_name = {a.name: a for a in self.args}


_INT_RE = re.compile(r"^\s*[+-]?\d+")
_REAL_RE = re.compile(
    r"^\s*[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"
)


def _strtol(text: str) -> int:
    """C strtol(,,10) semantics: longest leading integer prefix, else 0."""
    m = _INT_RE.match(str(text))
    return int(m.group()) if m else 0


def _strtod(text: str) -> float:
    """C strtod semantics: longest leading float prefix, else 0.0."""
    m = _REAL_RE.match(str(text))
    return float(m.group()) if m else 0.0


def _check_one(op: str, spec: ParamSpec, key: str, raw):
    """Validate a single (possibly negated) key's value (checked through its
    string form); returns the value unchanged — preserving non-string request
    objects like JSON maps — except for the min==max constant forcing. A
    multivalue parameter has EVERY |-separated element checked (numeric
    range checks included — the reference parses each element with
    strtol/strtod, oph_task_parser_library.c:469/512)."""
    text = str(raw)
    elems = text.split("|") if spec.multivalue else [text]
    if spec.type == "int":
        lo, hi = spec.minvalue, spec.maxvalue
        if lo is not None and hi is not None and lo == hi:
            forced = "|".join(str(int(lo)) for _ in elems)
            return forced  # forced to the only possible value
        for e in elems:
            n = _strtol(e)
            if lo is not None and n < lo:
                raise ParamValidationError(
                    op, key, f"value {n} is lower than minvalue {int(lo)}")
            if hi is not None and n > hi:
                raise ParamValidationError(
                    op, key, f"value {n} is higher than maxvalue {int(hi)}")
    elif spec.type == "real":
        lo, hi = spec.minvalue, spec.maxvalue
        if lo is not None and hi is not None and lo == hi:
            return "|".join(repr(float(lo)) for _ in elems)
        for e in elems:
            x = _strtod(e)
            if lo is not None and x < lo:
                raise ParamValidationError(
                    op, key, f"value {x} is lower than minvalue {lo}")
            if hi is not None and x > hi:
                raise ParamValidationError(
                    op, key, f"value {x} is higher than maxvalue {hi}")
    if spec.values is not None:
        for e in elems:
            if e not in spec.values:
                raise ParamValidationError(
                    op, key,
                    f"value {e!r} not in allowed set {'|'.join(spec.values)}",
                )
    return raw


def validate_params(
    desc: OperatorDescriptor, args: dict, strict: bool = True
) -> dict:
    """Check `args` (raw request kwargs, values coerced to str) against the
    descriptor; returns the full validated parameter dict with defaults
    filled in and min==max constants forced, values kept as strings (the
    reference's hashtable holds strings; `operator_args` types the numbers).

    strict=True (deviation, see module docstring) rejects unknown keys."""
    out: dict[str, str] = {}
    known = set(desc.by_name)
    negatable = {f"{a.name}!" for a in desc.args if a.allownot}
    if strict:
        bad = [k for k in args if k not in known and k not in negatable]
        if bad:
            raise ParamValidationError(
                desc.name, bad[0],
                "unknown parameter; valid parameters: "
                + ", ".join(sorted(known | negatable)),
            )
    for spec in desc.args:
        neg_key = f"{spec.name}!"
        neg_present = (
            spec.allownot and neg_key in args and args[neg_key] is not None
        )
        for key in ([spec.name, neg_key] if spec.allownot else [spec.name]):
            if key in args and args[key] is not None:
                out[key] = _check_one(desc.name, spec, key, args[key])
            elif key == spec.name and not neg_present:
                # missing plain key (and no negated form supplied — `name!`
                # is the alternative spelling of the one parameter, so its
                # presence satisfies mandatory and suppresses the default):
                # mandatory -> error, optional -> default
                if spec.mandatory:
                    raise ParamValidationError(
                        desc.name, key, "missing mandatory parameter")
                if spec.default is not None:
                    out[key] = spec.default
            # missing negated key: simply absent (no default)
    return out


# @var / @{var} value refs, &i loop indexes, $N positional args
_PLACEHOLDER_RE = re.compile(r"[@&$]\{?\w")


def validate_task(
    operator: str,
    args: dict,
    strict: bool = True,
    allow_placeholders: bool = False,
) -> dict | None:
    """Validate one task's arguments against its operator descriptor.

    Returns the validated dict, or None when the operator has no descriptor
    (extension operators registered without one are dispatched unchecked,
    like the reference skipping operators without an XML).

    allow_placeholders=True is the submit-time (pre-substitution) mode: a
    value still containing a workflow variable reference (@var / &i) can't
    be range- or enum-checked yet, so only key-level checks (unknown key,
    missing mandatory) apply to it; the dispatch-time pass re-validates the
    substituted value.
    """
    desc = DESCRIPTORS.get(operator)
    if desc is None:
        return None
    held_back: dict[str, str] = {}
    if allow_placeholders:
        held_back = {
            k: v for k, v in args.items()
            if isinstance(v, str) and _PLACEHOLDER_RE.search(v)
        }
        if held_back:
            # value checks can't run on unsubstituted values; swap each
            # placeholder for its spec's default (or a type-neutral probe)
            # so only key-level checks apply, then restore the raw value.
            probe = dict(args)
            for k in held_back:
                spec = desc.by_name.get(k.rstrip("!"))
                if spec is None:
                    continue  # unknown key: leave it for the strict check
                if spec.values:
                    probe[k] = spec.values[0]
                elif spec.type in ("int", "real"):
                    probe[k] = spec.minvalue if spec.minvalue is not None else "0"
                else:
                    probe[k] = ""
            out = validate_params(desc, probe, strict=strict)
            out.update(held_back)
            return out
    return validate_params(desc, args, strict=strict)


_NUMBER = {"int": _strtol, "real": _strtod}


def operator_args(operator: str, args: dict) -> dict:
    """The arguments `operator` runs with: `validate_task(operator, args)`
    (defaults filled in, min==max values forced) with every single-valued
    `int`/`real` parameter turned into the Python number its range check
    read (strtol/strtod). Multivalue, string and JSON values stay as they
    are; an operator with no descriptor gets `args` unchanged."""
    out = validate_task(operator, args)
    if out is None:
        return args
    by_name = DESCRIPTORS[operator].by_name
    for key, value in out.items():
        spec = by_name[key.rstrip("!")]
        if spec.type in _NUMBER and not spec.multivalue:
            out[key] = _NUMBER[spec.type](value)
    return out


# -- descriptor registry -----------------------------------------------------

DESCRIPTORS: dict[str, OperatorDescriptor] = {}


def register_descriptor(desc: OperatorDescriptor) -> OperatorDescriptor:
    DESCRIPTORS[desc.name] = desc
    return desc


def describe(operator: str) -> OperatorDescriptor | None:
    return DESCRIPTORS.get(operator)


def _d(name, abstract, *specs, permission="read"):
    return register_descriptor(
        OperatorDescriptor(name, abstract, tuple(specs), permission)
    )


def _p(name, type="string", mandatory=False, default=None, minvalue=None,
       maxvalue=None, values=None, multivalue=False, allownot=False, doc=""):
    return ParamSpec(
        name, type, mandatory, default, minvalue, maxvalue,
        tuple(values) if values is not None else None, multivalue, allownot, doc,
    )


YN = ("yes", "no")

# ---- flow-control / management operators: ported from the reference's own
# ---- served XMLs (etc/xml/OPH_*_operator_1.0.xml; grammar ophidiaoperator.dtd).
# ---- The served flow operators (set/input/wait) read "-" as unset. Two
# ---- defaults are the engine's, not the XML's (1 and "Task 0"): oph_set
# ---- widens no index unless `offset` asks, and an oph_input without a
# ---- `taskname` wakes no task, setting its variables as oph_set does.

_d("oph_for", "Loop over a set of values (flow control).",
   _p("key", mandatory=True, doc="loop variable name"),
   _p("values", default="-", multivalue=True),
   _p("counter", default="-"),
   _p("parallel", default="no", values=("no", "yes")),
   _p("save", default="yes", values=YN),
   _p("src_path", default="-", multivalue=True),
   _p("input", default="-", multivalue=True))

_d("oph_endfor", "Close a loop block.", _p("save", default="yes", values=YN))

_d("oph_if", "Conditional branch (flow control).",
   _p("condition", default="true"),
   _p("forward", default="no", values=YN),
   _p("save", default="yes", values=YN))

_d("oph_elseif", "Alternative conditional branch.",
   _p("condition", default="true"),
   _p("save", default="yes", values=YN))

_d("oph_else", "Fallback branch.", _p("save", default="yes", values=YN))
_d("oph_endif", "Close a conditional block.", _p("save", default="yes", values=YN))

_d("oph_set", "Set workflow variables.",
   _p("key", default="-", multivalue=True),
   _p("keys", default="-", multivalue=True),
   _p("value", default="-", multivalue=True),
   _p("subset_filter", default="no", values=("yes", "no", "real")),
   _p("offset", type="real", default="0", minvalue=0),
   _p("id", type="int", minvalue=0),
   _p("save", default="yes", values=YN))

_d("oph_input", "Send data to a waiting task.",
   _p("id", type="int", minvalue=0),
   _p("taskname", default="-"),
   _p("action", default="continue", values=("continue", "abort", "wait")),
   _p("key", default="-", multivalue=True),
   _p("value", default="-", multivalue=True),
   _p("save", default="yes", values=YN))

_d("oph_wait", "Wait until an event occurs (clock/input/file).",
   _p("type", default="clock", values=("clock", "input", "file")),
   _p("timeout", type="int", default="-1"),
   _p("timeout_type", default="duration", values=("duration", "deadline")),
   _p("key", default="-", multivalue=True),
   _p("value", default="-", multivalue=True),
   _p("filename", default="-"),
   _p("fileref", default="-"),
   _p("measure", default="-"),
   _p("output", default="-"),
   _p("message", default="-"),
   _p("run", default="yes", values=YN),
   _p("exec_mode", default="sync", values=("async", "sync")),
   _p("save", default="yes", values=YN),
   _p("subset_dims", default="none", multivalue=True),
   _p("subset_type", default="index", values=("index", "coord"), multivalue=True),
   _p("subset_filter", default="all", multivalue=True),
   _p("time_filter", default="yes", values=YN),
   _p("offset", type="real", default="0", multivalue=True))

_GENERIC_SPECS = (
    _p("command", mandatory=True,
       doc="allow-listed command line (first token must be registered "
           "via management.register_command; set automatically from the "
           "task's operator string for type=generic|cdo tasks)"),
    _p("src_path", default="-", multivalue=True,
       doc="input file(s); [massive-filter] fans out one light task per "
           "matched file (appended to argv, exported as OPH_FILE)"),
    _p("sessionid", default=""),
    _p("workflowid", type="int", default="0", minvalue=0),
    _p("markerid", type="int", default="0", minvalue=0),
    # engine massive-expansion contract, same as the import operators:
    # run=no lists the expansion without executing; convention=cmip5
    # applies the filename-measure rule to expanded files
    _p("run", default="yes", values=YN),
    _p("convention", default="-"),
    _p("measure", default="-",
       doc="set per light task by convention=cmip5 expansion"),
)

# generic/cdo tasks (oph_workflow_define.h:110-111): the parser rewrite
# (workflow.rewrite_task_types) targets these two operators
_d("oph_generic", "Run an allow-listed external command as a task.",
   *_GENERIC_SPECS, permission="execute")
_d("oph_cdo", "Run an allow-listed CDO command chain as a task.",
   *_GENERIC_SPECS, permission="execute")

_d("oph_cancel", "Stop the execution of a running workflow.",
   _p("id", type="int", mandatory=True, minvalue=1),
   _p("type", default="kill", values=("kill", "abort", "stop")),
   _p("objkey_filter", default="all", values=("all", "none", "cancel")),
   permission="execute")

_d("oph_manage_session", "Manage sessions (list/grant/revoke/env/...).",
   _p("action", default="list",
      values=("disable", "enable", "env", "grant", "list", "listusers",
              "new", "remove", "revoke", "setenv")),
   _p("session", default="this"),
   _p("key", default="user", values=("active", "autoremove", "label", "user")),
   _p("value", default="null"),
   _p("sessionid", default="null"),
   _p("objkey_filter", default="all",
      values=("all", "none", "manage_session_list", "manage_session_summary")),
   _p("save", default="yes", values=YN))

_d("oph_log_info", "Read the last lines of a server log.",
   _p("log_type", default="server", values=("server", "container", "ioserver")),
   _p("container_id", type="int", default="0", minvalue=0),
   _p("nlines", type="int", default="10", minvalue=1, maxvalue=10000),
   _p("exec_mode", default="sync", values=("async", "sync")),
   _p("sessionid", default="null"),
   _p("objkey_filter", default="all", values=("all", "none", "log_info")),
   _p("save", default="yes", values=YN))

_d("oph_cluster", "Query/deploy host-partition clusters.",
   _p("exec_mode", default="async", values=("async", "sync")),
   _p("host_partition", default="all"),
   _p("action", default="info",
      values=("info", "info_cluster", "deploy", "undeploy")),
   _p("nhost", type="int", default="0", minvalue=0),
   _p("user_filter", default="all"),
   _p("host_type", default="io", values=("io", "compute")),
   _p("save", default="yes", values=YN))

_d("oph_get_config", "Read server configuration parameters.",
   _p("key", default="all",
      values=("all", "OPH_XML_URL", "OPH_SESSION_ID", "OPH_EXEC_MODE",
              "OPH_NCORES", "OPH_DATACUBE", "OPH_CWD", "OPH_CDD",
              "OPH_BASE_SRC_PATH")),
   _p("objkey_filter", default="all", values=("all", "none", "get_config")))

_d("oph_service", "Enable/disable the service or list running tasks.",
   _p("status", default="", values=("up", "down", "")),
   _p("level", type="int", default="1", minvalue=1, maxvalue=2),
   _p("enable", default="none", multivalue=True),
   _p("disable", default="none", multivalue=True),
   permission="execute")

_d("oph_resume", "Resume a session/workflow state or re-execute a request.",
   _p("session", default="this"),
   _p("id", type="int", default="0", minvalue=0),
   _p("id_type", default="workflow", values=("workflow", "marker")),
   _p("document_type", default="response", values=("request", "response")),
   _p("level", type="int", default="1", minvalue=0, maxvalue=5),
   _p("user", default=""),
   _p("status_filter", default="11111111"),
   _p("save", default="no", values=YN),
   _p("execute", default="no", values=YN),
   _p("checkpoint", default="all"),
   _p("sessionid", default="null"))

_d("oph_massive", "Massive filter over the cube catalog / filesystem.",
   _p("level", type="int", default="", minvalue=0, allownot=True, multivalue=True),
   _p("measure", default="", allownot=True),
   _p("parent_cube", default="", allownot=True),
   _p("container", default="", allownot=True),
   _p("container_pid", default="", allownot=True),
   _p("cube_filter", default="", allownot=True, multivalue=True),
   _p("metadata_key", default="", allownot=True, multivalue=True),
   _p("metadata_value", default="", allownot=True, multivalue=True),
   _p("path", default="", allownot=True),
   _p("file", default=""),
   _p("recursive", default="no", values=YN),
   _p("convention", default="no", values=("cmip5", "no")),
   _p("run", default="yes", values=YN),
   _p("depth", type="int", default="0", minvalue=0))

# ---- engine data operators: specs authored for this engine's actual
# ---- parameter surface (plans/server.py op_* closures); same DTD grammar.
# ---- Params whose value can arrive from a dependency (cube via inputs) or
# ---- a massive expansion (src_path/measure under convention=cmip5) are
# ---- optional here: the operator enforces presence after resolution.

_CONTAINER = _p("container", default="default", doc="output container")
_CUBE = _p("cube", doc="input cube PID; defaults to the dependency's output")

_d("oph_importcsv", "Import a CSV into a new datacube.",
   _p("src_path", mandatory=True),
   _p("explicit_dims", mandatory=True, multivalue=True),
   _p("implicit_dim", mandatory=True),
   _p("measure", mandatory=True),
   _p("schema"), _CONTAINER, permission="write")

_d("oph_importparquet", "Import a Parquet table into a new datacube.",
   _p("src_path", mandatory=True),
   _p("explicit_dims", mandatory=True, multivalue=True),
   _p("implicit_dim", mandatory=True),
   _p("measure", mandatory=True), _CONTAINER, permission="write")

_d("oph_importnc", "Import a NetCDF variable into a new datacube.",
   _p("src_path", mandatory=True, multivalue=True),
   _p("measure", doc="set by cmip5 file-massive expansion when omitted"),
   _p("explicit_dims", multivalue=True),
   _p("implicit_dim", mandatory=True),
   _p("subset_dims", multivalue=True),
   _p("subset_filter", multivalue=True),
   _p("subset_type", default="coord", values=("index", "coord")),
   _CONTAINER, permission="write")

_d("oph_exportnc", "Export a datacube to NetCDF file(s).",
   _CUBE, _p("output_path", mandatory=True),
   _p("per_dim_files", default="no", values=YN),
   _p("nc_format", default="classic", values=("classic", "netcdf4", "cdf5")),
   _p("compress", type="int", minvalue=1, maxvalue=9),
   permission="write")

_d("oph_explorenc", "Inspect a NetCDF file (header + stats).",
   _p("src_path", mandatory=True), _p("measure"))

_d("oph_importarrow", "Import Arrow IPC (Feather) shards into a new datacube.",
   _p("src_path", mandatory=True), _p("measure", mandatory=True),
   _p("explicit_dims", multivalue=True),
   _p("implicit_dim", mandatory=True),
   _CONTAINER, permission="write")

_d("oph_exportarrow", "Export a datacube to sharded Arrow IPC files.",
   _CUBE, _p("output_path", mandatory=True),
   _p("shards", type="int", default="8", minvalue=1))

_d("oph_importzarr", "Import a Zarr array into a new datacube.",
   _p("src_path", mandatory=True), _p("measure", mandatory=True),
   _p("explicit_dims", multivalue=True),
   _p("implicit_dim", mandatory=True),
   _p("subset_dims", multivalue=True),
   _p("subset_filter", multivalue=True),
   _p("subset_type", default="coord", values=("index", "coord")),
   _CONTAINER, permission="write")

_d("oph_exportzarr", "Export a datacube to a Zarr store.",
   _CUBE, _p("output_path", mandatory=True),
   _p("compress", type="int", minvalue=1, maxvalue=9),
   _p("per_dim_chunks", default="no", values=YN), permission="write")

_d("oph_randcube", "Create a random datacube.",
   _p("nrows", type="int", default="100", minvalue=1),
   _p("nvalues", type="int", default="12", minvalue=1),
   _CONTAINER, permission="write")

_d("oph_subset", "Subset a cube along dimensions (index/coord filters).",
   _CUBE,
   _p("subset_dims", mandatory=True, multivalue=True),
   _p("subset_filter", mandatory=True, multivalue=True),
   _p("subset_type", default="index", values=("index", "coord")),
   _p("offset", type="real", default="0"),
   _CONTAINER)

_TIME_LEVELS = ("hour", "day", "week", "month", "quarter", "season", "year")

_d("oph_reduce", "Reduce the implicit dimension with an aggregate.",
   _CUBE, _p("operation", default="avg", values=tuple(REDUCE_OPS)), _CONTAINER)

_d("oph_reduce2", "Grouped reduction of the implicit dimension by concept level.",
   _CUBE, _p("operation", default="avg", values=tuple(AGG_FNS)),
   _p("concept_level", default="month", values=_TIME_LEVELS),
   _CONTAINER)

_d("oph_aggregate", "Aggregate over explicit dimensions.",
   _CUBE, _p("operation", default="sum", values=tuple(AGG_FNS)),
   _p("group_dims", multivalue=True), _CONTAINER)

_d("oph_aggregate2", "Grouped aggregation over an explicit time dimension.",
   _CUBE, _p("operation", default="sum", values=tuple(AGG_FNS)),
   _p("dim", mandatory=True),
   _p("concept_level", default="month", values=_TIME_LEVELS), _CONTAINER)

_d("oph_intercube", "Element-wise operation between two cubes.",
   _p("cubes", multivalue=True,
      doc="two PIDs; default: the task's two dependencies"),
   _p("operation", default="sub",
      values=("sum", "sub", "mul", "div", "abs", "arg", "corr", "mask")),
   _CONTAINER)

_d("oph_rollup", "Move an explicit dimension into the array.",
   _CUBE, _p("dim", mandatory=True), _CONTAINER)

_d("oph_drilldown", "Move an implicit level out to an explicit dimension.",
   _CUBE, _p("limit", type="int", default="1000", minvalue=1))

_d("oph_permute", "Reorder the implicit dimensions.",
   _CUBE, _p("dim_order", mandatory=True, multivalue=True), _CONTAINER)

_d("oph_mergecubes", "Merge cubes along a new dimension.",
   _p("cubes", multivalue=True,
      doc="PIDs to merge; default: the task's dependencies"),
   _CONTAINER)

_d("oph_apply", "Apply an array primitive to each cell array.",
   _CUBE, _p("query", default="oph_mul_scalar"),
   _p("parameters", multivalue=True), _CONTAINER)

_d("oph_duplicate", "Duplicate a datacube.", _CUBE, _CONTAINER,
   permission="write")
_d("oph_delete", "Delete a datacube.", _CUBE, permission="write")

_d("oph_metadata", "Read/write cube metadata.",
   _CUBE,
   _p("mode", default="read", values=("read", "insert", "update", "delete")),
   _p("metadata_key", multivalue=True),
   _p("metadata_value"))

_d("oph_cubeschema", "Show the schema of a datacube.", _CUBE)
_d("oph_explorecube", "Preview the content of a datacube.",
   _CUBE, _p("limit", type="int", default="100", minvalue=1))

_d("oph_exportcsv", "Export a datacube to CSV.",
   _CUBE, _p("output_path", mandatory=True), permission="write")

_d("oph_publish", "Publish cube content as HTML/files.",
   _CUBE, _p("publish_dir", mandatory=True), _p("name"),
   _p("limit", type="int", default="1000", minvalue=1),
   permission="write")
_d("oph_unpublish", "Remove published cube files.",
   _p("publish_dir", mandatory=True), _p("name", mandatory=True),
   permission="write")

_d("oph_fs", "Browse the engine file system (ls with filters).",
   _p("path", mandatory=True),
   _p("file", doc="regex file filter"),
   _p("recursive", default="no", values=YN))

# ---- LLM-pipeline operators exposed through the workflow facade.
# ---- src_path is optional everywhere: it defaults to the dependency's
# ---- output path (corpus stages chain by path like cubes chain by PID).

_SRC = _p("src_path")
_OUT = _p("output_path", mandatory=True)
_TEXTCOL = _p("text_col", default="text")

_d("pipeline_dedup_exact", "Exact duplicate removal (document or line level).",
   _SRC, _OUT, _TEXTCOL,
   _p("level", default="document", values=("document", "line")),
   _p("scope", default="corpus", values=("corpus", "doc")),
   _p("key_col", default="doc_id"))
_d("pipeline_quality_filter", "Heuristic text-quality filter.",
   _SRC, _OUT, _TEXTCOL,
   _p("min_quality", type="real", default="0.5", minvalue=0, maxvalue=1))
_d("pipeline_redact_pii", "Regex PII scrubbing over a text column.",
   _SRC, _OUT, _TEXTCOL)
_d("pipeline_minhash_pairs", "MinHash+LSH near-duplicate candidate pairs.",
   _SRC, _OUT, _TEXTCOL,
   _p("threshold", type="real", default="0.5", minvalue=0, maxvalue=1))
_d("pipeline_chunk", "Split documents into token-bounded chunks.",
   _SRC, _OUT, _TEXTCOL,
   _p("chunk_tokens", type="int", default="64", minvalue=1),
   _p("overlap_tokens", type="int", default="16", minvalue=0))
_d("pipeline_decontaminate", "Remove docs overlapping an eval probe set.",
   _SRC, _OUT, _TEXTCOL, _p("probe_path", mandatory=True))
_d("pipeline_sample", "Deterministic Bernoulli/stratified/split sampling.",
   _SRC, _OUT,
   _p("mode", default="bernoulli",
      values=("bernoulli", "stratified", "split", "fixed_k", "group_fixed_k",
              "temperature", "weighted")),
   _p("frac", type="real", minvalue=0, maxvalue=1),
   _p("fracs", doc="per-stratum fraction map (JSON object)"),
   _p("default_frac", type="real", default="0", minvalue=0, maxvalue=1),
   _p("val_frac", type="real", default="0.1", minvalue=0, maxvalue=1),
   _p("test_frac", type="real", default="0.1", minvalue=0, maxvalue=1),
   _p("k", type="int", minvalue=0),
   _p("total", type="int", minvalue=0),
   _p("alpha", type="real", default="0.5", minvalue=0, maxvalue=1),
   _p("weight_col"),
   _p("rate_scale", type="real", default="1"),
   _p("strata_col", default="source"),
   _p("key_col", default="doc_id"),
   _p("salt"))
_d("pipeline_pack", "Concat-and-chunk sequence packing layout.",
   _SRC, _OUT, _TEXTCOL,
   _p("seq_len", type="int", default="2048", minvalue=1),
   _p("n_buckets", type="int", default="64", minvalue=1))
_d("pipeline_shuffle", "Deterministic training-order shuffle (md5 shards).",
   _SRC, _OUT,
   _p("n_shards", type="int", default="64", minvalue=1),
   _p("salt", default="epoch0"))
_d("pipeline_quality_model", "Logistic quality-classifier gate.",
   _SRC, _OUT, _TEXTCOL,
   _p("keep_threshold", type="real", default="0.5", minvalue=0, maxvalue=1))
_d("pipeline_semantic_dedup", "SemDeDup embedding-cluster near-dup pruning.",
   _SRC, _OUT,
   _p("n_clusters", type="int", default="64", minvalue=1),
   _p("threshold", type="real", default="0.95", minvalue=-1, maxvalue=1),
   _p("id_col", default="vec_id"),
   _p("vec_col", default="embedding"))
_d("pipeline_repack", "Size-targeted parquet repack for loader handoff.",
   _SRC, _OUT,
   _p("target_mb", type="real", default="256", minvalue=0.001))

_d("pipeline_sketch", "Write a mergeable sketch table (HLL/count-min/DDSketch/Bloom).",
   _SRC, _OUT,
   _p("column", mandatory=True),
   _p("kind", default="hll",
      values=("hll", "cms", "dds", "bloom", "hll_rolling")),
   _p("p", type="int", default="12", minvalue=4, maxvalue=16),
   _p("d", type="int", default="4", minvalue=1),
   _p("w", type="int", default="4096", minvalue=1),
   _p("alpha", type="real", default="0.01", minvalue=0, maxvalue=1),
   _p("m_bits", type="int", default="8192", minvalue=8),
   _p("k", type="int", default="4", minvalue=1, maxvalue=16),
   _p("ts_col", default="ts"),
   _p("days", type="int", default="7", minvalue=1))

_d("pipeline_dedup_index", "Materialize or grow the corpus MinHash index.",
   _SRC, _OUT, _TEXTCOL,
   _p("mode", default="build", values=("build", "append")))
_d("pipeline_novelty", "Gate a new batch against the MinHash index.",
   _SRC, _OUT, _TEXTCOL,
   _p("index_path", mandatory=True),
   _p("threshold", type="real", default="0.5", minvalue=0, maxvalue=1),
   _p("keep", default="verdicts", values=("verdicts", "novel")))
_d("pipeline_tokenize", "Train/apply BPE merges; write the token table.",
   _SRC, _OUT, _TEXTCOL,
   _p("num_merges", type="int", default="200", minvalue=1),
   _p("merges_path"),
   _p("save_merges_path"))

_d("pipeline_export", "Re-encode a stage for the trainer's loader "
   "(TFRecord / WebDataset / Avro, executor-sharded).",
   _SRC, _OUT,
   _p("format", default="tfrecord", values=("tfrecord", "webdataset", "avro")),
   _p("shards", type="int", default="8", minvalue=1),
   _p("key_col", default="doc_id"),
   _p("codec", default="deflate", values=("null", "deflate")))

_d("pipeline_zorder", "Z-order-cluster a parquet stage and write its "
   "min/max file-skipping manifest.",
   _SRC, _OUT,
   _p("columns", mandatory=True, multivalue=True),
   _p("files", type="int", default="16", minvalue=1),
   _p("bits", type="int", default="16", minvalue=1, maxvalue=31))

_d("pipeline_kmeans", "Full-corpus Lloyd's k-means; write assignments.",
   _SRC, _OUT,
   _p("k", type="int", default="8", minvalue=1),
   _p("iters", type="int", default="10", minvalue=1),
   _p("vec_col", default="embedding"),
   _p("id_col", default="vec_id"))

_d("pipeline_select", "DSIR importance selection toward a target slice.",
   _SRC, _OUT,
   _p("k", type="int", mandatory=True, minvalue=1),
   _p("target_filter", mandatory=True,
      doc="SQL predicate defining the target slice"),
   _p("m", type="int", default="1024", minvalue=2),
   _p("alpha", type="real", default="1", minvalue=0),
   _p("gumbel_scale", type="real", default="0", minvalue=0),
   _p("text_col", default="text"),
   _p("key_col", default="doc_id"))

_d("pipeline_interleave", "Round-robin training order across groups.",
   _SRC, _OUT,
   _p("strata_col", default="source"),
   _p("key_col", default="doc_id"),
   _p("salt", default="ilv"))

_d("pipeline_vector_index", "Build or probe the partition-pruned ANN store.",
   _p("index_path", mandatory=True),
   _p("action", default="build", values=("build", "probe")),
   _p("src_path"),
   _p("output_path"),
   _p("kind", default="ivf", values=("ivf", "lsh")),
   _p("n_cells", type="int", default="16", minvalue=1),
   _p("bits", type="int", default="8", minvalue=1),
   _p("query_path"),
   _p("query_id", type="int"),
   _p("k", type="int", default="10", minvalue=1),
   _p("key_col", default="vec_id"),
   _p("vec_col", default="embedding"))

_d("pipeline_features", "Feature transforms: clip/standardize/scale/encode/rolling.",
   _SRC, _OUT,
   _p("mode", default="standardize",
      values=("standardize", "minmax", "index", "winsorize", "rolling")),
   _p("value_col", default="value"),
   _p("group_col", default="event_type"),
   _p("col"),
   _p("lower_q", type="real", default="0.01", minvalue=0, maxvalue=1),
   _p("upper_q", type="real", default="0.99", minvalue=0, maxvalue=1),
   _p("days", type="int", default="7", minvalue=1),
   _p("ts_col", default="ts"),
   _p("key_col", default="user_id"))

_d("pipeline_triplets", "Mine contrastive (anchor, positive, negative) triplets.",
   _SRC, _OUT, _TEXTCOL,
   _p("threshold", type="real", default="0.5", minvalue=0, maxvalue=1),
   _p("hard_band_min", type="real", default="0", minvalue=0, maxvalue=1,
      doc="> 0 turns on hard negatives from [hard_band_min, threshold)"),
   _p("n_buckets", type="int", default="8", minvalue=1),
   _p("key_col", default="doc_id"))

_d("pipeline_classify", "Train + apply a hashed-feature quality classifier.",
   _SRC, _OUT, _TEXTCOL,
   _p("label_col", default="label"),
   _p("key_col", default="doc_id"),
   _p("m", type="int", default="256", minvalue=2),
   _p("iters", type="int", default="8", minvalue=1),
   _p("lr", type="real", default="1", minvalue=0),
   _p("threshold", type="real", default="0.5", minvalue=0, maxvalue=1),
   _p("features", default="presence", values=("presence", "tf")))

_d("pipeline_snapshot", "Versioned-table commit: write/upsert/optimize/vacuum.",
   _p("table_path", mandatory=True),
   _p("action", default="write",
      values=("write", "upsert", "optimize", "vacuum")),
   _p("src_path"),
   _p("key_cols", doc="'|'-separated MERGE keys (upsert)"),
   _p("columns", doc="'|'-separated Z-order columns (optimize)"),
   _p("target_mb", type="int", default="128", minvalue=1),
   _p("keep_last", type="int", default="1", minvalue=1))

_d("pipeline_drift", "PSI distribution-drift gate vs a reference batch.",
   _SRC, _OUT,
   _p("ref_path", mandatory=True),
   _p("value_col", default="value"),
   _p("n_buckets", type="int", default="10", minvalue=2),
   _p("max_psi", type="real", default="0", minvalue=0,
      doc="abort when psi exceeds this (0 = report only)"))

_d("pipeline_audit", "Data-quality contract check (expectations table).",
   _SRC, _OUT,
   _p("rules", doc="rule list (JSON array of {name, kind, col, ...})"),
   _p("max_violation_frac", type="real", default="0", minvalue=0, maxvalue=1),
   _p("on_fail", default="abort", values=("abort", "continue")))
