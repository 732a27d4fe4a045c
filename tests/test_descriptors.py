"""Submit-time parameter validation (plans/descriptors.py).

Ports the reference's task-parser semantics — oph_tp_task_params_parser /
oph_tp_validate_task_string_param (oph_task_parser_library.c:430-585):
mandatory/default, int→strtol and real→strtod conversion before range
checks (oph_task_parser_library.h:57-58), min==max constant forcing, enum
`values` membership, multivalue element checks, and allownot negated keys
(oph_task_parser_library.c:680-695). Descriptor tables for the server's own
operators are ported from its served XMLs (etc/xml/OPH_*_operator_1.0.xml).
"""

from __future__ import annotations

import ast

import pytest

from ophidia_server_spark.plans.descriptors import (
    DESCRIPTORS,
    OperatorDescriptor,
    ParamSpec,
    ParamValidationError,
    operator_args,
    validate_params,
    validate_task,
)


def desc(*specs, name="op_test"):
    return OperatorDescriptor(name, "test", tuple(specs))


# -- mandatory / default ------------------------------------------------------

def test_missing_mandatory_errors():
    d = desc(ParamSpec("key", mandatory=True))
    with pytest.raises(ParamValidationError) as e:
        validate_params(d, {})
    assert e.value.param == "key"
    assert "mandatory" in str(e.value)


def test_missing_optional_gets_default():
    d = desc(ParamSpec("run", mandatory=False, default="yes"))
    assert validate_params(d, {}) == {"run": "yes"}


def test_present_value_kept():
    d = desc(ParamSpec("run", mandatory=False, default="yes"))
    assert validate_params(d, {"run": "no"}) == {"run": "no"}


# -- strtol / strtod conversion semantics ------------------------------------

def test_int_strtol_leading_prefix():
    # strtol("12abc") == 12: the range check sees 12 and passes
    d = desc(ParamSpec("n", type="int", mandatory=False, minvalue=1, maxvalue=100))
    assert validate_params(d, {"n": "12abc"}) == {"n": "12abc"}


def test_int_strtol_garbage_is_zero():
    # strtol("abc") == 0 -> fails minvalue=1 with a named error
    d = desc(ParamSpec("n", type="int", mandatory=False, minvalue=1))
    with pytest.raises(ParamValidationError, match="lower than minvalue"):
        validate_params(d, {"n": "abc"})


def test_int_range_low_high():
    d = desc(ParamSpec("nlines", type="int", mandatory=False,
                       minvalue=1, maxvalue=10000))
    with pytest.raises(ParamValidationError, match="lower than minvalue"):
        validate_params(d, {"nlines": "0"})
    with pytest.raises(ParamValidationError, match="higher than maxvalue"):
        validate_params(d, {"nlines": "10001"})
    assert validate_params(d, {"nlines": "10000"}) == {"nlines": "10000"}


def test_real_strtod_and_range():
    d = desc(ParamSpec("threshold", type="real", mandatory=False,
                       minvalue=0, maxvalue=1))
    assert validate_params(d, {"threshold": "0.8"}) == {"threshold": "0.8"}
    assert validate_params(d, {"threshold": "1e-3"}) == {"threshold": "1e-3"}
    with pytest.raises(ParamValidationError, match="higher than maxvalue"):
        validate_params(d, {"threshold": "1.5"})
    # strtod("junk") == 0.0 -> inside [0,1], passes (reference semantics)
    assert validate_params(d, {"threshold": "junk"}) == {"threshold": "junk"}


def test_min_equals_max_forces_constant():
    # oph_task_parser_library.c:480-482 "changed to the only possible value"
    d = desc(ParamSpec("ncores", type="int", mandatory=False,
                       minvalue=1, maxvalue=1))
    assert validate_params(d, {"ncores": "64"}) == {"ncores": "1"}


# -- enum values / multivalue -------------------------------------------------

def test_enum_membership():
    d = desc(ParamSpec("subset_type", mandatory=False,
                       values=("index", "coord")))
    assert validate_params(d, {"subset_type": "coord"})["subset_type"] == "coord"
    with pytest.raises(ParamValidationError, match="not in allowed set"):
        validate_params(d, {"subset_type": "time"})


def test_enum_no_prefix_match():
    # "inde" must not match "index" (the reference compares both lengths)
    d = desc(ParamSpec("t", mandatory=False, values=("index", "coord")))
    with pytest.raises(ParamValidationError):
        validate_params(d, {"t": "inde"})
    with pytest.raises(ParamValidationError):
        validate_params(d, {"t": "indexx"})


def test_multivalue_each_element_checked():
    d = desc(ParamSpec("subset_type", mandatory=False, multivalue=True,
                       values=("index", "coord")))
    ok = validate_params(d, {"subset_type": "index|coord|index"})
    assert ok["subset_type"] == "index|coord|index"
    with pytest.raises(ParamValidationError, match="'time'"):
        validate_params(d, {"subset_type": "index|time"})


# -- allownot -----------------------------------------------------------------

def test_allownot_negated_key_accepted():
    d = desc(ParamSpec("measure", mandatory=False, default="", allownot=True))
    out = validate_params(d, {"measure!": "tas"})
    assert out["measure!"] == "tas"
    # `name!` is the alternative spelling of the ONE parameter: no spurious
    # plain-key default rides along, and its presence satisfies mandatory
    assert "measure" not in out
    d2 = desc(ParamSpec("measure", mandatory=True, allownot=True))
    out2 = validate_params(d2, {"measure!": "tas"})
    assert out2 == {"measure!": "tas"}


def test_negated_key_rejected_without_allownot():
    d = desc(ParamSpec("measure", mandatory=False, default=""))
    with pytest.raises(ParamValidationError, match="unknown parameter"):
        validate_params(d, {"measure!": "tas"})


def test_negated_key_value_checked():
    d = desc(ParamSpec("level", type="int", mandatory=False, default="",
                       minvalue=0, allownot=True, multivalue=True))
    with pytest.raises(ParamValidationError, match="lower than minvalue"):
        validate_params(d, {"level!": "-2"})


# -- unknown keys (strict deviation) -----------------------------------------

def test_unknown_key_named_error_lists_params():
    d = desc(ParamSpec("subset_dims", mandatory=False, default="none"))
    with pytest.raises(ParamValidationError) as e:
        validate_params(d, {"subset_dim": "lat"})  # the classic typo
    assert e.value.param == "subset_dim"
    assert "subset_dims" in str(e.value)


def test_strict_false_restores_reference_ignore():
    d = desc(ParamSpec("subset_dims", mandatory=False, default="none"))
    out = validate_params(d, {"subset_dim": "lat"}, strict=False)
    assert out == {"subset_dims": "none"}


# -- registry: ported server XML tables --------------------------------------

def test_registry_covers_server_xml_operators():
    for name in ("oph_for", "oph_if", "oph_set", "oph_input", "oph_wait",
                 "oph_cancel", "oph_manage_session", "oph_log_info",
                 "oph_resume", "oph_massive", "oph_service", "oph_get_config"):
        assert name in DESCRIPTORS, name


def test_oph_wait_table_matches_reference_xml():
    # OPH_WAIT_operator_1.0.xml arg rows
    d = DESCRIPTORS["oph_wait"]
    t = d.by_name["type"]
    assert t.values == ("clock", "input", "file") and t.default == "clock"
    assert d.by_name["timeout"].type == "int"
    assert d.by_name["offset"].type == "real" and d.by_name["offset"].multivalue
    assert d.by_name["subset_type"].values == ("index", "coord")


def test_oph_cancel_mandatory_id_min():
    with pytest.raises(ParamValidationError, match="mandatory"):
        validate_task("oph_cancel", {})
    with pytest.raises(ParamValidationError, match="lower than minvalue"):
        validate_task("oph_cancel", {"id": "0"})
    assert validate_task("oph_cancel", {"id": "3"})["id"] == "3"


def test_oph_massive_allownot_round_trip():
    out = validate_task("oph_massive", {"measure!": "pr", "level": "2|3"})
    assert out["measure!"] == "pr"
    assert out["level"] == "2|3"


def test_validate_task_unknown_operator_returns_none():
    assert validate_task("my_extension_op", {"anything": "goes"}) is None


# -- placeholder (pre-substitution) mode -------------------------------------

def test_placeholder_values_held_back():
    out = validate_task(
        "oph_subset",
        {"cube": "@cube", "subset_dims": "lat", "subset_filter": "@{f}",
         "subset_type": "@stype"},
        allow_placeholders=True,
    )
    assert out["subset_filter"] == "@{f}"
    assert out["subset_type"] == "@stype"


def test_placeholder_mode_still_catches_typos():
    with pytest.raises(ParamValidationError, match="unknown parameter"):
        validate_task(
            "oph_subset",
            {"cube": "@cube", "subset_dim": "lat", "subset_filter": "1:2"},
            allow_placeholders=True,
        )


def test_placeholder_mode_still_checks_literals():
    with pytest.raises(ParamValidationError, match="not in allowed set"):
        validate_task(
            "oph_subset",
            {"cube": "@cube", "subset_dims": "lat", "subset_filter": "1:2",
             "subset_type": "weird"},
            allow_placeholders=True,
        )


# -- engine integration -------------------------------------------------------

def test_workflow_task_fails_with_named_error():
    from ophidia_server_spark.plans.workflow import WorkflowEngine

    seen = {}

    def op(engine, args, inputs):
        seen["args"] = args
        return "ok"

    eng = WorkflowEngine({"oph_subset": op})
    run = eng.run({
        "tasks": [{
            "name": "t1", "operator": "oph_subset",
            "arguments": {"cube": "c1", "subset_dims": "lat",
                          "subset_filter": "1:2", "subset_type": "bogus"},
        }],
    })
    res = run.results["t1"]
    assert res.status == "OPH_ODB_STATUS_ERROR"
    assert "ParamValidationError" in (res.error or "")
    assert "bogus" in res.error
    assert "args" not in seen  # operator was never dispatched


def test_workflow_valid_task_dispatches():
    from ophidia_server_spark.plans.workflow import WorkflowEngine

    def op(engine, args, inputs):
        return args["subset_filter"]

    eng = WorkflowEngine({"oph_subset": op})
    run = eng.run({
        "tasks": [{
            "name": "t1", "operator": "oph_subset",
            "arguments": {"cube": "c1", "subset_dims": "lat",
                          "subset_filter": "1:2"},
        }],
    })
    assert run.results["t1"].status == "OPH_ODB_STATUS_COMPLETED"
    assert run.results["t1"].value == "1:2"


def test_oph_man_serves_descriptor_args():
    from ophidia_server_spark.management import oph_man

    man = oph_man("oph_wait")
    assert "args" in man
    rows = {a["name"]: a for a in man["args"]}
    assert rows["timeout"]["type"] == "int"
    assert rows["type"]["values"] == "clock|input|file"
    assert rows["subset_dims"]["multivalue"] == "yes"


def test_operators_list_includes_descriptor_ops():
    from ophidia_server_spark.management import operators_list

    names = {e["operator"] for e in operators_list()}
    assert {"oph_for", "oph_wait", "oph_massive"} <= names


def test_multivalue_numeric_checks_every_element():
    d = desc(ParamSpec("level", type="int", mandatory=False,
                       minvalue=0, maxvalue=9, multivalue=True))
    assert validate_params(d, {"level": "2|5|9"})["level"] == "2|5|9"
    # the out-of-range element is NOT the first one — it must still fail
    with pytest.raises(ParamValidationError, match="lower than minvalue"):
        validate_params(d, {"level": "2|-1"})
    with pytest.raises(ParamValidationError, match="higher than maxvalue"):
        validate_params(d, {"level": "3|12"})
    dr = desc(ParamSpec("frac", type="real", mandatory=False,
                        minvalue=0, maxvalue=1, multivalue=True))
    with pytest.raises(ParamValidationError, match="higher than maxvalue"):
        validate_params(dr, {"frac": "0.2|1.5"})


def test_massive_bracket_args_validate_against_descriptor():
    # a bad typed value inside a massive bracket is the named
    # ParamValidationError at parse time (oph_massive_operations.c:118-123
    # runs the task parser on the assembled bracket string), never a deep
    # TypeError from the expansion machinery
    import pytest

    from ophidia_server_spark.filters import parse_massive
    from ophidia_server_spark.plans.descriptors import ParamValidationError

    with pytest.raises(ParamValidationError) as ei:
        parse_massive("[path=/a/b;recursive=yes;depth=-2]")  # minvalue=0
    assert ei.value.operator == "oph_massive"
    assert ei.value.param == "depth"

    with pytest.raises(ParamValidationError) as ei:
        parse_massive("[recursive=maybe]")
    assert ei.value.param == "recursive"

    # strtol parity: a non-numeric depth parses to 0 (C strtol semantics,
    # oph_task_parser_library.c:469) and 0 satisfies minvalue=0 — accepted,
    # exactly as the reference would
    parse_massive("[depth=x]")

    # valid groups still parse, incl. negation, multivalue, and the free
    # key=value metadata extension (unknown keys pass: strict=False)
    groups, pids = parse_massive("[level=150|200;experiment=rcp85;depth=2]")
    assert groups[0]["level"] == "150|200"
    assert groups[0]["experiment"] == "rcp85"


def _facade_closures():
    """(operator, closure AST) of every facade operator, read from the source."""
    from ophidia_server_spark.plans import server

    tree = ast.parse(open(server.__file__).read())
    engine = next(n for n in tree.body
                  if isinstance(n, ast.FunctionDef) and n.name == "build_default_engine")
    closures = {n.name: n for n in engine.body if isinstance(n, ast.FunctionDef)}
    table = next(n.value.args[0] for n in engine.body if isinstance(n, ast.Return))
    for key, fn in zip(table.keys, table.values):
        yield key.value, closures[fn.id]


def _args_get(node) -> bool:
    f = getattr(node, "func", None)
    return (isinstance(f, ast.Attribute) and f.attr == "get"
            and getattr(f.value, "id", None) == "args")


def _args_key(node):
    """The key of an `args["k"]` / `args.get("k", ...)` read (also as the
    left side of an `or`), else None."""
    if isinstance(node, ast.BoolOp):
        node = node.values[0]
    if (isinstance(node, ast.Subscript) and getattr(node.value, "id", None) == "args"
            and isinstance(node.slice, ast.Constant)):
        return node.slice.value
    if _args_get(node) and node.args and isinstance(node.args[0], ast.Constant):
        return node.args[0].value
    return None


def _facade_get_defaults():
    """(operator, key, literal) of every `args.get("<key>", <literal>)` in
    the facade's operator closures."""
    for op, fn in _facade_closures():
        for call in ast.walk(fn):
            if (_args_get(call) and len(call.args) == 2
                    and all(isinstance(a, ast.Constant) for a in call.args)):
                yield op, call.args[0].value, call.args[1].value


def _number_spec(op, key):
    spec = DESCRIPTORS[op].by_name.get(key)
    return spec if spec is not None and spec.type in ("int", "real") else None


def test_facade_restates_no_descriptor_default():
    """operator_args fills every descriptor default: a facade literal default
    is only for a key the descriptor leaves unset (an operator's own)."""
    literals = list(_facade_get_defaults())
    restated = [(op, key) for op, key, _ in literals
                if DESCRIPTORS[op].by_name[key].default is not None]
    assert restated == []
    assert ("pipeline_sample", "salt", "mix") in literals  # the scan sees them


def test_facade_parses_no_descriptor_number():
    """operator_args hands an int/real parameter over as the number the
    range check read: no closure casts one again."""
    casts, reads = [], 0
    for op, fn in _facade_closures():
        for node in ast.walk(fn):
            key = _args_key(node)
            reads += key is not None and _number_spec(op, key) is not None
            if (isinstance(node, ast.Call) and getattr(node.func, "id", None) in ("int", "float")
                    and node.args and _number_spec(op, _args_key(node.args[0]) or "") is not None):
                casts.append((op, node.lineno))
    assert casts == []
    assert reads > 50  # the scan sees the facade's number reads


def test_operator_args_fills_defaults_and_parses_numbers():
    got = operator_args("pipeline_chunk", {"output_path": "o", "chunk_tokens": "32.9x",
                                           "overlap_tokens": 4})
    assert got == {"output_path": "o", "text_col": "text", "chunk_tokens": 32,
                   "overlap_tokens": 4}
    assert type(operator_args("oph_subset", {"subset_dims": "t", "subset_filter": "1"})
                ["offset"]) is float
    # strtod reads no number as 0.0; the range check saw that same number
    assert operator_args("pipeline_minhash_pairs",
                         {"output_path": "o", "threshold": "junk"})["threshold"] == 0.0
    # multivalue and JSON values stay as they are; no descriptor: unchanged
    assert operator_args("oph_wait", {"offset": "1|2"})["offset"] == "1|2"
    rules = [{"name": "r", "kind": "not_null", "col": "text"}]
    assert operator_args("pipeline_audit", {"output_path": "o", "rules": rules})["rules"] is rules
    raw = {"nrows": "7"}
    assert operator_args("no_such_operator", raw) is raw


def test_dispatch_hands_the_operator_the_descriptor_defaults():
    from ophidia_server_spark.plans.workflow import WorkflowEngine

    seen = {}

    def spy(engine, args, inputs):
        seen.update(args)
        return None

    run = WorkflowEngine({"oph_explorecube": spy}).run({"tasks": [{
        "name": "x", "operator": "oph_explorecube", "arguments": {"cube": "c1"}}]})
    assert run.status == "OPH_ODB_STATUS_COMPLETED"
    assert seen == {"cube": "c1", "limit": 100}
    assert type(seen["limit"]) is int


# the functions of workflow.py that read a served flow operator's parameters
_FLOW_FUNCS = ("_flow", "_wait", "_wait_carry", "_resolve_wait_file")


def _flow_functions():
    from ophidia_server_spark.plans import workflow

    tree = ast.parse(open(workflow.__file__).read())
    found = {n.name: n for n in ast.walk(tree)
             if isinstance(n, ast.FunctionDef) and n.name in _FLOW_FUNCS}
    assert sorted(found) == sorted(_FLOW_FUNCS)  # a renamed one fails here
    return found.values()


def test_flow_operators_restate_no_descriptor_default():
    """oph_set, oph_input and oph_wait take every default from their
    descriptors (workflow._flow_args): no `args.get("<key>", <literal>)` and
    no `args.get("<key>") or <literal>` for a key one of them defaults."""
    from ophidia_server_spark.plans.workflow import FLOW_SERVED

    defaulted = {k for op in FLOW_SERVED for k, spec in DESCRIPTORS[op].by_name.items()
                 if spec.default is not None}
    literals, reads = [], set()
    for fn in _flow_functions():
        for node in ast.walk(fn):
            key = _args_key(node)
            reads.add(key)
            if (_args_get(node) and len(node.args) == 2
                    and all(isinstance(a, ast.Constant) for a in node.args)):
                literals.append(key)
            if (isinstance(node, ast.BoolOp) and _args_get(node.values[0])
                    and isinstance(node.values[-1], ast.Constant)):
                literals.append(key)
    assert [k for k in literals if k in defaulted] == []
    # the scan sees the flow operators' reads
    assert {"type", "timeout", "timeout_type", "run", "key", "value", "taskname",
            "subset_filter", "offset"} <= reads
