"""oph_set, oph_input and oph_wait read their parameters through their
descriptors: every default, enum and range check comes from the descriptor,
a refused value raises the reference's flow-control message, and what the
request did not give stays out of a file wait's carry."""

import pytest

from ophidia_server_spark.plans.descriptors import DESCRIPTORS
from ophidia_server_spark.plans.workflow import WorkflowEngine, WorkflowError


def _run(*tasks, operators=None):
    return WorkflowEngine(operators or {}).run({"tasks": list(tasks)})


def _task(name, op, deps=(), **arguments):
    return {"name": name, "operator": op, "arguments": arguments,
            "dependencies": list(deps)}


# -- '-' is the flow descriptors' "unset" -------------------------------------

@pytest.mark.parametrize("op", ["oph_set", "oph_input"])
def test_missing_value_stays_unset(op):
    run = _run(_task("s", op, key="k"))
    assert run.results["s"].status == "OPH_ODB_STATUS_COMPLETED"
    assert run.variables["k"] is None


def test_input_wait_without_key_validates_no_key():
    run = _run(_task("w", "oph_wait", type="input", timeout="0", run="no"))
    assert run.results["w"].status == "OPH_ODB_STATUS_COMPLETED"


def test_file_wait_without_filename_watches_input(tmp_path):
    # `input` is not in the wait's descriptor; it is the watched file's
    # last fallback, and the unset filename must not shadow it
    f = tmp_path / "arrived.nc"
    f.write_text("x")
    run = _run(_task("w", "oph_wait", type="file", timeout="1", input=str(f)))
    assert run.results["w"].status == "OPH_ODB_STATUS_COMPLETED"
    assert run.results["w"].value == {"__wait_carry__": {"src_path": str(f)}}


# -- the wait carry forwards only what the request gave -----------------------

def test_wait_carry_holds_exactly_the_requests_keys(tmp_path):
    f = tmp_path / "arrived.nc"
    f.write_text("x")
    seen = {}

    def importnc(engine, args, inputs):
        seen.update(args)
        return "pid"

    run = _run(
        _task("w", "oph_wait", type="file", timeout="1", filename=str(f),
              measure="tas", subset_dims="time"),
        _task("i", "oph_importnc", ["w"], implicit_dim="time"),
        operators={"oph_importnc": importnc},
    )
    assert run.status == "OPH_ODB_STATUS_COMPLETED"
    assert run.results["w"].value == {"__wait_carry__": {
        "src_path": str(f), "measure": "tas", "subset_dims": "time"}}
    # the import's own subset_type default, not the wait's
    assert seen == {"src_path": str(f), "measure": "tas", "subset_dims": "time",
                    "implicit_dim": "time", "subset_type": "coord",
                    "container": "default"}


# -- defaults and checks from the descriptor ----------------------------------

@pytest.mark.parametrize("extra", [{}, {"offset": "0"}])
def test_set_offset_default_is_the_descriptors(extra):
    assert DESCRIPTORS["oph_set"].by_name["offset"].default == "0"
    run = _run(_task("s", "oph_set", key="v", value="a|b|c", subset_filter="yes",
                     **extra))
    assert run.variables["v"] == "1|2|3"


@pytest.mark.parametrize("wtype", ["clock", "file"])
def test_wait_without_timeout_is_infinite_and_refused(wtype):
    # the descriptor's default timeout is -1, infinity, which only an
    # input wait may take
    with pytest.raises(WorkflowError, match="Timeout can be infinity only for type 'input'"):
        _run(_task("w", "oph_wait", type=wtype, filename="f"))


# the reference-suite ports cover the other messages of the table
@pytest.mark.parametrize("op,param,value,message", [
    ("oph_wait", "type", "CLOCK", "Wrong type 'CLOCK'!"),  # enums match case
    ("oph_set", "id", "-3", "Wrong workflow identifier '-3'!"),
])
def test_refused_value_raises_the_reference_message(op, param, value, message):
    args = {"key": "k", "value": "v", "timeout": "0", param: value}
    with pytest.raises(WorkflowError) as e:
        _run({"name": "t", "operator": op, "arguments": args})
    assert str(e.value) == message


@pytest.mark.parametrize("op,args", [
    ("oph_set", {"key": "k", "value": "a", "subset_filter": "maybe"}),
    ("oph_set", {"key": "k", "value": "a", "offset": "-1"}),
    ("oph_wait", {"timeout": "0", "exec_mode": "later"}),
])
def test_other_refusals_name_the_parameter(op, args):
    bad = next(k for k in args if k not in ("key", "value", "timeout"))
    with pytest.raises(WorkflowError, match=f"{op}: parameter '{bad}'"):
        _run({"name": "t", "operator": op, "arguments": args})
