"""A deliberately wrong expected value must be counted as a failure.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402


def _grid(rows: dict[int, float]) -> dict:
    """The multigrid explorecube renders for a reduced cube."""
    return {
        "objclass": "multigrid",
        "rowvalues": [[k] for k in rows],
        "measurevalues": [[v] for v in rows.values()],
    }


def test_right_values_pass_and_a_wrong_one_fails():
    grid = _grid({1: 10.5, 2: 7.25, 3: 0.0})
    right = {1: 10.5, 2: 7.25, 3: 0.0}
    wrong = {**right, 2: 7.26}
    tally = checks.Tally()
    assert tally.op("right", checks.check_multigrid(grid, right, 3))
    assert not tally.op("wrong", checks.check_multigrid(grid, wrong, 3))
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.problems and tally.problems[0].startswith("wrong: row 2")


def test_missing_rows_fail():
    assert checks.check_multigrid(_grid({1: 1.0}), {1: 1.0}, 50)


def test_massive_expansion_must_match_fixture_list():
    values = [{"pid": "p/1"}, {"pid": "p/2"}]
    assert checks.check_massive(values, ["p/1", "p/2"]) == []
    assert checks.check_massive(values, ["p/1", "p/3"])


def test_rank_conservation():
    assert checks.check_rank_conservation(1000.0000000001, 1000) == []
    assert checks.check_rank_conservation(1000.0, 1001)


def _write(path, **cols) -> str:
    os.makedirs(path)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
    return str(path)


def test_exact_dedup_against_duckdb(tmp_path):
    filtered = _write(tmp_path / "q", doc_id=np.array([3, 1, 2, 5]),
                      text=["b", "a", "a", "c"])
    right = _write(tmp_path / "d1", doc_id=np.array([1, 3, 5]), text=["a", "b", "c"])
    kept_wrong_copy = _write(tmp_path / "d2", doc_id=np.array([2, 3, 5]),
                             text=["a", "b", "c"])
    assert checks.check_exact_dedup(filtered, right) == []
    assert checks.check_exact_dedup(filtered, kept_wrong_copy)


def test_compaction_must_be_lossless(tmp_path):
    ids = np.repeat(np.arange(4), 2)  # 4 vectors x 2 tables
    store = _write(tmp_path / "s", vec_id=ids)
    assert checks.check_compacted(store, 4, 2, 8) == []
    assert checks.check_compacted(store, 4, 2, 7)  # reported rows disagree
    assert checks.check_compacted(store, 5, 2, 8)  # one id lost


def test_probe_scores_and_recall():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((50, 8)).astype(np.float32)
    q = x[7]
    top = checks.exact_topk(x, q, 3)
    cos = [float(x[i] @ q / np.linalg.norm(x[i]) / np.linalg.norm(q)) for i in top]
    rows = list(zip(top, cos))
    recall, problems = checks.probe_recall(rows, x, q, 3)
    assert recall == 1.0 and problems == []
    rows[1] = (rows[1][0], rows[1][1] + 0.01)  # a wrong score
    _, problems = checks.probe_recall(rows, x, q, 3)
    assert problems
