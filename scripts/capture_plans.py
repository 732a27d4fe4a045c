"""Capture .explain("formatted") for named queries into plans/<round>/.

Usage: python scripts/capture_plans.py <tag-dir-suffix> <query> [query ...]
Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt (round defaults to
r14; tag = "before" / "after").

Captures the plan of `QUERIES[name]`, the callable the gate checks and the
bench times; multi-action lifecycle and verdict-grade queries capture the
plan of the RETURNED DataFrame (the other actions' plans are a lifecycle
property, noted inline).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ophidia_server_spark.registry import QUERIES  # noqa: E402
from ophidia_server_spark.session import get_spark  # noqa: E402


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
