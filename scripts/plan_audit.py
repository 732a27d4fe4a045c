"""Plan-quality audit: for every registered query, print one line of physical
-plan metrics (scans, pushed filters, join strategies, shuffles, codegen spans)
and flag anti-patterns (sort-merge join where a broadcast was expected,
cartesian products, missing pushdown on filtered scans).

Usage: python scripts/plan_audit.py [sf_dir] [--md > PLANS.md]

Metrics come from the *executed* plan (AQE final) for accuracy: each query is
run once at the audit scale first.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ophidia_server_spark.registry import QUERIES  # noqa: E402
from ophidia_server_spark.session import get_spark  # noqa: E402


def audit_plan(df) -> dict:
    qe = df._jdf.queryExecution()
    full = qe.executedPlan().toString()
    # After execution, AQE's plan string prints the EXECUTED "== Final
    # Plan ==" tree followed by the UNEXECUTED "== Initial Plan ==" tree;
    # counting both double-reports scans/shuffles and reports SMJ/Cartesian
    # nodes AQE replaced at runtime (rounds <= 6 did exactly that). The
    # simple tree carries every attribute inline (FileScan PushedFilters,
    # Exchange hashpartitioning, *(N) codegen markers), so slicing it at
    # the Initial Plan marker audits exactly what ran. Counting scheme
    # changed in round 7: absolute shuffle/scan counts dropped ~2x vs the
    # committed PLANS.md (the SHUF+ regression flag only fires on
    # increases, so the round-over-round check stays valid).
    plan = full.split("+- == Initial Plan ==")[0]
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
    return {
        "scans": plan.count("Scan parquet"),
        "pushed": len(pushed),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct") + plan.count("BroadcastNestedLoop"),
        # real shuffles only: ReusedExchange nodes reference an existing
        # exchange's partitioning without moving data again. Their lines
        # render as "ReusedExchange [...], Exchange hashpartitioning(...)",
        # so filter whole lines rather than look behind the word Exchange.
        "shuffles": sum(
            1
            for ln in plan.splitlines()
            if re.search(r"Exchange (?:hash|range)partitioning", ln)
            and "ReusedExchange" not in ln
        ),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": plan.count("ArrowEvalPython") + plan.count("BatchEvalPython"),
        "final": "isFinalPlan=true" in full or "AdaptiveSparkPlan" not in full,
    }


def _previous_shuffles() -> dict[str, int]:
    """Shuffle counts from the committed PLANS.md (the previous audit), so a
    regression — a query whose plan gained exchanges round-over-round —
    gets flagged instead of silently replacing the old number."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    out: dict[str, int] = {}
    try:
        with open(path) as fh:
            for line in fh:
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                if len(cells) >= 7 and cells[0] not in ("query", "---") and cells[5].isdigit():
                    out[cells[0]] = int(cells[5])
    except OSError:
        pass
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else (
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    md = "--md" in sys.argv
    prev = _previous_shuffles()
    spark = get_spark("plan_audit")
    rows = []
    for name in sorted(QUERIES):
        try:
            # the gate's own callable (what bench.py times); an eager
            # verdict grade returns a small local frame, so its row audits
            # that frame, not the operator work done before the return
            df = QUERIES[name](spark, sf_dir)
            df.collect()  # drive AQE to the final plan
            m = audit_plan(df)
            flags = []
            if m["cartesian"]:
                flags.append("CARTESIAN")
            if m["smj"] and not m["bhj"]:
                flags.append("SMJ-only")
            if m["python"]:
                flags.append("py-udf")
            if name in prev and m["shuffles"] > prev[name]:
                flags.append(f"SHUF+{m['shuffles'] - prev[name]}")
            rows.append((name, m, ",".join(flags) or "-"))
        except Exception as e:  # noqa: BLE001
            rows.append((name, None, f"ERROR {type(e).__name__}"))
    if md:
        print("| query | scans | pushed | bhj | smj | shuffles | codegen | flags |")
        print("|---|---|---|---|---|---|---|---|")
        for name, m, flags in rows:
            if m is None:
                print(f"| {name} | - | - | - | - | - | - | {flags} |")
            else:
                print(
                    f"| {name} | {m['scans']} | {m['pushed']} | {m['bhj']} | "
                    f"{m['smj']} | {m['shuffles']} | {m['codegen']} | {flags} |"
                )
    else:
        for name, m, flags in rows:
            if m is None:
                print(f"{name:32s} {flags}")
            else:
                print(
                    f"{name:32s} scans={m['scans']} pushed={m['pushed']} bhj={m['bhj']} "
                    f"smj={m['smj']} shuf={m['shuffles']} cg={m['codegen']} {flags}"
                )


if __name__ == "__main__":
    main()
