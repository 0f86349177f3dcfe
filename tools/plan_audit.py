"""Registry-wide physical-plan audit: one row per query with the
plan-quality signals the 100-TB design cares about — shuffle count,
broadcast count, whole-stage-codegen spans, Python-eval nodes,
cartesian/NLJ joins, and whether a filtered scan pushes predicates.

tests/test_plans.py asserts the hard properties mechanically on every
CI run; this tool makes the same evidence VISIBLE as an artifact
(the round's plan audit) so plan regressions are reviewable, not just
gating.

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openoa_spark import registry  # noqa: E402
from openoa_spark.session import get_session  # noqa: E402


def audit(plan: str) -> dict:
    # count operator-detail headers ("(n) Exchange") so the tree
    # diagram and the detail section don't double-count each node
    return {
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", plan, re.M)),
        "broadcasts": len(
            re.findall(r"^\(\d+\) BroadcastExchange", plan, re.M)
        ),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "python_eval": bool(re.search(r"BatchEvalPython", plan)),
        "arrow_eval": bool(re.search(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
        "cartesian": bool(
            re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan)
        ),
        "pushed_filters": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANAUDIT.md"
    spark = get_session("plan-audit")
    qs = registry.queries()
    rows = []
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        rows.append((name, audit(plan)))
    lines = [
        "# Plan audit — every registry query",
        "",
        f"`{sf_dir}`, pre-execution formatted plans (AQE may coalesce",
        "further at runtime). NOTE: a lazy localCheckpoint truncates",
        "the visible plan at the checkpoint boundary (Scan ExistingRDD),",
        "so queries using the materialize-once pattern under-report",
        "their upstream stages here — the checkpoint is the point.",
        "shuffles = non-broadcast Exchanges;",
        "py = row-at-a-time Python (must be none); arrow = vectorized",
        "Pandas nodes; cart = cartesian/NLJ (scalar broadcasts",
        "allowlisted in tests/test_plans.py); push = filtered scan",
        "carries pushed predicates.",
        "",
        "| query | shuffles | broadcasts | codegen | py | arrow | cart | push |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        lines.append(
            f"| {name} | {a['exchanges']} | {a['broadcasts']} | "
            f"{a['codegen_spans']} | {'X' if a['python_eval'] else ''} | "
            f"{'Y' if a['arrow_eval'] else ''} | "
            f"{'X' if a['cartesian'] else ''} | "
            f"{'Y' if a['pushed_filters'] else ''} |"
        )
    n_py = sum(1 for _, a in rows if a["python_eval"])
    n_cart = sum(1 for _, a in rows if a["cartesian"])
    lines += [
        "",
        f"{len(rows)} queries audited; {n_py} with row-at-a-time Python "
        f"(target 0); {n_cart} with cartesian/NLJ "
        "(all scalar-broadcast allowlist members).",
    ]
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}: {len(rows)} queries, {n_py} python-eval, {n_cart} cartesian")


if __name__ == "__main__":
    main()
