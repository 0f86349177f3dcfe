"""Dump formatted physical plans of registry queries to a markdown
artifact — the plan-quality evidence the round verdicts grade on
(broadcasts, pushed filters, pruned schemas, whole-stage codegen
spans), captured at the bench scale factor.

Usage: python tools/dump_plans.py [sf_dir] [out_md] [query ...]

With no query names it dumps the bench headline queries (the round's
plan artifact). For a before/after plan diff, run the
same names on both trees, each in a fresh process, and diff the files.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openoa_spark import registry  # noqa: E402
from openoa_spark.functions import stats  # noqa: E402
from openoa_spark.session import get_session  # noqa: E402

from bench import BENCH_QUERIES  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    names = sys.argv[3:] or BENCH_QUERIES
    title = "selected queries" if sys.argv[3:] else "bench headline queries"
    spark = get_session("dump-plans")
    qs = registry.queries()
    lines = [
        f"# Physical plans — {title}",
        "",
        f"`.explain('formatted')` at `{sf_dir}` (AQE on; plans are the",
        "pre-execution shape — AQE may further coalesce/convert at runtime).",
        "Captured in `stats.fast_sums()` mode — the deploy plans bench.py",
        "times (exact decimal mode differs only in aggregate datatypes).",
        "",
    ]
    with stats.fast_sums():
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md} ({len(names)} plans)")


if __name__ == "__main__":
    main()
