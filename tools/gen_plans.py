#!/usr/bin/env python
"""Regenerate PLANS.md: the physical plan + shuffle budget of every
bench-flagged query at sf0.1.  Run from the repo root:

    python tools/gen_plans.py

Committed output is evidence that each headline query keeps its
scale-critical plan shape (pushdown, broadcast choice, partial aggs,
exchange count) — re-run after any operator change.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from splitserve_spark.plans.inspect import count_exchanges, physical_plan
    from splitserve_spark.registry import load_all
    from splitserve_spark.session import get_session

    # Fixed slots as well as fixed shuffle partitions: operators that
    # size their own repartitions from defaultParallelism would
    # otherwise embed the host's CPU count in the committed plans.
    spark = get_session("plan-dump", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    out = [
        "# PLANS — physical plans of the bench query set",
        "",
        f"Generated by `python tools/gen_plans.py` at `{sf_dir}`, "
        "local[8], shuffle_partitions=8. The `simple` physical plan before "
        "execution (AQE may further coalesce/convert at runtime).",
        "",
    ]
    for spec in (s for s in registry.values() if s.bench):
        df = spec.fn(spark, sf_dir)
        plan = physical_plan(df, mode="simple").rstrip()
        plan = re.sub(r"#\d+L?", "#_", plan)  # strip expr ids for stable diffs
        out.append(f"## {spec.name}")
        out.append("")
        out.append(f"Shuffle exchanges: **{count_exchanges(df)}**")
        out.append("")
        out.append("```")
        out.append(plan)
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
