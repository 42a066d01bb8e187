#!/usr/bin/env python
"""Per-query phase profiler for the bench set (optimization round).

For every bench-flagged query, times three phases separately:
  build    — Python-side DataFrame construction (fn call)
  optimize — analysis + logical optimization + physical planning
             (triggered via queryExecution.executedPlan access)
  execute  — the timed action (count), same as bench.py

Also records exchange count and scan count from the simple plan so a
plan-shape diff can be read next to the timings.  Prints one JSON line
per query to stdout; human-readable summary to stderr.

Usage: python tools/profile_bench.py [--only name1,name2] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--action", choices=("count", "noop"), default="count")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    from splitserve_spark.registry import load_all
    from splitserve_spark.session import get_session
    from splitserve_spark.tables import TABLE_NAMES, Tables

    spark = get_session("profile-bench", master=f"local[{cpus}]",
                        shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    specs = [s for s in registry.values() if s.bench]
    if args.only:
        names = set(args.only.split(","))
        specs = [s for s in specs if s.name in names]

    t = Tables(spark, sf_dir)
    for name in TABLE_NAMES:
        getattr(t, name).count()

    for spec in specs:
        spark.sparkContext.setJobDescription(f"profile:{spec.name}")
        rows = []
        for _ in range(max(1, args.reps)):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            # Force full analysis/optimization/physical planning.
            plan = df._jdf.queryExecution().executedPlan().toString()
            t2 = time.perf_counter()
            if args.action == "noop":
                df.write.format("noop").mode("overwrite").save()
                n = -1
            else:
                n = df.count()
            t3 = time.perf_counter()
            rows.append((t1 - t0, t2 - t1, t3 - t2))
        best = min(rows, key=lambda r: sum(r))
        simple = df._jdf.queryExecution().simpleString()
        n_exch = len(re.findall(r"Exchange", simple))
        n_scan = len(re.findall(r"FileScan|Scan parquet", simple))
        rec = {
            "name": spec.name,
            "build_s": round(best[0], 3),
            "optimize_s": round(best[1], 3),
            "execute_s": round(best[2], 3),
            "total_s": round(sum(best), 3),
            "rows": n,
            "exchanges": n_exch,
            "scans": n_scan,
        }
        print(json.dumps(rec))
        print(
            f"# {spec.name}: build={best[0]:.3f} opt={best[1]:.3f} "
            f"exec={best[2]:.3f} total={sum(best):.3f} "
            f"exch={n_exch} scans={n_scan} rows={n}",
            file=sys.stderr,
        )
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
