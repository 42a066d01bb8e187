#!/usr/bin/env python
"""Time every registered query's Spark-side execution (fn + count).

    python tools/time_all.py [--sf-dir DIR] [--reps N] [--out FILE]

Optimization-round instrument (round 12): the strict sweeps verify all
registered queries but never reported per-query wall time, so non-bench
queries had no cost profile.  One line of JSON per query to --out
(default measurements/r12/time_all.jsonl), human summary to stderr.
Timings are single-session, sequential, fn()+count() per rep with the
minimum kept — same action as bench.py, so bench queries land near
their bench numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--out", default="measurements/r12/time_all.jsonl")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    from splitserve_spark.registry import load_all
    from splitserve_spark.session import get_session
    from splitserve_spark.tables import TABLE_NAMES, Tables

    spark = get_session("time-all", master=f"local[{cpus}]",
                        shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    t = Tables(spark, args.sf_dir)
    for name in TABLE_NAMES:
        getattr(t, name).count()

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    results = []
    with open(args.out, "w") as fh:
        for i, spec in enumerate(registry.values()):
            spark.sparkContext.setJobDescription(f"time_all:{spec.name}")
            best, rows, err = None, None, None
            for _ in range(max(1, args.reps)):
                t0 = time.perf_counter()
                try:
                    rows = spec.fn(spark, args.sf_dir).count()
                except Exception as exc:  # noqa: BLE001 — record, keep going
                    err = f"{type(exc).__name__}: {exc}"[:200]
                    break
                elapsed = time.perf_counter() - t0
                best = elapsed if best is None else min(best, elapsed)
            rec = {"name": spec.name, "sec": round(best, 3) if best else None,
                   "rows": rows, "bench": bool(spec.bench), "error": err}
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            results.append(rec)
            print(f"[{i + 1}/{len(registry)}] {spec.name}: "
                  f"{rec['sec']}s ({rows} rows)", file=sys.stderr)
    ok = [r for r in results if r["sec"] is not None]
    ok.sort(key=lambda r: -r["sec"])
    print("\nTop 20 by wall time:", file=sys.stderr)
    for r in ok[:20]:
        print(f"  {r['name']:44s} {r['sec']:8.3f}s bench={r['bench']}",
              file=sys.stderr)
    print(f"total {sum(r['sec'] for r in ok):.1f}s over {len(ok)} queries",
          file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
