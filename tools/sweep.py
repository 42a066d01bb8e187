#!/usr/bin/env python
"""Sweep registered queries: oracle check, per-phase timing, or PLANS.md.

    python tools/sweep.py check [--strict] [--shuffle-partitions N] [name ...]
    python tools/sweep.py time [--reps N] [name ...]
    python tools/sweep.py plans --bench --out PLANS.md

Query names given as arguments pick the queries; otherwise --bench
picks the bench set, and with neither every registered query runs.
--sf-dir defaults to $SPARK_GRAFT_SF_DIR, else sf0.1.  Records go to
stdout unless --out names a file, so a bare run overwrites no evidence.

- check: each query against its DuckDB oracle (tests/oracle_utils),
  starting from FOREIGN_CONF (ANSI on, a non-UTC zone, Arrow off) as
  on a stock session the driver hands over; the registry's parity
  wrapper must restore session.PARITY_CONF, and the check fails if it
  is not in force when the query is done.
  --strict models the driver's exact value hash; a strict pass at
  sf0.001 AND sf0.01 AND sf0.1 is SUFFICIENT (not necessary — the
  driver tolerates last-ULP float drift strict flags) evidence for a
  driver hash_match.  Some divergences only appear at particular SFs
  (empty-array NULL at small SF, Q21 duplicates at sf0.1), so run all
  three after touching any operator.
- time: the best of --reps (by total) of build_s (the fn call), plan_s
  (analysis through physical planning) and exec_s (count(), bench.py's
  action), after every table is warmed, and the Spark jobs that rep
  ran (build, planning and count(), counted by job group); plus rows,
  the shuffle exchanges and executed scans counted as PLANS.md and the
  repeat-scan guard count them, and the bench flag.
- plans: PLANS.md, each query's `simple` physical plan (expression
  ids, plan ids and lambda variable numbers masked for stable diffs:
  each comes from a process-wide counter, so one changed plan would
  renumber every later section) under its shuffle-exchange count.

Exits 2, before any session starts, on an unknown query name or a
--sf-dir that is not a directory; 1 if any query fails; else 0.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from splitserve_spark.plans.inspect import (  # noqa: E402
    count_exchanges,
    count_executed_scans,
    physical_plan,
)
from splitserve_spark.registry import load_all  # noqa: E402
from splitserve_spark.session import PARITY_CONF, get_session  # noqa: E402
from splitserve_spark.tables import (  # noqa: E402
    DEFAULT_SF_DIR,
    TABLE_NAMES,
    Tables,
)

PLANS_HEADER = (
    "# PLANS — physical plans of the bench query set\n\n"
    "Generated by `python tools/sweep.py plans --bench --out PLANS.md` "
    "at `{sf_dir}`, local[{slots}], shuffle_partitions={parts}. The "
    "`simple` physical plan before execution (AQE may further "
    "coalesce/convert at runtime).\n"
)


def session(mode: str, shuffle_partitions: int | None = None):
    """The session `mode` sweeps in.

    - check: 16 shuffle partitions, the committed oracle evidence's
      setting.  Another value reruns the oracle suite under a different
      partitioning: a strict pass at several (e.g. 5, 16, 64) shows the
      answers do not depend on cluster size.
    - time: shuffle partitions = CPUs, bench.py's session.
    - plans: 8 slots as well as 8 shuffle partitions — operators that
      size their own repartitions from defaultParallelism would
      otherwise embed the host's CPU count in the committed plans.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master, parts = {
        "check": (f"local[{cpus}]", 16),
        "time": (f"local[{cpus}]", cpus),
        "plans": ("local[8]", 8),
    }[mode]
    spark = get_session(f"sweep-{mode}", master=master,
                        shuffle_partitions=shuffle_partitions or parts)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: What a session the driver hands over may carry: Spark 4's ANSI and
#: Arrow defaults and a non-UTC zone.  Every check starts from them, so
#: a query passes only if the registry's parity wrapper restores
#: PARITY_CONF.
FOREIGN_CONF = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "America/Los_Angeles",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
}


def _check(spark, spec, sf_dir, strict, reps) -> dict:
    from tests.oracle_utils import check_query

    for key, value in FOREIGN_CONF.items():
        spark.conf.set(key, value)
    check_query(spark, spec.name, sf_dir, strict=strict)
    conf = {key: spark.conf.get(key, None) for key in PARITY_CONF}
    if conf != PARITY_CONF:
        raise RuntimeError(f"parity confs not in force afterwards: {conf}")
    return {}


#: Job groups outlive a sweep in the status store: each rep gets its own.
_JOB_GROUPS = itertools.count()


def _jobs_run(spark, group: str) -> int:
    """Spark jobs started under job `group` so far.  The status store is
    fed by the listener bus, so wait for the bus to drain first."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _time(spark, spec, sf_dir, strict, reps) -> dict:
    sc = spark.sparkContext
    best = None
    try:
        for _ in range(max(1, reps)):
            # Thread-local: set in the thread that runs the rep's jobs.
            group = f"sweep-time:{spec.name}:{next(_JOB_GROUPS)}"
            sc.setJobGroup(group, f"sweep:{spec.name}")
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()  # forces physical planning
            t2 = time.perf_counter()
            rows = df.count()
            t3 = time.perf_counter()
            if best is None or t3 - t0 < sum(best[:3]):
                best = (t1 - t0, t2 - t1, t3 - t2, _jobs_run(spark, group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {
        "build_s": round(best[0], 3),
        "plan_s": round(best[1], 3),
        "exec_s": round(best[2], 3),
        "jobs": best[3],
        "rows": rows,
        "exchanges": count_exchanges(df),
        "scans": count_executed_scans(physical_plan(df, mode="simple")),
        "bench": spec.bench,
    }


def _plans(spark, spec, sf_dir, strict, reps) -> dict:
    df = spec.fn(spark, sf_dir)
    plan = physical_plan(df, mode="simple").rstrip()
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=_]", plan)
    plan = re.sub(r"lambda ([xyz])_\d+", r"lambda \1_n", plan)
    return {"exchanges": count_exchanges(df),
            "plan": re.sub(r"#\d+L?", "#_", plan)}


def _plans_section(rec: dict) -> str:
    body = (f"Error: `{rec['error']}`" if rec["error"] is not None else
            f"Shuffle exchanges: **{rec['exchanges']}**\n\n"
            f"```\n{rec['plan']}\n```")
    return f"\n## {rec['name']}\n\n{body}\n"


STEPS = {"check": _check, "time": _time, "plans": _plans}


def run(spark, specs, mode: str, sf_dir: str, out=None,
        strict: bool = False, reps: int = 1) -> list[dict]:
    """Run `mode` over `specs` on `spark` and return one record per query.

    Each record is written to `out` (default stdout) as soon as its
    query finishes: a JSON line, or in plans mode a PLANS.md section
    after the header.  A failing query gets an `error` string and the
    sweep goes on; `error` is None on success."""
    out = out or sys.stdout
    sc = spark.sparkContext
    if mode == "time":
        tables = Tables(spark, sf_dir)
        for name in TABLE_NAMES:
            getattr(tables, name).count()
    if mode == "plans":
        out.write(PLANS_HEADER.format(
            sf_dir=sf_dir, slots=sc.defaultParallelism,
            parts=spark.conf.get("spark.sql.shuffle.partitions")))
    records = []
    for spec in specs:
        sc.setJobDescription(f"sweep:{spec.name}")
        try:
            rec = {"name": spec.name,
                   **STEPS[mode](spark, spec, sf_dir, strict, reps),
                   "error": None}
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            rec = {"name": spec.name,
                   "error": f"{type(ex).__name__}: {ex}"[:300]}
            print(f"FAIL {spec.name}: {rec['error']}", file=sys.stderr)
        out.write(_plans_section(rec) if mode == "plans"
                  else json.dumps(rec) + "\n")
        out.flush()
        records.append(rec)
    sc.setJobDescription(None)
    return records


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=sorted(STEPS))
    ap.add_argument("names", nargs="*", help="default: --bench set, else all")
    ap.add_argument("--bench", action="store_true", help="the bench set")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--strict", action="store_true", help="check: exact hash")
    ap.add_argument("--shuffle-partitions", type=int,
                    help="override the mode's shuffle partitions")
    ap.add_argument("--reps", type=int, default=1, help="time: best of N")
    ap.add_argument("--out", help="write the records here, not to stdout")
    args = ap.parse_intermixed_args(argv)

    if not os.path.isdir(args.sf_dir):
        print(f"error: --sf-dir {args.sf_dir!r} is not a directory",
              file=sys.stderr)
        return 2
    registry = load_all()
    unknown = sorted(set(args.names) - set(registry))
    if unknown:
        print(f"error: unknown query names: {unknown}", file=sys.stderr)
        return 2
    specs = [s for s in registry.values()
             if (s.name in args.names if args.names
                 else s.bench or not args.bench)]

    spark = session(args.mode, args.shuffle_partitions)
    try:
        with (open(args.out, "w") if args.out
              else contextlib.nullcontext(sys.stdout)) as out:
            records = run(spark, specs, args.mode, args.sf_dir, out,
                          strict=args.strict, reps=args.reps)
    finally:
        spark.stop()
    failed = [r["name"] for r in records if r["error"] is not None]
    label = args.mode + (", strict" if args.strict else "")
    print(f"{len(records) - len(failed)}/{len(records)} queries pass "
          f"({label}) at {args.sf_dir}"
          + (f"; FAILED: {failed}" if failed else ""), file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
