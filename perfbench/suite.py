"""Run every workload of BENCHMARK.json, untraced then traced, and print
each metric by name with its unit.

    python3 perfbench/suite.py            # sf0.1, --seconds from BENCHMARK.json
    python3 perfbench/suite.py --smoke    # sf0.001, shortest runs

Every run's printed metric names and units are checked against
BENCHMARK.json (end-to-end ones untraced, per-layer ones traced), and
every run must pass the correctness gate.  The tracing overhead of each
workload is ``trace.overhead_s``: the traced pass time minus the
untraced one, both measured in the traced run.  Exits 1 on any
mismatch or wrong answer.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def expected(spec: dict, trace: int) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(workload: str, trace: int, seconds: float, sf: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", str(seconds), "--trace", str(trace),
           "--sf", str(sf)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} trace={trace} exited {out.returncode}:\n"
                           f"{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 and the shortest runs: checks names and units")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sf, seconds = (0.001, 1) if args.smoke else (0.1, spec["run_seconds"])
    problems = []
    from workloads import WORKLOADS

    if sorted(WORKLOADS) != sorted(w["name"] for w in spec["workloads"]):
        problems.append("workloads differ between BENCHMARK.json and workloads.py")
    for w in spec["workloads"]:
        for trace in (0, 1):
            res = run(w["name"], trace, seconds, sf)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected(spec, trace):
                problems.append(f"{w['name']} trace={trace}: metrics {got} "
                                f"!= BENCHMARK.json {expected(spec, trace)}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w['name']} trace={trace}: {res['failed']} of "
                                f"{res['attempted']} executions failed")
            print(f"== {w['name']} trace={trace} sf={sf} "
                  f"failed_frac={res['failed'] / res['attempted']:.4f}")
            for k, v in res["metrics"].items():
                print(f"   {k:24s} {v['value']:>16.6g} {v['unit']}")
    for p in problems:
        print("MISMATCH " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
