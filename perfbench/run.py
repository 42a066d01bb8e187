"""Benchmark of the splitserve_spark engine: one workload, one run.

    python3 perfbench/run.py --workload tpc_sql --seed 1 \\
        --seconds 10 --trace 0

One process drives the engine from outside, through its public
functions (``registry.load_all``, ``QuerySpec.fn``, ``session.get_session``,
``tables.Tables``, ``operators.run_cache``) and Spark's status APIs, on
``local[<cpus>]`` with shuffle partitions equal to the CPU count.

A run:

1. writes the seeded input tables (``datagen``) — timed on its own line
   and excluded from every metric;
2. sets up from cold: imports the engine and loads its registry,
   launches the JVM and builds the session, and opens the workload's
   tables.  ``setup_s`` is the time this took;
3. runs one untimed warm pass (code generation, JIT, Python worker
   start), then timed passes for ``--seconds`` (at least
   ``MIN_PASSES``): a closed loop with one client, every query after
   the previous one has returned all its rows (``collect()``), in a
   seeded order per pass;
4. checks every timed result against the query's DuckDB oracle,
   outside the timed region.

With ``--trace 0`` the last line holds the end-to-end metrics; with
``--trace 1`` untraced and traced passes alternate, the last line holds
the per-layer metrics of the traced passes plus the tracing overhead,
and the spans are written to ``.perfbench/trace-<workload>-seed<n>.json``.
Every run is tagged with CPU count and scale factor and carries a
host-contention record on a ``# run`` line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import host  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_PASSES = 4
TAIL_QUANTILE = 0.9
#: Full collections before the live heap is read; fewer than four left
#: broadcasts in it that the context cleaner had not yet dropped.
LIVE_HEAP_GCS = 5
#: Status stores must keep every job, stage and SQL execution of a run,
#: since they are read once, after the timed region.
SPARK_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}
_NODE = re.compile(r"^[\s:|+\-*]*(?:\(\d+\)\s*)?(\w+)")


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile ``q`` of ``values``."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "ratio" if name.endswith("skew") else "count"


def _plan_counts(plan_text: str) -> tuple[int, int]:
    """(exchanges, scans) in a physical plan's tree string."""
    exchanges = scans = 0
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        exchanges += node.endswith("Exchange")
        scans += node.endswith("Scan")
    return exchanges, scans


def _in(window: tuple[float, float], ms: float) -> bool:
    return window[0] <= ms <= window[1]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of millisecond intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def _prepare_env(tmp: str) -> None:
    """Keep every file Spark, its Python workers and the engine write
    inside the checkout, and make collected timestamps UTC."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {**SPARK_CONF, "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Bench:
    def __init__(self, workload, data_dir: str, seed: int, seconds: float,
                 trace: bool) -> None:
        self.workload = workload
        self.data_dir = data_dir
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.progress = None

    # -- set-up ------------------------------------------------------------
    def setup(self) -> dict:
        """Import the engine and load its registry, launch the JVM and
        build the session, then open the workload's tables; the seconds
        each step took.  A traced run wraps ``run_cache`` before the
        operator modules import its functions by name."""
        t0 = time.perf_counter()
        from splitserve_spark.operators import run_cache

        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install_py4j()
            self.tracer.install_run_cache(run_cache)
        from splitserve_spark.registry import load_all
        from splitserve_spark.session import get_session
        from splitserve_spark.tables import Tables

        self.registry = load_all()
        t1 = time.perf_counter()
        self.spark = get_session("perfbench", master=f"local[{self.cpus}]",
                                 shuffle_partitions=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        tables = Tables(self.spark, self.data_dir)
        for name in self.workload.tables:
            getattr(tables, name)
        t3 = time.perf_counter()
        self.specs = {n: self.registry[n] for n in self.workload.queries}
        from tracing import Progress, StatusReader

        self.status = StatusReader(self.spark)
        if self.tracer:
            self.progress = Progress()
            self.spark.streams.addListener(self.progress)
        return {"registry_s": t1 - t0, "session_s": t2 - t1, "tables_s": t3 - t2}

    # -- timed loop ----------------------------------------------------------
    def _query(self, name: str, traced: bool) -> tuple[dict, tuple | None]:
        spec, tr = self.specs[name], self.tracer if traced else None
        rec = {"name": name}
        result = None
        e0 = time.time() * 1000.0
        t0 = time.perf_counter()
        if tr:
            c0 = dict(tr.counts)
            tr.on = True
        try:
            df = spec.fn(self.spark, self.data_dir)
            t1 = t2 = time.perf_counter()
            if tr:
                py4j_build = tr.counts["py4j"] - c0["py4j"]
                plan = df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
        except Exception as ex:  # a failing query is recorded; the loop goes on
            t1 = t2 = t3 = time.perf_counter()
            rec["error"] = f"{type(ex).__name__}: {ex}".splitlines()[0][:300]
        finally:
            if tr:
                tr.on = False
        if "error" not in rec:
            result = (list(df.columns), rows)
        rec.update(window=(e0, time.time() * 1000.0), latency=t3 - t0,
                   t0=t0, t1=t1, t2=t2, t3=t3)
        if tr and "error" not in rec:
            rec["exchanges"], rec["scans"] = _plan_counts(plan.toString())
            rec.update(
                py4j_build=py4j_build,
                py4j=tr.counts["py4j"] - c0["py4j"],
                persists=tr.counts["persists"] - c0["persists"],
                releases=tr.counts["releases"] - c0["releases"],
                cached_bytes=self.status.cached_bytes(),
            )
        return rec, result

    def run_pass(self, index: int, traced: bool) -> dict:
        order = self.rng.sample(self.workload.queries, len(self.workload.queries))
        e0 = time.time() * 1000.0
        t0 = time.perf_counter()
        records, results = [], []
        for name in order:
            rec, result = self._query(name, traced)
            records.append(rec)
            results.append(result)
        t1 = time.perf_counter()
        return {"index": index, "traced": traced, "wall_s": t1 - t0,
                "t0": t0, "t1": t1, "window": (e0, time.time() * 1000.0),
                "queries": records, "results": results}

    def measure(self) -> list[dict]:
        """Timed passes until ``seconds`` have passed, at least
        MIN_PASSES.  A traced run adds one untraced pass first, then
        alternates untraced and traced passes in ABBA order, so that the
        warm-up drift left after that pass cancels out of the overhead."""
        passes = []
        least = MIN_PASSES + 1 if self.tracer else MIN_PASSES
        deadline = time.perf_counter() + self.seconds
        while len(passes) < least or time.perf_counter() < deadline:
            traced = self.tracer is not None and len(passes) % 4 in (2, 3)
            passes.append(self.run_pass(len(passes) + 1, traced))
        return passes

    # -- after the timed region --------------------------------------------
    def engine_pids(self) -> list[int]:
        return host.descendants(os.getpid())

    def jvm_memory_mb(self) -> dict:
        """The JVM's memory in MB: peak use of its memory pools since it
        started, summed into the young generation, the old generation
        and non-heap; the direct and mapped buffers it holds; and its
        live heap, the heap in use after full collections.  Spark's
        context cleaner frees broadcasts and shuffle state only after a
        collection has dropped their owners, so collections are repeated
        with a pause for it."""
        jvm = self.spark._jvm
        factory = jvm.java.lang.management.ManagementFactory
        out = {"young": 0.0, "old": 0.0, "non_heap": 0.0}
        for pool in factory.getMemoryPoolMXBeans():
            if pool.getType().name() != "HEAP":
                kind = "non_heap"
            elif "Old" in pool.getName() or "Tenured" in pool.getName():
                kind = "old"
            else:
                kind = "young"
            out[kind] += pool.getPeakUsage().getUsed() / 2**20
        buffers = jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")
        out["buffers"] = sum(b.getMemoryUsed()
                             for b in factory.getPlatformMXBeans(buffers)) / 2**20
        memory = factory.getMemoryMXBean()
        for _ in range(LIVE_HEAP_GCS):
            memory.gc()
            time.sleep(0.4)
        out["live_heap"] = memory.getHeapMemoryUsage().getUsed() / 2**20
        return out

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its workers have ended."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while self.engine_pids() and time.time() < deadline:
            time.sleep(0.2)
        for pid in self.engine_pids():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def exec_cpu_per_pass(stages: list[dict], passes: list[dict]) -> list[float]:
    """Executor CPU seconds of the stages submitted within each pass."""
    from tracing import epoch_ms

    out = []
    for p in passes:
        out.append(sum(s.get("executorCpuTime", 0) for s in stages
                       if "submissionTime" in s
                       and _in(p["window"], epoch_ms(s["submissionTime"]))) / 1e9)
    return out


def layer_metrics(bench: Bench, p: dict, stages: list[dict], jobs: list[dict],
                  executions: list[dict]) -> dict:
    """Per-layer metrics of one traced pass."""
    from tracing import epoch_ms, metric_value

    qs = [q for q in p["queries"] if "error" not in q]
    w = p["window"]
    st = [s for s in stages
          if "submissionTime" in s and _in(w, epoch_ms(s["submissionTime"]))]
    jb = [j for j in jobs
          if "submissionTime" in j and _in(w, epoch_ms(j["submissionTime"]))]
    run_s = sum(s.get("executorRunTime", 0) for s in st) / 1000.0
    job_wall = _union_s([(epoch_ms(j["submissionTime"]),
                          epoch_ms(j.get("completionTime", j["submissionTime"])))
                         for j in jb])
    skew = 1.0
    for s in st:
        dist = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
        if s.get("numTasks", 0) >= 2 and dist and dist[0] > 0:
            skew = max(skew, dist[1] / dist[0])
    scan_time = py_sent = py_recv = py_rows = 0.0
    for ex in executions:
        if not _in(w, ex.get("submissionTime", 0)):
            continue
        values = bench.status.execution_metrics(ex["executionId"])
        for node in bench.status.plan_nodes(ex["executionId"]):
            named = {m["name"]: values.get(str(m["accumulatorId"]))
                     for m in node.get("metrics", [])}
            named = {k: metric_value(v) for k, v in named.items() if v}
            scan_time += named.get("scan time", 0.0)
            if "data sent to Python workers" in named:
                py_sent += named["data sent to Python workers"]
                py_recv += named.get("data returned from Python workers", 0.0)
                py_rows += named.get("number of output rows", 0.0)
    ev = [e for e in bench.progress.events
          if _in(w, epoch_ms(e["timestamp"]))]
    last_state: dict[str, list] = {}
    for e in ev:
        last_state[e["runId"]] = e.get("stateOperators", [])

    def dur(key: str) -> float:
        return sum(e["durationMs"].get(key, 0) for e in ev) / 1000.0

    def ssum(key: str) -> float:
        return float(sum(s.get(key, 0) for e in ev for s in e.get("stateOperators", [])))

    return {
        "operators.build_s": sum(q["t1"] - q["t0"] for q in qs),
        "operators.py4j_calls": sum(q["py4j_build"] for q in qs),
        "catalyst.plan_s": sum(q["t2"] - q["t1"] for q in qs),
        "plan.exchanges": sum(q["exchanges"] for q in qs),
        "plan.scans": sum(q["scans"] for q in qs),
        "exec.wall_s": job_wall,
        "exec.jobs": len(jb),
        "exec.stages": len(st),
        "exec.tasks": sum(s.get("numCompleteTasks", 0) for s in st),
        "exec.run_s": run_s,
        "exec.cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
        "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1000.0,
        "exec.task_skew": skew,
        "exec.driver_s": job_wall - run_s / bench.cpus,
        "shuffle.write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
        "shuffle.read_bytes": sum(s.get("shuffleReadBytes", 0) for s in st),
        "shuffle.write_s": sum(s.get("shuffleWriteTime", 0) for s in st) / 1e9,
        "spill.disk_bytes": sum(s.get("diskBytesSpilled", 0) for s in st),
        "spill.memory_bytes": sum(s.get("memoryBytesSpilled", 0) for s in st),
        "scan.input_bytes": sum(s.get("inputBytes", 0) for s in st),
        "scan.input_rows": sum(s.get("inputRecords", 0) for s in st),
        "scan.time_s": scan_time,
        "python.bytes_sent": py_sent,
        "python.bytes_received": py_recv,
        "python.rows_returned": py_rows,
        "run_cache.persists": sum(q["persists"] for q in qs),
        "run_cache.releases": sum(q["releases"] for q in qs),
        "run_cache.stored_bytes": max((q["cached_bytes"] for q in qs), default=0),
        "stream.batches": len(ev),
        "stream.input_rows": sum(e.get("numInputRows", 0) for e in ev),
        "stream.trigger_s": dur("triggerExecution"),
        "stream.add_batch_s": dur("addBatch"),
        "stream.planning_s": dur("queryPlanning"),
        "stream.commit_s": dur("walCommit") + dur("commitOffsets"),
        "stream.state_commit_s": ssum("commitTimeMs") / 1000.0,
        "stream.state_rows": sum(s.get("numRowsTotal", 0)
                                 for ops in last_state.values() for s in ops),
        "stream.state_bytes": sum(s.get("memoryUsedBytes", 0)
                                  for ops in last_state.values() for s in ops),
    }


def record_spans(bench: Bench, passes: list[dict], stages: list[dict],
                 jobs: list[dict]) -> None:
    """Spans of the traced passes: pass → query → build/plan/execute →
    job → stage, plus stream batches under the query they ran in."""
    from tracing import epoch_ms

    tr = bench.tracer
    by_stage = {(s["stageId"], s["attemptId"]): s for s in stages}
    for p in passes:
        if not p["traced"]:
            continue
        pid = tr.span("pass", tr.rel(p["t0"]), tr.rel(p["t1"]), index=p["index"])
        for q in p["queries"]:
            qid = qspan = tr.new_id()
            counts = {k: q[k] for k in ("py4j_build", "py4j", "persists", "releases",
                                        "exchanges", "scans") if k in q}
            tr.span("query", tr.rel(q["t0"]), tr.rel(q["t3"]), pid, qid,
                    sid=qspan, query=q["name"], error=q.get("error"), **counts)
            for phase, a, b in (("build", "t0", "t1"), ("plan", "t1", "t2"),
                                ("execute", "t2", "t3")):
                tr.span(phase, tr.rel(q[a]), tr.rel(q[b]), qspan, qid)
            for j in jobs:
                sub = epoch_ms(j["submissionTime"]) if "submissionTime" in j else None
                if sub is None or not _in(q["window"], sub):
                    continue
                end = epoch_ms(j.get("completionTime", j["submissionTime"]))
                jspan = tr.span("job", tr.rel_epoch_ms(sub), tr.rel_epoch_ms(end),
                                qspan, qid, job_id=j["jobId"])
                for sid in j.get("stageIds", []):
                    s = by_stage.get((sid, 0))
                    if s and "submissionTime" in s:
                        tr.span("stage", tr.rel_epoch_ms(epoch_ms(s["submissionTime"])),
                                tr.rel_epoch_ms(epoch_ms(s.get("completionTime",
                                                               s["submissionTime"]))),
                                jspan, qid, stage_id=sid, tasks=s.get("numTasks"))
            for e in bench.progress.events:
                start = epoch_ms(e["timestamp"])
                if _in(q["window"], start):
                    end = start + e["durationMs"].get("triggerExecution", 0)
                    tr.span("stream_batch", tr.rel_epoch_ms(start),
                            tr.rel_epoch_ms(end), qspan, qid,
                            batch_id=e["batchId"], rows=e.get("numInputRows"))


def judge(passes: list[dict], data_dir: str,
          specs: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, reasons) over every timed query execution."""
    # Imported here: it imports the engine, whose import set-up times.
    import check

    answers = check.oracle_answers(data_dir, specs)
    attempted = failed = 0
    reasons = []
    for p in passes:
        for rec, result in zip(p["queries"], p["results"]):
            attempted += 1
            why = rec.get("error")
            if why is None:
                why = check.mismatch(rec["name"], answers[rec["name"]], *result)
            if why is not None:
                failed += 1
                reasons.append(f"pass {p['index']} {rec['name']}: {why}")
    return attempted, failed, reasons


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--sf", default="0.1",
                    choices=[d.removeprefix("sf") for d in datagen.scale_factors()],
                    help="scale factor of the input tables")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "splitserve_spark", "__init__.py")):
        print(f"perfbench: no splitserve_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workload = WORKLOADS[args.workload]

    data_root = os.path.join(WORK, "data")
    data_dir = os.path.join(data_root, f"sf{args.sf}-seed{args.seed}")
    os.makedirs(data_root, exist_ok=True)
    for old in os.listdir(data_root):  # keep only this seed's tables
        if os.path.join(data_root, old) != data_dir:
            shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
    t = time.perf_counter()
    datagen.write(data_dir, f"sf{args.sf}", args.seed)
    print(f"# datagen_s {time.perf_counter() - t:.3f} (excluded from every metric)",
          flush=True)

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    _prepare_env(tmp)
    contention = host.Contention()
    contention.start()
    bench = Bench(workload, data_dir, args.seed, args.seconds, bool(args.trace))
    clock = [("start", time.perf_counter())]
    try:
        setup = bench.setup()
        clock.append(("setup", time.perf_counter()))
        warm = bench.run_pass(0, traced=False)
        clock.append(("warm", time.perf_counter()))
        passes = bench.measure()
        clock.append(("measure", time.perf_counter()))
        pids = bench.engine_pids()
        jvm_rss = host.peak_rss_mb([p for p in pids if host.command(p) == "java"])
        workers_rss = host.peak_rss_mb([p for p in pids if host.command(p) != "java"])
        stages = bench.status.stages(summaries=bench.tracer is not None)
        cpu = exec_cpu_per_pass(stages, passes)
        traced = [p for p in passes if p["traced"]]
        if traced:
            jobs, executions = bench.status.jobs(), bench.status.executions()
            layers = [layer_metrics(bench, p, stages, jobs, executions)
                      for p in traced]
            record_spans(bench, passes, stages, jobs)
        jvm_mb = bench.jvm_memory_mb()
        clock.append(("status", time.perf_counter()))
    finally:
        bench.close()
        shutil.rmtree(tmp, ignore_errors=True)
    clock.append(("close", time.perf_counter()))
    host_record = contention.stop()

    attempted, failed, reasons = judge(passes, data_dir, bench.specs)
    clock.append(("check", time.perf_counter()))

    plain = [p for p in passes if not p["traced"]]
    latencies = sorted(q["latency"] for p in plain for q in p["queries"]
                       if "error" not in q)
    end_to_end = {
        "pass_s": (_median([p["wall_s"] for p in plain]), "s"),
        "query_p50_s": (_median(latencies), "s"),
        "query_tail_s": (_quantile(latencies, TAIL_QUANTILE), "s"),
        "exec_cpu_s": (_median([c for c, p in zip(cpu, passes)
                                if not p["traced"]]), "s"),
        "mem_mb": (jvm_mb["live_heap"] + jvm_mb["non_heap"] + jvm_mb["buffers"]
                   + workers_rss, "MB"),
        "setup_s": (sum(setup.values()), "s"),
    }
    per_layer = {}
    if traced:
        per_layer = {k: (_median([m[k] for m in layers]), _layer_unit(k))
                     for k in layers[0]}
        per_layer["jvm.heap_peak_mb"] = (jvm_mb["young"] + jvm_mb["old"], "MB")
        per_layer["registry.load_s"] = (setup["registry_s"], "s")
        per_layer["session.start_s"] = (setup["session_s"], "s")
        per_layer["tables.warm_s"] = (setup["tables_s"], "s")
        per_layer["warm_pass_s"] = (warm["wall_s"], "s")
        per_layer["trace.pass_s"] = (_median([p["wall_s"] for p in traced]), "s")
        per_layer["trace.overhead_s"] = (per_layer["trace.pass_s"][0] - _median(
            [p["wall_s"] for p in plain[1:]]), "s")
        bench.tracer.write(
            os.path.join(WORK, f"trace-{workload.name}-seed{args.seed}.json"),
            {"counts": bench.tracer.counts})

    info = {
        "workload": workload.name, "seed": args.seed, "sf": float(args.sf),
        "cpus": bench.cpus, "trace": args.trace,
        "passes_s": [round(p["wall_s"], 4) for p in passes],
        "pass_queries_s": [{q["name"]: round(q["latency"], 3) for q in p["queries"]}
                           for p in [warm, *passes]],
        "traced": [p["traced"] for p in passes],
        "latency_samples": len(latencies), "tail_quantile": TAIL_QUANTILE,
        "warm_pass_s": round(warm["wall_s"], 4),
        "setup": {k: round(v, 4) for k, v in setup.items()},
        "query_median_s": {
            n: round(_median([q["latency"] for p in plain for q in p["queries"]
                              if q["name"] == n and "error" not in q]), 4)
            for n in workload.queries},
        "failed_frac": failed / attempted if attempted else 0.0,
        "failures": reasons[:20],
        "host": host_record,
        "peak_rss_mb": {"jvm": round(jvm_rss, 1), "python_workers": round(workers_rss, 1)},
        "jvm_mb": {k: round(v, 1) for k, v in jvm_mb.items()},
        "phase_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(clock, clock[1:])},
    }
    print("# run " + json.dumps(info), flush=True)
    chosen = per_layer if args.trace else end_to_end
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
