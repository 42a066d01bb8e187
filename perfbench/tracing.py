"""Spans, counters and Spark status reads for the benchmark.

Everything here observes the engine from outside:

* ``Tracer`` keeps spans (pass → query → build/plan/execute, and after
  the run Spark job → stage and stream batches) in memory, and counts
  py4j calls and ``run_cache`` persists/releases by wrapping those
  public functions.  Counting happens only while ``on`` is set.
* ``StatusReader`` reads Spark's status stores (jobs, stages with task
  summaries, SQL executions and their metrics, cached RDDs) as JSON,
  one py4j call per list, after the timed region.
* ``Progress`` is a ``StreamingQueryListener``: stream queries drain
  inside the registered query function, so their batches would
  otherwise look like plan build.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1,
}
_NUMBER = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Numeric value of a formatted SQL metric ("1,234", "2.5 MiB",
    "13 ms", or "total (min, med, max ...)\\n13 ms (...)"), in bytes,
    seconds or a count."""
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = _NUMBER.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def epoch_ms(stamp: str) -> float:
    """Epoch milliseconds of a status-API date ("...T23:59:58.247GMT")."""
    parsed = dt.datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return parsed.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


class Tracer:
    """In-memory spans and counters for one run."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self.counts = {"py4j": 0, "persists": 0, "releases": 0}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.perf0 = time.perf_counter()
        self.epoch0 = time.time()

    def rel(self, perf: float) -> float:
        return round(perf - self.perf0, 6)

    def rel_epoch_ms(self, ms: float) -> float:
        return round(ms / 1000.0 - self.epoch0, 6)

    def new_id(self) -> int:
        return next(self._ids)

    def span(self, name: str, start: float, end: float, parent: int | None = None,
             qid: int | None = None, sid: int | None = None, **attrs) -> int:
        """Record a span; ``start``/``end`` are seconds since the run began.
        Spans of one query share ``qid``."""
        sid = sid or self.new_id()
        self.spans.append({"id": sid, "parent": parent, "qid": qid,
                           "name": name, "start": start, "end": end, **attrs})
        return sid

    def _count(self, key: str) -> None:
        if self.on:
            with self._lock:
                self.counts[key] += 1

    def install_py4j(self) -> None:
        """Count every command the Python side sends over py4j."""
        from py4j.java_gateway import GatewayClient

        original = GatewayClient.send_command

        def send_command(client, *args, **kwargs):
            self._count("py4j")
            return original(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def install_run_cache(self, run_cache) -> None:
        """Count ``persist_tracked``/``release_prior`` calls.  Must run
        before the operator modules import them by name."""
        persist, release = run_cache.persist_tracked, run_cache.release_prior

        def persist_tracked(df):
            self._count("persists")
            return persist(df)

        def release_prior():
            self._count("releases")
            return release()

        run_cache.persist_tracked = persist_tracked
        run_cache.release_prior = release_prior

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class Progress(StreamingQueryListener):
    """Collects every streaming progress event as a dict."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class StatusReader:
    """Spark's application and SQL status stores, read as JSON."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._jvm = jvm
        self._gateway = spark.sparkContext._gateway
        self._mapper = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def stages(self, summaries: bool = False) -> list[dict]:
        """Every stage attempt; with ``summaries`` each carries the
        median and max of its task metrics (quantiles 0.5 and 1.0)."""
        quantiles = self._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        empty = self._jvm.java.util.ArrayList
        return self._json(self._store.stageList(
            empty(), False, summaries, quantiles, empty()))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def plan_nodes(self, execution_id: int) -> list[dict]:
        """Operator nodes of an execution's plan graph, codegen
        clusters left out (their members are listed on their own)."""
        nodes = self._json(self._sql.planGraph(execution_id).allNodes())
        return [n for n in nodes if "nodes" not in n]

    def execution_metrics(self, execution_id: int) -> dict[str, str]:
        return self._json(self._sql.executionMetrics(execution_id))

    def cached_bytes(self) -> int:
        """Memory plus disk bytes held by cached RDDs right now."""
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self._json(self._store.rddList(True)))
