"""Drain observer: the progress events of the streaming queries a call
starts, collected through a StreamingQueryListener.

``drain_events(spark, run)`` calls ``run()`` with a listener attached
and returns its result plus the progress events (as dicts) of every
query started during the call, once one of them has terminated.
``state_peak(events)`` reduces those events to the peak state-store
row count — the number the state-tracks-keys checks compare against
the key count.
"""

from __future__ import annotations

import json
import threading
from typing import Callable, TypeVar

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

T = TypeVar("T")


class _Drain(StreamingQueryListener):
    """Progress events of the queries started while registered.  Events
    of queries started earlier are ignored, so a late event from a
    previous drain cannot leak in."""

    def __init__(self) -> None:
        self.runs: set[str] = set()
        self.events: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        self.runs.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        if str(event.progress.runId) in self.runs:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if str(event.runId) in self.runs:
            self.terminated.set()


def drain_events(
    spark: SparkSession, run: Callable[[], T]
) -> tuple[T, list[dict]]:
    """Call ``run()`` — which must start a streaming query and return
    after it terminates — and return ``(run's result, progress
    events)``."""
    listener = _Drain()
    spark.streams.addListener(listener)
    try:
        result = run()
        # The listener bus is asynchronous but ordered: once the
        # termination arrives, every progress event has too.
        if not listener.terminated.wait(60):
            raise TimeoutError("no termination event within 60 s")
    finally:
        spark.streams.removeListener(listener)
    return result, listener.events


def state_peak(events: list[dict]) -> int:
    """Peak over micro-batches of the summed state-store rows
    (``stateOperators[*].numRowsTotal``); 0 for a stateless drain."""
    return max(
        (sum(op["numRowsTotal"] for op in e.get("stateOperators", []))
         for e in events),
        default=0,
    )
