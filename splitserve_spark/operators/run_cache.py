"""Bounded per-run persist tracker for multi-consumer intermediates.

Iterative operators (PageRank's edge table) and multi-branch plans
(the LSH collapse's membership table, BM25's tokenized corpus) build
an intermediate that several branches of one returned plan consume.
Catalyst re-derives an unpersisted intermediate once per branch — for
corpus-scale inputs that multiplies the scan + hot-loop cost by the
branch count — so these operators persist it (Spark's default
MEMORY_AND_DISK: spills, never OOMs).

The returned DataFrame's lineage still references the persisted data,
so it cannot be unpersisted at return time.  The contract is
*bounded to one run*: every tracked operator calls release_prior() on
entry, freeing whatever the PREVIOUS tracked invocation cached.
Consumers must therefore materialize an operator's result before
invoking the next tracked operator (every harness here — driver,
bench, tools/sweep.py, tests — collects eagerly); a released result is
never wrong, it just recomputes.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

_PERSISTED: list = []


def persist_tracked(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df)
    return df.persist()


def release_prior() -> None:
    """Release every intermediate the PREVIOUS tracked operator cached.

    The release is global across operator modules, so a caller that
    lazily builds several tracked DataFrames before collecting loses
    the earlier ones' caches silently (correct-by-recompute) — the
    debug line below is the observability hook for that case."""
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            _log.debug("run_cache: released persisted intermediate %s",
                       df._plan_id if hasattr(df, "_plan_id") else object.__repr__(df))
        except Exception as exc:  # noqa: BLE001
            # Broad by necessity: a dead SparkContext surfaces as
            # Py4J/network errors, not PySparkException, and release
            # must never break the NEXT operator's entry — but the
            # failure is logged, not swallowed invisibly.
            _log.debug("run_cache: unpersist failed (%s: %s)",
                       type(exc).__name__, exc)
