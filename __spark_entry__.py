"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query (TPC-H Q1 style) on sf0.001.
queries()      — every registered operator query from SURVEY.md §2 plus
                 the beyond-parity pipeline operators (356 entries:
                 TPC-H Q1-Q22, the paper's TPC-DS Q5/Q16/Q94/Q95 shapes,
                 joins/aggregates/windows/setops/subqueries, scalar
                 functions, UDF surface, stats, DDL, RDD ops, streaming,
                 dedup/similarity/text/multimodal, graph/ML workloads).
oracle_sql()   — matching DuckDB SQL per query (356 entries; ZERO
                 rows-only checks since round 8: the last five
                 RNG/sketch cases (agg_approx, ml_kmeans, seeded
                 sampling ×2, freqItems) were upgraded to value-checked
                 via exact twins + pinned invariant booleans computed
                 on the live sketch/sample output).

The two counts above are asserted against len(REGISTRY) in
tests/test_entry.py — update them when registering queries.

Ordering: the driver hash-checks only the first ~50 queries() entries
per round, so ordered_registry() rotates names already driver-verified
green (derived from the committed CORRECTNESS_r*.json evidence, latest
round wins) behind never-verified ones — see registry.py
_DRIVER_GREEN / driver_window().
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from splitserve_spark.registry import load_all, ordered_registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry = load_all()
    return registry["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Unsettled queries first (registration order), then settled ones,
    # stalest driver evidence first (registry.ordered_registry).
    return {name: spec.fn for name, spec in ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in ordered_registry().items()
        if spec.oracle is not None
    }
