"""Plan-inspection utilities (SURVEY.md §4 — the scale-discipline gate).

The reference gets its physical behavior from Catalyst strategy
selection (`SparkStrategies.scala:65-453`); this engine asserts the
same decisions on the modern planner: filters pushed into parquet
scans, dimension joins broadcast, fact-fact joins sort-merge, top-k as
TakeOrderedAndProject, codegen fused.  tests/test_plans.py runs these
assertions on the registered queries — a failing assertion means a
query silently lost its 100 TB-safe plan.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output (default `formatted` physical plan) as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def assert_in_plan(df: DataFrame, *needles: str) -> None:
    plan = physical_plan(df)
    for needle in needles:
        assert needle in plan, f"expected {needle!r} in plan:\n{plan}"


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines of every scan in the plan."""
    return "\n".join(
        line.strip()
        for line in physical_plan(df).splitlines()
        if "PushedFilters" in line
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of SHUFFLE exchanges — the scale-cost headline of a plan.
    Counted on the `simple` plan (the formatted mode repeats each node
    in its detail section).  BroadcastExchange and ReusedExchange are
    deliberately excluded: the word-boundary regex does not match
    either (no boundary after 't'/'d'), only standalone `Exchange
    hashpartitioning/rangepartitioning/...` nodes."""
    plan = physical_plan(df, mode="simple")
    return sum(
        1
        for line in plan.splitlines()
        if re.search(r"(?<![A-Za-z])Exchange\b", line)
    )


def unpartitioned_window_nodes(df: DataFrame) -> list[str]:
    """Window nodes whose partition spec is EMPTY — Spark moves every
    row to a single partition for these (`WindowExec.scala:82`
    requires AllTuples when the spec is empty), the classic
    100 TB-scale ceiling the distributed prefix decomposition
    (operators/prefix_rank.py) exists to avoid.

    Plan text shapes (simple mode):
      Window [exprs], [partSpec], [orderSpec]   — partitioned (3 groups)
      Window [exprs], [partSpec]                — partitioned, unordered
      Window [exprs], [orderSpec]               — GLOBAL ordered
      Window [exprs]                            — GLOBAL unordered
    The two 2-group shapes disambiguate by content: an order spec
    always prints sort directions (ASC/DESC), a partition spec never
    does.  WindowGroupLimit nodes are not Window nodes and are
    skipped."""
    return unpartitioned_window_nodes_in(physical_plan(df, mode="simple"))


def unpartitioned_window_nodes_in(plan: str) -> list[str]:
    """String-level form of unpartitioned_window_nodes for callers
    that already hold the `simple` plan text (the registry-wide guards
    share one plan per query instead of re-planning per guard)."""
    out = []
    for raw in plan.splitlines():
        line = raw.strip().lstrip(":+- ").strip()
        if not line.startswith("Window "):
            continue
        body = line[len("Window "):]
        groups: list[str] = []
        depth = 0
        for ch in body:
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            elif ch == "]":
                depth -= 1
            elif depth == 1:
                groups[-1] += ch
        if len(groups) >= 3:
            continue  # partitioned + ordered
        if len(groups) == 2 and not (
            " ASC" in groups[1] or " DESC" in groups[1]
        ):
            continue  # partitioned, unordered
        out.append(line)
    return out


def _depth(line: str) -> int:
    """Position where plan-node content starts (past the tree bars)."""
    return re.match(r"[\s:+\-*]*", line).end()


def count_executed_scans(plan: str) -> dict[str, int]:
    """FileScans per base table on the UNCACHED paths of a `simple` plan.

    A persisted intermediate prints as InMemoryRelation with its full
    child lineage re-printed at EVERY reference (with re-aliased
    attributes), so a raw FileScan count overstates executed scans
    N-fold.  Each cached subtree executes at most once (first
    materialization) regardless of reference count, so cached subtrees
    are skipped entirely — what this counts is the repeat-scan class
    that re-EXECUTES per branch (tests/test_plans.py's registry-wide
    repeat-scan guard)."""
    counts: dict[str, int] = {}
    lines = plan.splitlines()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            d = _depth(line)
            j = i + 1
            while j < len(lines) and _depth(lines[j]) > d:
                j += 1
            i = j
            continue
        s = re.search(r"file:[^\]]*/(\w+)\.parquet", line)
        if s:
            counts[s.group(1)] = counts.get(s.group(1), 0) + 1
        i += 1
    return counts
