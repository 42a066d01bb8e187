"""The one stream drain (splitserve_spark/streaming/drain.py): its time
budget stops the query, and no other engine module drives a stream."""

from __future__ import annotations

import ast
import pathlib

import pytest

from splitserve_spark.streaming import drain as D

PKG = pathlib.Path(__file__).resolve().parent.parent / "splitserve_spark"


def _rate_writer(spark, name):
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 10).load()
        .writeStream.format("memory").queryName(name)
    )


def test_poll_budget_raises_stops_and_frees_the_name(spark, monkeypatch):
    """A predicate that never holds runs into the budget: the drain
    raises naming the query, leaves no active query, and the same
    queryName starts again cleanly."""
    name = "drain_budget_probe"
    with monkeypatch.context() as m:
        m.setattr(D, "BUDGET_S", 1)
        with pytest.raises(TimeoutError, match=name):
            D.drain_until(spark, _rate_writer(spark, name), lambda: False)
    assert spark.streams.active == []
    D.drain_until(
        spark, _rate_writer(spark, name),
        lambda: spark.table(name).count() > 0,
    )
    assert spark.streams.active == []
    assert spark.table(name).count() > 0


def test_available_now_budget_raises_and_stops(spark, monkeypatch):
    """An availableNow drain that outlives the budget raises instead of
    handing back a partial sink, and is stopped."""
    monkeypatch.setattr(D, "BUDGET_S", 0.001)
    writer = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10).load()
        .writeStream.format("memory").queryName("drain_budget_now")
    )
    with pytest.raises(TimeoutError, match="drain_budget_now"):
        D.drain(spark, writer)
    assert spark.streams.active == []


def _chain(func):
    """Names along a call chain ``a.b(...).c.d(...)``, callee first."""
    while isinstance(func, (ast.Call, ast.Attribute)):
        if isinstance(func, ast.Attribute):
            yield func.attr
            func = func.value
        else:
            func = func.func
    if isinstance(func, ast.Name):
        yield func.id


def test_only_the_drain_module_drives_streams():
    """No engine module other than streaming/drain.py starts a
    writeStream chain, waits on a query, or resizes shuffle partitions
    for a stream."""
    drain_only = {
        "awaitTermination", "processAllAvailable", "stream_shuffle_bound",
    }
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "streaming" / "drain.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            chain = list(_chain(node.func)) or [None]
            if (chain[0] == "start" and "writeStream" in chain
                    or chain[0] in drain_only):
                sites.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not sites, sites
