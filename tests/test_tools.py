"""Format pins for the plan-string helpers and the tools/ diagnostics.

plans.inspect.count_executed_scans regex-parses the `simple` plan and
skips InMemoryRelation subtrees by indentation — plan-format drift
across Spark versions would silently miscount (r7 ADVICE).  These
tests pin the exact assumptions against a live plan, so drift fails
loudly here instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from splitserve_spark.plans.inspect import (
    _depth,
    count_executed_scans,
    physical_plan,
)
from splitserve_spark.tables import Tables
from tests.oracle_utils import SF_DIR
from tools.scale_smoke import _stream_state_verdict, build_skew_corpus


def test_scan_audit_format_assumptions(spark):
    """Pins: (a) a persisted input prints as InMemoryRelation with its
    FileScan lineage indented strictly deeper, (b) the file-path regex
    extracts the base table name from FileScan lines, (c) cached
    subtrees are skipped while uncached scans are counted once per
    reference."""
    t = Tables(spark, SF_DIR)
    cached = t.nation.persist()
    try:
        cached.count()
        df = cached.join(
            t.region, F.col("n_regionkey") == F.col("r_regionkey")
        )
        plan = physical_plan(df, mode="simple")
        assert "InMemoryRelation" in plan, plan
        assert "FileScan" in plan and "region.parquet" in plan, plan

        # The cached subtree's own FileScan (nation) sits deeper than
        # the InMemoryRelation header line — the indentation invariant
        # the skip heuristic relies on.
        lines = plan.splitlines()
        imr = next(i for i, l in enumerate(lines) if "InMemoryRelation" in l)
        nat = next(i for i, l in enumerate(lines) if "nation.parquet" in l)
        assert nat > imr and _depth(lines[nat]) > _depth(lines[imr]), plan

        counts = count_executed_scans(plan)
        assert counts == {"region": 1}, (counts, plan)
    finally:
        cached.unpersist()


def test_scan_audit_counts_repeat_scans(spark):
    """An UNCACHED table referenced from two branches counts twice —
    the repeat-scan defect class the audit exists to hunt."""
    t = Tables(spark, SF_DIR)
    a = t.nation.select("n_nationkey", "n_regionkey")
    b = t.nation.select(
        F.col("n_nationkey").alias("k2"), F.col("n_name").alias("nm")
    )
    df = a.join(b, a.n_nationkey == b.k2)
    counts = count_executed_scans(physical_plan(df, mode="simple"))
    assert counts.get("nation") == 2, counts


# ---- scale_smoke helpers (round 9: streaming + skew families) --------


def test_stream_state_verdict_rules():
    """The state-tracks-keys verdict: key-bounded state passes, state
    that grows past the key count (i.e. tracks input history) fails,
    and the event_type-keyed CUSUM must not grow with K at all."""
    ok = {"state_1x": 100, "keys_1x": 100,
          "state_8x": 800, "keys_8x": 800}
    assert _stream_state_verdict("session_window", dict(ok), 8)
    # +2 slack covers the downstream count-aggregate's own state row.
    near = {"state_1x": 101, "keys_1x": 100,
            "state_8x": 801, "keys_8x": 800}
    assert _stream_state_verdict("dedup_ids", near, 8)
    # State far above keys = buffering input history, not keys.
    history = {"state_1x": 100, "keys_1x": 100,
               "state_8x": 5000, "keys_8x": 800}
    assert not _stream_state_verdict("stream_stream_join", history, 8)
    # CUSUM: state must be exactly the (constant) key count at BOTH
    # scales — growth with K fails even if still "key-shaped".
    cusum_ok = {"state_1x": 5, "keys_1x": 5, "state_8x": 5, "keys_8x": 5}
    assert _stream_state_verdict("cusum", cusum_ok, 8)
    cusum_grew = {"state_1x": 5, "keys_1x": 5,
                  "state_8x": 40, "keys_8x": 5}
    assert not _stream_state_verdict("cusum", cusum_grew, 8)


def test_build_skew_corpus_shape(tmp_path):
    """The skew corpus contract: the hot variant gives user 1 exactly
    half of all events, the uniform twin is equal-volume with per-copy
    disjoint users, and event ids stay globally unique in both."""
    import duckdb

    src = SF_DIR  # sf0.001: 1,000 events
    out = str(tmp_path / "skew")
    build_skew_corpus(src, out, scale=4)
    con = duckdb.connect()
    n_src = con.execute(
        f"SELECT count(*) FROM '{src}/events.parquet'"
    ).fetchone()[0]
    for variant in ("hot", "uniform"):
        total, ids = con.execute(
            f"SELECT count(*), count(DISTINCT event_id) "
            f"FROM '{out}/events_{variant}.parquet'"
        ).fetchone()
        assert total == 4 * n_src
        assert ids == total, f"{variant}: event ids must stay unique"
    hot_share = con.execute(
        f"SELECT count(*) FILTER (user_id = 1) / count(*) "
        f"FROM '{out}/events_hot.parquet'"
    ).fetchone()[0]
    # User 1 owns the 2 reassigned copies plus its organic rows.
    assert hot_share >= 0.5, hot_share
    n_users_uni = con.execute(
        f"SELECT count(DISTINCT user_id) "
        f"FROM '{out}/events_uniform.parquet'"
    ).fetchone()[0]
    n_users_src = con.execute(
        f"SELECT count(DISTINCT user_id) FROM '{src}/events.parquet'"
    ).fetchone()[0]
    assert n_users_uni == 4 * n_users_src
