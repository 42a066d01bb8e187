"""Format pins for the plan-string helpers and the tools/ diagnostics.

plans.inspect.count_executed_scans regex-parses the `simple` plan and
skips InMemoryRelation subtrees by indentation — plan-format drift
across Spark versions would silently miscount (r7 ADVICE).  These
tests pin the exact assumptions against a live plan, so drift fails
loudly here instead.
"""

from __future__ import annotations

import io
import json
import os
import pathlib
import re
import subprocess
import sys

from pyspark.sql import functions as F

from splitserve_spark.plans.inspect import (
    _depth,
    count_exchanges,
    count_executed_scans,
    physical_plan,
)
from splitserve_spark.tables import Tables
from tests.oracle_utils import SF_DIR
from tools import sweep
from tools.scale_smoke import (
    MM_SMOKE,
    SMOKE_QUERIES,
    STREAM_SMOKE,
    STREAM_TWINS,
    _stream_state_verdict,
    build_skew_corpus,
    main,
    smoke_record,
    stream_twin,
)

REPO = pathlib.Path(__file__).resolve().parent.parent


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


def test_smoke_names_are_registered():
    """Every query the smoke runs or stands in for is registered: the
    pipeline rows, the stream twins' drains, and the mm_* queries that
    cap each multimodal builder (which must exist in multimodal.py)."""
    from splitserve_spark.operators import multimodal as M
    from splitserve_spark.registry import REGISTRY, load_all

    load_all()
    names = [*SMOKE_QUERIES, *STREAM_TWINS.values(), *MM_SMOKE.values()]
    assert [n for n in names if n not in REGISTRY] == []
    assert set(STREAM_TWINS) <= set(STREAM_SMOKE)
    assert all(callable(getattr(M, b, None)) for b in MM_SMOKE)


def test_stream_twin_runs_registered_dedup(spark):
    """The dedup_ids row runs stream_dedup_ids itself: its state holds
    every event_id plus the count aggregate's one row, and passes the
    state-tracks-keys verdict."""
    res = stream_twin(spark, "dedup_ids", SF_DIR)
    assert res["rows"] == 1
    assert res["state"] == res["keys"] + 1
    assert res["keys"] == res["inputs"]
    rec = {f"{k}_1x": v for k, v in res.items()}
    assert _stream_state_verdict("dedup_ids", rec, 1)


def test_smoke_record_suffixes_judges_and_reports(capsys):
    """One record per call: fields suffixed by side, the second-over-
    first ratios, the verdict — and a raising runner becomes an error
    record with no verdict."""
    rec = smoke_record(
        "stream:x", lambda n: {"rows": n, "state": 2 * n},
        [("1x", 1), ("8x", 8)], lambda r: "ok",
    )
    assert (rec["rows_1x"], rec["rows_8x"]) == (1, 8)
    assert rec["state_ratio"] == 8.0 and "time_ratio" in rec
    assert rec["verdict"] == "ok"
    bad = smoke_record("x", lambda _: 1 / 0, [("", None)], lambda r: "ok")
    assert "verdict" not in bad and bad["error"].startswith("ZeroDivision")
    assert len(capsys.readouterr().out.splitlines()) == 2


def test_smoke_only_rejects_unknown_names(monkeypatch):
    monkeypatch.setattr(
        "sys.argv", ["scale_smoke.py", "--only", "wav_features,bogus"]
    )
    assert main() == 2


# ---- sweep: the one check/time/plans CLI ------------------------------


def test_sweep_rejects_typos_before_any_session(tmp_path):
    """A misspelled query name or a missing --sf-dir exits 2: neither
    may pass as an empty 0/0 sweep."""
    assert sweep.main(["check", "--strict", "q1_pricing_sumary"]) == 2
    missing = ["--sf-dir", str(tmp_path / "sf0.1")]
    assert sweep.main(["check", *missing, "q1_pricing_summary"]) == 2


def test_sweep_time_records_match_plan_inspect(spark):
    """The time record's exchange and scan counts are the ones PLANS.md
    and the repeat-scan guard use (not a raw regex over simpleString,
    which also counts BroadcastExchange/ReusedExchange and reprinted
    cached lineage), and its rows are the query's row count."""
    from splitserve_spark.registry import load_all

    registry = load_all()
    specs = [registry[n] for n in ("q3_shipping_priority",
                                   "qds94_web_no_returns")]
    out = io.StringIO()
    recs = sweep.run(spark, specs, "time", SF_DIR, out=out, reps=1)
    assert [json.loads(line) for line in out.getvalue().splitlines()] == recs
    for spec, rec in zip(specs, recs):
        df = spec.fn(spark, SF_DIR)
        assert rec["error"] is None, rec
        assert rec["exchanges"] == count_exchanges(df)
        plan = physical_plan(df, mode="simple")
        assert rec["scans"] == count_executed_scans(plan)
        assert rec["rows"] == df.count()
        assert min(rec["build_s"], rec["plan_s"], rec["exec_s"]) >= 0


def test_sweep_time_records_count_jobs(spark):
    """The time record's `jobs` is the number of Spark jobs its rep ran
    (build, planning and count()), as a job group set around the same
    steps counts them, also when the same query was swept before, and
    the sweep leaves no job group behind."""
    from splitserve_spark.registry import load_all

    spec = load_all()["qds94_web_no_returns"]
    recs = [sweep.run(spark, [spec], "time", SF_DIR, out=io.StringIO())[0]
            for _ in range(2)]
    assert [r["error"] for r in recs] == [None, None], recs
    sc = spark.sparkContext
    sc.setJobGroup("test-sweep-jobs", "test")
    try:
        df = spec.fn(spark, SF_DIR)
        df._jdf.queryExecution().executedPlan()
        df.count()
        want = sweep._jobs_run(spark, "test-sweep-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["jobs"] for r in recs] == [want, want] and want >= 1, (recs, want)
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_strict_check_starts_from_foreign_confs(spark):
    """check mode starts every query from a stock session's ANSI,
    timezone and Arrow values, as the driver's session may carry: the
    registry's parity wrapper must restore them, so a timezone-sensitive
    query (qds88 bands on the hour) still passes strict, and the
    session leaves with PARITY_CONF in force.  The table handles are
    cached first: a cache miss in Tables applies parity itself and
    would hide a registry that stopped applying it."""
    from splitserve_spark.registry import load_all
    from splitserve_spark.session import PARITY_CONF
    from splitserve_spark.tables import TABLE_NAMES

    tables = Tables(spark, SF_DIR)
    for name in TABLE_NAMES:
        getattr(tables, name)
    registry = load_all()
    specs = [registry[n] for n in ("q1_pricing_summary",
                                   "qds88_hour_band_counts")]
    recs = sweep.run(spark, specs, "check", SF_DIR, out=io.StringIO(),
                     strict=True)
    assert [r["error"] for r in recs] == [None, None], recs
    assert {k: spark.conf.get(k) for k in PARITY_CONF} == PARITY_CONF


def test_plans_md_masks_plan_ids():
    """Plan ids and lambda variable numbers come from process-wide
    counters: left unmasked, one changed plan renumbers every later
    PLANS.md section."""
    text = (REPO / "PLANS.md").read_text()
    assert "[plan_id=_]" in text and "lambda x_n" in text
    assert not re.search(r"plan_id=\d", text)
    assert not re.search(r"lambda [xyz]_\d", text)


def test_plans_md_is_current(tmp_path):
    """The committed PLANS.md is byte-for-byte what `sweep.py plans
    --bench` writes at the default SF: a change to a bench query's plan
    shape must regenerate it."""
    out = tmp_path / "PLANS.md"
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SF_DIR"}
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "sweep.py"), "plans",
         "--bench", "--out", str(out)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert out.read_bytes() == (REPO / "PLANS.md").read_bytes()
