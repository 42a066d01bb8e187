from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from splitserve_spark.registry import REGISTRY, load_all
from splitserve_spark.streaming.progress import drain_events
from tests.oracle_utils import SF_DIR, check_query

load_all()

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


@pytest.mark.parametrize(
    "name",
    [
        "sessionize_lag_cumsum",
        "sessionize_hot_key_safe",
        "stream_session_window",
        "stream_file_source_agg",
        "stream_dedup_ids",
        "stream_click_attribution",
        "stream_click_attribution_outer",
        "stream_static_join",
    ],
)
def test_oracle_match(spark, name):
    check_query(spark, name, SF_DIR)


def test_dedup_ids_drains_in_one_micro_batch(spark):
    """Plain dropDuplicates never evicts state, so a watermark on it
    bounds nothing and only adds a no-data micro-batch that re-commits
    every key.  The drain reads every file in one batch and stops."""
    _, events = drain_events(
        spark, lambda: REGISTRY["stream_dedup_ids"].fn(spark, SF_DIR)
    )
    assert [e["batchId"] for e in events] == [0]


def test_events_stream_schema_is_inferred_once(spark):
    """The raw events schema is inferred once per session: building
    the file-source stream again launches no Spark job."""
    from splitserve_spark.streaming.stateful import _events_stream

    sc = spark.sparkContext
    group = "events-stream-schema"
    _events_stream(spark, SF_DIR)
    try:
        sc.setJobGroup(group, group)
        again = _events_stream(spark, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    assert again.isStreaming
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize(
    "name",
    [
        "stream_dedup_ids",
        "stream_file_source_agg",
        "stream_click_attribution",
        "source_socket_stream",
        "source_rate_stream",
        "stream_cusum_stateful",
        "stream_kafka_windowed",
    ],
)
def test_state_stores_match_slots(spark, name):
    """The drain sizes each stateful operator to exactly one state
    store per task slot, whatever the session's batch partition count:
    the session runs at stock Spark's 200 here, so an undrained copy
    that plans its own layout shows up as 200 state stores."""
    slots = spark.sparkContext.defaultParallelism
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        _, events = drain_events(
            spark, lambda: REGISTRY[name].fn(spark, SF_DIR)
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    ops = [op for e in events for op in e["stateOperators"]]
    assert ops, f"{name}: no state operator reported"
    assert [op["numShufflePartitions"] for op in ops] == [slots] * len(ops)


def _write_batch(d, i, rows):
    with open(f"{d}/batch{i}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def staged_dir():
    d = tempfile.mkdtemp(prefix="ss_late_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_batches(spark, src, output_mode, batches, watermark="10 minutes"):
    """Drive a watermarked window-count stream one file per micro-batch
    (restart per staged file, shared checkpoint) so the watermark
    advances BETWEEN batches — late rows in batch N+1 are judged
    against batch N's max event time. Emitted rows are collected via
    foreachBatch (the memory sink cannot recover from a checkpoint)."""
    chk = tempfile.mkdtemp(prefix="ss_chk_")
    emitted = []

    def collect(batch_df, _batch_id):
        emitted.extend(batch_df.collect())

    for i, rows in enumerate(batches):
        _write_batch(src, i, rows)
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("wstart"), "n")
        )
        q = (
            stream.writeStream.foreachBatch(collect)
            .outputMode(output_mode)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(chk, ignore_errors=True)
    return emitted


def test_watermark_drops_late_rows(spark, staged_dir):
    """A row older than (max event time - watermark) arriving in a later
    micro-batch is dropped from a finalized window (append mode)."""
    b0 = [
        {"event_id": 1, "ts": "2024-01-01T00:05:00Z", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T01:00:00Z", "user_id": 1, "value": 1.0},
    ]
    # watermark after b0 = 01:00 - 10min = 00:50 → window [00:00,00:10) final
    b1 = [
        {"event_id": 3, "ts": "2024-01-01T00:06:00Z", "user_id": 1, "value": 1.0},  # late
        {"event_id": 4, "ts": "2024-01-01T02:00:00Z", "user_id": 1, "value": 1.0},
    ]
    emitted = _run_batches(spark, staged_dir, "append", [b0, b1])
    got = {r["wstart"].isoformat(): r["n"] for r in emitted}
    # the [00:00,00:10) window was emitted with ONLY the on-time row
    assert got.get("2024-01-01T00:00:00") == 1, got


def test_update_mode_emits_changed_windows(spark, staged_dir):
    """Update mode re-emits a window's row when a new event updates it."""
    b0 = [{"event_id": 1, "ts": "2024-01-01T00:01:00Z", "user_id": 1, "value": 1.0}]
    b1 = [{"event_id": 2, "ts": "2024-01-01T00:02:00Z", "user_id": 1, "value": 1.0}]
    emitted = _run_batches(spark, staged_dir, "update", [b0, b1])
    rows = [(r["wstart"].isoformat(), r["n"]) for r in emitted]
    # same window emitted twice: n=1 after b0, n=2 after b1
    assert ("2024-01-01T00:00:00", 1) in rows
    assert ("2024-01-01T00:00:00", 2) in rows


def test_foreach_batch_sink(spark, staged_dir):
    """foreachBatch — arbitrary batch-DataFrame sink callback."""
    _write_batch(
        staged_dir,
        0,
        [
            {"event_id": 1, "ts": "2024-01-01T00:01:00Z", "user_id": 1, "value": 2.0},
            {"event_id": 2, "ts": "2024-01-01T00:02:00Z", "user_id": 2, "value": 3.0},
        ],
    )
    seen = []

    def handle(batch_df, batch_id):
        seen.append((batch_id, batch_df.agg(F.sum("value")).collect()[0][0]))

    q = (
        spark.readStream.schema(EVENT_SCHEMA)
        .json(staged_dir)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen and abs(seen[0][1] - 5.0) < 1e-9


def test_file_sink_with_checkpoint_resume(spark, staged_dir):
    """File sink + checkpoint: restarting the query after new data must
    append only the new rows (exactly-once via the offset WAL)."""
    out = tempfile.mkdtemp(prefix="ss_out_")
    chk = tempfile.mkdtemp(prefix="ss_chk2_")
    for i, rows in enumerate(
        (
            [{"event_id": 1, "ts": "2024-01-01T00:01:00Z", "user_id": 1, "value": 1.0}],
            [{"event_id": 2, "ts": "2024-01-01T00:02:00Z", "user_id": 2, "value": 2.0}],
        )
    ):
        _write_batch(staged_dir, i, rows)
        q = (
            spark.readStream.schema(EVENT_SCHEMA)
            .json(staged_dir)
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    ids = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 2]  # no duplicates, nothing lost across restart
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)


def test_stream_stream_join(spark, staged_dir):
    """Stream-stream inner join with watermarks on both sides (a
    beyond-2.1 extra; SURVEY.md §2.10 lists it out of parity scope).
    Clicks join impressions within the event-time constraint."""
    import tempfile as _tf

    imp_dir = _tf.mkdtemp(prefix="ss_imp_")
    _write_batch(
        imp_dir,
        0,
        [
            {"event_id": 10, "ts": "2024-01-01T00:00:30Z", "user_id": 1, "value": 0.0},
            {"event_id": 11, "ts": "2024-01-01T00:01:00Z", "user_id": 2, "value": 0.0},
        ],
    )
    _write_batch(
        staged_dir,
        0,
        [
            {"event_id": 20, "ts": "2024-01-01T00:01:30Z", "user_id": 1, "value": 1.0},
            {"event_id": 21, "ts": "2024-01-01T00:50:00Z", "user_id": 2, "value": 1.0},
        ],
    )
    imps = (
        spark.readStream.schema(EVENT_SCHEMA).json(imp_dir)
        .withWatermark("ts", "10 minutes")
        .selectExpr("user_id", "ts AS imp_ts", "event_id AS imp_id")
    )
    clicks = (
        spark.readStream.schema(EVENT_SCHEMA).json(staged_dir)
        .withWatermark("ts", "10 minutes")
        .selectExpr("user_id", "ts AS click_ts", "event_id AS click_id")
    )
    from pyspark.sql import functions as F2

    joined = imps.join(
        clicks,
        (imps["user_id"] == clicks["user_id"])
        & (F2.col("click_ts") >= F2.col("imp_ts"))
        & (F2.col("click_ts") <= F2.col("imp_ts") + F2.expr("INTERVAL 5 MINUTES")),
    ).select(imps["user_id"], "imp_id", "click_id")
    got = []

    def collect(batch_df, _):
        got.extend((r["user_id"], r["imp_id"], r["click_id"]) for r in batch_df.collect())

    q = joined.writeStream.foreachBatch(collect).trigger(availableNow=True).start()
    q.awaitTermination()
    # user 1 clicked 60s after impression (within 5 min) → joined;
    # user 2 clicked 49 min later → outside the constraint.
    assert got == [(1, 10, 20)], got

    import shutil as _sh

    _sh.rmtree(imp_dir, ignore_errors=True)


def test_processing_time_trigger(spark, staged_dir):
    """ProcessingTime trigger (§2.10 TriggerExecutor): continuous
    micro-batch loop; stop after the data is processed."""
    _write_batch(
        staged_dir, 0,
        [{"event_id": 1, "ts": "2024-01-01T00:00:01Z", "user_id": 1, "value": 1.0}],
    )
    got = []

    def collect(batch_df, _):
        got.extend(batch_df.collect())

    q = (
        spark.readStream.schema(EVENT_SCHEMA)
        .json(staged_dir)
        .writeStream.foreachBatch(collect)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == 1 and got[0]["event_id"] == 1


def test_rate_source(spark):
    """Built-in rate source (§2.1 streaming sources) — generates
    (timestamp, value) rows; smoke one micro-batch."""
    got = []

    def collect(batch_df, _):
        got.extend(batch_df.collect())

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .writeStream.foreachBatch(collect)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 15
        while not got and time.time() < deadline:
            time.sleep(0.2)
    finally:
        q.stop()
    assert got, "rate source produced no rows in 15s"
    assert {"timestamp", "value"} <= set(got[0].asDict())


def test_hot_key_safe_equals_classic_sessionization(spark):
    """Cross-form equivalence: the split-and-stitch decomposition must
    produce the SAME sessions as the classic single-window form on the
    same corpus — identical (user, session) keys, bounds, and event
    counts; total_value compared at 1e-9 (classic sums raw doubles in
    window order, hotsafe through exact DECIMAL)."""
    from splitserve_spark.registry import REGISTRY

    classic = (
        REGISTRY["sessionize_lag_cumsum"].fn(spark, SF_DIR).toPandas()
    )
    safe = (
        REGISTRY["sessionize_hot_key_safe"].fn(spark, SF_DIR).toPandas()
    )
    assert len(classic) == len(safe)
    for col in ("user_id", "session_id", "session_start",
                "session_end", "n_events"):
        assert classic[col].tolist() == safe[col].tolist(), col
    assert (classic["total_value"] - safe["total_value"]).abs().max() < 1e-9


def test_hot_key_safe_boundary_cases(spark):
    """Adversarial fixture for the split-and-stitch decomposition: the
    session boundary cases day-block splitting could get wrong —
    sessions continuing across midnight, a cross-boundary gap of
    EXACTLY 30 minutes (not > gap ⇒ same session), exactly 30 min +
    1 µs (new session), an event exactly at a block edge, EMPTY days
    inside a user's history (the stitch must look at the previous
    non-empty block), same-timestamp ties at a block edge (event_id
    tie-break), and one session chaining across three days.  The
    classic single-window form is the ground truth."""
    from datetime import datetime, timedelta

    from pyspark.sql.window import Window

    from splitserve_spark.streaming.stateful import _hot_safe_sessions

    D = datetime
    rows, eid = [], 0

    def ev(user, ts):
        nonlocal eid
        eid += 1
        rows.append((eid, user, ts, 1.0))

    # u1: session continues across midnight (gaps < 30 min).
    ev(1, D(2026, 1, 1, 23, 40)); ev(1, D(2026, 1, 1, 23, 50))
    ev(1, D(2026, 1, 2, 0, 5));   ev(1, D(2026, 1, 2, 0, 20))
    # u2: cross-boundary gap of EXACTLY 30 min → same session.
    ev(2, D(2026, 1, 1, 23, 30)); ev(2, D(2026, 1, 2, 0, 0))
    # u3: 30 min + 1 µs across the boundary → NEW session.
    ev(3, D(2026, 1, 1, 23, 29, 59, 999999))
    ev(3, D(2026, 1, 2, 0, 0, 0))
    # u4: single event exactly at a block edge.
    ev(4, D(2026, 1, 2, 0, 0, 0))
    # u5: empty days between two sessions (stitch must skip them).
    ev(5, D(2026, 1, 1, 12, 0)); ev(5, D(2026, 1, 4, 12, 0))
    # u6/u7: same-timestamp ties, u7's exactly at midnight.
    for _ in range(3):
        ev(6, D(2026, 1, 1, 10, 0))
    for _ in range(3):
        ev(7, D(2026, 1, 2, 0, 0))
    # u8: one session chaining across three days (20-min steps).
    t = D(2026, 1, 1, 23, 0)
    for _ in range(9):
        ev(8, t); t += timedelta(minutes=20)

    events = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, value double"
    ).select("user_id", "ts", "event_id", "value")

    # Classic single-window ground truth (the operator's exact form).
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(by_user)
    gap_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    classic = (
        events
        .withColumn(
            "f", (prev_ts.isNull() | (gap_us > 30 * 60 * 1_000_000))
            .cast("int")
        )
        .withColumn("session_id", F.sum("f").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
        .collect()
    )
    safe = (
        _hot_safe_sessions(events)
        .select("user_id", "session_id", "session_start",
                "session_end", "n_events")
        .orderBy("user_id", "session_id")
        .collect()
    )
    assert [tuple(r) for r in safe] == [tuple(r) for r in classic]
    # Spot-pin the semantics themselves (not just form equality):
    per_user = {}
    for r in classic:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[1]) == 1 and per_user[1][0].n_events == 4
    assert len(per_user[2]) == 1  # exactly-30-min gap continues
    assert len(per_user[3]) == 2  # 30 min + 1 µs starts a new one
    assert len(per_user[5]) == 2  # empty days between sessions
    assert len(per_user[8]) == 1 and per_user[8][0].n_events == 9


def test_outer_attribution_flushes_youngest_unmatched_click(spark):
    """Regression pin for the watermark-pushdown trap: a sentinel-drop
    predicate placed INSIDE the streaming plan gets pushed below the
    EventTimeWatermark node, so the flush sentinel never advances the
    clicks-side watermark and the youngest real click's outer row is
    never emitted (it sat in state forever).  The youngest unmatched
    click is exactly the row that disappears when the flush breaks —
    assert it is present with null buy columns."""
    from splitserve_spark.registry import REGISTRY, load_all

    load_all()
    sf = SF_DIR
    out = REGISTRY["stream_click_attribution_outer"].fn(spark, sf).collect()
    ev = spark.read.parquet(f"{sf}/events.parquet")
    clicks = {r.event_id for r in
              ev.filter(F.col("event_type") == "click")
              .select("event_id").collect()}
    got_clicks = {r.click_id for r in out}
    assert got_clicks == clicks  # every real click emitted exactly
    youngest = (
        ev.filter(F.col("event_type") == "click")
        .orderBy(F.col("ts").desc())
        .select("event_id")
        .first()
        .event_id
    )
    y_rows = [r for r in out if r.click_id == youngest]
    assert y_rows, "youngest click missing: watermark never closed it"
    # No sentinel leakage.
    assert all(r.click_id >= 0 for r in out)


def test_attrib_staging_generations_and_race(spark, tmp_path):
    """The heartbeat staging contract (review batch 2): (a) same
    source → same generation dir, served without restaging; (b) a
    touched source file → a NEW generation dir, old one left on disk
    (it may back another session's running query) until the 6h sweep;
    (c) a leftover build dir from a crashed/racing stager never blocks
    publication; (d) a pre-existing published generation wins the
    rename race and the loser's build dir is discarded."""
    import os
    import shutil
    import time

    from splitserve_spark.streaming.stateful import _attrib_outer_dir

    src_dir = str(tmp_path / "sf")
    os.makedirs(src_dir)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.limit(200).coalesce(1).write.parquet(str(tmp_path / "stage"))
    part = next(
        f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")
    )
    shutil.copy(str(tmp_path / "stage" / part),
                os.path.join(src_dir, "events.parquet"))

    d1 = _attrib_outer_dir(spark, src_dir)
    assert os.path.isdir(d1)
    files1 = sorted(os.listdir(d1))
    assert "events_00.parquet" in files1 and "events_01_flush.parquet" in files1
    # (a) memoized: same call returns the same published generation.
    assert _attrib_outer_dir(spark, src_dir) == d1

    # (c) a stale build dir must not block a fresh staging.
    leftover = f"{d1}.build-99999"
    os.makedirs(leftover, exist_ok=True)
    assert _attrib_outer_dir(spark, src_dir) == d1

    # (b) touching the source changes the generation; the old dir stays.
    st = os.stat(os.path.join(src_dir, "events.parquet"))
    os.utime(os.path.join(src_dir, "events.parquet"),
             (st.st_atime, st.st_mtime + 7))
    d2 = _attrib_outer_dir(spark, src_dir)
    assert d2 != d1
    assert os.path.isdir(d1), "fresh prior generation must NOT be swept"

    # Aged-out prior generations ARE swept on the next staging call.
    old = time.time() - 7 * 3600
    os.utime(d1, (old, old))
    os.utime(os.path.join(src_dir, "events.parquet"),
             (st.st_atime, st.st_mtime + 14))
    d3 = _attrib_outer_dir(spark, src_dir)
    assert d3 not in (d1, d2)
    assert not os.path.isdir(d1), "6h-old generation should be swept"
