"""Stateful streaming & sessionization operators.

Reference (SURVEY.md §2.10): the 2.1 reference ships windowed
aggregation with watermarks (StateStoreSave/Restore,
`streaming/StatefulAggregate.scala:60,98`); session windows and
streaming dedup are post-2.1 — implemented here as beyond-parity
extras, flagged as such.

Three forms of sessionization, all shuffle-on-user_id once:
  * `sessionize_lag_cumsum` — batch composition: lag → gap flag →
    running sum (the classic windows-function sessionization; this is
    the "custom operator as a composition of existing DataFrame ops"
    path).
  * `stream_session_window` — Spark's native `F.session_window`
    (merging-window state operator in streaming; identical semantics
    in batch, which is what the oracle checks).
  * true streaming runs in tests via the file source.

`stream_file_source_agg` actually executes through the micro-batch
engine (readStream → watermark → window agg → memory sink) and returns
the sink table, so the driver's oracle validates a real
IncrementalExecution result, not just window-expression semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf, stream_shuffle_bound
from splitserve_spark.tables import Tables, sfdir_tag

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet with the SAME timestamp
    contract as the batch loader: the stream schema is taken from the
    parquet footer (so it tracks whatever representation the runtime
    yields — long nanos on pyspark ≤4.0, TIMESTAMP_NTZ on ≥4.1) and
    ``ts`` is normalized through tables.normalize_event_ts, the single
    events-ts ingestion seam."""
    from splitserve_spark.tables import normalize_event_ts

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .parquet(f"{sf_dir}/events.*")  # glob: file source needs a dir base path
    )
    return normalize_event_ts(stream)

#: Session gap for sessionization operators.
GAP = "30 minutes"

_SESSION_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             -- CAST: DuckDB sum(int) yields HUGEINT, which pandas renders as
             -- float64 and breaks the driver's representation-sensitive hash
             CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           sum(value) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
"""


@register(
    "sessionize_lag_cumsum",
    oracle=_SESSION_ORACLE,
    tags=("streaming", "session", "window",
          "skew_hazard:sessionize_hot_key_safe"),
)
def sessionize_lag_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization by lag→gap-flag→cumsum: one shuffle on user_id,
    then two window passes over the same partitioning (Catalyst
    collapses them into a single sort+window stage).

    SKEW HAZARD: the per-user window serializes a hot user through ONE
    task by semantics — no engine mechanism (AQE skew split included)
    can divide a window partition.  On skewed key distributions use
    the strict-equivalent split-and-stitch twin
    ``sessionize_hot_key_safe`` (measured flat at 64× hot-key skew
    where this form saturates — SCALE_SMOKE.md skew table)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev_ts = F.lag("ts").over(by_user)
    # Exact µs gap (matches the oracle's `ts - lag(ts) > INTERVAL`);
    # timestampdiff works on TIMESTAMP and TIMESTAMP_NTZ alike, unlike
    # the epoch cast that pyspark 4.1 rejects for NTZ.
    gap_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    new_session = (
        prev_ts.isNull() | (gap_us > 30 * 60 * 1_000_000)
    ).cast("int")
    return (
        t.events
        .select("user_id", "ts", "event_id", "value")
        .withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "session", "window",
          "skew_hazard:sessionize_hot_key_safe"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (`F.session_window(ts, gap)`) — Spark's
    merging-window stateful operator; in streaming this maintains
    per-key open sessions in the state store. Window end = last event
    + gap, which the oracle mirrors.

    SKEW HAZARD: per-user-key window — a hot key serializes through one task; mitigation pattern: sessionize_hot_key_safe (split-and-stitch, see its docstring / SCALE_SMOKE.md skew table).
    """
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.events
        .groupBy(F.session_window("ts", GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_file_source_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS wstart,
           event_type,
           count(*)   AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY wstart, event_type
    """,
    tags=("streaming", "micro-batch", "file-source"),
)
def stream_file_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True micro-batch execution: parquet file stream source →
    watermark → tumbling window agg → memory sink (availableNow,
    complete mode). The returned table is IncrementalExecution output —
    the oracle proves stream == batch semantics end to end."""
    ensure_parity_conf(spark)
    name = "sfsa_" + sfdir_tag(sf_dir)
    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("wstart"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    # Stateful drains plan their state-store layout from
    # spark.sql.shuffle.partitions at first start — bound it to the
    # session's parallelism for the drain (see stream_shuffle_bound).
    with stream_shuffle_bound(spark):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("wstart", "event_type")


@register(
    "stream_dedup_ids",
    oracle="""
    SELECT count(DISTINCT event_id) AS n_unique FROM events
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates (beyond-2.1 extra): exact dedup on
    event_id through the micro-batch engine with watermark-bounded
    state; the post-dedup count must equal the batch count(DISTINCT) —
    dedup state dropped nothing and deduplicated everything. (A raw
    total alongside would need a second stateful aggregation over the
    pre-dedup stream; kept out of scope for this single-metric check.)"""
    ensure_parity_conf(spark)
    name = "sdid_" + sfdir_tag(sf_dir)
    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    with stream_shuffle_bound(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


#: Attribution window for the stream-stream join.
ATTRIB_GAP = "30 minutes"


@register(
    "stream_click_attribution",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS buy_id, c.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
    ORDER BY click_id, buy_id
    """,
    tags=("streaming", "join", "stateful", "beyond-2.1"),
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (beyond-2.1 extra — the reference's 2.1
    engine rejects it, UnsupportedOperationChecker.scala:41; modern
    Spark supports it since 2.3): click events joined to purchase
    events of the same user within ATTRIB_GAP, both sides true file
    streams through the micro-batch engine.

    The event-time range condition (buy_ts in [click_ts, click_ts+30m])
    plus both watermarks bounds the join state: each side keeps only
    rows younger than watermark+gap, which is what makes the operator
    viable on an unbounded 100 TB/day stream — state is O(rate x gap),
    not O(history).  The oracle is the equivalent batch self-join, so
    the driver proves stream==batch for the join too."""
    ensure_parity_conf(spark)
    name = "sca_" + sfdir_tag(sf_dir)
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    buys = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("buy_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "1 hour")
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIB_GAP}")),
        "inner",
    ).select(
        "click_id",
        "buy_id",
        F.col("c_user").alias("user_id"),
        F.timestamp_diff("MICROSECOND", F.col("click_ts"), F.col("buy_ts")).alias(
            "lag_us"
        ),
    )
    # Two-sided stream-stream join state: the worst drain of the
    # family at an inherited batch partition count (measured 300 s at
    # 200 partitions on a 4-core stock session).
    with stream_shuffle_bound(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("click_id", "buy_id")


@register(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (reference streaming supports
    joining a stream against a static Dataset since 2.0 —
    `StreamingJoinSuite` / UnsupportedOperationChecker allows
    stream×static inner joins): the events file stream is joined to
    the static customer dimension, then aggregated per market segment
    through the micro-batch engine (availableNow, complete mode), so
    the oracle validates a real IncrementalExecution result.

    Scale notes: a stream-static inner join is STATELESS — the static
    side is planned like any batch build side (broadcast here: the dim
    is small; at 100 TB of static dim, shuffled-hash per micro-batch),
    and no join state accumulates across batches, unlike the
    stream-stream attribution join above.  The aggregation state is
    bounded by |segments|."""
    ensure_parity_conf(spark)
    name = "sssj_" + sfdir_tag(sf_dir)
    customers = Tables(spark, sf_dir).customer.select(
        "c_custkey", "c_mktsegment"
    )
    enriched = (
        _events_stream(spark, sf_dir)
        .join(customers, F.col("user_id") == F.col("c_custkey"), "inner")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("total_value"),
        )
    )
    with stream_shuffle_bound(spark):
        q = (
            enriched.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("mktsegment")


#: Block width for the hot-key-safe sessionization decomposition.
SESSION_BLOCK = "day"
_GAP_US = 30 * 60 * 1_000_000


@register(
    "sessionize_hot_key_safe",
    # Same sessions as _SESSION_ORACLE, but total_value sums through
    # DECIMAL(18,2): the stitch JOIN reshuffles rows before the final
    # aggregate, so a double sum's addition order (and its last-ULP
    # result) is partitioning-dependent — the classic form matches the
    # oracle's order only by construction.  Decimal makes the sum
    # order-independent on both engines (the r5 streaming-window fix).
    oracle=_SESSION_ORACLE.replace(
        "sum(value) AS total_value",
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
        " AS total_value",
    ),
    tags=("streaming", "session", "window", "skew", "skew_mitigation"),
)
def sessionize_hot_key_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-sessionization WITHOUT the per-user serialization bottleneck
    — the split-and-stitch decomposition, same answer as
    sessionize_lag_cumsum (they share one oracle literally).

    The classic lag→flag→cumsum form partitions the window by user_id,
    so a hot user (the skew smoke's 50%-owner) serializes through ONE
    task no matter how big the cluster — measured in SCALE_SMOKE.md's
    skew table as the one line with no engine mitigation.  This
    operator supplies the mitigation as a composition:

    1. split: events bucket into (user_id, day) blocks; the lag/flag/
       cumsum windows partition by (user_id, block), so the hot user's
       history fans out over #days tasks instead of one;
    2. summarize: per block, (first_ts, last_ts, n_session_starts) —
       a map-side-combinable aggregate, O(#blocks) rows;
    3. stitch: one tiny per-user window over the BLOCK SUMMARIES
       (#blocks rows, not events) decides for each block whether its
       first event continues the previous block's last session
       (boundary gap ≤ 30 min; empty days are naturally skipped
       because only non-empty blocks appear) and assigns each block a
       session-id offset = Σ prior (starts − continuations);
    4. rejoin: global session_id = block offset + local cumsum − own
       continuation; aggregate as usual.

    This is the gap-sessionization analog of the prefix-rank
    decomposition (operators/prefix_rank.py) the r6 single-reducer
    sweep introduced for global windows: per-key windows shrink to
    bounded partitions, the unbounded dimension (time) becomes the
    parallel axis, and the only cross-block pass runs over per-block
    aggregates.  At 100 TB a 50%-hot user costs #days tasks of work
    instead of one task owning half the corpus."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return _hot_safe_sessions(
        t.events.select("user_id", "ts", "event_id", "value")
    )


def _hot_safe_sessions(events: DataFrame) -> DataFrame:
    """The split-and-stitch core over (user_id, ts, event_id, value) —
    factored so tools/scale_smoke.py can drive it on the 50%-hot-user
    corpus next to the classic single-window form."""
    ev = events.withColumn(
        "block", F.date_trunc(SESSION_BLOCK, F.col("ts"))
    )
    wb = Window.partitionBy("user_id", "block").orderBy("ts", "event_id")
    run_b = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(wb)
    gap_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    # flagged (one corpus scan + the per-block window pass) feeds BOTH
    # the summaries branch and the final rejoin — persist it once so
    # the window pass doesn't execute twice (run_cache contract; the
    # repeat-scan guard class).
    release_prior()
    flagged = persist_tracked(
        ev.withColumn(
            "flag", (prev_ts.isNull() | (gap_us > _GAP_US)).cast("int")
        ).withColumn("local_sid", F.sum("flag").over(run_b))
    )

    summaries = flagged.groupBy("user_id", "block").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum("flag").alias("k"),
    )
    ws = Window.partitionBy("user_id").orderBy("block")
    prev_last = F.lag("last_ts").over(ws)
    cont = (
        prev_last.isNotNull()
        & (
            F.timestamp_diff("MICROSECOND", prev_last, F.col("first_ts"))
            <= _GAP_US
        )
    ).cast("int")
    offsets = (
        summaries.withColumn("cont", cont)
        .withColumn(
            "prior",
            F.coalesce(
                F.sum(F.col("k") - F.col("cont")).over(
                    ws.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(
            "user_id",
            "block",
            (F.col("prior") - F.col("cont")).alias("sid_offset"),
        )
    )
    return (
        flagged.join(offsets, ["user_id", "block"])
        .withColumn(
            "session_id", F.col("sid_offset") + F.col("local_sid")
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dropDuplicatesWithinWatermark — the BOUNDED-STATE production
    form of streaming dedup (state for a key is dropped once the
    watermark passes its event time + delay, so state tracks the
    in-horizon keys, not all history; plain dropDuplicates keeps every
    key forever unless the dedup columns include the watermark
    column).  The stream is the events source UNIONed with itself —
    every record arrives exactly twice, the at-least-once delivery
    shape this operator exists to repair — and both copies of a key
    land inside the 1-hour horizon by construction, so the deduped
    output must equal the batch count(DISTINCT event_id) per type:
    one drop per duplicate, zero over-drops.  Deduped rows append to
    the sink and aggregate in a batch step, keeping the streaming
    side a pure dedup (the single-stateful-operator form every engine
    version supports)."""
    ensure_parity_conf(spark)
    name = "sdww_" + "".join(
        c if c.isalnum() else "_" for c in sf_dir.strip("/")
    )
    leg = lambda: _events_stream(spark, sf_dir).select(  # noqa: E731
        "event_id", "event_type", "ts"
    )
    deduped = (
        leg()
        .union(leg())
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    with stream_shuffle_bound(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


def _attrib_outer_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events.parquet plus a watermark-flush sentinel file for
    the OUTER attribution join.

    A streaming outer join emits its null-matched rows only when the
    watermark passes the end of each row's join window — and the
    watermark is max(event time) − delay, so on a finite (or merely
    quiescent) stream the youngest ``delay + gap`` of clicks would
    stay pending forever.  Production fixes this with heartbeat/flush
    events that advance the watermark past the last real window; this
    helper stages exactly that: the untouched events file, then one
    sentinel file (strictly newer mtime, so the oldest-first file
    source delivers it last) holding one un-matchable click and one
    un-matchable purchase 3 hours after the real maximum — far enough
    that the final watermark (sentinel − 1 h delay) closes every real
    click's 30-minute window.  Sentinels use negative ids/users (real
    ids start at 0) and are dropped after the join.

    Concurrency + staleness contract: the staged dir's NAME embeds a
    generation hash of the source file's (mtime, size) and the
    runtime's ts surface type, and the dir is published by an atomic
    rename from a per-pid build dir — so (a) a regenerated
    events.parquet or a pyspark ts-representation change yields a NEW
    generation instead of serving stale/mixed-schema data, (b) two
    concurrent sessions never rmtree a directory the other is
    streaming from (a published generation is never deleted while
    fresh; prior generations are swept only once older than 6 h,
    mirroring the warehouse sweep's liveness guard), and (c) a staging
    race has a single winner via rename semantics — the loser discards
    its build dir and uses the winner's."""
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    tag = sfdir_tag(sf_dir)
    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    raw = spark.read.parquet(src)
    dt = dict(raw.dtypes)["ts"]
    gen = hashlib.md5(
        f"{st.st_mtime}:{st.st_size}:{dt}".encode()
    ).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), "splitserve_spark_stream")
    out = os.path.join(root, f"attribouter_{tag}_{gen}")
    if os.path.isdir(out):
        return out
    # Sweep prior generations for this sf_dir, but only stale ones —
    # a <6h-old dir may back another session's running query.
    try:
        for d in os.listdir(root):
            full = os.path.join(root, d)
            if (
                d.startswith(f"attribouter_{tag}_")
                and d != f"attribouter_{tag}_{gen}"
                and time.time() - os.path.getmtime(full) > 6 * 3600
            ):
                shutil.rmtree(full, ignore_errors=True)
    except OSError:
        pass
    build = f"{out}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build, exist_ok=True)
    real = os.path.join(build, "events_00.parquet")
    shutil.copy(src, real)
    mx = raw.agg(F.max("ts").alias("m"))
    if dt == "bigint":  # TIMESTAMP(NANOS) surfaced as long nanos
        flush_ts = (F.col("m") + F.lit(3 * 3600 * 10**9)).alias("ts")
    else:  # timestamp / timestamp_ntz: interval add preserves the type
        flush_ts = (F.col("m") + F.expr("INTERVAL 3 HOURS")).alias("ts")
    sent = mx.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(-1).cast("bigint").alias("event_id"),
                    F.lit(-1).cast("bigint").alias("user_id"),
                    F.lit("click").alias("event_type"),
                ),
                F.struct(
                    F.lit(-2).cast("bigint").alias("event_id"),
                    F.lit(-2).cast("bigint").alias("user_id"),
                    F.lit("purchase").alias("event_type"),
                ),
            )
        ).alias("s"),
        flush_ts,
    ).select(
        F.col("s.event_id").alias("event_id"),
        F.col("ts"),
        F.col("s.user_id").alias("user_id"),
        F.col("s.event_type").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    staging = os.path.join(build, "_staging_sentinel")
    sent.coalesce(1).write.parquet(staging)
    part = next(
        f for f in os.listdir(staging)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    sentinel = os.path.join(build, "events_01_flush.parquet")
    shutil.move(os.path.join(staging, part), sentinel)
    shutil.rmtree(staging, ignore_errors=True)
    now = time.time()
    os.utime(real, (now - 10, now - 10))
    os.utime(sentinel, (now, now))
    # Atomic publish: the generation dir appears fully staged or not at
    # all.  A concurrent stager that won the rename owns the dir; this
    # loser discards its build and uses the winner's.
    try:
        os.rename(build, out)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
        if not os.path.isdir(out):
            raise
    return out


def _attrib_outer_joined(spark: SparkSession, src_dir: str) -> DataFrame:
    """The LEFT OUTER attribution topology over a staged heartbeat dir
    (two filtered watermarked sides, the 3-clause range condition) —
    shared by the registered operator and tools/scale_smoke.py, so the
    smoke certifies the SHIPPED plan rather than a hand copy that can
    drift."""
    from splitserve_spark.tables import normalize_event_ts

    raw_schema = spark.read.parquet(src_dir).schema

    def _side(event_type: str, id_col: str, user_col: str, ts_col: str):
        s = normalize_event_ts(
            spark.readStream.schema(raw_schema).parquet(f"{src_dir}/events_*")
        )
        return s.filter(F.col("event_type") == event_type).select(
            F.col("event_id").alias(id_col),
            F.col("user_id").alias(user_col),
            F.col("ts").alias(ts_col),
        )

    clicks = _side("click", "click_id", "c_user", "click_ts").withWatermark(
        "click_ts", "1 hour"
    )
    buys = _side("purchase", "buy_id", "b_user", "buy_ts").withWatermark(
        "buy_ts", "1 hour"
    )
    return clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (
            F.col("buy_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIB_GAP}")
        ),
        "left_outer",
    )


@register(
    "stream_click_attribution_outer",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS buy_id, c.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us,
           p.event_id IS NOT NULL AS matched
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
    ORDER BY click_id, buy_id NULLS FIRST
    """,
    tags=("streaming", "join", "stateful", "outer", "beyond-2.1"),
)
def stream_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join (beyond-2.1 extra — modern Spark
    supports outer stream joins since 2.3): every click joined to
    same-user purchases within ATTRIB_GAP, clicks with NO purchase
    emitted with null buy columns.  The subtle semantics under test is
    WHEN the null rows appear: an outer-join row is held in state
    until the watermark passes the end of its join window (only then
    is "no match ever" decidable), so the stream stages a heartbeat
    sentinel (_attrib_outer_dir) that advances the final watermark
    past every real window — the production pattern for closing outer
    joins on quiescent streams.  The oracle is the equivalent batch
    LEFT JOIN, so the driver proves stream==batch INCLUDING the
    null-matched rows.

    Scale notes: state on each side is bounded to watermark + gap
    exactly as the inner variant (O(rate × gap), not O(history)); the
    outer semantics add no state, only deferred emission.  The
    sentinel rows are un-matchable by construction (negative user ids,
    disjoint between sides) and filtered AFTER the join, so they
    contribute watermark advancement and nothing else."""
    ensure_parity_conf(spark)
    tag = sfdir_tag(sf_dir)
    name = f"scao_{tag}"
    src_dir = _attrib_outer_dir(spark, sf_dir)
    joined = (
        _attrib_outer_joined(spark, src_dir)
        # NOTE: the flush sentinel is NOT filtered here.  A
        # click_id >= 0 predicate inside the streaming plan gets
        # pushed below the EventTimeWatermark node (it does not
        # reference the watermark column), which silently removes the
        # sentinel BEFORE it can advance the clicks-side watermark —
        # leaving the youngest real click's window open forever.
        # Sentinels are dropped from the SINK table after the drain.
        .select(
            "click_id",
            "buy_id",
            F.col("c_user").alias("user_id"),
            F.timestamp_diff(
                "MICROSECOND", F.col("click_ts"), F.col("buy_ts")
            ).alias("lag_us"),
            F.col("buy_id").isNotNull().alias("matched"),
        )
    )
    # Two-sided stream-stream join state on a short staged drain: at
    # the stock 200 shuffle partitions this query builds 200 state
    # stores per side per micro-batch and blows the 180 s drain budget
    # on a 4-core driver session (measured r11: >180 s at 200 vs 28 s
    # at parallelism-sized partitions).  The bound tracks
    # defaultParallelism, so a real cluster still gets cluster-wide
    # state parallelism.
    with stream_shuffle_bound(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(180):
            q.stop()  # don't leak an active query (queryName collision on retry)
            raise TimeoutError(
                "stream_click_attribution_outer: AvailableNow drain did not "
                "terminate within 180 s; aborting rather than compare a "
                "partial append-mode table against the batch oracle"
            )
    return (
        spark.table(name)
        .filter(F.col("click_id") >= 0)  # drop the flush sentinel
        .orderBy("click_id", F.col("buy_id").asc_nulls_first())
    )
