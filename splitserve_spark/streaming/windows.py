"""Structured Streaming operators (SURVEY.md §2.10, 2.1 feature level).

Reference: TimeWindow expression (`catalyst/expressions/TimeWindow.scala:29`),
EventTimeWatermarkExec (`execution/streaming/EventTimeWatermarkExec.scala:81`),
StateStoreRestore/SaveExec (`streaming/StatefulAggregate.scala:60,98`),
micro-batch loop `StreamExecution.scala:217`.

Two layers here:
  * window-aggregation *semantics* as registered batch queries (the
    same `F.window` expression Structured Streaming incrementalizes) —
    DuckDB-oracled via time_bucket;
  * true readStream → writeStream pipelines (`stream_tumbling_counts`)
    exercised in tests/test_streaming.py with file sources, watermarks,
    and the full trigger × output-mode matrix (availableNow /
    processingTime × append / update / complete, multi-micro-batch via
    maxFilesPerTrigger=1), batch-equivalence as the oracle for every
    cell.

Not in the 2.1 reference (documented out of scope): session windows,
(flat)mapGroupsWithState, stream-stream joins, streaming dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


@register(
    "stream_window_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts)                    AS wstart,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS wend,
           event_type,
           count(*)        AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY wstart, event_type
    """,
    tags=("streaming", "window"),
    bench=True,
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows — identical expression batch or
    streaming (Structured Streaming incrementalizes this exact plan)."""
    t = Tables(spark, sf_dir)
    w = F.window("ts", "10 minutes")
    return (
        t.events.groupBy(w, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("wstart"),
            F.col("window.end").alias("wend"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("wstart", "event_type")
    )


@register(
    "stream_window_sliding",
    oracle="""
    WITH assigned AS (
      SELECT e.*, time_bucket(INTERVAL '5 minutes', ts) - k.off * INTERVAL '5 minutes'
               AS wstart
      FROM events e, (SELECT unnest([0, 1]) AS off) k
    )
    SELECT wstart,
           wstart + INTERVAL '10 minutes' AS wend,
           count(*)   AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             AS avg_value
    FROM assigned
    WHERE ts >= wstart AND ts < wstart + INTERVAL '10 minutes'
    GROUP BY wstart
    ORDER BY wstart
    """,
    tags=("streaming", "window"),
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): each event lands in
    two windows; Spark's TimeWindow expands exactly like the oracle's
    offset union."""
    t = Tables(spark, sf_dir)
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        t.events.groupBy(w)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             / F.count(F.lit(1))).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("wstart"),
            F.col("window.end").alias("wend"),
            "n_events",
            "avg_value",
        )
        .orderBy("wstart")
    )


def stream_tumbling_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    watermark: str = "10 minutes",
) -> DataFrame:
    """True streaming pipeline: file source → watermark → tumbling
    window counts.  Callers attach a sink (memory for tests, files/kafka
    in deployment) and drive the micro-batch loop."""
    ensure_parity_conf(spark)
    stream = spark.readStream.schema(schema).json(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("wstart"),
            "event_type",
            "n_events",
            "total_value",
        )
    )

