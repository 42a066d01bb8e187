from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from splitserve_spark.registry import load_all
from splitserve_spark.streaming.drain import drain
from splitserve_spark.streaming.windows import stream_tumbling_counts
from splitserve_spark.tables import Tables
from tests.oracle_utils import SF_DIR, check_query

load_all()

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


@pytest.mark.parametrize("name", ["stream_window_tumbling", "stream_window_sliding"])
def test_window_semantics_oracle(spark, name):
    check_query(spark, name, SF_DIR)


@pytest.fixture()
def event_json_dir(spark):
    """events table replayed as two JSON batches (out-of-order tail)."""
    d = tempfile.mkdtemp(prefix="ss_stream_")
    rows = (
        Tables(spark, SF_DIR)
        .events.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("event_id")
        .collect()
    )
    mid = len(rows) // 2
    for i, chunk in enumerate((rows[:mid], rows[mid:])):
        with open(f"{d}/batch{i}.json", "w") as f:
            for r in chunk:
                f.write(json.dumps(r.asDict()) + "\n")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_matches_batch(spark, event_json_dir):
    """Micro-batch streaming aggregation == the same aggregation run as
    a plain batch query (the batch-vs-stream oracle from FIXTURES.md)."""
    sdf = stream_tumbling_counts(spark, event_json_dir, EVENT_SCHEMA)
    drain(spark, sdf.writeStream.format("memory")
          .queryName("tumbling_test").outputMode("complete"))
    got = (
        spark.table("tumbling_test")
        .orderBy("wstart", "event_type")
        .toPandas()
    )
    expected = (
        spark.read.schema(EVENT_SCHEMA)
        .json(event_json_dir)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("wstart"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("wstart", "event_type")
        .toPandas()
    )
    assert got.equals(expected)


def test_stream_append_mode_with_watermark(spark, event_json_dir):
    """Append mode emits only watermark-finalized windows; every emitted
    row must agree with the batch result."""
    sdf = stream_tumbling_counts(spark, event_json_dir, EVENT_SCHEMA, "10 minutes")
    drain(spark, sdf.writeStream.format("memory")
          .queryName("append_test").outputMode("append"))
    got = spark.table("append_test").toPandas()
    expected = (
        spark.read.schema(EVENT_SCHEMA)
        .json(event_json_dir)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("wstart"),
            "event_type",
            "n_events",
            "total_value",
        )
        .toPandas()
    )
    merged = got.merge(
        expected, on=["wstart", "event_type"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(got)  # every emitted window exists in batch
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (abs(merged["total_value_s"] - merged["total_value_b"]) < 1e-9).all()


def test_stream_is_streaming_flag(spark, event_json_dir):
    sdf = stream_tumbling_counts(spark, event_json_dir, EVENT_SCHEMA)
    assert sdf.isStreaming


def _batch_expected(spark, source_dir):
    return (
        spark.read.schema(EVENT_SCHEMA)
        .json(source_dir)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("wstart"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("wstart", "event_type")
        .toPandas()
    )


@pytest.mark.parametrize("trigger_kind", ["availableNow", "processingTime"])
@pytest.mark.parametrize("mode", ["append", "update", "complete"])
def test_trigger_output_mode_matrix(spark, event_json_dir, trigger_kind, mode):
    """The same tumbling pipeline through every trigger × output-mode
    cell (reference `TriggerExecutor.scala` one-time/processing-time
    executors; `OutputMode.java:43,54` Append/Complete, update added in
    2.1.1): maxFilesPerTrigger=1 forces multiple micro-batches so each
    mode's emission policy is actually exercised, and batch equivalence
    is the oracle for every cell.

    - complete: the memory table is replaced per trigger → final table
      == batch result exactly.
    - append: only watermark-finalized windows emitted, exactly once →
      emitted rows are a value-correct subset of the batch result.
    - update: changed keys re-emitted per batch → the LAST update per
      key (max n_events — counts are monotone) == the batch row."""
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(event_json_dir)
    )
    sdf = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("wstart"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    qname = f"matrix_{mode}_{trigger_kind}"
    writer = sdf.writeStream.format("memory").queryName(qname).outputMode(mode)
    if trigger_kind == "availableNow":
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(processingTime="500 milliseconds").start()
        q.processAllAvailable()
        q.stop()
    # maxFilesPerTrigger=1 over 2 files → the trigger loop really ran
    # multiple micro-batches (what distinguishes the matrix from a
    # single-batch pass).
    assert q.lastProgress["batchId"] >= 1, q.lastProgress
    got = spark.table(qname).toPandas()
    expected = _batch_expected(spark, event_json_dir)

    if mode == "complete":
        got = got.sort_values(["wstart", "event_type"]).reset_index(drop=True)
        # Same tolerance as the other branches: the stream accumulates
        # sums across micro-batches in a different order than the batch
        # pass, and FP addition is non-associative.
        assert got.drop(columns="total_value").equals(
            expected.drop(columns="total_value")
        )
        assert (abs(got["total_value"] - expected["total_value"]) < 1e-9).all()
        return
    if mode == "update":
        # Final state per key = the last (largest-count) update emitted.
        got = (
            got.sort_values("n_events")
            .groupby(["wstart", "event_type"], as_index=False)
            .last()
        )
    merged = got.merge(expected, on=["wstart", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)  # every emitted key exists in batch
    assert len(got) > 0
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (abs(merged["total_value_s"] - merged["total_value_b"]) < 1e-9).all()
    if mode == "update":
        # Update mode converges to the FULL batch answer (no windows
        # dropped — watermark only gates state eviction, not emission).
        assert len(got) == len(expected)
