from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from splitserve_spark.streaming.custom_state import running_user_profile

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


@pytest.fixture()
def src_dir():
    d = tempfile.mkdtemp(prefix="ss_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(d, i, rows):
    with open(f"{d}/batch{i}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_state_folds_across_micro_batches(spark, src_dir):
    """The per-user profile must accumulate across micro-batches via the
    state store (restart with shared checkpoint between batches)."""
    chk = tempfile.mkdtemp(prefix="ss_state_chk_")
    emitted: list[tuple] = []

    def collect(batch_df, _):
        emitted.extend(
            (r["user_id"], r["n_events"], r["total_value"], r["last_ts_micros"])
            for r in batch_df.collect()
        )

    batches = [
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:01Z", "user_id": 1, "value": 2.0},
            {"event_id": 2, "ts": "2024-01-01T00:00:02Z", "user_id": 1, "value": 3.0},
            {"event_id": 3, "ts": "2024-01-01T00:00:03Z", "user_id": 2, "value": 5.0},
        ],
        [
            {"event_id": 4, "ts": "2024-01-01T00:00:10Z", "user_id": 1, "value": 10.0},
        ],
    ]
    for i, rows in enumerate(batches):
        _write_batch(src_dir, i, rows)
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src_dir)
            .select("user_id", "ts", "value")
        )
        q = (
            running_user_profile(spark, stream)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(chk, ignore_errors=True)

    by_batch_user = {(e[0], e[1]): e for e in emitted}
    # batch 0: user 1 folded 2 events, user 2 one event
    assert by_batch_user[(1, 2)][2] == pytest.approx(5.0)
    assert by_batch_user[(2, 1)][2] == pytest.approx(5.0)
    # batch 1: user 1's state carried over (2 prior events + 1 new)
    assert by_batch_user[(1, 3)][2] == pytest.approx(15.0)
    ts_us = by_batch_user[(1, 3)][3]
    assert ts_us == 1704067210_000_000  # 2024-01-01T00:00:10Z in micros


def test_state_operator_is_streaming_only(spark):
    """applyInPandasWithState is a streaming-only operator — the batch
    path must reject it (mirrors UnsupportedOperationChecker)."""
    batch_df = spark.createDataFrame(
        [(1, 1.0)], "user_id long, value double"
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    from splitserve_spark.streaming.custom_state import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _fold_profile,
    )

    with pytest.raises(Exception):
        batch_df.groupBy("user_id").applyInPandasWithState(
            _fold_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ).collect()


def test_cusum_stream_really_crosses_batch_boundaries(spark):
    """The streaming CUSUM's correctness claim is that ORDER-SENSITIVE
    state survives micro-batch boundaries — so the run must actually
    have had multiple batches: the update-mode memory sink appends one
    row per (event_type, batch) that touched the type, and every type
    appears in every time-split file, so each type must have one row
    per split with strictly increasing n_events."""
    from splitserve_spark.registry import REGISTRY, load_all
    from splitserve_spark.streaming.custom_state import _N_SPLITS
    from splitserve_spark.tables import sfdir_tag
    from tests.oracle_utils import SF_DIR

    load_all()
    REGISTRY["stream_cusum_stateful"].fn(spark, SF_DIR).count()
    sink = spark.table("scs_" + sfdir_tag(SF_DIR)).toPandas()
    per_type = sink.groupby("event_type")["n_events"]
    assert (per_type.count() == _N_SPLITS).all(), sink
    assert (
        sink.sort_values(["event_type", "n_events"])
        .groupby("event_type")["n_events"]
        .is_monotonic_increasing.all()
    )
