"""Custom stateful streaming operator via applyInPandasWithState.

The 2.1 reference exposes stateful streaming only through built-in
windowed aggregation (StateStoreSave/Restore,
`streaming/StatefulAggregate.scala:60,98`); arbitrary keyed state
(mapGroupsWithState) landed in 2.2.  This module is the beyond-parity
modern form: a per-key running profile maintained in the state store
across micro-batches with `applyInPandasWithState` — the engine's
recommended way to build operators Spark lacks (design brief: custom
stateful operators).

Operator: per-user running event profile.  State = (n_events,
total_value, last_ts_micros); each micro-batch folds its rows into the
state and emits the updated profile row — i.e. an incrementally
maintained aggregate with access to arbitrary Python state, the shape
sessionization/CDC/feature-store operators build on.

Scale: state lives in the executor state store partitioned by user_id
(one shuffle per batch on the grouping key, same as built-in streaming
aggregation); Arrow batches cross the Python boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.streaming.drain import drain
from splitserve_spark.tables import raw_schema, sfdir_tag

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, last_ts_micros bigint"
)
STATE_SCHEMA = "n bigint, total double, last_us bigint"


def _fold_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State-fold kernel: merge this batch's rows into the running
    per-user profile and emit the updated profile."""
    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            # Resolution-independent epoch-µs: pandas 2.x may hand the
            # kernel datetime64[us] OR datetime64[ns] depending on the
            # Arrow path, so never assume the int64 unit — divide a
            # Timedelta instead.
            ts = pdf["ts"]
            tz = getattr(ts.dt, "tz", None)
            epoch = pd.Timestamp(0, tz=tz) if tz is not None else pd.Timestamp(0)
            ts_us = ((ts - epoch) // pd.Timedelta(microseconds=1)).max()
            last_us = max(last_us, int(ts_us))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "last_ts_micros": [last_us],
        }
    )


def running_user_profile(spark: SparkSession, events_stream: DataFrame) -> DataFrame:
    """events stream (user_id, ts, value) → per-user running profile,
    one emitted row per user per micro-batch that touched the user."""
    ensure_parity_conf(spark)
    return (
        events_stream
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


from pyspark.sql import functions as F  # noqa: E402

from splitserve_spark.registry import register  # noqa: E402


@register(
    "stream_stateful_profile",
    oracle="""
    SELECT user_id,
           count(*)                       AS n_events,
           round(sum(value), 4)           AS total_value,
           CAST(epoch_us(max(ts)) AS BIGINT) AS last_ts_micros
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "stateful", "custom-operator"),
)
def stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator run through the real micro-batch
    engine over the events table: each user's state folds every event,
    so the FINAL emitted profile per user equals the batch aggregate —
    which is exactly what the oracle checks.

    An update-mode memory sink APPENDS one row per user per micro-batch
    that touched the user, so under multi-batch input (several event
    files, or maxFilesPerTrigger) a user has several rows.  n_events is
    strictly increasing per user, so max_by(., n_events) deterministically
    selects the final state regardless of how the source was batched.
    Multi-batch state carry-over is covered in tests/test_custom_state.py."""
    from splitserve_spark.streaming.stateful import _events_stream

    name = "ssp_" + sfdir_tag(sf_dir)
    raw = _events_stream(spark, sf_dir).select("user_id", "ts", "value")
    drain(spark, running_user_profile(spark, raw).writeStream
          .format("memory").queryName(name).outputMode("update"))
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            # 4dp rounding on BOTH engines: the Python fold accumulates in
            # a different order than the oracle's sum → last-ULP drift.
            F.round(F.max_by("total_value", "n_events"), 4).alias("total_value"),
            F.max_by("last_ts_micros", "n_events").alias("last_ts_micros"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM: an ORDER-SENSITIVE custom stateful operator whose
# cross-batch state carry is value-checked against the batch oracle.
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = (
    "event_type string, n_events bigint, n_alarm bigint, max_cents bigint"
)
#: pt/mn/mx in integer CENTS (the corpus values are 2-decimal by
#: construction) — exact, order-free-to-represent state; n/alarms count.
CUSUM_STATE_SCHEMA = "pt bigint, mn bigint, n bigint, alarms bigint, mx bigint"

_N_SPLITS = 4


def _fold_cusum(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State-fold kernel for the one-sided upper CUSUM: continue the
    (prefix-sum, running-min, counters) state across micro-batches.
    Rows are sorted by (ts, event_id) WITHIN the batch; the source
    contract (time-split files, one per trigger) guarantees order
    ACROSS batches, so the recursion S⁺_t = max(0, S⁺_{t-1} + dev_t)
    resumes exactly where the previous batch left it."""
    import numpy as np

    from splitserve_spark.operators.analytics import (
        CUSUM_H,
        CUSUM_K,
        CUSUM_MU0,
    )

    (event_type,) = key
    pt, mn, n, alarms, mx = (
        state.get if state.exists else (0, 0, 0, 0, 0)
    )
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if len(pdf):
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        cents = np.rint(pdf["value"].to_numpy(dtype=np.float64) * 100).astype(
            np.int64
        )
        devs = cents - (CUSUM_MU0 + CUSUM_K) * 100
        pts = pt + np.cumsum(devs)
        mns = np.minimum(np.minimum.accumulate(pts), mn)
        splus = pts - mns
        n += len(pdf)
        alarms += int((splus > CUSUM_H * 100).sum())
        mx = max(mx, int(splus.max()))
        pt, mn = int(pts[-1]), int(mns[-1])
    state.update((pt, mn, n, alarms, mx))
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n_events": [n],
            "n_alarm": [alarms],
            "max_cents": [mx],
        }
    )


def _ordered_event_splits(spark: SparkSession, sf_dir: str) -> str:
    """Build the time-split file fixture: events partitioned into
    _N_SPLITS contiguous ts ranges, one parquet FILE each, mtimes
    strictly increasing — so the file stream source (which orders by
    modification time, then path) delivers them oldest-first and the
    cross-batch order contract of _fold_cusum holds.  Idempotent per
    sf_dir."""
    import glob
    import os
    import shutil
    import tempfile

    tag = sfdir_tag(sf_dir)
    out = os.path.join(
        tempfile.gettempdir(), "splitserve_spark_stream", f"cusum_{tag}"
    )
    marker = os.path.join(out, "_SPLITS_READY")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / _N_SPLITS
    cuts = [lo + span * i for i in range(1, _N_SPLITS)]
    bounds = [None, *cuts, None]
    for i in range(_N_SPLITS):
        part = ev
        if bounds[i] is not None:
            part = part.filter(F.col("ts") >= F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            part = part.filter(F.col("ts") < F.lit(bounds[i + 1]))
        staging = os.path.join(out, f"_staging_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(staging)
        (src,) = glob.glob(os.path.join(staging, "part-*.parquet"))
        dst = os.path.join(out, f"b{i}.parquet")
        shutil.move(src, dst)
        shutil.rmtree(staging)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    with open(marker, "w") as fh:
        fh.write("ok")
    return out


@register(
    "stream_cusum_stateful",
    oracle=None,  # set right below from the batch twin — single source of truth
    tags=("streaming", "stateful", "custom-operator", "drift"),
)
def stream_cusum_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE custom stateful streaming operator: the
    one-sided CUSUM of events_cusum_drift run through the real
    micro-batch engine — events arrive as _N_SPLITS time-contiguous
    files, one per trigger (maxFilesPerTrigger=1), and
    applyInPandasWithState carries (prefix sum, running min, counters)
    per event_type across batches.  The FINAL state must equal the
    batch statistic over the whole table, which is exactly what the
    shared oracle checks — value-checked evidence that arbitrary
    keyed state survives micro-batch boundaries, a strictly stronger
    claim than the commutative stream_stateful_profile fold (sums
    don't care about order; CUSUM does).

    State is integer CENTS (2-decimal corpus values), so every prefix
    sum, running min and threshold comparison is exact — the stream
    and the batch DECIMAL(18,2) plan compute literally the same
    integers.  Scale notes: state shuffles on event_type per batch
    (same as built-in streaming agg); per-key order across batches is
    the file-source contract here, kafka-partition-per-key in
    production — the standard ordering premise of every streaming
    change-point detector."""
    from splitserve_spark.streaming.stateful import _events_stream

    src_dir = _ordered_event_splits(spark, sf_dir)
    name = "scs_" + sfdir_tag(sf_dir)
    from splitserve_spark.tables import normalize_event_ts

    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*.parquet")
    ).select("event_type", "ts", "event_id", "value")
    cusum = stream.groupBy("event_type").applyInPandasWithState(
        _fold_cusum,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drain(spark, cusum.writeStream.format("memory")
          .queryName(name).outputMode("update"))
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("n_alarm", "n_events").cast("bigint").alias("n_alarm"),
            F.round(
                F.max_by("max_cents", "n_events") / 100.0, 2
            ).alias("max_cusum"),
        )
        .orderBy("event_type")
    )


# The streaming CUSUM shares the batch twin's oracle verbatim: same
# statistic, same output columns — ONE definition of correct.
import splitserve_spark.operators.analytics  # noqa: E402,F401  (registers the twin)
from splitserve_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["stream_cusum_stateful"].oracle = _REG["events_cusum_drift"].oracle
