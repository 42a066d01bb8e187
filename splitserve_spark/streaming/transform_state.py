"""Typed-state streaming operator via transformWithStateInPandas.

The 2.1 reference exposes stateful streaming only through built-in
windowed aggregation (StateStoreSave/Restore,
`streaming/StatefulAggregate.scala:60,98`); arbitrary keyed state
arrived as mapGroupsWithState in 2.2 (Scala-only) and reached Python
as `applyInPandasWithState` — the form `custom_state.py` exercises.
This module covers the CURRENT generation of that surface,
`transformWithStateInPandas` (Spark 4.x): a `StatefulProcessor` with
NAMED, TYPED state variables (ValueState / MapState / ListState,
optional TTL and timers) backed by the RocksDB state-store provider,
instead of one opaque state tuple.

Operator: per-user running profile with COMPOSITE state —
  * ValueState  (n bigint, cents bigint)  — event count + exact total
    in integer cents (2-decimal corpus values ⇒ every add is exact,
    the same no-float discipline as the streaming CUSUM);
  * MapState    (event_type → count)      — per-type counts, i.e. a
    keyed sub-aggregate INSIDE each user's state, the shape that needs
    MapState's per-entry point lookups at 100 TB (updating one entry
    does not rewrite the whole state value, unlike a ValueState blob).

Events arrive as 4 time-contiguous files, one per micro-batch
(maxFilesPerTrigger=1, the `_ordered_event_splits` fixture), so the
state provably carries across batch boundaries; the FINAL emitted row
per user must equal the batch aggregate, which the oracle checks
exactly (count, integer-cents total, distinct-type count).

Scale notes: state partitions by user_id in RocksDB on the executors
(one shuffle per batch on the grouping key, same as built-in streaming
agg); Arrow batches cross the Python boundary; per-user state is O(1)
+ O(|event types|), never O(events) — the state-tracks-keys property
the streaming scale smoke gates on.

ENV-LIMITED (not registered): transformWithState's driver worker
speaks a protobuf protocol to the JVM state server
(`pyspark/sql/streaming/proto/StateMessage_pb2.py`) and
`google.protobuf` is not installed in this environment (no pip
allowed), so starting any transformWithState query dies with
STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE before init() runs.
The operator is complete and contract-tested
(tests/test_transform_state.py importorskips google.protobuf, so the
suite activates unchanged the moment the dependency lands); the
applyInPandasWithState CUSUM (custom_state.py) carries the
registered, oracle-checked coverage of arbitrary keyed state until
then.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.streaming.drain import drain
from splitserve_spark.tables import raw_schema, sfdir_tag

TWS_OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_cents bigint, n_types bigint"
)

#: transformWithState requires the RocksDB provider (the HDFS-backed
#: default store does not implement the multi-column-family layout the
#: typed variables map onto).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


class UserProfileProcessor(StatefulProcessor):
    """Per-user profile: ValueState totals + MapState per-type counts."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState(
            "totals", "n bigint, cents bigint"
        )
        self._by_type = handle.getMapState(
            "by_type", "t string", "c bigint"
        )

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, cents = self._totals.get() if self._totals.exists() else (0, 0)
        for pdf in rows:
            n += len(pdf)
            # value is DECIMAL(x,2) upstream, cast to exact cents
            # before the boundary — integer adds only in here.
            cents += int(pdf["cents"].sum())
            for t, c in pdf["event_type"].value_counts().items():
                prev = (
                    self._by_type.getValue((t,))[0]
                    if self._by_type.containsKey((t,))
                    else 0
                )
                self._by_type.updateValue((t,), (prev + int(c),))
        self._totals.update((n, cents))
        n_types = sum(1 for _ in self._by_type.keys())
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_cents": [cents],
                "n_types": [n_types],
            }
        )

    def close(self) -> None:
        pass


#: The DuckDB oracle this operator must match once runnable (kept with
#: the operator so registration is a two-line change when protobuf
#: lands: wrap with @register and add the module to registry._MODULES).
TWS_PROFILE_ORACLE = """
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value * 100 AS BIGINT)) AS BIGINT) AS total_cents,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


def stream_tws_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas through the real micro-batch engine:
    events replay as 4 ordered time-split files (one per trigger), the
    processor folds each batch into typed RocksDB state, and the final
    per-user emission must equal the batch aggregate — count, exact
    integer-cents total (ValueState), and distinct event-type count
    (MapState cardinality).  Update mode emits one row per touched
    user per batch; the rollup keeps each user's LAST emission
    (max n_events is monotone in batches)."""
    ensure_parity_conf(spark)
    from splitserve_spark.streaming.custom_state import (
        _ordered_event_splits,
    )
    from splitserve_spark.tables import normalize_event_ts

    src_dir = _ordered_event_splits(spark, sf_dir)
    name = "stws_" + sfdir_tag(sf_dir)
    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*.parquet")
    ).select(
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    try:
        profiles = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserProfileProcessor(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="update",
            timeMode="none",
        )
        drain(spark, profiles.writeStream.format("memory")
              .queryName(name).outputMode("update"))
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prior
        )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_cents", "n_events").alias("total_cents"),
            F.max_by("n_types", "n_events").alias("n_types"),
        )
        .orderBy("user_id")
    )
