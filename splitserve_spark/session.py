"""SparkSession factory with reference-parity configs.

The reference is a Spark 2.1.0 fork (SURVEY.md §0) — pre-ANSI SQL
semantics, session-local timezone arithmetic.  Modern Spark 4 defaults
ANSI mode ON, so parity requires flipping it off; everything else the
reference's optimizer/execution layer does (predicate pushdown, codegen,
Tungsten, adaptive shuffle coalescing — SURVEY.md §4) is native to
modern Spark and is simply enabled here.

Scale posture: these configs are chosen for a real cluster — AQE for
runtime re-planning and skew-join handling, partition coalescing so
small stages don't produce thousands of empty tasks, and a broadcast
threshold that keeps dimension-table joins shuffle-free.  On local[N]
the same settings exercise the identical plans.  Streaming queries
plan their state stores at slot-sized shuffle partitions whatever this
session's batch value is: ``streaming/drain.py`` owns that, with the
rest of how a stream is run to completion.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Semantic confs every query assumes.  Applied at session build time
#: and by the registry before every registered query (the verification
#: driver hands us *its* session, which may carry Spark 4 defaults like
#: ANSI mode).  Only correctness-semantics belong here — never tuning
#: knobs, which users and tests must be able to override per-session.
PARITY_CONF = {
    # Reference = Spark 2.1 (pre-ANSI): silent overflow, permissive casts.
    "spark.sql.ansi.enabled": "false",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every Python<->JVM batch boundary (pandas_udf, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # pyspark ≤4.0: TIMESTAMP(NANOS) parquet reads as long nanos under
    # this flag; pyspark ≥4.1 accepts-but-ignores it and yields
    # TIMESTAMP_NTZ instead.  Either way tables.normalize_event_ts is
    # the single seam that maps events.ts to TIMESTAMP (UTC, µs) — do
    # not add per-consumer ts handling anywhere else.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Performance defaults for sessions this engine builds itself.
TUNING_CONF = {
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/part/supplier at any SF
    # that fits) should broadcast rather than shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # PySpark 4.1 captures every F.* / Column call's Python call site
    # for error messages: per call a getActiveSession, a conf read and
    # a PySparkCurrentOrigin set + clear over py4j, plus a stack walk.
    # Off, Q16's plan build makes 155 py4j round trips instead of 439.
    # All it adds is call-site text in error messages, which nothing here reads.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def ensure_parity_conf(spark: SparkSession) -> SparkSession:
    """Apply the parity confs to an existing session and verify them.

    Callers: ``registry.register``'s wrapper (before every registered
    query), ``get_session`` (so ``bench.py``, ``perfbench/run.py``,
    ``tools/sweep.py``, ``tools/scale_smoke.py`` and the tests' ``spark``
    fixture read tables under parity), ``sql_entry.sql``, and the
    unregistered public builders tests call directly
    (``asof_join_merge_asof``, ``running_user_profile``,
    ``stream_tumbling_counts``, ``stream_tws_profile``).  Each key is
    read first and set only when it differs, so a session that already
    carries them costs one driver-side read per key and never touches
    executors.  A conf that cannot be set, or does not read back as
    set, raises with its key — a silently unset ANSI or timezone conf
    gives wrong answers, not slow ones.
    """
    conf = spark.conf
    for key, value in PARITY_CONF.items():
        if conf.get(key, None) == value:
            continue
        try:
            conf.set(key, value)
        except Exception as ex:
            raise RuntimeError(
                f"cannot set parity conf {key}={value}: {ex}") from ex
        actual = conf.get(key, None)
        if actual != value:
            raise RuntimeError(
                f"parity conf {key} reads back {actual!r}, not {value!r}")
    return spark


def get_session(
    app_name: str = "splitserve-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    On a real cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be ~2-3x total executor cores (AQE
    coalesces down from there).  Locally we default to the CPU count in
    $SPARK_GRAFT_CPUS.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for key, value in {**PARITY_CONF, **TUNING_CONF}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return ensure_parity_conf(spark)

