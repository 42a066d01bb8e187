"""Loaders for the driver-generated test tables (TESTDATA.md).

Tables: TPC-H-ish star schema (region nation customer supplier part
orders lineitem) + events (stream replay) + documents/embeddings
(LLM-pipeline operators).  At 100 TB these would be partitioned
warehouse tables; the loader is a thin seam so the same query code can
point at either.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Tables with FIXED cardinality (safe to broadcast-hint at any SF).
#: customer/part/supplier grow with scale factor — never hint those.
BROADCAST_DIMS = frozenset({"region", "nation"})


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP (session-TZ, µs precision)
    regardless of how the runtime surfaced the on-disk value.

    This is the single ingestion contract for event timestamps — the
    reference funnels every timestamp read through one vectorized reader
    (parquet/VectorizedParquetRecordReader.java:48); here the same role
    is played by this normalizer.  Observed representations:

    * ``bigint`` — TIMESTAMP(NANOS) parquet read as long nanos under
      ``spark.sql.legacy.parquet.nanosAsLong`` (pyspark ≤4.0).
    * ``timestamp_ntz`` — µs parquet timestamp without UTC adjustment,
      inferred as NTZ by pyspark ≥4.1 (inferTimestampNTZ).  The session
      timezone is pinned to UTC (session.PARITY_CONF), so the NTZ→LTZ
      cast is wall-clock-preserving and matches the DuckDB oracle's
      naive reading of the same file.
    * ``timestamp`` — already the contract type; pass through.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: Session-scoped cache of lazy DataFrame HANDLES, keyed weakly on the
#: SparkSession so a stopped session's entries die with it.  Every
#: `spark.read.parquet` call pays a driver-side footer/schema read
#: (~0.1 s warm) — with one `Tables` instance per query invocation,
#: a bench run repeats that ~150×.  The cached object is metadata only
#: (an unexecuted scan over immutable input files); every execution
#: still reads the parquet data itself, so this caches no results.
_DF_HANDLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _session_cache(store: weakref.WeakKeyDictionary, spark: SparkSession) -> dict:
    """`spark`'s entry dict in a session-keyed cache."""
    try:
        return store.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable (mocks)
        return {}


#: Session-scoped cache of raw parquet file schemas (before
#: normalize_event_ts), keyed like _DF_HANDLES.  A file-source stream
#: needs its schema up front; inferring it from the footers is one
#: Spark job per call.
_RAW_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The on-disk schema of table `name` under `sf_dir`, inferred once
    per session — the schema a `readStream` over that table's files
    must declare."""
    per_session = _session_cache(_RAW_SCHEMAS, spark)
    key = (sf_dir, name)
    if key not in per_session:
        per_session[key] = spark.read.parquet(
            os.path.join(sf_dir, f"{name}.parquet")
        ).schema
    return per_session[key]


class Tables:
    """Lazy per-table loader: ``Tables(spark, sf_dir).lineitem``.

    Parquet scans go through the vectorized reader with predicate
    pushdown and column pruning (verified in tests/test_plans.py).
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}; have {TABLE_NAMES}")
        per_session = _session_cache(_DF_HANDLES, self._spark)
        key = (self._sf_dir, name)
        if key not in per_session:
            df = self._spark.read.parquet(
                os.path.join(self._sf_dir, f"{name}.parquet")
            )
            if name == "events":
                df = normalize_event_ts(df)
            per_session[key] = df
        return per_session[key]

    def register_temp_views(self) -> None:
        """Expose every table as a temp view for the SQL entry point."""
        for name in TABLE_NAMES:
            getattr(self, name).createOrReplaceTempView(name)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return getattr(Tables(spark, sf_dir), name)


def sfdir_tag(sf_dir: str) -> str:
    """Filesystem/metastore-safe tag for an sf_dir path — THE shared
    sanitizer for memory-sink query names, staged stream directories
    and their sweepers.  One definition so cache creation and cache
    cleanup can never disagree on the name."""
    return "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
