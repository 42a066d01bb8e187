"""SQL entry point: run ANSI SQL against the engine's tables.

The reference's primary surface is `spark.sql(...)` over catalog
tables (SURVEY.md §3.1 — parse → analyze → optimize → plan → execute,
all Catalyst).  This module provides the engine's equivalent: register
the TESTDATA tables as temp views once per (session, sf_dir) and hand
the string to Spark SQL.  A reference user's SQL runs verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


def sql(spark: SparkSession, query: str, sf_dir: str) -> DataFrame:
    """Execute `query` with the sf_dir tables visible under their
    canonical names (region, nation, …, embeddings).

    Views are (re-)registered on every call: the names are
    session-global, so a skip-if-seen cache would leave them pointing
    at a previously used sf_dir (and id(spark) keys are reusable after
    GC).  createOrReplaceTempView is a catalog-only operation — a few
    ms, no data movement."""
    ensure_parity_conf(spark)
    Tables(spark, sf_dir).register_temp_views()
    return spark.sql(query)
