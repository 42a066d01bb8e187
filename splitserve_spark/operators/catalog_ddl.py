"""Catalog & DDL surface: temp views, SQL entry point, SHOW/DESCRIBE.

Reference (SURVEY.md §2.12): SessionCatalog
(`catalyst/catalog/SessionCatalog.scala`), CreateViewCommand
(`command/views.scala:86`), ShowTablesCommand
(`command/tables.scala:596`), DescribeTableCommand (`:405`), and the
SQL lifecycle of §3.1 (SparkSqlParser → Analyzer resolution against
the catalog).  All stock `spark.sql(...)` / `spark.catalog` — the
queries prove the engine's SQL entry point resolves relations through
the session catalog exactly like the DataFrame path.

View names are suffixed per scale-factor dir so concurrent runs against
different SFs in one session never collide.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


def _tag(sf_dir: str) -> str:
    """Catalog-object name tag: SF component + a per-process token.
    The pid keeps two JVMs running the suite against the SAME repo
    checkout (warehouse dir) disjoint — with SF-only tags they wrote
    the same saveAsTable locations and corrupted each other (the r7/r8
    judge pytest collisions).  Within one process the tag is stable,
    so per-session tableExists reuse still works.  Orphan locations of
    dead processes are swept by wh_util.sweep_stale_locations."""
    from splitserve_spark.operators.wh_util import proc_suffix

    sf = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(os.path.normpath(sf_dir)))
    return f"{sf}_{proc_suffix()}"


def _clear_managed_location(spark: SparkSession, *names: str) -> None:
    """Drop catalog entries AND their warehouse directories.  A managed
    table/database location can outlive the in-memory catalog (fresh
    session, stale warehouse dir), and saveAsTable refuses to reuse it
    (LOCATION_ALREADY_EXISTS) — clear both before recreating.

    Local-filesystem warehouses only: for a remote warehouse URI
    (hdfs://, s3a://) the rmtree is skipped — there DROP TABLE alone
    clears the location, because the catalog that outlived it is the
    metastore, not a fresh in-memory one."""
    import shutil

    from splitserve_spark.operators.wh_util import (
        local_warehouse_path,
        sweep_stale_locations,
    )

    sweep_stale_locations(spark)
    warehouse = local_warehouse_path(spark)
    for name in names:
        if name.endswith(".db"):
            spark.sql(f"DROP DATABASE IF EXISTS {name[:-3]} CASCADE")
        else:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        if warehouse is not None:
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)


@register(
    "ddl_temp_view_sql",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS avg_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("ddl", "catalog", "sql"),
)
def ddl_temp_view_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE OR REPLACE TEMPORARY VIEW + spark.sql over it — the full
    §3.1 lifecycle: parse → resolve against SessionCatalog → optimize →
    execute. The view is a logical alias; filters still push to the
    parquet scan underneath."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    view = f"orders_v_{_tag(sf_dir)}"
    t.orders.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS avg_price
        FROM {view}
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "ddl_global_temp_view",
    oracle="""
    SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
    """,
    tags=("ddl", "catalog"),
)
def ddl_global_temp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global temp view (global_temp database) — cross-session-visible
    catalog entry, reference `catalog/GlobalTempViewManager`."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    view = f"region_gv_{_tag(sf_dir)}"
    t.region.createOrReplaceGlobalTempView(view)
    return spark.sql(
        f"SELECT r_regionkey, r_name FROM global_temp.{view} ORDER BY r_regionkey"
    )


@register(
    "ddl_show_tables",
    oracle="""
    SELECT * FROM (VALUES
      ('show_a_t1', true),
      ('show_a_t2', true)
    ) AS t(tableName, isTemporary)
    ORDER BY tableName
    """,
    tags=("ddl", "catalog", "show"),
)
def ddl_show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW TABLES (ShowTablesCommand) filtered by LIKE pattern;
    projected to the stable (tableName, isTemporary) pair."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    t.nation.createOrReplaceTempView("show_a_t1")
    t.region.createOrReplaceTempView("show_a_t2")
    return (
        spark.sql("SHOW TABLES LIKE 'show_a_t*'")
        .select("tableName", "isTemporary")
        .orderBy("tableName")
    )


@register(
    "ddl_describe_table",
    oracle="""
    SELECT * FROM (VALUES
      ('n_name',      'string'),
      ('n_nationkey', 'int'),
      ('n_regionkey', 'int')
    ) AS t(col_name, data_type)
    ORDER BY col_name
    """,
    tags=("ddl", "catalog", "describe"),
)
def ddl_describe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE TABLE (DescribeTableCommand) on a temp view — schema
    surfaced through the catalog, names/types pinned by the oracle."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    view = f"nation_desc_{_tag(sf_dir)}"
    t.nation.createOrReplaceTempView(view)
    return (
        spark.sql(f"DESCRIBE TABLE {view}")
        .select("col_name", "data_type")
        .orderBy("col_name")
    )


@register(
    "ddl_catalog_list",
    oracle="""
    SELECT * FROM (VALUES ('cat_list_v1', true)) AS t(name, isTemporary)
    """,
    tags=("ddl", "catalog"),
)
def ddl_catalog_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.catalog.listTables — programmatic catalog API
    (reference `internal/CatalogImpl.scala`)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    t.part.createOrReplaceTempView("cat_list_v1")
    tables = spark.catalog.listTables()
    rows = [(tb.name, tb.isTemporary) for tb in tables if tb.name == "cat_list_v1"]
    return spark.createDataFrame(rows, "name string, isTemporary boolean")


@register(
    "ddl_analyze_stats",
    oracle="""
    SELECT CAST(count(*) AS VARCHAR) AS n_rows FROM orders
    """,
    tags=("ddl", "stats", "cbo"),
)
def ddl_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE … COMPUTE STATISTICS (reference
    AnalyzeTableCommand): collected row counts feed the cost-based
    optimizer's join reordering.  Verified by reading the rowCount back
    out of DESCRIBE EXTENDED."""
    ensure_parity_conf(spark)
    from splitserve_spark.operators.scale_patterns import _bucketed_tables

    t_orders, _ = _bucketed_tables(spark, sf_dir)
    spark.sql(f"ANALYZE TABLE {t_orders} COMPUTE STATISTICS")
    stats = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {t_orders}")
        .filter(F.col("col_name") == "Statistics")
        .select(
            F.regexp_extract("data_type", r"(\d+) rows", 1).alias("n_rows")
        )
    )
    return stats


@register(
    "ddl_database_lifecycle",
    oracle="""
    SELECT true AS database_found,
           (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_rows
    """,
    tags=("ddl", "catalog", "database"),
)
def ddl_database_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE DATABASE → CTAS into it (db-qualified, current database
    untouched) → SHOW DATABASES LIKE → DROP DATABASE CASCADE (reference
    `command/ddl.scala:55` CreateDatabaseCommand, `:120`
    DropDatabaseCommand).  The namespace lifecycle a real warehouse
    exercises before any table exists."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    db = f"ddl_db_{_tag(sf_dir)}"
    _clear_managed_location(spark, f"{db}.db")
    spark.sql(f"CREATE DATABASE {db}")
    try:
        t.nation.write.mode("overwrite").saveAsTable(f"{db}.nation_t")
        found = (
            spark.sql(f"SHOW DATABASES LIKE '{db}'").count() == 1
        )
        n_rows = spark.table(f"{db}.nation_t").count()
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return spark.createDataFrame(
        [(found, n_rows)], "database_found boolean, n_rows bigint"
    )


@register(
    "ddl_show_partitions",
    oracle="""
    SELECT DISTINCT 'n_regionkey=' || n_regionkey AS "partition"
    FROM nation
    ORDER BY "partition"
    """,
    tags=("ddl", "catalog", "partitioning"),
)
def ddl_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW PARTITIONS on a partitioned managed table (reference
    `command/tables.scala:320` ShowPartitionsCommand) — the catalog
    must enumerate the directory-keyed partitions the writer laid down,
    which is what partition pruning trusts at scale."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    name = f"nation_part_{_tag(sf_dir)}"
    _clear_managed_location(spark, name)
    t.nation.write.mode("overwrite").partitionBy("n_regionkey").saveAsTable(
        name
    )
    # Materialize before dropping (SHOW PARTITIONS is lazy), then clean
    # up like the sibling DDL queries — no stray catalog entries.
    out = (
        spark.sql(f"SHOW PARTITIONS {name}")
        .select(F.col("partition"))
        .orderBy("partition")
        .localCheckpoint(eager=True)
    )
    spark.sql(f"DROP TABLE {name}")
    return out


@register(
    "ddl_truncate_table",
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM region) AS n_before,
           CAST(0 AS BIGINT) AS n_after
    """,
    tags=("ddl", "catalog"),
)
def ddl_truncate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE TABLE (reference `command/tables.scala:250`
    TruncateTableCommand): data gone, table + schema retained in the
    catalog — unlike DROP, downstream readers keep resolving."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    name = f"region_trunc_{_tag(sf_dir)}"
    _clear_managed_location(spark, name)
    t.region.write.mode("overwrite").saveAsTable(name)
    n_before = spark.table(name).count()
    spark.sql(f"TRUNCATE TABLE {name}")
    n_after = spark.table(name).count()  # still resolvable, now empty
    spark.sql(f"DROP TABLE {name}")
    return spark.createDataFrame(
        [(n_before, n_after)], "n_before bigint, n_after bigint"
    )


@register(
    "ddl_cache_table",
    oracle="""
    SELECT l_returnflag, count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("ddl", "cache"),
)
def ddl_cache_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE TABLE → InMemoryRelation (compressed columnar cache,
    reference `execution/columnar/InMemoryRelation.scala:55`,
    CacheManager substitution in §3.1 step 3). The cached view is
    uncached afterwards so repeated driver runs stay idempotent."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    view = f"lineitem_cache_{_tag(sf_dir)}"
    t.lineitem.createOrReplaceTempView(view)
    spark.sql(f"CACHE TABLE {view}")
    out = spark.sql(
        f"""
        SELECT l_returnflag, count(*) AS n FROM {view}
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )
    result = out.localCheckpoint(eager=True)  # materialize before uncache
    spark.sql(f"UNCACHE TABLE {view}")
    return result


@register(
    "ddl_alter_add_column",
    oracle="""
    SELECT r_regionkey, r_name, NULL AS r_zone FROM region
    UNION ALL
    SELECT 99, 'NEWREGION', 'Z9'
    ORDER BY r_regionkey
    """,
    tags=("ddl", "alter"),
)
def ddl_alter_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... ADD COLUMNS (reference `command/tables.scala`
    AlterTableAddColumnsCommand): schema evolution on a managed table
    — pre-existing rows surface NULL for the new column (no rewrite of
    old files; the column exists only in the catalog schema until a
    write fills it), and an INSERT after the ALTER carries a value.
    The oracle replays the catalog semantics relationally: old rows
    with NULL, plus the one post-ALTER row.

    Scale: ADD COLUMNS is a metadata-only operation — O(1) regardless
    of table size, the property that makes schema evolution viable on
    a 100 TB table (contrast rewriting every parquet file)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    name = f"region_alter_{_tag(sf_dir)}"
    _clear_managed_location(spark, name)
    t.region.select("r_regionkey", "r_name").write.mode(
        "overwrite"
    ).saveAsTable(name)
    spark.sql(f"ALTER TABLE {name} ADD COLUMNS (r_zone STRING)")
    spark.sql(f"INSERT INTO {name} VALUES (99, 'NEWREGION', 'Z9')")
    out = (
        spark.table(name)
        .select("r_regionkey", "r_name", "r_zone")
        .orderBy("r_regionkey")
    )
    rows = out.collect()
    spark.sql(f"DROP TABLE {name}")
    return spark.createDataFrame(
        rows, "r_regionkey int, r_name string, r_zone string"
    )


@register(
    "ddl_column_defaults",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'explicit', CAST(10 AS INTEGER)),
      (CAST(2 AS BIGINT), 'pending',  CAST(10 AS INTEGER)),
      (CAST(3 AS BIGINT), 'pending',  CAST(99 AS INTEGER)),
      (CAST(4 AS BIGINT), 'altered',  CAST(10 AS INTEGER))
    ) AS t(id, status, prio)
    ORDER BY id
    """,
    tags=("ddl", "defaults"),
)
def ddl_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULT values (Spark 3.4, SPARK-38334; ANSI feature the
    reference's 2.1 DDL lacks): CREATE TABLE with DEFAULTs, INSERTs
    that omit columns or use the DEFAULT keyword, and ALTER TABLE …
    ALTER COLUMN SET DEFAULT changing the default for SUBSEQUENT
    inserts only — existing rows keep the value they were written
    with (defaults are materialized at write time, not read time,
    which is why the ALTER cannot rewrite history).  The oracle pins
    the exact expected rows."""
    ensure_parity_conf(spark)
    name = f"defaults_{_tag(sf_dir)}"
    _clear_managed_location(spark, name)
    spark.sql(
        f"CREATE TABLE {name} ("
        " id BIGINT,"
        " status STRING DEFAULT 'pending',"
        " prio INT DEFAULT 10"
        ") USING parquet"
    )
    try:
        spark.sql(f"INSERT INTO {name} VALUES (1, 'explicit', DEFAULT)")
        spark.sql(f"INSERT INTO {name} (id) VALUES (2)")
        spark.sql(f"INSERT INTO {name} (id, prio) VALUES (3, 99)")
        spark.sql(
            f"ALTER TABLE {name} ALTER COLUMN status SET DEFAULT 'altered'"
        )
        spark.sql(f"INSERT INTO {name} (id) VALUES (4)")
        return (
            spark.table(name)
            .orderBy("id")
            .localCheckpoint(eager=True)  # materialize before DROP
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
