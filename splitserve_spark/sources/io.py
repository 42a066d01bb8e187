"""Sources & sinks (SURVEY.md §2.1).

Reference: ParquetFileFormat (`datasources/parquet/ParquetFileFormat.scala:51`,
vectorized reader), CSVFileFormat (`csv/CSVFileFormat.scala:41`),
JsonFileFormat (`json/JsonFileFormat.scala:43`), TextFileFormat
(`text/TextFileFormat.scala:42`), FileFormatWriter + save modes /
partitionBy (`InsertIntoHadoopFsRelationCommand.scala`, Python surface
`python/pyspark/sql/readwriter.py:480-742`).

All delegated to Spark's DataSource V2 readers/writers; this module
adds the engine's conventions (explicit schemas at ingest, partitioned
layouts for scale) and round-trip queries that prove format fidelity
against the parquet-backed oracle.  The JDBC source (reference
`jdbc/JDBCRelation.scala:103`) is exercised end-to-end against the
embedded Derby engine that ships on Spark's own classpath — same
reader/writer code path as any external RDBMS, including the
partitionColumn/lowerBound/upperBound parallel-scan contract.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables, sfdir_tag

_IO_ROOT = os.path.join(tempfile.gettempdir(), "splitserve_spark_io")


def _roundtrip_dir(sf_dir: str, fmt: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(_IO_ROOT, f"{tag}_{fmt}")


def jdbc_roundtrip_url(sf_dir: str) -> str:
    """In-memory Derby database of source_jdbc_roundtrip: it lives in
    this JVM only, so processes at the same SF never share (or lock)
    one on disk."""
    return f"jdbc:derby:memory:{sfdir_tag(sf_dir)}_rt;create=true"


def write_partitioned(
    df: DataFrame, path: str, fmt: str = "parquet", partition_by: tuple[str, ...] = ()
) -> None:
    """Partitioned overwrite write — the warehouse layout convention
    (partition columns become directory keys → partition pruning)."""
    writer = df.write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "csv"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header, explicit timestamp format) → read back with
    explicit schema → aggregate.  Matching the parquet oracle proves the
    CSV writer/parser preserved every row and type."""
    t = Tables(spark, sf_dir)
    path = _roundtrip_dir(sf_dir, "csv")
    t.orders.write.mode("overwrite").option("header", True).option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss"
    ).csv(path)
    back = (
        spark.read.option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(t.orders.schema)
        .csv(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: exact and partition-order independent, so the
            # result is bit-identical to the oracle at any SF
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "source_json_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("source", "json"),
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON-lines → read back (explicit schema) → aggregate."""
    t = Tables(spark, sf_dir)
    path = _roundtrip_dir(sf_dir, "json")
    t.events.write.mode("overwrite").json(path)
    back = spark.read.schema(t.events.schema).json(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("source", "orc"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC → read back → aggregate.  ORC ships with stock
    Spark (reference: `sql/hive/src/main/scala/org/apache/spark/sql/
    hive/orc/OrcFileFormat.scala`); matching the parquet-backed oracle
    proves the ORC writer/reader preserved rows, decimals and dates."""
    t = Tables(spark, sf_dir)
    path = _roundtrip_dir(sf_dir, "orc")
    t.lineitem.select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    ).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "source_partitioned_parquet",
    oracle="""
    SELECT l_returnflag, count(*) AS n
    FROM lineitem
    WHERE l_returnflag = 'A'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("source", "parquet", "partitioning"),
)
def source_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem written partitionBy(l_returnflag), read back filtered on
    the partition key — the filter prunes to one directory (partition
    pruning; verified plan-level in tests/test_plans.py)."""
    t = Tables(spark, sf_dir)
    path = _roundtrip_dir(sf_dir, "part_parquet")
    write_partitioned(
        t.lineitem.select("l_orderkey", "l_returnflag"),
        path,
        partition_by=("l_returnflag",),
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("l_returnflag") == "A")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag")
    )


@register(
    "source_jdbc_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("source", "jdbc"),
)
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → JDBC table (in-memory embedded Derby) → partitioned JDBC
    read back.

    Reference `datasources/jdbc/JDBCRelation.scala:103` (columnPartition:
    stride partitioning on [lowerBound, upperBound) with unbounded edge
    partitions) and `JdbcUtils.scala` write path.  Derby ships in
    Spark's own jars, so this runs the REAL JDBC reader/writer code —
    the same code path a cluster uses against Postgres/MySQL, where
    partitionColumn parallelism is what keeps a 1000-executor ingest
    from serializing through one connection.  Row-level fidelity (not
    an aggregate) is the stronger roundtrip claim for a 25-row dim."""
    t = Tables(spark, sf_dir)
    os.makedirs(_IO_ROOT, exist_ok=True)
    # Keep derby.log out of the CWD; no-op once Derby has booted.
    try:
        spark._jvm.java.lang.System.setProperty("derby.system.home", _IO_ROOT)
    except Exception:
        pass
    url = jdbc_roundtrip_url(sf_dir)
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = t.nation.select("n_nationkey", "n_name", "n_regionkey")
    src.write.jdbc(url, "nation_rt", mode="overwrite", properties=props)
    back = spark.read.jdbc(
        url,
        "nation_rt",
        column="n_nationkey",
        lowerBound=0,
        upperBound=25,
        numPartitions=4,
        properties=props,
    )
    return back.select("n_nationkey", "n_name", "n_regionkey").orderBy(
        "n_nationkey"
    )


@register(
    "source_text_lines",
    oracle="""
    SELECT count(*)  AS n_lines,
           CAST(sum(strlen(line)) AS BIGINT) AS n_chars
    FROM (SELECT n_name AS line FROM nation)
    """,
    tags=("source", "text"),
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text source: one string column `value` per line (reference
    TextFileFormat)."""
    t = Tables(spark, sf_dir)
    path = _roundtrip_dir(sf_dir, "text")
    t.nation.select(F.col("n_name").alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("n_chars"),
    )


@register(
    "source_schema_evolution",
    oracle="""
    SELECT n_regionkey AS regionkey, count(*) AS n,
           CAST(sum(CASE WHEN has_comment THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_comment
    FROM (
        SELECT n_regionkey, FALSE AS has_comment FROM nation
        UNION ALL
        SELECT n_regionkey, TRUE  AS has_comment FROM nation
    )
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    tags=("source", "parquet", "schema-evolution"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution via mergeSchema (ref
    `parquet/ParquetFileFormat.scala` mergeSchemasInParallel): two
    generations of the same table — the old files lack a column added
    later — read back as ONE table whose unified schema null-fills the
    missing column in old files.  The warehouse reality this models:
    columns get added, history is never rewritten.

    Footer-merge cost is per-FILE metadata, not data; at 100 TB you
    pay it once per query planning (or amortize with a metastore
    schema), and old row groups still prune/push down on the columns
    they have."""
    t = Tables(spark, sf_dir)
    path = _roundtrip_dir(sf_dir, "schevo")
    shutil.rmtree(path, ignore_errors=True)
    old_gen = t.nation.select("n_nationkey", "n_regionkey")
    new_gen = t.nation.select(
        "n_nationkey", "n_regionkey", F.lit("added-later").alias("n_note")
    )
    old_gen.write.mode("overwrite").parquet(os.path.join(path, "gen=0"))
    new_gen.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(path)
    return (
        merged.groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("n_note").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_with_comment"),
        )
        .orderBy("regionkey")
    )


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    tags=("source", "xml"),
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → XML (rowTag records) → read back with explicit
    schema → join nation → aggregate.  Spark 4 ships the XML source
    natively (the spark-xml package folded into core), which makes
    this the one self-describing-markup format in the §2.1 matrix —
    covered with the same row/type-preservation proof as CSV/JSON/ORC:
    the readback must reproduce the parquet oracle's exact decimal
    balances per nation.

    Scale notes: XML is a line-unsplittable format (a row spans
    multiple lines, so files are the parallelism unit) — fine for
    config-sized and export/import data, wrong for the fact tables;
    the write here range-partitions on the natural key so the read
    back fans out across files (one unsplittable file per key range,
    not one giant file)."""
    t = Tables(spark, sf_dir)
    path = _roundtrip_dir(sf_dir, "xml")
    cust = t.customer.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    cust.repartitionByRange(8, "c_custkey").write.mode(
        "overwrite"
    ).format("xml").option("rowTag", "customer").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema(cust.schema)
        .load(path)
    )
    return (
        back.join(
            t.nation, back.c_nationkey == t.nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_balance"),
        )
        .orderBy("n_name")
    )


@register(
    "source_file_metadata",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(1 AS BIGINT) AS n_files,
           true AS sizes_positive
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("source", "metadata", "hidden-columns"),
)
def source_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden `_metadata` file columns (file_path / file_name /
    file_size — the lineage surface a 100 TB pipeline uses to trace
    every row to its source object): documents written out
    PARTITIONED BY lang (repartitioned by the key first, so each lang
    lands in exactly one file), read back selecting `_metadata`, with
    the per-row lang re-derived FROM THE FILE PATH (regexp over the
    partition directory) rather than from data.  The per-lang doc
    count and exact char sum must match the base table's — proving
    path-derived lineage is row-accurate — n_files per lang is exactly
    1 by the repartition, and every file_size is positive.

    Scale notes: `_metadata` is constant-folded per file by the scan
    (no per-row cost), and the lang=... directory scheme is the same
    partition-pruning layout `source_partitioned_pruning` exercises —
    this is its observability twin."""
    t = Tables(spark, sf_dir)
    # pid-suffixed: this op's readback asserts n_files == 1 per lang,
    # which a CONCURRENT process overwriting the same path mid-read
    # would break (the reader lists both old and new part files) —
    # the multi-step write sequence needs process-private state,
    # unlike the single-shot roundtrips above.
    path = _roundtrip_dir(sf_dir, f"meta_p{os.getpid()}")
    (
        t.documents.select("doc_id", "n_chars", "lang")
        .repartition("lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        "doc_id",
        "n_chars",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.file_size").alias("fsize"),
    )
    return (
        back.select(
            F.regexp_extract("fp", r"lang=([^/]+)/", 1).alias("lang"),
            "n_chars",
            "fp",
            "fsize",
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("fp").alias("n_files"),
            (F.min("fsize") > 0).alias("sizes_positive"),
        )
        .orderBy("lang")
    )


@register(
    "sink_partition_overwrite_dynamic",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN CAST(value AS DECIMAL(18,2)) + 1000.00
                         ELSE CAST(value AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sink", "partition-overwrite", "warehouse"),
)
def sink_partition_overwrite_dynamic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the warehouse UPSERT-a-partition
    verb (`partitionOverwriteMode=dynamic`): a second write that
    carries ONLY the click partition's (corrected) rows replaces that
    partition in place and must leave every other partition's files
    untouched; STATIC mode (the default) would wipe them.  Base state:
    events partitioned by event_type; correction: click values +1000.
    The readback per-type counts and exact decimal sums prove both
    halves — the click partition was fully replaced (sums shift by
    exactly 1000·n_clicks) and no other partition lost a row.

    Scale notes: this is how 100 TB pipelines re-materialize a late
    or corrected day/source without rewriting the table; the write's
    shuffle is bounded by the corrected partition, not the table, and
    readers keep partition pruning over the unchanged layout."""
    t = Tables(spark, sf_dir)
    # pid-suffixed: base-write -> partition-overwrite is a two-step
    # sequence; a concurrent process re-running step 1 while this one
    # reads back would show half-state (same reasoning as the meta op).
    path = _roundtrip_dir(sf_dir, f"dynover_p{os.getpid()}")
    ev = t.events.select("event_id", "value", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    corrected = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 1000.0
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )
