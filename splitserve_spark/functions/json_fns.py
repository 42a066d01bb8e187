"""JSON functions (SURVEY.md §2.8).

Reference: GetJsonObject (`jsonExpressions.scala:119`), JsonTuple
(`:341`), JsonToStruct/from_json (`:486`), StructToJson/to_json (`:511`).

from_json parses JVM-side into a struct (no Python boundary); schema is
explicit — at 100 TB you never infer JSON schemas per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


@register(
    "fn_json_get",
    oracle="""
    SELECT event_id,
           props ->> '$.k'                         AS k_str,
           CAST(props ->> '$.k' AS INTEGER)        AS k_int,
           CAST(props ->> '$.missing' AS VARCHAR)  AS missing
    FROM events
    WHERE event_id <= 300
    ORDER BY event_id
    """,
    tags=("function", "json"),
)
def fn_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object path extraction (string result, null on missing
    path) — reference GetJsonObject."""
    t = Tables(spark, sf_dir)
    return (
        t.events.filter(F.col("event_id") <= 300)
        .select(
            "event_id",
            F.get_json_object("props", "$.k").alias("k_str"),
            F.get_json_object("props", "$.k").cast("int").alias("k_int"),
            F.get_json_object("props", "$.missing").alias("missing"),
        )
        .orderBy("event_id")
    )


@register(
    "fn_json_struct",
    oracle="""
    SELECT event_id,
           CAST(props ->> '$.k' AS INTEGER) AS parsed_k,
           to_json(struct_pack(id := event_id, typ := event_type)) AS as_json
    FROM events
    WHERE event_id <= 300
    ORDER BY event_id
    """,
    tags=("function", "json"),
)
def fn_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with explicit schema → struct field access, and
    to_json over a named struct (both engines emit compact
    {"key":value} text)."""
    t = Tables(spark, sf_dir)
    schema = StructType([StructField("k", IntegerType())])
    return (
        t.events.filter(F.col("event_id") <= 300)
        .select(
            "event_id",
            F.from_json("props", schema).getField("k").alias("parsed_k"),
            F.to_json(
                F.struct(
                    F.col("event_id").alias("id"), F.col("event_type").alias("typ")
                )
            ).alias("as_json"),
        )
        .orderBy("event_id")
    )


#: Deterministic subset selector for the CSV roundtrip (keeps output
#: bounded at any SF without sampling nondeterminism).
CSV_KEY_MOD = 97


@register(
    "fn_csv_parse",
    oracle=f"""
    WITH lines AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(l_quantity AS VARCHAR) || '|' ||
               l_returnflag AS line
        FROM lineitem
        WHERE l_orderkey % {CSV_KEY_MOD} = 1
    )
    SELECT l_orderkey, l_linenumber, line,
           CAST(split_part(line, '|', 1) AS BIGINT) AS p_orderkey,
           CAST(split_part(line, '|', 2) AS INTEGER) AS p_linenumber,
           CAST(split_part(line, '|', 3) AS DOUBLE) AS p_quantity,
           split_part(line, '|', 4) AS p_returnflag
    FROM lines
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("json", "codec"),
)
def fn_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_csv / from_csv roundtrip (ref `csvExpressions.scala`
    CsvToStructs:57, StructsToCsv:214): serialize a struct of lineitem
    columns to a delimited line, parse it back with an explicit schema,
    and surface the parsed fields as top-level columns.  Both
    directions are JVM-side (UniVocity parser) — the schema is explicit
    because at 100 TB you never infer CSV schemas per-row."""
    t = Tables(spark, sf_dir)
    opts = {"sep": "|"}
    line = F.to_csv(
        F.struct(
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.col("l_quantity"),
            F.col("l_returnflag"),
        ),
        opts,
    )
    parsed_schema = (
        "p_orderkey BIGINT, p_linenumber INT, p_quantity DOUBLE, "
        "p_returnflag STRING"
    )
    return (
        t.lineitem.filter(F.col("l_orderkey") % CSV_KEY_MOD == 1)
        .select("l_orderkey", "l_linenumber", line.alias("line"))
        .withColumn("parsed", F.from_csv(F.col("line"), parsed_schema, opts))
        .select(
            "l_orderkey",
            "l_linenumber",
            "line",
            F.col("parsed.p_orderkey").alias("p_orderkey"),
            F.col("parsed.p_linenumber").alias("p_linenumber"),
            F.col("parsed.p_quantity").alias("p_quantity"),
            F.col("parsed.p_returnflag").alias("p_returnflag"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )
