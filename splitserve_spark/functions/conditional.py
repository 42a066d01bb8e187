"""Conditionals, null handling, casts (SURVEY.md §2.2/§2.8).

Reference: If/CaseWhen (`conditionalExpressions.scala:34,228`),
Coalesce/IfNull/NullIf/Nvl/Nvl2/IsNaN/NaNvl (`nullExpressions.scala`),
Cast (`catalyst/expressions/Cast.scala`) with pre-ANSI (Hive) semantics,
NA utilities (`DataFrameNaFunctions.scala`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


@register(
    "fn_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 400000 THEN 'high'
                WHEN o_totalprice > 200000 THEN 'mid'
                ELSE 'low' END                             AS price_band,
           CASE o_orderstatus WHEN 'F' THEN 'finished'
                              WHEN 'O' THEN 'open'
                              ELSE 'other' END             AS status_name,
           CASE WHEN o_orderstatus = 'P' THEN NULL
                ELSE o_totalprice END                      AS maybe_price
    FROM orders
    WHERE o_orderkey <= 400
    ORDER BY o_orderkey
    """,
    tags=("function", "conditional"),
)
def fn_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_orderkey") <= 400)
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 400000, "high")
            .when(F.col("o_totalprice") > 200000, "mid")
            .otherwise("low")
            .alias("price_band"),
            F.when(F.col("o_orderstatus") == "F", "finished")
            .when(F.col("o_orderstatus") == "O", "open")
            .otherwise("other")
            .alias("status_name"),
            F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("double"))
            .otherwise(F.col("o_totalprice"))
            .alias("maybe_price"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_null_handling",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS p,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_custkey END     AS c
      FROM orders WHERE o_orderkey <= 400
    )
    SELECT o_orderkey,
           coalesce(p, -1.0)                   AS p_filled,
           coalesce(c, p, 0)                   AS first_nonnull,
           p IS NULL                           AS p_is_null,
           p IS NOT NULL                       AS p_not_null,
           nullif(coalesce(p, 0), 0)           AS zero_to_null,
           ifnull(c, -9)                       AS c_filled,
           CASE WHEN c IS NOT NULL THEN 'has_c' ELSE 'no_c' END AS nvl2_like,
           isnan(coalesce(p, 'NaN'::DOUBLE))   AS p_nan_when_null
    FROM base
    ORDER BY o_orderkey
    """,
    tags=("function", "null"),
)
def fn_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / isnull / nullif / nvl / nvl2 / isnan (reference
    nullExpressions.scala:46-312)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    p = F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("double")).otherwise(
        F.col("o_totalprice")
    )
    c = F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("long")).otherwise(
        F.col("o_custkey")
    )
    base = t.orders.filter(F.col("o_orderkey") <= 400).select(
        "o_orderkey", p.alias("p"), c.alias("c")
    )
    return (
        base.select(
            "o_orderkey",
            F.coalesce("p", F.lit(-1.0)).alias("p_filled"),
            F.coalesce(F.col("c").cast("double"), F.col("p"), F.lit(0.0)).alias(
                "first_nonnull"
            ),
            F.isnull("p").alias("p_is_null"),
            F.col("p").isNotNull().alias("p_not_null"),
            F.nullif(F.coalesce("p", F.lit(0.0)), F.lit(0.0)).alias("zero_to_null"),
            F.ifnull("c", F.lit(-9)).alias("c_filled"),
            F.nvl2("c", F.lit("has_c"), F.lit("no_c")).alias("nvl2_like"),
            F.isnan(F.coalesce(F.col("p"), F.lit(float("nan")))).alias(
                "p_nan_when_null"
            ),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_casts",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR)                        AS key_str,
           CAST(CAST(o_orderkey AS SMALLINT) AS INTEGER)      AS key_i16,
           CAST(o_totalprice AS VARCHAR)                      AS price_str,
           CAST(trunc(o_totalprice) AS BIGINT)                AS price_long,
           CAST(CAST(o_orderkey % 2 AS BOOLEAN) AS INTEGER)   AS odd_flag,
           CAST('123' AS INTEGER)                             AS parsed_int,
           CAST('12.5' AS DOUBLE)                             AS parsed_dbl,
           CAST(o_orderdate AS DATE)                          AS d,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)       AS d_ts
    FROM orders
    WHERE o_orderkey <= 400
    ORDER BY o_orderkey
    """,
    tags=("function", "cast"),
)
def fn_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix (reference Cast.scala, pre-ANSI).  Spark double→string
    of a whole double renders '123456.0' — totalprice has cents so both
    engines print digits; double→bigint truncates (oracle spells trunc)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_orderkey") <= 400)
        .select(
            "o_orderkey",
            F.col("o_orderkey").cast("string").alias("key_str"),
            F.col("o_orderkey").cast("short").cast("int").alias("key_i16"),
            F.col("o_totalprice").cast("string").alias("price_str"),
            F.col("o_totalprice").cast("long").alias("price_long"),
            (F.col("o_orderkey") % 2).cast("boolean").cast("int").alias("odd_flag"),
            F.lit("123").cast("int").alias("parsed_int"),
            F.lit("12.5").cast("double").alias("parsed_dbl"),
            F.col("o_orderdate").cast("date").alias("d"),
            F.col("o_orderdate").cast("date").cast("timestamp").alias("d_ts"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_na_fill_drop",
    oracle="""
    WITH base AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END    AS bal,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT c_custkey, coalesce(bal, 0.0) AS bal, coalesce(seg, 'UNKNOWN') AS seg
    FROM base
    WHERE bal IS NOT NULL OR seg IS NOT NULL
    ORDER BY c_custkey
    """,
    tags=("function", "na"),
)
def fn_na_fill_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.na.drop(how='all') + df.na.fill per-column defaults
    (reference DataFrameNaFunctions.scala)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    base = t.customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    return (
        base.na.drop(how="all", subset=["bal", "seg"])
        .na.fill({"bal": 0.0, "seg": "UNKNOWN"})
        .orderBy("c_custkey")
    )


@register(
    "fn_na_replace",
    oracle="""
    SELECT c_custkey,
           CASE c_mktsegment
             WHEN 'BUILDING'  THEN 'CONSTRUCTION'
             WHEN 'MACHINERY' THEN 'INDUSTRIAL'
             ELSE c_mktsegment END AS seg,
           CASE WHEN c_nationkey = 0 THEN 99 ELSE c_nationkey END AS nk
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("function", "na", "replace"),
)
def fn_na_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.na.replace — value substitution per column (reference
    `python/pyspark/sql/dataframe.py:1182-1270`, DataFrameNaFunctions
    .replace): planned as a CASE WHEN projection, no shuffle."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.customer.select("c_custkey", "c_mktsegment", "c_nationkey")
        .na.replace(
            {"BUILDING": "CONSTRUCTION", "MACHINERY": "INDUSTRIAL"},
            subset=["c_mktsegment"],
        )
        .na.replace({0: 99}, subset=["c_nationkey"])
        .withColumnRenamed("c_mktsegment", "seg")
        .withColumnRenamed("c_nationkey", "nk")
        .orderBy("c_custkey")
    )
