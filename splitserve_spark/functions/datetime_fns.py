"""Datetime function surface (SURVEY.md §2.8, registry lines :321-350).

Reference impls: `catalyst/expressions/datetimeExpressions.scala`
(DateAdd:113 DateSub:146 Hour:175 Minute:198 Second:221 DayOfYear:244
Year:267 Quarter:290 Month:313 DayOfMonth:336 WeekOfYear:359
DateFormatClass:404 UnixTimestamp:468 LastDay:688 AddMonths:904
MonthsBetween:940 ToDate:1032 TruncDate:1063 DateDiff:1142).

Session timezone pinned to UTC (ensure_parity_conf) so extraction
functions agree with the (timezone-naive) DuckDB oracle.
Dialect notes: DuckDB dayofweek is 0=Sunday while Spark's is 1=Sunday;
DuckDB datediff takes (unit, start, end) vs Spark's (end, start).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


@register(
    "fn_datetime_extract",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)              AS y,
           CAST(quarter(o_orderdate) AS INTEGER)           AS q,
           CAST(month(o_orderdate) AS INTEGER)             AS mo,
           CAST(day(o_orderdate) AS INTEGER)               AS d,
           CAST(dayofyear(o_orderdate) AS INTEGER)         AS doy,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER)     AS dow,
           CAST(weekofyear(o_orderdate) AS INTEGER)        AS woy,
           CAST(hour(o_orderdate) AS INTEGER)              AS h,
           CAST(minute(o_orderdate) AS INTEGER)            AS mi,
           CAST(second(o_orderdate) AS INTEGER)            AS s
    FROM orders
    WHERE o_orderkey <= 300
    ORDER BY o_orderkey
    """,
    tags=("function", "datetime"),
)
def fn_datetime_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field extraction; oracle shifts DuckDB's 0-based dayofweek to
    Spark's 1=Sunday convention."""
    t = Tables(spark, sf_dir)
    d = F.col("o_orderdate")
    return (
        t.orders.filter(F.col("o_orderkey") <= 300)
        .select(
            "o_orderkey",
            F.year(d).alias("y"),
            F.quarter(d).alias("q"),
            F.month(d).alias("mo"),
            F.dayofmonth(d).alias("d"),
            F.dayofyear(d).alias("doy"),
            F.dayofweek(d).alias("dow"),
            F.weekofyear(d).alias("woy"),
            F.hour(d).alias("h"),
            F.minute(d).alias("mi"),
            F.second(d).alias("s"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_datetime_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE)     AS plus30,
           CAST(o_orderdate - INTERVAL 7 DAY AS DATE)      AS minus7,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)    AS plus3mo,
           last_day(CAST(o_orderdate AS DATE))             AS month_end,
           date_trunc('month', o_orderdate)                AS mstart,
           date_trunc('week', o_orderdate)                 AS wstart,
           CAST(datediff('day', o_orderdate,
                TIMESTAMP '2002-01-01 00:00:00') AS INTEGER) AS days_to_2002
    FROM orders
    WHERE o_orderkey <= 300
    ORDER BY o_orderkey
    """,
    tags=("function", "datetime"),
)
def fn_datetime_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_add/date_sub/add_months/last_day/date_trunc/datediff.
    Spark's add_months and DuckDB's +INTERVAL MONTH share end-of-month
    clamping; datediff argument order differs (end,start vs unit,start,end)."""
    t = Tables(spark, sf_dir)
    d = F.col("o_orderdate")
    return (
        t.orders.filter(F.col("o_orderkey") <= 300)
        .select(
            "o_orderkey",
            F.date_add(d, 30).alias("plus30"),
            F.date_sub(d, 7).alias("minus7"),
            F.add_months(d, 3).alias("plus3mo"),
            F.last_day(d).alias("month_end"),
            F.date_trunc("month", d).alias("mstart"),
            F.date_trunc("week", d).alias("wstart"),
            F.datediff(F.lit("2002-01-01").cast("timestamp"), d).alias("days_to_2002"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_datetime_format",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d')            AS iso_day,
           strftime(o_orderdate, '%Y/%m')               AS ym,
           CAST(epoch(o_orderdate) AS BIGINT)           AS unix_sec,
           CAST(o_orderdate AS DATE)                    AS as_date,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR)   AS date_str,
           make_date(2024, CAST(month(o_orderdate) AS INTEGER), 1) AS month_2024
    FROM orders
    WHERE o_orderkey <= 300
    ORDER BY o_orderkey
    """,
    tags=("function", "datetime", "format"),
)
def fn_datetime_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_format (Spark pattern letters ↔ strftime in the oracle),
    unix_timestamp/epoch, to_date, make_date."""
    t = Tables(spark, sf_dir)
    d = F.col("o_orderdate")
    return (
        t.orders.filter(F.col("o_orderkey") <= 300)
        .select(
            "o_orderkey",
            F.date_format(d, "yyyy-MM-dd").alias("iso_day"),
            F.date_format(d, "yyyy/MM").alias("ym"),
            F.unix_timestamp(d).alias("unix_sec"),
            F.to_date(d).alias("as_date"),
            F.to_date(d).cast("string").alias("date_str"),
            F.make_date(F.lit(2024), F.month(d), F.lit(1)).alias("month_2024"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_datetime_events",
    oracle="""
    SELECT event_id,
           date_trunc('hour', ts)                       AS hour_bucket,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS unix_sec,
           CAST(epoch_ms(ts) % 1000 AS BIGINT)          AS ms
    FROM events
    WHERE event_id <= 200
    ORDER BY event_id
    """,
    tags=("function", "datetime", "events"),
)
def fn_datetime_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-second timestamp handling on the events table (µs precision
    preserved through the nanos→micros load conversion in tables.py)."""
    t = Tables(spark, sf_dir)
    return (
        t.events.filter(F.col("event_id") <= 200)
        .select(
            "event_id",
            F.date_trunc("hour", "ts").alias("hour_bucket"),
            F.unix_timestamp(F.date_trunc("second", "ts")).alias("unix_sec"),
            (F.expr("unix_micros(ts) div 1000") % 1000).alias("ms"),
        )
        .orderBy("event_id")
    )
