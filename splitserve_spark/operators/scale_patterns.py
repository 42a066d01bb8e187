"""Scale-pattern operators: skew salting and bucketed co-located joins.

These are the two shuffle-management techniques the 100 TB design
leans on beyond what AQE does automatically (SURVEY.md §4.2
partitioning model; reference `catalyst/plans/physical/partitioning.scala`,
`exchange/ShuffleExchange.scala:38`):

  * **Salting** — a skewed join key (one customer owning 30% of rows)
    overwhelms a single reducer under hash partitioning.  Salting
    splits each hot key into S sub-keys: the big side appends a random
    salt in [0, S), the small side explodes S replicas, the join runs
    on (key, salt).  Results are identical to the unsalted join; only
    the partition layout changes.  (AQE skew-join split handles the
    sort-merge case adaptively; explicit salting also covers grouped
    aggregations and pre-3.0 deployments.)

  * **Bucketing** — writing both fact tables bucketed by the join key
    lets every later join/aggregation on that key run with NO exchange
    at all (the classic warehouse co-location contract; reference
    `FileFormatWriter`/`bucketBy` surface, readwriter.py:480-742).
    tests assert the bucketed join plans zero shuffle exchanges.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables, sfdir_tag

N_SALT = 8


@register(
    "join_salted_skew",
    oracle="""
    SELECT o_custkey, count(*) AS n_lines, sum(l_quantity) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_custkey % 100 = 7
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    tags=("join", "skew", "scale"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join + two-phase aggregation.

    The fact side carries a deterministic salt (orderkey % S — a real
    pipeline uses rand(), deterministic here for the oracle); the dim
    side explodes S replicas; the join and the first aggregation run on
    (key, salt) so a hot key spreads over S reducers; a second, tiny
    aggregation merges the S partials per key.  Value-identical to the
    plain join the oracle runs."""
    t = Tables(spark, sf_dir)
    orders = (
        t.orders.filter(F.col("o_custkey") % 100 == 7)
        .select("o_orderkey", "o_custkey")
        .withColumn("salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALT)])))
    )
    lineitem = t.lineitem.select("l_orderkey", "l_quantity").withColumn(
        "salt", (F.col("l_orderkey") % N_SALT).cast("int")
    )
    partial = (
        lineitem.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (lineitem["salt"] == orders["salt"]),
        )
        .groupBy("o_custkey", lineitem["salt"])
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("l_quantity").alias("pq"))
    )
    return (
        partial.groupBy("o_custkey")
        .agg(F.sum("pn").alias("n_lines"), F.sum("pq").alias("total_qty"))
        .orderBy("o_custkey")
    )


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders+lineitem bucketed by the join key (once per sf_dir
    per session catalog) and return the table names.  Bucketed layout =
    persisted hash-partitioning: any number of later joins/aggs on the
    key run shuffle-free.  Existence is checked against the session
    catalog each call (NOT a process-global flag: the catalog is
    session-scoped, so a new session in the same process must rebuild)."""
    import shutil

    from splitserve_spark.operators.wh_util import (
        proc_suffix,
        sweep_stale_locations,
    )

    # Per-process token (see catalog_ddl._tag): two JVMs on one
    # checkout must not write the same bucketed-table location.
    sweep_stale_locations(spark)
    tag = f"{sfdir_tag(sf_dir)}_{proc_suffix()}"
    t_orders, t_lineitem = f"orders_b_{tag}", f"lineitem_b_{tag}"
    t = Tables(spark, sf_dir)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    for name, src, key, cols in (
        (t_orders, t.orders, "o_orderkey",
         ("o_orderkey", "o_custkey", "o_totalprice")),
        (t_lineitem, t.lineitem, "l_orderkey",
         ("l_orderkey", "l_quantity", "l_extendedprice")),
    ):
        if not spark.catalog.tableExists(name):
            # A managed-table location can outlive the in-memory
            # catalog (fresh session, stale warehouse dir) — clear it.
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
            (
                src.select(*cols)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    return t_orders, t_lineitem


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_custkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_custkey
    HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2))) > 1000000
    ORDER BY o_custkey
    """,
    tags=("join", "bucketing", "scale"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join of two tables bucketed on the join key: the sort-merge join
    consumes the bucketed layout directly — zero shuffle exchanges on
    the join itself (asserted in tests/test_scale_patterns.py).  This is
    the contract that makes repeated fact-fact joins affordable at
    100 TB: pay the partitioning once at write time."""
    t_orders, t_lineitem = _bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .alias("raw_total")
        )
        # Threshold on the EXACT decimal sum: a double sum near the
        # 1M boundary could flip a customer's membership by one ULP.
        .filter(F.col("raw_total") > 1_000_000)
        .select(
            "o_custkey",
            F.col("raw_total").cast("double").alias("total_price"),
        )
        .orderBy("o_custkey")
    )
