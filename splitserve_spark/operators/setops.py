"""Set operations (SURVEY.md §2.7).

Reference: Union (`basicLogicalOperators.scala:193`), Intersect→left-semi
rewrite (`Optimizer.scala:1110`), Except→left-anti (`Optimizer.scala:1131`).
UNION ALL is a zero-shuffle concatenation of child partitions; the
distinct variants cost one dedup shuffle — keep ALL unless semantics
require otherwise at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


def _high(t):
    return t.orders.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", "o_orderstatus"
    )


def _finished(t):
    return t.orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus"
    )


_HIGH_SQL = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 300000"
_FIN_SQL = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'"


@register(
    "setop_union_all",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus FROM (
      ({_HIGH_SQL}) UNION ALL ({_FIN_SQL})
    ) ORDER BY o_orderkey, o_orderstatus
    """,
    tags=("setop",),
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return _high(t).union(_finished(t)).orderBy("o_orderkey", "o_orderstatus")


@register(
    "setop_union_distinct",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus FROM (
      ({_HIGH_SQL}) UNION ({_FIN_SQL})
    ) ORDER BY o_orderkey, o_orderstatus
    """,
    tags=("setop",),
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        _high(t).union(_finished(t)).distinct().orderBy("o_orderkey", "o_orderstatus")
    )


@register(
    "setop_intersect",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus FROM (
      ({_HIGH_SQL}) INTERSECT ({_FIN_SQL})
    ) ORDER BY o_orderkey
    """,
    tags=("setop",),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT → left-semi join + dedup under the hood."""
    t = Tables(spark, sf_dir)
    return _high(t).intersect(_finished(t)).orderBy("o_orderkey")


@register(
    "setop_except",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus FROM (
      ({_HIGH_SQL}) EXCEPT ({_FIN_SQL})
    ) ORDER BY o_orderkey
    """,
    tags=("setop",),
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT → left-anti join + dedup."""
    t = Tables(spark, sf_dir)
    return _high(t).subtract(_finished(t)).orderBy("o_orderkey")


@register(
    "setop_intersect_all",
    oracle="""
    SELECT l_orderkey FROM (
      (SELECT l_orderkey FROM lineitem WHERE l_quantity > 40)
      INTERSECT ALL
      (SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05)
    ) ORDER BY l_orderkey
    """,
    tags=("setop", "multiset"),
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics (min of multiplicities)."""
    t = Tables(spark, sf_dir)
    a = t.lineitem.filter(F.col("l_quantity") > 40).select("l_orderkey")
    b = t.lineitem.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return a.intersectAll(b).orderBy("l_orderkey")


@register(
    "setop_except_all",
    oracle="""
    SELECT l_orderkey FROM (
      (SELECT l_orderkey FROM lineitem WHERE l_quantity > 40)
      EXCEPT ALL
      (SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05)
    ) ORDER BY l_orderkey
    """,
    tags=("setop", "multiset"),
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics (multiplicity subtraction)."""
    t = Tables(spark, sf_dir)
    a = t.lineitem.filter(F.col("l_quantity") > 40).select("l_orderkey")
    b = t.lineitem.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return a.exceptAll(b).orderBy("l_orderkey")


@register(
    "setop_union_by_name",
    oracle="""
    SELECT k, v FROM (
      SELECT c_custkey AS k, c_acctbal AS v FROM customer WHERE c_custkey <= 10
      UNION ALL
      SELECT s_suppkey AS k, s_acctbal AS v FROM supplier
    ) ORDER BY k, v
    """,
    tags=("setop",),
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName — column-name (not positional) union resolution."""
    t = Tables(spark, sf_dir)
    a = t.customer.filter(F.col("c_custkey") <= 10).select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("v")
    )
    # Deliberately reversed projection order: unionByName must realign.
    b = t.supplier.select(F.col("s_acctbal").alias("v"), F.col("s_suppkey").alias("k"))
    return a.unionByName(b).orderBy("k", "v")
