"""Subqueries and CTEs through the SQL entry point (SURVEY.md §2.3/§3.1).

Reference: IN/EXISTS → semi/anti-join rewrite
(`optimizer/subquery.scala:43` RewritePredicateSubquery), correlated
scalar subqueries (`subquery.scala:107`), CTE substitution in the
analyzer.  Identical SQL runs on Spark and the DuckDB oracle — these
queries exercise parser→analyzer→optimizer end-to-end (§3.1 steps 1-7).

Scale notes: decorrelation turns each subquery into a join Catalyst can
plan (broadcast/sort-merge) — no per-row re-execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


def _sql_query(name: str, sql: str, tags: tuple[str, ...] = ("subquery", "sql")):
    """Register a query whose Spark form and oracle are the same SQL."""

    @register(name, oracle=sql, tags=tags)
    def run(spark: SparkSession, sf_dir: str, _sql: str = sql) -> DataFrame:
        Tables(spark, sf_dir).register_temp_views()
        return spark.sql(_sql)

    run.__name__ = name
    return run


_sql_query(
    "subq_scalar_uncorrelated",
    """
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer) * 1.5
    ORDER BY c_custkey
    """,
)

_sql_query(
    "subq_in",
    """
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)

_sql_query(
    "subq_not_in",
    """
    SELECT count(*) AS n
    FROM orders
    WHERE o_custkey NOT IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)

_sql_query(
    "subq_exists_correlated",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_suppkey = s_suppkey
        AND l_shipdate > TIMESTAMP '2001-06-01 00:00:00'
    )
    ORDER BY s_suppkey
    """,
)

_sql_query(
    "subq_scalar_correlated",
    """
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT avg(c2.c_acctbal) * 1.8 FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    ORDER BY c_custkey
    """,
)

_sql_query(
    "subq_cte",
    """
    WITH cust_spend AS (
      SELECT o_custkey, sum(o_totalprice) AS spend, count(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    seg_avg AS (
      SELECT c_mktsegment, avg(spend) AS avg_spend
      FROM cust_spend JOIN customer ON c_custkey = o_custkey
      GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment, count(*) AS n_above
    FROM cust_spend s
    JOIN customer c ON c.c_custkey = s.o_custkey
    JOIN seg_avg a ON a.c_mktsegment = c.c_mktsegment
    WHERE s.spend > a.avg_spend
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("subquery", "cte", "sql"),
)

_sql_query(
    "subq_in_expr_list",
    """
    SELECT count(*) AS n
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R') AND l_linenumber IN (1, 2, 3)
    """,
    tags=("subquery", "predicate", "sql"),
)
