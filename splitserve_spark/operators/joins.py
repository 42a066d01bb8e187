"""Join operators — every join shape the reference plans (SURVEY.md §2.3).

Reference physical forms: BroadcastHashJoinExec
(`execution/joins/BroadcastHashJoinExec.scala:38`), SortMergeJoinExec
(`joins/SortMergeJoinExec.scala:35`), ShuffledHashJoinExec
(`joins/ShuffledHashJoinExec.scala:32`), BroadcastNestedLoopJoinExec
(`joins/BroadcastNestedLoopJoinExec.scala:32`), CartesianProductExec
(`joins/CartesianProductExec.scala:85`); semi/anti from subquery rewrite
(`optimizer/subquery.scala:43`).

Scale strategy: explicit `F.broadcast` hints only on fixed-size
tables (region/nation) and on physical-form demo queries; customer/
part/supplier scale with SF, so their joins rely on
autoBroadcastJoinThreshold + AQE to broadcast exactly when the
filtered side is small.  Fact-fact joins (lineitem⋈orders) are left
to Catalyst → sort-merge with AQE skew splitting.  tests/
test_plans.py asserts the physical operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark import sql_entry
from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l_orderkey,
      CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '2000-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "aggregate", "tpch"),
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dimension filter → two equi-joins → agg → top-k.

    customer (filtered on mktsegment) broadcasts into orders; the
    orders⋈lineitem join shuffles on orderkey (sort-merge at scale).
    Top-k via TakeOrderedAndProject — no global sort."""
    t = Tables(spark, sf_dir)
    cutoff = F.lit("2000-03-15").cast("timestamp")
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        t.lineitem.filter(F.col("l_shipdate") > cutoff)
        .join(
            t.orders.filter(F.col("o_orderdate") < cutoff)
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        # Lossless decimal sum: exact and associative — bit-identical
        # at any partition count (vs round-4 absorbing MOST ULP drift).
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "aggregate", "tpch"),
    bench=True,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-table star join.  nation/region broadcast by hint;
    customer and the supplier-side dims broadcast by planner size check
    at test SF (at 100 TB they would shuffle — correctly)."""
    t = Tables(spark, sf_dir)
    dims = (
        t.supplier
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    # Pre-prune customer to ASIA nations: the final join requires
    # c_nationkey = s_nationkey with s restricted to ASIA, but Catalyst
    # does not propagate value-set constraints through a later join
    # condition, so without this the customer ⋈ orders join carries
    # every region's customers (~5x the rows) only to drop them at the
    # dims join.  Broadcast semi on the tiny nation slice; result
    # unchanged by the inner-join equality.
    asia_customers = t.customer.select("c_custkey", "c_nationkey").join(
        F.broadcast(
            t.nation.join(
                F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select("n_nationkey")
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        t.lineitem
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(asia_customers,
              F.col("o_custkey") == F.col("c_custkey"))
        .join(
            dims,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "join_sort_merge_fact_fact",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_lines,
           sum(l_quantity) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("join", "aggregate"),
    bench=True,
)
def join_sort_merge_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join: at 100 TB both sides exceed any broadcast
    threshold → sort-merge on l_orderkey/o_orderkey with AQE handling
    skew.  No hint given: Catalyst must pick correctly by size."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.select("l_orderkey", "l_quantity")
        .join(t.orders.select("o_orderkey", "o_orderstatus"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_lines"), F.sum("l_quantity").alias("total_qty"))
        .orderBy("o_orderstatus")
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS order_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY c_custkey
    """,
    tags=("join", "outer"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER preserving customers with zero orders (count(col)
    skips the null-extended rows, matching SQL semantics)."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("order_count"))
        .orderBy("c_custkey")
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT o_orderkey, c_name
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey <= 50
    ORDER BY c_name, o_orderkey
    """,
    tags=("join", "outer"),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"), "right")
        .filter(F.col("c_custkey") <= 50)
        .select("o_orderkey", "c_name")
        .orderBy("c_name", "o_orderkey")
    )


@register(
    "join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust AS n_cust, s.n_supp AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
    tags=("join", "outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (aggregate-then-join
    keeps the shuffled data minimal — a 100 TB-safe pattern vs
    join-then-aggregate)."""
    t = Tables(spark, sf_dir)
    c = t.customer.groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = t.supplier.groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        c.join(s, F.col("c_nk") == F.col("s_nk"), "full_outer")
        .select(
            F.coalesce(F.col("c_nk"), F.col("s_nk")).alias("nationkey"),
            "n_cust",
            "n_supp",
        )
        .orderBy("nationkey")
    )


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    ORDER BY c_custkey
    """,
    tags=("join", "semi"),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers with ≥1 finished order. Emits each left row
    at most once — no duplication, no right-side columns."""
    t = Tables(spark, sf_dir)
    f_orders = t.orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        t.customer.join(f_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    tags=("join", "anti"),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no urgent order.  (Every customer has
    SOME order in the synthetic data, so the unrestricted variant is a
    vacuous 0-row check; the priority filter keeps ~13% of customers at
    every SF.)"""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(
            t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    ORDER BY r_name, n_name
    """,
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dimensions (CartesianProductExec /
    broadcast NLJ — only sane when one side is tiny, as here)."""
    t = Tables(spark, sf_dir)
    return (
        t.region.select("r_name")
        .crossJoin(t.nation.select("n_name"))
        .orderBy("r_name", "n_name")
    )


def _non_equi_count(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """The theta-join body, hint-free: the equi conjunct (nationkey) is
    the hash key, the inequality is a residual.  Supplier is
    SF-proportional (10k rows/SF — ~10^9 rows at the 100 TB target), so
    the query must NOT force a broadcast; the planner/AQE picks
    broadcast only when the measured size is under the threshold.
    Plan pinned not-forced-broadcast in test_plans.py."""
    return (
        customer.join(
            supplier,
            (F.col("c_acctbal") > F.col("s_acctbal"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_richer_cust"))
        .orderBy("s_suppkey")
    )


@register(
    "join_non_equi",
    oracle="""
    SELECT s_suppkey, count(*) AS n_richer_cust
    FROM supplier JOIN customer
      ON c_acctbal > s_acctbal AND c_nationkey = s_nationkey
    GROUP BY s_suppkey
    ORDER BY s_suppkey
    """,
    tags=("join", "theta"),
)
def join_non_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join (inequality + equality): Catalyst uses the equi part
    (nationkey) as the hash key and evaluates the inequality as a
    residual — NOT a full nested loop.  No broadcast hint: supplier
    grows with SF (ref SparkStrategies.scala:116-120 — the planner's
    size threshold, not the query, decides the build side)."""
    t = Tables(spark, sf_dir)
    return _non_equi_count(t.customer, t.supplier)


@register(
    "join_using_key",
    oracle="""
    SELECT custkey, c_name, o_orderkey
    FROM (SELECT o_custkey AS custkey, o_orderkey FROM orders) o
    JOIN (SELECT c_custkey AS custkey, c_name FROM customer) c USING (custkey)
    WHERE custkey <= 20
    ORDER BY custkey, o_orderkey
    """,
    tags=("join", "using"),
)
def join_using_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USING-style join (single shared key column in the output,
    reference ResolveNaturalAndUsingJoin)."""
    t = Tables(spark, sf_dir)
    o = t.orders.select(F.col("o_custkey").alias("custkey"), "o_orderkey")
    c = t.customer.select(F.col("c_custkey").alias("custkey"), "c_name")
    return (
        o.join(c, ["custkey"])
        .filter(F.col("custkey") <= 20)
        .select("custkey", "c_name", "o_orderkey")
        .orderBy("custkey", "o_orderkey")
    )


@register(
    "join_self",
    oracle="""
    SELECT a.n_name AS n1, b.n_name AS n2
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    ORDER BY n1, n2
    """,
    tags=("join", "self"),
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join producing unordered same-region nation pairs."""
    t = Tables(spark, sf_dir)
    a = t.nation.alias("a")
    b = t.nation.alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .select(F.col("a.n_name").alias("n1"), F.col("b.n_name").alias("n2"))
        .orderBy("n1", "n2")
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_orderpriority END AS k
      FROM orders WHERE o_orderkey <= 400),
    b AS (
      SELECT DISTINCT CASE WHEN o_orderstatus = 'P' THEN NULL
                           ELSE o_orderpriority END AS k
      FROM orders WHERE o_orderkey <= 400)
    SELECT a.o_orderkey, a.k
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY a.o_orderkey
    """,
    tags=("join", "null-safe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=>, reference predicates.scala:446
    EqualNullSafe): NULL keys match NULL keys — unlike `=`, which drops
    them. Catalyst still plans a hash join because <=> is an equi-key."""
    t = Tables(spark, sf_dir)
    k = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.col("o_orderpriority")
    )
    a = t.orders.filter(F.col("o_orderkey") <= 400).select(
        "o_orderkey", k.alias("k")
    )
    b = a.select("k").distinct().withColumnRenamed("k", "bk")
    return (
        a.join(b, F.col("k").eqNullSafe(F.col("bk")))
        .select("o_orderkey", "k")
        .orderBy("o_orderkey")
    )


@register(
    "join_shuffled_hash",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           sum(l_quantity) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "shuffled-hash"),
)
def join_shuffled_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled hash join, the 5th physical form (reference
    ShuffledHashJoinExec `joins/ShuffledHashJoinExec.scala:32`, selection
    rule `SparkStrategies.scala:128-141`): both sides shuffle on the key,
    the smaller side builds a per-partition hash table — no sort, so it
    beats sort-merge when one side is much smaller per partition but too
    big to broadcast.  Forced via hint("SHUFFLE_HASH"); the physical
    operator is asserted in tests/test_plans.py."""
    t = Tables(spark, sf_dir)
    orders = t.orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).hint("SHUFFLE_HASH")
    return (
        orders.join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy("o_orderpriority")
    )


@register(
    "join_natural",
    oracle="""
    WITH n AS (SELECT n_nationkey AS nationkey, n_regionkey AS regionkey,
                      n_name AS nation_name FROM nation),
         r AS (SELECT r_regionkey AS regionkey, r_name AS region_name
               FROM region)
    SELECT nation_name, region_name
    FROM n NATURAL JOIN r
    ORDER BY nation_name
    """,
    tags=("join", "natural"),
)
def join_natural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATURAL JOIN — implicit equi-join on all shared column names
    (reference rule ResolveNaturalAndUsingJoin,
    `catalyst/analysis/Analyzer.scala:101`): resolved at analysis time
    to a USING join on the common columns, then planned like any
    equi-join (broadcast here: region is tiny)."""
    t = Tables(spark, sf_dir)
    t.nation.select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_regionkey").alias("regionkey"),
        F.col("n_name").alias("nation_name"),
    ).createOrReplaceTempView("nj_nation")
    t.region.select(
        F.col("r_regionkey").alias("regionkey"),
        F.col("r_name").alias("region_name"),
    ).createOrReplaceTempView("nj_region")
    return spark.sql(
        """
        SELECT nation_name, region_name
        FROM nj_nation NATURAL JOIN nj_region
        ORDER BY nation_name
        """
    )


#: Identical SQL text runs on Spark and DuckDB — LATERAL is the
#: standard correlated-table-subquery join both engines implement.
_LATERAL_TOPN_SQL = """
SELECT n.n_name, c.c_name, c.c_acctbal
FROM nation n, LATERAL (
    SELECT c_name, c_acctbal
    FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name
    LIMIT 2
) c
ORDER BY n.n_name, c.c_acctbal DESC, c.c_name
"""


@register(
    "join_lateral_topn",
    oracle=_LATERAL_TOPN_SQL,
    tags=("join", "sql"),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated table subquery (SPARK-34382; analyzer rewrite
    in `catalyst/analysis/Analyzer.scala` ResolveLateralJoin): per
    nation, the top-2 customers by account balance, expressed as the
    SQL-standard lateral join rather than a window + filter.

    Catalyst decorrelates this into a ranked join — the same physical
    shape as `window_topn_per_group` — so there is no per-outer-row
    re-execution: one shuffle of customer by nationkey, a partial
    top-k, then the 25-row nation side broadcasts.  The identical SQL
    text is the oracle (cross-engine portability is the point).
    """
    return sql_entry.sql(spark, _LATERAL_TOPN_SQL, sf_dir)
