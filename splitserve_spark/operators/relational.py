"""Core relational operators: scan → project → filter → aggregate → sort → limit.

Reference surface (SURVEY.md §2.1/2.2/2.6): ProjectExec/FilterExec
(`sql/core/.../execution/basicPhysicalOperators.scala:36,88`),
HashAggregateExec (`execution/aggregate/HashAggregateExec.scala:38`),
SortExec (`execution/SortExec.scala:37`), TakeOrderedAndProjectExec
(`execution/limit.scala:121`).  All expressed declaratively so Catalyst
plans them: filters push into the parquet scan, aggregates run
partial→final (map-side combine), ORDER BY+LIMIT plans TakeOrdered (no
global sort shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      sum(l_quantity)                                        AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                                                             AS sum_base_price,
      CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE)            AS sum_disc_price,
      CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                    AS DECIMAL(18,6))) AS DOUBLE)            AS sum_charge,
      avg(l_quantity)                                        AS avg_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        / count(*)                                           AS avg_price,
      CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
        / count(*)                                           AS avg_disc,
      count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("aggregate", "scan", "tpch"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan→filter→hash-agg→sort (the flagship slice).

    Scale notes: the shipdate filter is pushed to the parquet row-group
    level (min/max stats) and only 9 of 11 columns are read; the
    aggregation has 6 groups, so the partial-aggregate reduces ~all rows
    map-side and the final shuffle moves O(partitions·6) rows.
    """
    t = Tables(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            # Money sums go through LOSSLESS decimal casts (2dp price,
            # 4dp price*(1-disc), 6dp *(1+tax)): exact and associative,
            # so results are bit-identical at any partition count —
            # raw double sums are partial-sum-order dependent (the ULP
            # class the r11 twin sweep caught on q19).  Averages of
            # money columns divide the exact decimal sum as a double.
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(18,4)"))
            .cast("double").alias("sum_disc_price"),
            F.sum((disc_price * (1 + F.col("l_tax"))).cast("decimal(18,6)"))
            .cast("double").alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             .cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(F.col("l_discount").cast("decimal(18,2)"))
             .cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "project_filter",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      l_extendedprice * (1 - l_discount) AS net_price,
      upper(l_returnflag)                AS flag
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount < 0.02
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("project", "filter", "scan"),
)
def project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + conjunctive filter; both predicates reach the scan
    (PushedFilters) and ReadSchema carries only 6 columns."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem
        .filter((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.02))
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
            F.upper("l_returnflag").alias("flag"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags=("sort", "limit", "topk"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject: per-partition top-k
    heaps, only k rows per partition to the driver-side merge — no
    global sort shuffle even at 100 TB."""
    t = Tables(spark, sf_dir)
    return (
        t.orders
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@register(
    "global_sort_nulls",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS price_or_null
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY price_or_null DESC NULLS LAST, o_orderkey
    """,
    tags=("sort",),
)
def global_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global range-partitioned sort with explicit NULLS LAST ordering
    (SortOrder semantics, SURVEY.md §2.6)."""
    t = Tables(spark, sf_dir)
    price_or_null = F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("double")).otherwise(
        F.col("o_totalprice")
    )
    return (
        t.orders
        .filter(F.col("o_orderkey") <= 500)
        .select(
            "o_orderkey",
            "o_orderstatus",
            price_or_null.alias("price_or_null"),
        )
        .orderBy(F.col("price_or_null").desc_nulls_last(), F.col("o_orderkey"))
    )


@register(
    "distinct_values",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("distinct", "aggregate"),
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT → rewritten to an aggregate (ReplaceDistinctWithAggregate);
    partial dedup map-side, tiny shuffle."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "drop_duplicates_subset",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders
    )
    WHERE rn = 1
    ORDER BY o_custkey
    """,
    tags=("distinct", "window"),
)
def drop_duplicates_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates-on-subset: expressed as a window
    row_number so Spark and the oracle agree on WHICH row survives
    (bare dropDuplicates keeps an arbitrary first row — fine for the
    engine, not for a hash-matched oracle)."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        t.orders
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_custkey")
    )


@register(
    "range_generator",
    oracle="""
    SELECT i AS id, i * 2 AS doubled
    FROM range(0, 1000) t(i)
    ORDER BY id
    """,
    tags=("source", "range"),
)
def range_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.range → RangeExec, codegen'd generator with no input scan
    (reference `execution/basicPhysicalOperators.scala:331`)."""
    return (
        spark.range(0, 1000)
        .select(F.col("id"), (F.col("id") * 2).alias("doubled"))
        .orderBy("id")
    )


@register(
    "sample_bernoulli",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_population,
           TRUE AS rate_within_3pct,
           TRUE AS sample_is_subset
    FROM lineitem
    """,
    tags=("sample",),
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli TABLESAMPLE (SampleExec).  Sampling RNGs differ across
    engines, so the raw sample can never hash-match — instead
    (round-8, the agg_approx pattern) the query emits the label-
    invariant values an auditor checks: the exact population count,
    |rate − 0.1| ≤ 0.03 (measured ≤0.007 at every shipped SF — the
    seed is fixed, so the realized rate is a constant of the input
    set), and the subset property (sampled keys ∖ population = ∅) —
    all computed ON the live SampleExec output, so the §2 sample
    operator still runs inside the checked plan.  Full per-row
    invariants stay in tests/test_relational.py.

    TWO corpus scans, deliberately (r8 ADVICE: drawing the sample from
    the persisted population projection made the subset check
    tautological — SampleExec over the cached rows can never stray).
    The sample now runs over an INDEPENDENT base-table scan, so the
    anti-join verifies a falsifiable property: every key SampleExec
    emits from its own scan exists in the separately-scanned
    population.  The population projection still persists for the run
    (run_cache contract) because TWO branches consume it (its count
    and the anti-join's right side)."""
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    t = Tables(spark, sf_dir)
    release_prior()
    pop = persist_tracked(t.lineitem.select("l_orderkey", "l_linenumber"))
    samp = t.lineitem.select("l_orderkey", "l_linenumber").sample(
        withReplacement=False, fraction=0.1, seed=42
    )
    stats = pop.agg(F.count(F.lit(1)).alias("n_population")).crossJoin(
        samp.agg(F.count(F.lit(1)).alias("n_sample"))
    )
    strays = (
        samp.join(pop, ["l_orderkey", "l_linenumber"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_stray"))
    )
    return stats.crossJoin(strays).select(
        "n_population",
        (
            F.abs(F.col("n_sample") / F.col("n_population") - 0.1) <= 0.03
        ).alias("rate_within_3pct"),
        (F.col("n_stray") == 0).alias("sample_is_subset"),
    )


@register(
    "union_inline_table",
    oracle="""
    SELECT CAST(k AS BIGINT) AS k, v
    FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) AS t(k, v)
    ORDER BY k
    """,
    tags=("source", "local"),
)
def union_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory local relation (LocalTableScanExec,
    reference `execution/LocalTableScanExec.scala:29`)."""
    df = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], ["k", "v"])
    return df.orderBy("k")


@register(
    "sort_within_partitions",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
    tags=("sort", "partition-local"),
)
def sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local sort (reference SortExec with global=false,
    `execution/SortExec.scala:38`; Python surface
    `dataframe.sortWithinPartitions`): sorts each partition without a
    range-shuffle — the pattern behind sorted file writes and
    sort-merge-ready layouts.  At scale: repartition(key) +
    sortWithinPartitions(key) gives clustered, locally-ordered output
    at one hash shuffle instead of a global range sort.  For a
    deterministic oracle comparison the query pins ONE partition, so
    the local sort is provably total; the multi-partition layout
    behavior is asserted in tests/test_plans.py."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_orderkey") <= 500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
