"""Aggregation operators (SURVEY.md §2.4).

Reference: HashAggregateExec (`execution/aggregate/HashAggregateExec.scala:38`)
with partial→final planning (`aggregate/AggUtils.scala:80`), grouping
analytics via Expand (`ExpandExec.scala:36`), Pivot
(`RelationalGroupedDataset.scala:314`), aggregate function impls in
`catalyst/expressions/aggregate/` (registry lines
`FunctionRegistry.scala:237-264`).

All groupBy aggregates here run partial (map-side combine) then final —
the shuffle carries one row per (partition, group), not the raw data.
Oracle notes: DuckDB's skewness/kurtosis are *sample*-corrected while
Spark's are population moments, so those oracles compute the moments
explicitly; sorted collect_list is used because bare collect order is
non-deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


@register(
    "agg_basic_stats",
    oracle="""
    SELECT l_returnflag,
           count(*)                   AS n_rows,
           count(DISTINCT l_partkey)  AS n_parts,
           sum(l_quantity)            AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           min(l_discount)            AS min_disc,
           max(l_tax)                 AS max_tax
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate",),
)
def agg_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / count-distinct / sum / avg / min / max in one pass.
    count(DISTINCT) plans the two-phase distinct expansion
    (planAggregateWithOneDistinct in the reference)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.min("l_discount").alias("min_disc"),
            F.max("l_tax").alias("max_tax"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_variance",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_samp,
           round(stddev_pop(l_extendedprice), 4)  AS sd_pop,
           round(var_samp(l_extendedprice), 4)    AS v_samp,
           round(var_pop(l_extendedprice), 4)     AS v_pop
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "stats"),
)
def agg_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-moment aggregates (reference CentralMomentAgg.scala:137-215).

    Both engines round to 4dp: summation order differs across engines,
    so raw doubles diverge at the ~1e-7 level (measured) and would break
    an exact value hash."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_samp"),
            F.round(F.stddev_pop("l_extendedprice"), 4).alias("sd_pop"),
            F.round(F.var_samp("l_extendedprice"), 4).alias("v_samp"),
            F.round(F.var_pop("l_extendedprice"), 4).alias("v_pop"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_skew_kurt",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             avg(l_extendedprice) AS mu,
             count(*)             AS n
      FROM lineitem GROUP BY l_returnflag
    ), mom AS (
      SELECT l.l_returnflag,
             sum(pow(l_extendedprice - mu, 2)) / any_value(n) AS m2,
             sum(pow(l_extendedprice - mu, 3)) / any_value(n) AS m3,
             sum(pow(l_extendedprice - mu, 4)) / any_value(n) AS m4
      FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
      GROUP BY l.l_returnflag
    )
    SELECT l_returnflag,
           round(m3 / pow(m2, 1.5), 6) AS skew,
           round(m4 / pow(m2, 2) - 3, 6) AS kurt
    FROM mom
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "stats"),
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skewness/kurtosis — Spark computes population moments (g1, excess
    g2); DuckDB's built-ins are sample-corrected, so the oracle derives
    the population moments explicitly."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.round(F.skewness("l_extendedprice"), 6).alias("skew"),
            F.round(F.kurtosis("l_extendedprice"), 6).alias("kurt"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)       AS correlation,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_samp,
           round(covar_pop(l_quantity, l_extendedprice), 4)  AS cov_pop
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "stats"),
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("correlation"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_samp"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("cov_pop"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.50) AS p50,
           quantile_cont(l_extendedprice, 0.95) AS p95,
           median(l_quantity)                   AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (reference Percentile.scala:56);
    Spark `percentile` and DuckDB `quantile_cont` share the
    p*(n-1) linear-interpolation definition."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.25)).alias("p25"),
            F.percentile("l_extendedprice", F.lit(0.50)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
            F.median("l_quantity").alias("med_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_approx",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS parts_within_5pct,
           TRUE AS p50_within_1pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "approx"),
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, reference
    HyperLogLogPlusPlus.scala:54) and percentile_approx
    (ApproximatePercentile.scala:69).  Upgraded from rows-only to
    value-checked (r7 verdict task 6), the ANN-recall pattern: raw
    sketch outputs are engine-specific, so the query ALSO computes the
    exact twins in the same single-pass aggregate and emits (a) the
    exact distinct count as a hash-checked value and (b) deterministic
    error-bound booleans the oracle pins TRUE — |approx−exact|/exact ≤
    5% for the rsd-0.02 HLL (measured ≤1.03% at every shipped SF) and
    ≤1% for the accuracy-10000 median (measured ≤0.08%).  Both sketches
    are order-independent, so the booleans are deterministic for a
    given input set.  At 100 TB the approx pair is the right default —
    fixed memory per group vs unbounded exact-distinct state — and the
    exact twins here are what certifies the sketches stay in-band."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("apx"),
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("ap50"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("ep50"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("apx") - F.col("exact_parts"))
                / F.col("exact_parts") <= 0.05
            ).alias("parts_within_5pct"),
            (
                F.abs(F.col("ap50") - F.col("ep50")) / F.col("ep50") <= 0.01
            ).alias("p50_within_1pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), '|')          AS nations,
           array_to_string(list_sort(list(DISTINCT n_name)), '|') AS nation_set
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    tags=("aggregate", "collect"),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set (reference collect.scala:90,113),
    wrapped in sort_array because bare collect order is partition-order
    dependent on any engine.  Output is serialized with array_join: the
    driver's canonicalizer cannot sort/hash array-typed columns."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.nation.groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations"),
            F.array_join(F.sort_array(F.collect_set("n_name")), "|").alias("nation_set"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_min_max_by",
    oracle="""
    SELECT o_custkey,
           min_by(o_orderstatus, o_orderkey) AS first_status,
           max_by(o_totalprice, o_orderkey)  AS last_price
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    tags=("aggregate",),
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by on a unique ordering key — the deterministic form
    of the reference's first/last aggregates (First.scala:36, Last.scala:36)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(
            F.min_by("o_orderstatus", "o_orderkey").alias("first_status"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_price"),
        )
        .orderBy("o_custkey")
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
           CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, flag, status
    """,
    tags=("aggregate", "grouping-analytics"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP → Expand-based grouping analytics (reference
    GroupingSets/Expand, basicLogicalOperators.scala:606,637).  Group
    keys are coalesced to a sentinel so output carries no nulls (null
    ordering differs between engines)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "g_flag",
            "g_status",
            "sum_qty",
        )
        .orderBy("g_flag", "g_status", "flag", "status")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
           CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, flag, status
    """,
    tags=("aggregate", "grouping-analytics"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "g_flag",
            "g_status",
            "n",
        )
        .orderBy("g_flag", "g_status", "flag", "status")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           sum(o_totalprice)                AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY status, priority
    """,
    tags=("aggregate", "grouping-analytics", "sql"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL entry point (grammar SqlBase.g4:378-380
    in the reference) — exercises temp-view registration + spark.sql."""
    ensure_parity_conf(spark)
    Tables(spark, sf_dir).register_temp_views()
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL')   AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               sum(o_totalprice)                AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_linestatus,
           sum(l_quantity) FILTER (WHERE l_returnflag = 'A') AS A,
           sum(l_quantity) FILTER (WHERE l_returnflag = 'N') AS N,
           sum(l_quantity) FILTER (WHERE l_returnflag = 'R') AS R
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("aggregate", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (reference PivotFirst.scala:71;
    RelationalGroupedDataset.scala:314).  Explicit values avoid the
    extra distinct-values job — mandatory at scale."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
        .orderBy("l_linestatus")
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 12
    ORDER BY o_custkey
    """,
    tags=("aggregate", "having"),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("spend"))
        .filter(F.col("n_orders") >= 12)
        .orderBy("o_custkey")
    )


@register(
    "agg_bool_and_count_if",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity > 0)   AS all_positive,
           bool_or(l_discount > 0.09) AS any_deep_discount,
           CAST(sum(CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_taxed
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "boolean"),
)
def agg_bool_and_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
            F.sum(F.when(F.col("l_tax") > 0.05, 1).otherwise(0)).alias("n_taxed"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_sum_distinct",
    oracle="""
    SELECT l_linestatus, sum(DISTINCT l_quantity) AS sum_uniq_qty
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("aggregate", "distinct"),
)
def agg_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_linestatus")
        .agg(F.sum_distinct(F.col("l_quantity")).alias("sum_uniq_qty"))
        .orderBy("l_linestatus")
    )


@register(
    "agg_median_mode_listagg",
    oracle="""
    WITH f AS (SELECT * FROM orders WHERE o_orderkey <= 2000),
    counts AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS c
      FROM f GROUP BY o_orderstatus, o_orderpriority),
    top AS (
      SELECT o_orderstatus, min(o_orderpriority) AS top_prio
      FROM counts t1
      WHERE c = (SELECT max(c) FROM counts t2
                 WHERE t2.o_orderstatus = t1.o_orderstatus)
      GROUP BY o_orderstatus)
    SELECT f.o_orderstatus,
           median(f.o_totalprice) AS med_price,
           top.top_prio           AS top_prio,
           string_agg(DISTINCT f.o_orderpriority, ',' ORDER BY f.o_orderpriority)
                                  AS prios
    FROM f JOIN top ON f.o_orderstatus = top.o_orderstatus
    GROUP BY f.o_orderstatus, top.top_prio
    ORDER BY f.o_orderstatus
    """,
    tags=("aggregate", "modern"),
)
def agg_median_mode_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate additions: exact median, deterministic mode
    (most frequent value, ties broken by smallest — raw mode() breaks
    ties engine-specifically), and ordered distinct string aggregation
    (listagg's order is engine-dependent, so the deterministic form is
    array_sort(collect_set) + array_join)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    f = t.orders.filter(F.col("o_orderkey") <= 2000)
    counts = f.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = (
        counts.groupBy("o_orderstatus")
        .agg(
            F.min_by(
                F.col("o_orderpriority"),
                F.struct((-F.col("c")).alias("neg"), F.col("o_orderpriority")),
            ).alias("top_prio")
        )
    )
    return (
        f.join(F.broadcast(top), "o_orderstatus")
        .groupBy("o_orderstatus", "top_prio")
        .agg(
            F.median("o_totalprice").alias("med_price"),
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("prios"),
        )
        .select("o_orderstatus", "med_price", "top_prio", "prios")
        .orderBy("o_orderstatus")
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_orderpriority) AS n_prio,
           count(DISTINCT o_custkey)       AS n_cust,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                           AS total,
           count(*)                        AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("aggregate", "distinct"),
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates over different columns in one
    GROUP BY — triggers RewriteDistinctAggregates (Expand: one replica
    of each row per distinct group + grouping-id routing; reference
    `catalyst/optimizer/RewriteDistinctAggregates.scala`)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_orderpriority").alias("n_prio"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_bitwise",
    oracle="""
    SELECT o_orderstatus,
           count(*)           AS n_orders,
           bit_and(o_custkey) AS and_cust,
           bit_or(o_custkey)  AS or_cust,
           bit_xor(o_custkey) AS xor_cust
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate functions bit_and / bit_or / bit_xor (ref
    `catalyst/expressions/aggregate/bitwiseAggregates.scala:28`) —
    used for permission-mask rollups and parity checksums.  Fully
    map-side combinable: the shuffle carries one 3-long row per
    (partition, status)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.bit_and("o_custkey").alias("and_cust"),
            F.bit_or("o_custkey").alias("or_cust"),
            F.bit_xor("o_custkey").alias("xor_cust"),
        )
        .orderBy("o_orderstatus")
    )


#: Exact-regime fence for the HLL oracle, MEASURED (the earlier "~3k"
#: assumption was wrong — caught by the 8× replicated-corpus strict
#: run, SCALE_SMOKE.md): a single lgK=12 Datasketches sketch estimates
#: exactly through 512 distincts (769 already reads 764), but the
#: hll_union_agg path this query exercises frays earlier — first
#: observed miss at 388 unioned distincts, solidly exact ≤385.
#: doc_id < 5000 caps per-source cardinality at 250 (halves ≤125)
#: under the corpus's round-robin source assignment — inside the union
#: boundary with ~35% margin, and a no-op at every shipped SF (max
#: doc_id ≈ 5k), so the fenced block is byte-identical in any corpus
#: containing ids 0..4999.
HLL_FENCE_MAX_ID = 5_000


@register(
    "agg_hll_sketch",
    oracle=f"""
    SELECT source,
           count(DISTINCT doc_id) AS est_docs,
           count(DISTINCT doc_id) AS exact_docs
    FROM documents
    WHERE doc_id < {HLL_FENCE_MAX_ID}
    GROUP BY source
    ORDER BY source
    """,
    tags=("agg", "sketch"),
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: Datasketches HLL built per
    (source, half) partial, merged with hll_union_agg, then estimated —
    the exact two-level rollup a 1000-executor cluster runs, where each
    executor sketches its partition and only the ~KB sketch binaries
    shuffle (ref approx machinery: `aggregate/HyperLogLogPlusPlus.scala:47`;
    the datasketches functions are its modern mergeable successor).

    Oracle note: a Datasketches HLL (lgK=12) equals exact distinct
    only in its small-cardinality regime, and the hll_union_agg path
    used here leaves that regime EARLIER than a single sketch —
    measured: single sketch exact ≤512, union-of-halves first misses
    at 388.  The regime is GUARDED IN CODE, not by the current SF
    ceiling: the fence doc_id < {HLL_FENCE_MAX_ID} caps per-source
    cardinality at 250 (halves ≤125) under the corpus's round-robin
    source assignment (a no-op at every shipped SF, where max doc_id ≈
    5k), so the estimate equals the exact distinct count at ANY scale
    factor — verified on the 8× replicated corpus, which caught the
    earlier too-loose 40k fence.  tests/ additionally assert the
    fenced per-source cardinality and pin the measured union boundary;
    the companion estimate-vs-exact tolerance test covers the general
    (non-exact) regime contract."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    docs = t.documents.filter(F.col("doc_id") < HLL_FENCE_MAX_ID).select(
        "source", "doc_id"
    )
    partials = docs.groupBy(
        "source", (F.col("doc_id") % 2).alias("half")
    ).agg(F.hll_sketch_agg("doc_id").alias("sk"))
    merged = partials.groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_docs")
    )
    exact = docs.groupBy("source").agg(
        F.count_distinct("doc_id").alias("exact_docs")
    )
    return merged.join(exact, "source").orderBy("source")


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_distinct_cust
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "bitmap"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via bitmap-index aggregates (Spark 3.5
    bitmap_* family; the modern exact counterpart of the HLL path, ref
    `aggregate/HyperLogLogPlusPlus.scala:47`): keys bucket into 32k-bit
    bitmaps (bitmap_bucket_number / bitmap_bit_position), partials
    build per (status, bucket) with bitmap_construct_agg, buckets merge
    with bitmap_or_agg, and the popcount sum is the EXACT distinct
    count.

    This is the two-level rollup that replaces a full
    count(DISTINCT) shuffle at 100 TB: raw keys never move — only
    4 KB bitmap blobs per (group, bucket) shuffle, and the merge is
    associative, so AQE can combine partials anywhere."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    partials = (
        t.orders.select(
            "o_orderstatus",
            F.bitmap_bucket_number("o_custkey").alias("bucket"),
            F.bitmap_bit_position("o_custkey").alias("pos"),
        )
        .groupBy("o_orderstatus", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return (
        partials.groupBy("o_orderstatus", "bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm_merged"))
        .groupBy("o_orderstatus")
        .agg(F.sum(F.bitmap_count("bm_merged")).alias("n_distinct_cust"))
        .orderBy("o_orderstatus")
    )


#: The identical SQL text runs on both engines — FILTER is the
#: SQL:2003 standard form of conditional aggregation.
_FILTER_CLAUSE_SQL = """
SELECT o_orderpriority,
       count(*)                                            AS n_orders,
       count(*)    FILTER (WHERE o_orderstatus = 'F')      AS n_finished,
       round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 4)
                                                           AS open_value,
       round(avg(o_totalprice) FILTER (WHERE o_totalprice > 200000), 4)
                                                           AS avg_large
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "agg_filter_clause",
    oracle=_FILTER_CLAUSE_SQL,
    tags=("agg", "sql"),
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 FILTER clause on aggregates (ref
    `catalyst/expressions/aggregate/interfaces.scala` AggregateExpression
    filter field): per-aggregate predicates without CASE-WHEN
    contortions.  The identical SQL text is the oracle.  Planning is
    unchanged from plain aggregation — the filter evaluates inside the
    partial agg, so rows are dropped BEFORE the shuffle (map-side), not
    after."""
    from splitserve_spark import sql_entry

    ensure_parity_conf(spark)
    return sql_entry.sql(spark, _FILTER_CLAUSE_SQL, sf_dir)


#: Equi-width histogram bin count.
EQWIDTH_BINS = 20


@register(
    "agg_equiwidth_histogram",
    oracle=f"""
    WITH stats AS (
        SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        FROM lineitem
    )
    SELECT CAST(least(floor((l_extendedprice - s.lo)
                            / ((s.hi - s.lo) / {EQWIDTH_BINS})),
                      {EQWIDTH_BINS - 1}) AS INTEGER) AS bin,
           count(*) AS n_rows,
           round(min(l_extendedprice), 2) AS bin_min,
           round(max(l_extendedprice), 2) AS bin_max
    FROM lineitem CROSS JOIN stats s
    GROUP BY bin
    ORDER BY bin
    """,
    tags=("agg", "histogram"),
)
def agg_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-WIDTH histogram of lineitem prices — the fixed-bin twin of
    the ntile equi-depth histogram, and the shape optimizer statistics
    collectors use.  Unlike ntile there is NO global sort: the 1-row
    min/max broadcasts back over the scan and binning is a pure
    projection, so this version IS the 100 TB-safe one.

    Bin arithmetic (floor((v-lo)/step), top edge clamped into the last
    bin) is identical IEEE on both engines — no rounding needed for
    parity."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_extendedprice")
    stats = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    step = (F.col("hi") - F.col("lo")) / EQWIDTH_BINS
    bin_col = F.least(
        F.floor((F.col("l_extendedprice") - F.col("lo")) / step),
        F.lit(EQWIDTH_BINS - 1),
    ).cast("int")
    return (
        li.crossJoin(F.broadcast(stats))
        .select(bin_col.alias("bin"), "l_extendedprice")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("bin_min"),
            F.round(F.max("l_extendedprice"), 2).alias("bin_max"),
        )
        .orderBy("bin")
    )


@register(
    "agg_entropy",
    oracle="""
    WITH cell AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS c
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), tot AS (
        SELECT o_orderstatus, sum(c) AS n FROM cell GROUP BY o_orderstatus
    )
    SELECT cell.o_orderstatus,
           CAST(tot.n AS BIGINT) AS n_orders,
           CAST(count(*) AS INTEGER) AS n_priorities,
           round(-sum((cell.c * 1.0 / tot.n) * ln(cell.c * 1.0 / tot.n)), 6)
               AS entropy_nats
    FROM cell JOIN tot ON cell.o_orderstatus = tot.o_orderstatus
    GROUP BY cell.o_orderstatus, tot.n
    ORDER BY cell.o_orderstatus
    """,
    tags=("agg", "stats"),
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the order-priority distribution within each
    order status — the categorical-balance diagnostic (uniform
    priorities → ln(5) ≈ 1.609 nats; a skewed status shows up as an
    entropy drop).  The same rollup a data-quality monitor runs over
    label columns before training.

    Two stacked map-side-combinable groupBys collapse the fact table
    to |status × priority| cells before any math; the entropy sum runs
    over that tiny cell table."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    cell = t.orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("c")
    )
    tot = cell.groupBy("o_orderstatus").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        cell.join(tot, "o_orderstatus")
        .groupBy("o_orderstatus", "n")
        .agg(
            F.count("*").cast("int").alias("n_priorities"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
        .select(
            "o_orderstatus",
            F.col("n").cast("bigint").alias("n_orders"),
            "n_priorities",
            "entropy_nats",
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4)
               AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4)
               AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_x,
           round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "stats"),
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI linear-regression aggregates (regr_slope / regr_intercept /
    regr_r2 / regr_count / regr_avgx / regr_avgy — reference implements
    the same family as declarative Catalyst aggregates,
    `aggregate/linearRegression.scala`): price-on-quantity fit per
    return flag, the closed-form least-squares every SQL engine ships.

    Plan: a single hash aggregate — every regr_* is a composition of
    partial-aggregatable moment sums (n, Σx, Σy, Σxy, Σx², Σy²), so
    the map side reduces all rows to 6 moments per group and the
    shuffle moves O(partitions · groups) rows, exactly the q1 shape.
    Both engines round (4dp values, 6dp r2): the moment sums differ in
    addition order across engines, the classic ~1e-7 drift
    agg_variance documents."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).cast("bigint").alias("n"),
            F.round(F.regr_slope(y, x), 4).alias("slope"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.round(F.regr_avgx(y, x), 4).alias("avg_x"),
            F.round(F.regr_avgy(y, x), 4).alias("avg_y"),
        )
        .orderBy("l_returnflag")
    )
