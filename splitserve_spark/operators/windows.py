"""Window functions (SURVEY.md §2.5).

Reference: WindowExec (`execution/window/WindowExec.scala:82`) with
frame processors in `window/WindowFunctionFrame.scala` (offset, sliding,
unbounded variants); function impls `windowExpressions.scala:392-709`.

Scale notes: a window spec shuffles once on partitionBy keys and sorts
within partitions; all functions sharing a (partition, order) spec are
computed in one pass (CollapseWindow).  Partition keys here are
o_custkey — high-cardinality, no skew concentration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


@register(
    "window_ranking",
    oracle="""
    SELECT o_custkey, o_orderkey,
           row_number()  OVER w AS rn,
           rank()        OVER w AS rnk,
           dense_rank()  OVER w AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, rn
    """,
    tags=("window", "ranking"),
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile over one shared window
    spec (single shuffle+sort, one WindowExec)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .orderBy("o_custkey", "rn")
    )


@register(
    "window_distribution",
    oracle="""
    SELECT o_custkey, o_orderkey,
           percent_rank() OVER w AS prk,
           cume_dist()    OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "ranking"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            F.percent_rank().over(w).alias("prk"),
            F.cume_dist().over(w).alias("cd"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_lead_lag",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice, 1, 0.0)  OVER w AS prev_price,
           lead(o_totalprice, 2, -1.0) OVER w AS next2_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "offset"),
)
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag with offsets and defaults (OffsetWindowFunctionFrame)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.lag("o_totalprice", 1, 0.0).over(w).alias("prev_price"),
            F.lead("o_totalprice", 2, -1.0).over(w).alias("next2_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_rows_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE)                                          AS running_spend,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / count(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)       AS moving_avg_3,
           count(*) OVER (PARTITION BY o_custkey)                AS cust_orders
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "frame"),
)
def window_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates over ROWS frames: running total (unbounded-preceding),
    sliding 3-row average, and whole-partition count."""
    t = Tables(spark, sf_dir)
    ordered = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            # Exact decimal accumulation: a double running sum is
            # accumulation-order/association dependent (segment-tree vs
            # sequential differ in ULPs); the 2dp money column sums
            # losslessly in DECIMAL(18,2).  The moving average divides
            # the exact frame sum by the frame count as doubles.
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(
                ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("double").alias("running_spend"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .over(ordered.rowsBetween(-2, Window.currentRow))
                .cast("double")
                / F.count(F.lit(1)).over(
                    ordered.rowsBetween(-2, Window.currentRow)
                ),
                4,
            ).alias("moving_avg_3"),
            F.count(F.lit(1))
            .over(Window.partitionBy("o_custkey"))
            .alias("cust_orders"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           count(*) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS n_similar_cheaper
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "frame"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame with a value offset (ValuePreceding boundary in the
    reference's SpecifiedWindowFrame)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(
        -50000, Window.currentRow
    )
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.count(F.lit(1)).over(w).alias("n_similar_cheaper"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window",),
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value; last_value over an explicit
    unbounded frame (the default frame stops at CURRENT ROW on both
    engines)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(full).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_topn_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
    tags=("window", "topk"),
    bench=True,
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group — the canonical window+filter pattern.  Modern
    Spark inserts WindowGroupLimit before the shuffle, so each partition
    only forwards its local top-3 (scale-critical)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t.orders.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("o_custkey", F.col("o_totalprice").desc(), "o_orderkey")
    )


@register(
    "window_range_interval",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '30 minutes' PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_recent
    FROM events
    ORDER BY user_id, event_id
    """,
    tags=("window", "frame", "interval",
          "skew_hazard:sessionize_hot_key_safe"),
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame with a TIME-INTERVAL boundary: per user, events in
    the trailing 30-minute window — the rate-limiter / burst-detection
    window shape.  Distinct from window_range_frame's numeric offset:
    the boundary is calendar arithmetic on the ORDER BY timestamp, and
    RANGE peer semantics make ties deterministic without a tiebreaker.
    (SQL form: the DataFrame rangeBetween API takes only long offsets.)

    SKEW HAZARD: per-user-key window — a hot key serializes through one task; mitigation pattern: sessionize_hot_key_safe (split-and-stitch, see its docstring / SCALE_SMOKE.md skew table).
    """
    t = Tables(spark, sf_dir)
    import os as _os

    view = "ev_ri_" + "".join(
        c if c.isalnum() else "_" for c in _os.path.basename(sf_dir.rstrip("/"))
    )
    t.events.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT user_id, event_id,
               count(*) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW
               ) AS n_recent
        FROM {view}
        ORDER BY user_id, event_id
        """
    )


@register(
    "scd2_history",
    oracle="""
    WITH changes AS (
      SELECT o_custkey, o_orderdate, o_orderpriority,
             lag(o_orderpriority) OVER w AS prev_priority
      FROM orders
      WHERE o_custkey % 50 = 0
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), starts AS (
      SELECT o_custkey, o_orderdate AS eff_from, o_orderpriority
      FROM changes
      WHERE prev_priority IS NULL OR prev_priority <> o_orderpriority
    )
    SELECT o_custkey, o_orderpriority AS attr, eff_from,
           lead(eff_from) OVER (
             PARTITION BY o_custkey ORDER BY eff_from, attr) AS eff_to,
           CASE WHEN lead(eff_from) OVER (
             PARTITION BY o_custkey ORDER BY eff_from, attr) IS NULL
             THEN true ELSE false END AS is_current
    FROM starts
    ORDER BY o_custkey, eff_from, attr
    """,
    tags=("window", "warehouse", "scd2"),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build: collapse a change stream into effective-
    dated dimension rows — lag() detects attribute changes, lead()
    closes each version's validity interval, the open interval is the
    current row.  The warehouse pattern every dimension loader runs;
    pure window composition, one shuffle on the business key.

    Determinism note: the change-detection window orders by
    (o_orderdate, o_orderkey) so duplicate dates cannot reorder between
    engines; the sampled key set (custkey % 50) bounds output while
    keeping multi-version histories present at every SF."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        t.orders.filter(F.col("o_custkey") % 50 == 0)
        .select(
            "o_custkey",
            "o_orderdate",
            "o_orderpriority",
            F.lag("o_orderpriority").over(w).alias("prev_priority"),
        )
    )
    starts = changes.filter(
        F.col("prev_priority").isNull()
        | (F.col("prev_priority") != F.col("o_orderpriority"))
    ).select(
        "o_custkey",
        F.col("o_orderdate").alias("eff_from"),
        F.col("o_orderpriority").alias("attr"),
    )
    # eff_from alone can tie (two versions starting the same date);
    # attr is the deterministic tiebreaker on BOTH engines.
    w2 = Window.partitionBy("o_custkey").orderBy("eff_from", "attr")
    return (
        starts.select(
            "o_custkey",
            "attr",
            "eff_from",
            F.lead("eff_from").over(w2).alias("eff_to"),
            F.lead("eff_from").over(w2).isNull().alias("is_current"),
        )
        .orderBy("o_custkey", "eff_from", "attr")
    )
