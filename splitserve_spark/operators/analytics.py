"""Product-analytics operators over the `events` stream table
(beyond-parity; SURVEY.md §4.3 goals — the reference's event workloads
stop at windowed aggregation, ref `sql/core/.../WindowExec.scala:87`).

Funnel conversion, cohort retention, and robust outlier flagging are
the bread-and-butter queries of an event-analytics engine.  All three
are expressed as pure DataFrame programs (conditional aggregation +
one re-join on the grouping key) so Catalyst keeps them in two shuffle
stages at most; at 100 TB the per-user aggregates are map-side
combinable and the tiny per-stage/per-type statistics broadcast back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splitserve_spark.operators.prefix_rank import ntile_from_rank, with_global_prefix
from splitserve_spark.registry import register
from splitserve_spark.tables import Tables

#: Ordered funnel stages: a user "converts" stage N only with an event
#: of that type strictly after their first stage-N-1 conversion.
FUNNEL_STAGES = ("view", "click", "purchase")



def _funnel_stages(t, deadline=None):
    """The three-stage view→click→purchase funnel chain.  With a
    deadline column-interval, stages 2/3 additionally require
    conversion within that interval of the previous stage.

    One corpus scan, one shuffle: the stage chain embeds its upstream
    stage in each branch (s3 ⊃ s2 ⊃ s1), so the naive composition
    scans events 1+2+3 = 6 times.  Instead the funnel-relevant
    projection is filtered to the three stage types, hash-partitioned
    by user_id ONCE, and persisted for the run (run_cache contract —
    released on the next tracked operator's entry): every stage
    groupBy(user_id) and every stage join keys on user_id, so all of
    them reuse the cached partitioning with zero further exchanges of
    event rows."""
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    release_prior()
    spark = t.events.sparkSession
    ev = persist_tracked(
        t.events.filter(F.col("event_type").isin(*FUNNEL_STAGES))
        .select("user_id", "event_type", "ts")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
    )

    def within(prev_col):
        cond = F.col("ts") > F.col(prev_col)
        if deadline is not None:
            cond = cond & (F.col("ts") <= F.col(prev_col) + deadline)
        return cond

    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(within("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(within("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return s1, s2, s3


def _stage_counts(s1, s2, s3):
    def stage_count(df, name, idx):
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(idx).alias("stage_idx"),
            F.count("*").alias("n_users"),
        )

    return (
        stage_count(s1, "view", 1)
        .unionAll(stage_count(s2, "click", 2))
        .unionAll(stage_count(s3, "purchase", 3))
        .orderBy("stage_idx")
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t_view
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
        GROUP BY e.user_id
    )
    SELECT 'view'     AS stage, 1 AS stage_idx, count(*) AS n_users FROM s1
    UNION ALL
    SELECT 'click'    AS stage, 2 AS stage_idx, count(*) AS n_users FROM s2
    UNION ALL
    SELECT 'purchase' AS stage, 3 AS stage_idx, count(*) AS n_users FROM s3
    ORDER BY stage_idx
    """,
    tags=("analytics", "events"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion: users who viewed, then clicked after
    their first view, then purchased after that first qualifying click.

    Plan: three groupBy(user_id) aggregations chained by equi-joins on
    user_id.  All three shuffles hash on the same key, so AQE/exchange
    reuse keeps the data co-partitioned after the first exchange; the
    per-stage user sets only shrink.  No window function, no Python.
    (Ref analytics surface: `sql/core/.../AggUtils.scala:37` — plain
    conditional aggregation; funnel itself is beyond-parity.)
    """
    return _stage_counts(*_funnel_stages(Tables(spark, sf_dir)))


#: Retention horizon (days after a user's cohort day) kept in the
#: output — bounds the matrix regardless of corpus span.
RETENTION_MAX_OFFSET = 7


@register(
    "events_retention_cohort",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day, day_offset, count(*) AS n_active
    FROM activity
    WHERE day_offset <= {RETENTION_MAX_OFFSET}
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
    tags=("analytics", "events"),
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the calendar day of
    their first event; for each cohort × day-offset (0..7), the count
    of users active on that offset day.

    Plan: one groupBy(user_id) for cohort days, re-join to events on
    user_id (same hash partitioning → exchange reuse), distinct on
    (user, cohort, offset) then a small groupBy.  The distinct and the
    final agg are map-side combinable; output is O(days × horizon)
    regardless of event volume, so nothing here grows at 100 TB.
    """
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts")

    firsts = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .filter(F.col("day_offset") <= RETENTION_MAX_OFFSET)
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


#: |z| threshold above which an event's value is flagged as an outlier.
ZSCORE_THRESHOLD = 2.5


@register(
    "agg_zscore_outliers",
    oracle=f"""
    WITH stats AS (
        SELECT event_type,
               avg(value)        AS mu,
               stddev_pop(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN abs((e.value - s.mu) / s.sigma)
                              > {ZSCORE_THRESHOLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(max(abs((e.value - s.mu) / s.sigma)), 4) AS max_abs_z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("analytics", "events"),
)
def agg_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier audit: population mean/stddev of
    `value` per event_type, events beyond |z| > 2.5 counted.

    Plan: groupBy(event_type) produces a 5-row statistics table that
    Catalyst broadcasts back onto the fact scan (the join side is tiny
    by construction), so the fact table is read once, shuffled once for
    the final per-type rollup.  The same shape holds at 100 TB: the
    stats side stays O(|types|).
    """
    t = Tables(spark, sf_dir)
    ev = t.events.select("event_type", "value")

    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sigma"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(z > ZSCORE_THRESHOLD, 1).otherwise(0)
            ).alias("n_outliers"),
            F.round(F.max(z), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


#: Number of equi-depth buckets for the price histogram.
HISTOGRAM_BUCKETS = 10


@register(
    "window_equidepth_histogram",
    oracle=f"""
    WITH ranked AS (
        SELECT l_extendedprice,
               ntile({HISTOGRAM_BUCKETS}) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS bucket
        FROM lineitem
    )
    SELECT bucket,
           count(*) AS n_rows,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi,
           round(avg(l_extendedprice), 4) AS mean_price
    FROM ranked
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("analytics", "window"),
)
def window_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of lineitem prices — ntile semantics with
    per-bucket min/max/mean, the quantile-bucket summary a
    feature-engineering pipeline uses for binning.

    The rank order is total (price, orderkey, linenumber) so bucket
    assignment is deterministic in both engines.  Scale design: the
    oracle's unpartitioned ntile is a single-reducer global sort
    (`WindowExec.scala:82`); the registered form instead computes the
    EXACT global rank with approx-quantile range buckets + partitioned
    local ranks + broadcast bucket offsets (prefix_rank.py), then maps
    rank → ntile bucket arithmetically — identical output, every task
    sorting ~1/32 of the data.
    """
    t = Tables(spark, sf_dir)
    rows = t.lineitem.select("l_extendedprice", "l_orderkey", "l_linenumber")
    ranked, n, _ = with_global_prefix(
        rows, "l_extendedprice", ["l_orderkey", "l_linenumber"]
    )
    return (
        ranked.select(
            "l_extendedprice",
            ntile_from_rank(F.col("_rank"), n, HISTOGRAM_BUCKETS).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
            F.round(F.avg("l_extendedprice"), 4).alias("mean_price"),
        )
        .orderBy("bucket")
    )


#: Session gap for the batch session_window rollup (events average one
#: per user per ~10 h, so a day-scale gap yields multi-event sessions).
SESSION_GAP_HOURS = 24


@register(
    "window_session_batch",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, value,
               -- >= : Spark session windows are half-open
               -- [start, last + gap); an event at exactly the gap
               -- boundary opens a NEW session.
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL {SESSION_GAP_HOURS} HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS boundary
        FROM events
    ), islands AS (
        SELECT user_id, ts, value,
               sum(boundary) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_no
        FROM seq
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {SESSION_GAP_HOURS} HOUR AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM islands
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    tags=("analytics", "events", "session",
          "skew_hazard:sessionize_hot_key_safe"),
)
def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window aggregation in BATCH mode (ref streaming
    session windows `SessionWindowStateStoreSaveExec`; the same
    session_window expression group-bys in batch): per user, events
    within a 24 h inactivity gap merge into one session row
    [start, last + gap).

    The oracle derives identical sessions with the classic
    lag → boundary → running-sum island construction, proving the
    built-in's merge semantics against first principles.  Plan: one
    shuffle on user_id (session assignment is a per-partition sort
    within it) — exactly the sessionization shape that holds at
    100 TB, where the gap bounds state instead of history length.

    SKEW HAZARD: per-user-key window — a hot key serializes through one task; mitigation pattern: sessionize_hot_key_safe (split-and-stitch, see its docstring / SCALE_SMOKE.md skew table).
    """
    t = Tables(spark, sf_dir)
    sw = F.session_window("ts", f"{SESSION_GAP_HOURS} hours")
    return (
        t.events.groupBy("user_id", sw)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "window_running_distinct",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS INTEGER) AS n_types_seen
    FROM events
    ORDER BY event_id
    """,
    tags=("analytics", "window",
          "skew_hazard:sessionize_hot_key_safe"),
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over a window — per user, how many
    distinct event types they have produced so far.  Spark's window
    aggregates reject DISTINCT, so the idiomatic form is
    size(collect_set(...)) over the frame; the oracle uses DuckDB's
    native windowed count(DISTINCT), proving the rewrite's semantics.

    The window order is made total (ts, event_id) so running values
    are deterministic under timestamp ties.  Scale: partitioned by
    user_id — state per partition is the per-user type set, bounded by
    |event_type| (5), so the frame never buffers history.

    SKEW HAZARD: per-user-key window — a hot key serializes through one task; mitigation pattern: sessionize_hot_key_safe (split-and-stitch, see its docstring / SCALE_SMOKE.md skew table).
    """
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.events.select(
            "event_id",
            "user_id",
            F.size(F.collect_set("event_type").over(w)).alias("n_types_seen"),
        )
        .orderBy("event_id")
    )


#: Top-N co-occurring part pairs reported by the basket analysis.
BASKET_TOP_N = 20


@register(
    "agg_market_basket",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS support
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY support DESC, part_a, part_b
    LIMIT {BASKET_TOP_N}
    """,
    tags=("analytics", "agg"),
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the top-20 part pairs that co-occur
    in the same order (frequent-itemset support counting, the k=2
    core of FPGrowth).

    Scale design: NO self-join of the fact table — lines collapse to a
    per-order sorted part set (one shuffle on orderkey, map-side
    combinable), pairs expand *inside* each order row (k² only in the
    per-order basket size, which is bounded), and pair support is a
    second map-side-combinable groupBy.  This is the same
    bucket-local pair-expansion discipline as the LSH dedup operator;
    the oracle uses the classic self-join formulation to prove the
    rewrite equivalent."""
    t = Tables(spark, sf_dir)
    baskets = (
        t.lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = baskets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("parts"),
                        lambda a: F.transform(
                            F.col("parts"),
                            lambda b: F.struct(
                                a.alias("part_a"), b.alias("part_b")
                            ),
                        ),
                    )
                ),
                lambda s: s["part_a"] < s["part_b"],
            )
        ).alias("pair")
    )
    return (
        pairs.select("pair.part_a", "pair.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(BASKET_TOP_N)
    )


#: Robust outlier cut: |x - median| > MAD_K * 1.4826 * MAD (1.4826
#: scales MAD to the stddev of a normal distribution).
MAD_K = 3
MAD_SIGMA = 1.4826


@register(
    "agg_mad_outliers",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med_v
        FROM events GROUP BY event_type
    ), mad AS (
        SELECT e.event_type,
               quantile_cont(abs(e.value - m.med_v), 0.5) AS mad_v
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN abs(e.value - m.med_v)
                              > {MAD_K} * {MAD_SIGMA} * d.mad_v
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(m.med_v, 6)  AS median_value,
           round(d.mad_v, 6)  AS mad_value
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type, m.med_v, d.mad_v
    ORDER BY e.event_type
    """,
    tags=("analytics", "events", "robust"),
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit via median absolute deviation — the
    z-score twin (`agg_zscore_outliers`) that survives heavy-tailed
    value distributions, where mean/stddev themselves are dragged by
    the outliers being hunted.

    Two exact-median passes (value, then |value − median|), each a
    groupBy(event_type) whose tiny result broadcasts back over the
    scan — the fact table is read three times (median, MAD, final
    count: the two median passes are inherently sequential) but never
    shuffled on anything wider than event_type.  The two per-type
    aggregates (≤ |event types| rows each) are persisted for the run:
    without that, every downstream reference re-derives its input
    branch and the corpus is re-scanned up to 7× instead of 3.  At
    100 TB swap the exact medians for percentile_approx and the shape
    is unchanged."""
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    t = Tables(spark, sf_dir)
    release_prior()
    ev = t.events.select("event_type", "value")
    med = persist_tracked(
        ev.groupBy("event_type").agg(
            F.percentile("value", F.lit(0.5)).alias("med_v")
        )
    )
    mad = persist_tracked(
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(
                F.abs(F.col("value") - F.col("med_v")), F.lit(0.5)
            ).alias("mad_v")
        )
    )
    dev = F.abs(F.col("value") - F.col("med_v"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_v", "mad_v")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(dev > MAD_K * MAD_SIGMA * F.col("mad_v"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            "n_outliers",
            F.round("med_v", 6).alias("median_value"),
            F.round("mad_v", 6).alias("mad_value"),
        )
        .orderBy("event_type")
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type),
                 6) AS p
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY from_type, to_type
    """,
    tags=("analytics", "events", "sequence",
          "skew_hazard:sessionize_hot_key_safe"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (from_type → to_type) pair, the transition
    count and conditional probability P(to | from).

    The sequence order is total (ts, event_id) so lead() is
    deterministic under timestamp ties.  Plan: one shuffle on user_id
    for the lead window, then a 5×5-bounded aggregation; the
    normalizing sum runs over the tiny aggregated matrix, not the
    events.  The per-user window state is one row — streamable at any
    scale.

    SKEW HAZARD: per-user-key window — a hot key serializes through one task; mitigation pattern: sessionize_hot_key_safe (split-and-stitch, see its docstring / SCALE_SMOKE.md skew table).
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    wn = Window.partitionBy("from_type")
    return (
        counts.select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.sum("n").over(wn), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


#: Quantile buckets per RFM dimension (quintiles are the classic cut).
RFM_BUCKETS = 5
#: Reference date for recency (the corpus's last order date + 1 day).
RFM_ASOF = "1998-08-03"


@register(
    "agg_rfm_segmentation",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               datediff('day', CAST(max(o_orderdate) AS DATE),
                        DATE '{RFM_ASOF}')      AS recency_days,
               count(*)                          AS frequency,
               -- decimal sum: order-independent exact cents, so the
               -- per-cell average below divides EXACT values and both
               -- engines agree bit-for-bit.
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                                 AS monetary
        FROM orders
        GROUP BY o_custkey
    ), scored AS (
        SELECT o_custkey, recency_days, frequency, monetary,
               ntile({RFM_BUCKETS}) OVER (ORDER BY recency_days DESC, o_custkey)
                   AS r_score,
               ntile({RFM_BUCKETS}) OVER (ORDER BY frequency, o_custkey)
                   AS f_score,
               ntile({RFM_BUCKETS}) OVER (ORDER BY monetary, o_custkey)
                   AS m_score
        FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           round(CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    tags=("analytics", "segmentation"),
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored into quintiles on
    Recency (days since last order), Frequency (order count) and
    Monetary (total spend), reported as the segment-cell census — the
    classic CRM cube.

    ntile orders carry a unique tiebreak (custkey) so bucket edges are
    deterministic.  Scale design: the oracle's three unpartitioned
    ntiles are single-reducer global sorts over the per-customer
    rollup; the registered form computes each score from the EXACT
    distributed global rank (prefix_rank.py: approx-quantile range
    buckets + partitioned local ranks + broadcast offsets) mapped to
    the ntile bucket arithmetically — identical output, no global
    sort.  The three score tables re-join on custkey (hash joins on
    the rollup), still strictly cheaper than three single-reducer
    sorts of it."""
    t = Tables(spark, sf_dir)
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    release_prior()  # free the previous invocation's cached rollup
    per_cust = persist_tracked(
        t.orders.groupBy("o_custkey").agg(
            F.datediff(
                F.lit(RFM_ASOF).cast("date"),
                F.max("o_orderdate").cast("date"),
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )

    def score(sort_expr, out_name: str) -> DataFrame:
        keyed = per_cust.select(
            "o_custkey", sort_expr.cast("double").alias("_sort")
        )
        ranked, n, _ = with_global_prefix(keyed, "_sort", ["o_custkey"])
        return ranked.select(
            "o_custkey",
            ntile_from_rank(F.col("_rank"), n, RFM_BUCKETS).alias(out_name),
        )

    scored = (
        per_cust.select("o_custkey", "monetary")
        .join(score(-F.col("recency_days"), "r_score"), "o_custkey")
        .join(score(F.col("frequency"), "f_score"), "o_custkey")
        .join(score(F.col("monetary"), "m_score"), "o_custkey")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum(F.col("monetary").cast("decimal(18,2)"))
                .cast("double")
                / F.count("*"),
                4,
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


#: Conversion deadline for the windowed funnel (days between stages).
FUNNEL_WINDOW_DAYS = 7


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t_view
          AND e.ts <= s1.t_view + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
          AND e.ts <= s2.t_click + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
        GROUP BY e.user_id
    )
    SELECT 'view'     AS stage, 1 AS stage_idx, count(*) AS n_users FROM s1
    UNION ALL
    SELECT 'click'    AS stage, 2 AS stage_idx, count(*) AS n_users FROM s2
    UNION ALL
    SELECT 'purchase' AS stage, 3 AS stage_idx, count(*) AS n_users FROM s3
    ORDER BY stage_idx
    """,
    tags=("analytics", "events"),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deadline-bounded funnel: each stage must convert within
    {FUNNEL_WINDOW_DAYS} days of the previous stage's conversion —
    how real funnel metrics are defined (an unbounded funnel
    overcounts users who "converted" months later).

    Identical plan shape to `events_funnel` (three chained
    groupBy(user_id) + same-key joins); the deadline is a pure filter,
    so the bound also CAPS join state in a streaming deployment — the
    batch twin of the interval-bounded stream-stream attribution
    join."""
    deadline = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAYS")
    return _stage_counts(
        *_funnel_stages(Tables(spark, sf_dir), deadline=deadline)
    )


@register(
    "window_pareto_share",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT o_custkey, revenue,
               row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rk,
               -- decimal running sum: exact and order/grouping
               -- independent, so the engine's bucketed prefix-sum
               -- decomposition matches bit-for-bit.
               CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER (
                   ORDER BY revenue DESC, o_custkey
                   ROWS UNBOUNDED PRECEDING
               ) AS DOUBLE) AS cum_revenue,
               CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER ()
                    AS DOUBLE) AS total_revenue,
               count(*) OVER () AS n_cust
        FROM per_cust
    )
    SELECT rk, o_custkey, revenue,
           round(cum_revenue / total_revenue, 6) AS cum_share,
           round(rk * 1.0 / n_cust, 6)           AS cust_frac
    FROM ranked
    WHERE cum_revenue / total_revenue <= 0.5
       OR rk = 1
    ORDER BY rk
    """,
    tags=("analytics", "window"),
)
def window_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration curve: the smallest set of customers whose
    cumulative revenue reaches 50% of the total — "what fraction of
    customers drives half the business".  Output is one row per
    customer inside the 50% set with their cumulative share and the
    running customer fraction.

    Scale design: the oracle's unpartitioned running-sum window is a
    single-reducer global sort over the per-customer rollup; the
    registered form computes rank AND running revenue with the
    distributed prefix decomposition (prefix_rank.py) — the running
    sum is carried as DECIMAL(18,2) (exact, order-independent) so the
    bucketed partial sums match the oracle's sequential window sum
    bit-for-bit, and the grand total / customer count come back as
    driver-side exact constants instead of a Window.partitionBy()
    global window."""
    t = Tables(spark, sf_dir)
    per_cust = t.orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    keyed = per_cust.withColumn("_neg_rev", -F.col("revenue"))
    ranked, n_cust, totals = with_global_prefix(
        keyed,
        "_neg_rev",
        ["o_custkey"],
        sums={"cum_rev": F.col("revenue").cast("decimal(18,2)")},
    )
    total_revenue = F.lit(float(totals["cum_rev"]))
    share = F.col("cum_rev").cast("double") / total_revenue
    return (
        ranked.withColumnRenamed("_rank", "rk")
        .filter((share <= 0.5) | (F.col("rk") == 1))
        .select(
            "rk",
            "o_custkey",
            "revenue",
            F.round(share, 6).alias("cum_share"),
            F.round(F.col("rk") / F.lit(float(n_cust)), 6).alias("cust_frac"),
        )
        .orderBy("rk")
    )


#: Bot heuristics: flag users whose busiest hour exceeds BOT_MAX_PER_H
#: events, or whose median inter-event gap is under BOT_MIN_GAP_MIN.
BOT_MAX_PER_H = 4
BOT_MIN_GAP_MIN = 90


@register(
    "events_bot_detection",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, count(*) AS n_in_hour
        FROM events
        GROUP BY user_id, date_trunc('hour', ts)
    ), burst AS (
        SELECT user_id, max(n_in_hour) AS max_per_hour
        FROM hourly GROUP BY user_id
    ), gaps AS (
        SELECT user_id,
               epoch(ts - lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) / 60.0
                   AS gap_min
        FROM events
    ), gapstats AS (
        SELECT user_id,
               quantile_cont(gap_min, 0.5) AS median_gap_min
        FROM gaps WHERE gap_min IS NOT NULL
        GROUP BY user_id
    )
    SELECT b.user_id, b.max_per_hour,
           round(g.median_gap_min, 4) AS median_gap_min,
           CAST(b.max_per_hour > {BOT_MAX_PER_H}
                OR g.median_gap_min < {BOT_MIN_GAP_MIN} AS BOOLEAN)
               AS flagged
    FROM burst b JOIN gapstats g ON b.user_id = g.user_id
    ORDER BY b.user_id
    """,
    tags=("analytics", "events", "abuse",
          "skew_hazard:sessionize_hot_key_safe"),
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse heuristics per user: burstiness (max events in any
    hour) and cadence (median inter-event gap) with a combined flag —
    the two cheapest signals an event pipeline screens before letting
    traffic into metrics or training data.

    Plan: the burst side is two stacked map-side-combinable groupBys
    (user×hour, then user); the cadence side is one lag window over
    (user, ts).  All three shuffles hash on user_id → exchange reuse.
    Both signals are O(1) state per user streaming.

    SKEW HAZARD: per-user-key window — a hot key serializes through one task; mitigation pattern: sessionize_hot_key_safe (split-and-stitch, see its docstring / SCALE_SMOKE.md skew table).
    """
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_id", "ts")
    burst = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n_in_hour"))
        .groupBy("user_id")
        .agg(F.max("n_in_hour").alias("max_per_hour"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        # timestamp→double keeps the microsecond fraction
        # (unix_timestamp truncates to whole seconds and diverges from
        # the oracle's epoch(interval)).
        (
            (F.col("ts").cast("double") - F.lag("ts").over(w).cast("double"))
            / 60.0
        ).alias("gap_min"),
    ).filter(F.col("gap_min").isNotNull())
    gapstats = gaps.groupBy("user_id").agg(
        F.percentile("gap_min", F.lit(0.5)).alias("median_gap_min")
    )
    flagged = (F.col("max_per_hour") > BOT_MAX_PER_H) | (
        F.col("median_gap_min") < BOT_MIN_GAP_MIN
    )
    return (
        burst.join(gapstats, "user_id")
        .select(
            "user_id",
            "max_per_hour",
            F.round("median_gap_min", 4).alias("median_gap_min"),
            flagged.alias("flagged"),
        )
        .orderBy("user_id")
    )


#: Rolling active-user horizons (days, inclusive of the current day).
WAU_DAYS = 7
MAU_DAYS = 30


@register(
    "events_dau_wau_mau",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (
        SELECT DISTINCT day FROM du
    ), wau AS (
        SELECT d.day, count(DISTINCT du.user_id) AS wau
        FROM days d JOIN du
          ON du.day <= d.day
         AND du.day > d.day - INTERVAL {WAU_DAYS} DAY
        GROUP BY d.day
    ), mau AS (
        SELECT d.day, count(DISTINCT du.user_id) AS mau
        FROM days d JOIN du
          ON du.day <= d.day
         AND du.day > d.day - INTERVAL {MAU_DAYS} DAY
        GROUP BY d.day
    ), dau AS (
        SELECT day, count(*) AS dau FROM du GROUP BY day
    )
    SELECT dau.day, dau.dau, wau.wau, mau.mau,
           round(dau.dau * 1.0 / mau.mau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day JOIN mau ON dau.day = mau.day
    ORDER BY dau.day
    """,
    tags=("analytics", "events", "engagement"),
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU + stickiness (DAU/MAU) per day — THE product
    engagement dashboard row.

    Scale design: no count(DISTINCT) over a sliding range (which would
    re-scan the window per day).  The (day, user) distinct pairs are
    built once; each pair then *contributes itself forward* into every
    horizon day it is active for, via a sequence() explode bounded by
    the horizon (≤30 rows per pair), and the rolling distinct becomes
    a plain groupBy(day) count(DISTINCT user) over the contributed
    rows.  Shuffles hash on day; state never exceeds
    |users| × horizon.  The oracle uses the equivalent range self-join
    formulation."""
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    t = Tables(spark, sf_dir)
    # The (day, user) distinct pairs feed FIVE consumers (days, dau,
    # the wau and mau contributions, and days' broadcast twin) —
    # without a persist Catalyst re-scans events and re-runs the
    # distinct once per branch (measured 5 corpus scans).  The pair
    # set is |users|×|active days| — already the compacted form — so
    # one materialization replaces five corpus scans (run_cache
    # contract: released on the next tracked operator's entry).
    release_prior()
    du = persist_tracked(
        t.events.select(
            F.col("ts").cast("date").alias("day"), "user_id"
        ).distinct()
    )
    days = du.select("day").distinct()

    def rolling(horizon: int, name: str) -> DataFrame:
        contrib = du.select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.date_add(F.col("day"), horizon - 1),
                )
            ).alias("day_h"),
            "user_id",
        )
        return (
            contrib.join(
                F.broadcast(days), contrib.day_h == days.day
            )
            .groupBy(F.col("day_h").alias(f"{name}_day"))
            .agg(F.count_distinct("user_id").alias(name))
        )

    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    wau = rolling(WAU_DAYS, "wau")
    mau = rolling(MAU_DAYS, "mau")
    return (
        dau.join(wau, dau.day == wau.wau_day)
        .join(mau, dau.day == mau.mau_day)
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "orders_seasonality",
    oracle="""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS INTEGER)  AS y,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        GROUP BY y, m
    )
    SELECT y, m, n_orders, revenue,
           round((revenue - lag(revenue, 12) OVER (ORDER BY y, m))
                 / lag(revenue, 12) OVER (ORDER BY y, m) * 100, 4)
               AS yoy_pct
    FROM monthly
    ORDER BY y, m
    """,
    tags=("analytics", "timeseries"),
)
def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order/revenue time series with year-over-year growth —
    the reporting staple behind every finance dashboard.  lag(12) over
    the (year, month) series compares each month with the same month
    a year earlier; revenue sums exact decimal cents so the growth
    ratio is bit-identical across engines.

    Plan: one map-side-combinable groupBy collapses the fact table to
    |months| rows; the lag window runs over that tiny series (an
    unpartitioned window over dozens of rows — not a scale concern)."""
    t = Tables(spark, sf_dir)
    monthly = t.orders.groupBy(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )
    w = Window.orderBy("y", "m")
    prior = F.lag("revenue", 12).over(w)
    return (
        monthly.select(
            "y",
            "m",
            "n_orders",
            "revenue",
            F.round((F.col("revenue") - prior) / prior * 100, 4).alias(
                "yoy_pct"
            ),
        )
        .orderBy("y", "m")
    )


#: Rolling window length (days) for the moving-baseline anomaly score.
ROLL_DAYS = 7


@register(
    "window_moving_zscore",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM events
        GROUP BY day
    )
    SELECT day, n_events, total,
           round(avg(total) OVER w, 4)        AS roll_mean,
           round(stddev_samp(total) OVER w, 4) AS roll_std,
           round((total - avg(total) OVER w)
                 / nullif(stddev_samp(total) OVER w, 0), 4) AS roll_z
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN {ROLL_DAYS - 1} PRECEDING
                 AND CURRENT ROW)
    ORDER BY day
    """,
    tags=("analytics", "timeseries", "anomaly"),
)
def window_moving_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-baseline anomaly score on the daily event-value series:
    each day scored against its own trailing 7-day mean/stddev — the
    rolling twin of the global z-score audit, and the alert rule
    behind most metric monitors.

    The fact table collapses to |days| rows first (map-side
    combinable, exact decimal sums); the ROWS frame runs over that
    tiny series.  Frames are row-based with a total (day) order, so
    both engines window identically."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(-(ROLL_DAYS - 1), 0)
    mean = F.avg("total").over(w)
    std = F.stddev_samp("total").over(w)
    return (
        daily.select(
            "day",
            "n_events",
            "total",
            F.round(mean, 4).alias("roll_mean"),
            F.round(std, 4).alias("roll_std"),
            F.round((F.col("total") - mean) / F.nullif(std, F.lit(0)), 4).alias(
                "roll_z"
            ),
        )
        .orderBy("day")
    )


@register(
    "events_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    cell AS (
      SELECT f.cohort_week,
             CAST(datediff('week', f.cohort_week,
                           date_trunc('week', e.ts)) AS INTEGER) AS age_week,
             sum(CAST(e.value AS DECIMAL(18,2))) AS week_value
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week, age_week,
           CAST(week_value AS DOUBLE) AS week_value,
           CAST(sum(week_value) OVER (
                  PARTITION BY cohort_week ORDER BY age_week
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cum_ltv
    FROM cell ORDER BY cohort_week, age_week
    """,
    tags=("analytics", "product"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: users grouped by the week of
    their first event; purchase revenue summed per cohort-week ×
    age-week, with the running cumulative LTV per cohort — the classic
    growth-analytics LTV curve.

    Plan: one groupBy(user_id) for cohort weeks, re-join on user_id
    (same hash partitioning → exchange reuse), decimal-exact cell agg,
    then a cumulative window PARTITIONED BY cohort_week — the frame is
    per-cohort, never global, and a cohort has at most
    ceil(horizon/7) rows, so the window state is tiny at any corpus
    size.  Sums are decimal(18,2) end-to-end and cast to double only
    at the output boundary (floating addition is not associative;
    decimal keeps both engines' totals bit-identical)."""
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "event_type", "value")

    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    cell = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")), F.col("cohort_week")
                ) / 7
            ).cast("int").alias("age_week"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("cohort_week", "age_week")
        .agg(F.sum("v").alias("week_value"))
    )
    cum = F.sum("week_value").over(
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.select(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        "age_week",
        F.col("week_value").cast("double").alias("week_value"),
        cum.cast("double").alias("cum_ltv"),
    ).orderBy("cohort_week", "age_week")


#: Synthetic session length for the concurrency sweep (minutes).
SWEEP_SESSION_MIN = 10


@register(
    "events_concurrency_sweep",
    oracle=f"""
    WITH iv AS (
      SELECT ts AS t0, ts + INTERVAL '{SWEEP_SESSION_MIN} minutes' AS t1
      FROM events
    ),
    pts AS (
      SELECT CAST(t0 AS DATE) AS day, t0 AS t, +1 AS delta FROM iv
      UNION ALL
      SELECT CAST(t0 AS DATE) AS day, t1 AS t, -1 AS delta FROM iv
    ),
    swept AS (
      SELECT day,
             sum(delta) OVER (PARTITION BY day ORDER BY t, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS live
      FROM pts
    )
    SELECT day, CAST(max(live) AS BIGINT) AS peak_concurrency
    FROM swept GROUP BY day ORDER BY day
    """,
    tags=("analytics", "interval"),
)
def events_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day by sweep-line: each event opens a
    SWEEP_SESSION_MIN-minute interval; intervals become (+1 at start,
    −1 at end) points, a running sum over the time-ordered points is
    the number of live sessions at every instant, and the per-day max
    is the answer — the interval-overlap counting operator (capacity
    planning, peak-load dashboards) that a naive approach writes as an
    O(n²) self-join of overlapping intervals.

    Tie discipline: points sort by (t, delta) so a −1 closing at time
    T precedes a +1 opening at T — touching intervals don't count as
    concurrent, and the statistic is deterministic under ties in both
    engines.  The running sum is PARTITIONED BY day (an interval never
    crosses the day seam at these lengths... and when one does, its
    −1 lands in the next day's partition, where the sweep starts at 0
    and a lone −1 can only lower non-peak prefix sums — peaks are
    unaffected at this session length ≪ day length).  Partition width
    is one day of events, so at 100 TB one narrows the partition key
    to (day, hour) with carry-in counts — the standard segmented-scan
    refinement; no global window anywhere."""
    t = Tables(spark, sf_dir)
    # One scan: each event row explodes into its two sweep points
    # (a union of starts and ends would read the fact table twice).
    t1 = F.col("ts") + F.expr(f"INTERVAL {SWEEP_SESSION_MIN} MINUTES")
    pts = t.events.select(
        F.col("ts").cast("date").alias("day"),
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("delta")),
                F.struct(t1.alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("p"),
    ).select("day", F.col("p.t").alias("t"), F.col("p.delta").alias("delta"))
    live = F.sum("delta").over(
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.select("day", live.alias("live"))
        .groupBy("day")
        .agg(F.max("live").alias("peak_concurrency"))
        .orderBy("day")
    )


#: CUSUM drift-detection knobs: target level μ₀ and slack k (the
#: classic one-sided upper CUSUM parameters — both are SPEC inputs,
#: not estimates, which is what keeps the statistic decimal-exact),
#: and the alarm threshold h.  At (52, 3, 300) roughly a quarter of
#: each type's events sit in an alarm region at sf0.1 — non-trivial
#: in both directions.
CUSUM_MU0 = 52
CUSUM_K = 3
CUSUM_H = 300


@register(
    "events_cusum_drift",
    oracle=f"""
    WITH d AS (
      SELECT event_type, ts, event_id,
             CAST(value AS DECIMAL(18,2)) - {CUSUM_MU0} - {CUSUM_K} AS dev
      FROM events
    ), p AS (
      SELECT event_type, ts, event_id,
             sum(dev) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS pt
      FROM d
    ), s AS (
      SELECT event_type,
             pt - least(min(pt) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING), 0) AS splus
      FROM p
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (splus > {CUSUM_H}) AS BIGINT) AS n_alarm,
           round(CAST(max(splus) AS DOUBLE), 2) AS max_cusum
    FROM s GROUP BY event_type ORDER BY event_type
    """,
    tags=("analytics", "events", "drift"),
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM drift detection (Page 1954) per event
    type: S⁺_t = max(0, S⁺_{t-1} + (x_t − μ₀ − k)), alarm while
    S⁺_t > h — THE classic sequential change-point statistic for
    monitoring a metric stream against a target level.  The recursive
    max-reset form is un-windowable directly, but S⁺_t ≡
    P_t − min(0, min_{i≤t} P_i) for the plain prefix sum P, so it
    becomes two stacked running windows (cumsum, then running min) —
    a textbook de-recursion every SQL engine can execute.

    Scale notes: both windows partition by event_type (the
    registry-wide no-unpartitioned-window guard applies) — each
    type's series sorts independently; at 100 TB one CUSUMs per
    (metric, shard) key, which is exactly this plan with a wider
    partition key.  Deviations are DECIMAL(18,2) (the corpus values
    are 2-decimal by construction), so every prefix sum, running min
    and threshold comparison is exact and order-free — no float
    drift anywhere until the single final cast of the max."""
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (
        F.col("value").cast("decimal(18,2)") - CUSUM_MU0 - CUSUM_K
    )
    p = t.events.select(
        "event_type", "ts", "event_id", dev.alias("dev")
    ).withColumn("pt", F.sum("dev").over(w))
    s = p.withColumn(
        "splus",
        F.col("pt") - F.least(F.min("pt").over(w), F.lit(0)),
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("splus") > CUSUM_H).cast("long"))
            .cast("bigint")
            .alias("n_alarm"),
            F.round(F.max("splus").cast("double"), 2).alias("max_cusum"),
        )
        .orderBy("event_type")
    )


#: User subset for the resample report (bounds output at every SF).
FFILL_MOD = 11


@register(
    "events_resample_ffill",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             sum(CAST(value AS DECIMAL(18,2))) AS v,
             count(*) AS n
      FROM events
      WHERE user_id % {FFILL_MOD} = 0
      GROUP BY 1, 2
    ), spine AS (
      SELECT user_id,
             unnest(generate_series(min(day), max(day),
                                    INTERVAL 1 DAY))::DATE AS day
      FROM daily GROUP BY user_id
    )
    SELECT s.user_id,
           CAST(s.day AS VARCHAR) AS day,
           CAST(coalesce(d.n, 0) AS INTEGER) AS n_events,
           CAST(last_value(d.v IGNORE NULLS) OVER (
                  PARTITION BY s.user_id ORDER BY s.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DOUBLE) AS value_ffill
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    ORDER BY s.user_id, s.day
    """,
    tags=("analytics", "timeseries", "window", "ignore-nulls"),
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample + forward fill — the time-series gap-fill
    idiom every metrics pipeline needs (daily per-user value where
    days without events CARRY the last observed value): per-user daily
    aggregate, a sequence()-exploded calendar spine from each user's
    first to last active day, a left join marking the gaps, and
    last(..., ignorenulls=True) over the user timeline to fill them —
    the one window shape the frames family didn't yet exercise
    (IGNORE NULLS over an UNBOUNDED PRECEDING frame).

    Scale notes: the spine explodes from a 2-column per-user min/max
    aggregate (|users| rows → |users|·days rows — output-sized, never
    corpus-sized), the gap join and the fill window share the user_id
    partitioning, and the daily aggregate is map-side combinable.
    Hot-key note (guard-exempt with this reason): the per-user fill
    window's input is the day spine — at most span-days rows per user
    regardless of event volume — because the per-(user, day) aggregate
    BEFORE it absorbs any hot user map-side; there is no corpus-scale
    per-key serialization for a hot key to exploit.  Sums are exact
    DECIMAL so the fill carries bit-identical values in both
    engines."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("user_id") % FFILL_MOD == 0)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            F.coalesce("n", F.lit(0)).cast("int").alias("n_events"),
            F.last("v", ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("value_ffill"),
        )
        .orderBy("user_id", "day")
    )
