"""The reference paper's evaluated SQL set: TPC-DS Q5, Q16, Q94, Q95.

SplitServe's evaluation (SURVEY.md §0/§6; Paper/SplitServe.pdf §5.2)
runs four I/O-intensive TPC-DS queries at SF 8.  This module carries
their *plan shapes* onto the driver schema (no store/catalog/web
channel tables here), because the shapes — not the retail column names
— are what exercise the engine:

  Q5  : per-channel sales⊎returns UNION ALL → ROLLUP report
  Q16 : EXISTS (second site) + NOT EXISTS (return) + count(DISTINCT)
  Q94 : same skeleton on a second "channel" slice with date-range scan
  Q95 : both membership tests against the multi-supplier order view,
        collapsed into one per-order aggregate (_slice_membership)

Channel mapping: lineitem rows are "sales"; returnflag='R' rows double
as the returns flow.  Site/warehouse mapping: l_suppkey (an order
"shipped from two warehouses" = lines from ≥2 suppliers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.operators.run_cache import persist_tracked, release_prior
from splitserve_spark.tables import Tables


def _ts(lit: str):
    return F.lit(lit).cast("timestamp")


@register(
    "qds5_channel_rollup",
    oracle="""
    WITH flows AS (
      SELECT 'order channel' AS channel,
             'status_' || o_orderstatus AS id,
             CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4)) AS sales,
             CAST(CASE WHEN l_returnflag = 'R'
                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                  AS DECIMAL(18,4)) AS returns
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-07-01'
      UNION ALL
      SELECT 'priority channel' AS channel,
             'prio_' || substr(o_orderpriority, 1, 1) AS id,
             CAST(o_totalprice AS DECIMAL(18,4)) AS sales,
             CAST(0 AS DECIMAL(18,4)) AS returns
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-07-01'
    )
    SELECT channel, id,
           CAST(sum(sales) AS DOUBLE)   AS total_sales,
           CAST(sum(returns) AS DOUBLE) AS total_returns,
           CAST(sum(sales - returns) AS DOUBLE) AS profit
    FROM flows
    GROUP BY ROLLUP (channel, id)
    ORDER BY channel NULLS FIRST, id NULLS FIRST
    """,
    tags=("tpcds", "paper", "rollup", "union"),
    bench=True,
)
def qds5_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q5 shape: two channel flows unioned, then a ROLLUP report
    (Expand operator doubles rows per grouping set — the I/O-heavy
    pattern the paper picked).  Union branches stay independent until
    the single aggregation shuffle."""
    t = Tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flow1 = (
        t.lineitem
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-07-01"))
        )
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.lit("order channel").alias("channel"),
            F.concat(F.lit("status_"), F.col("o_orderstatus")).alias("id"),
            rev.cast("decimal(18,4)").alias("sales"),
            F.when(F.col("l_returnflag") == "R", rev)
            .otherwise(0.0).cast("decimal(18,4)").alias("returns"),
        )
    )
    flow2 = (
        t.orders
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1996-07-01"))
        )
        .select(
            F.lit("priority channel").alias("channel"),
            F.concat(F.lit("prio_"), F.substring("o_orderpriority", 1, 1)).alias("id"),
            F.col("o_totalprice").cast("decimal(18,4)").alias("sales"),
            F.lit(0).cast("decimal(18,4)").alias("returns"),
        )
    )
    return (
        flow1.unionAll(flow2)
        .rollup("channel", "id")
        .agg(
            # Exact decimal sums (lossless 4dp inputs): associative,
            # so the rollup's re-aggregation order cannot drift a ULP.
            F.sum("sales").cast("double").alias("total_sales"),
            F.sum("returns").cast("double").alias("total_returns"),
            F.sum(F.col("sales") - F.col("returns"))
            .cast("double").alias("profit"),
        )
        # A few dozen rollup rows: one partition sorts them, with no
        # range-sampling job and no range shuffle.
        .coalesce(1)
        .sortWithinPartitions(
            F.col("channel").asc_nulls_first(), F.col("id").asc_nulls_first())
    )


_Q16_94_ORACLE = """
    SELECT count(DISTINCT o_orderkey) AS order_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM (
      SELECT DISTINCT o_orderkey, o_totalprice
      FROM orders, lineitem l1
      WHERE o_orderkey = l1.l_orderkey
        AND o_orderdate >= TIMESTAMP '{d0}'
        AND o_orderdate < TIMESTAMP '{d1}'
        AND o_orderpriority {prio_cond}
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = o_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = o_orderkey AND l3.l_returnflag = 'R')
    )
"""


def _slice_membership(t: Tables, orders: DataFrame, has_r: int) -> DataFrame:
    """Order count and decimal price sum of the `orders` slice's
    multi-supplier orders whose returned-line flag is `has_r` (0 for
    Q16/Q94's NOT EXISTS, 1 for Q95).  One per-order aggregate holds
    both tests: ≥2 suppliers ⟺ min(suppkey)≠max(suppkey), and a max()
    return flag.  Each verdict depends on the order's own lines only,
    so the slice joins lineitem BEFORE the aggregate, which then groups
    the slice's lines, not the whole fact table.  Grouping on (key,
    price) is the oracle's DISTINCT o_orderkey, o_totalprice.  The
    order count is a plain count of those groups, because it relies on
    o_orderkey being orders' primary key (tests/test_tpcds_paper.py
    pins it unique at every SF): each key has one price and so one
    group, and count(DISTINCT o_orderkey) would give the same number
    at the cost of one more shuffle and one more job.  No broadcast
    hint: orders grows with SF, and at scale this selective shuffle
    join is what the runtime bloom filter prunes."""
    li = t.lineitem.select("l_orderkey", "l_suppkey", "l_returnflag")
    return (
        li.join(
            orders.select("o_orderkey", "o_totalprice"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            (F.min("l_suppkey") != F.max("l_suppkey")).alias("multi"),
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r"),
        )
        .filter(F.col("multi") & (F.col("has_r") == has_r))
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("total_price"),
        )
    )


def _q16_94_impl(
    spark: SparkSession, sf_dir: str, d0: str, d1: str, prios: tuple[str, ...],
    negate_prio: bool,
) -> DataFrame:
    t = Tables(spark, sf_dir)
    prio = F.col("o_orderpriority").isin(*prios)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= _ts(d0))
        & (F.col("o_orderdate") < _ts(d1))
        & (~prio if negate_prio else prio)
    )
    return _slice_membership(t, orders, has_r=0)


@register(
    "qds16_multi_site_no_returns",
    oracle=_Q16_94_ORACLE.format(
        d0="1996-01-01", d1="1996-04-01", prio_cond="IN ('1-URGENT', '2-HIGH')"
    ),
    bench=True,
    tags=("tpcds", "paper", "subquery", "semi-join", "anti-join"),
)
def qds16_multi_site_no_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q16 shape: orders shipped from ≥2 sites (EXISTS another
    supplier's line) with no returns (NOT EXISTS), count-distinct +
    sum.  Both quantifiers correlate only on o_orderkey, so they fold
    into one per-order aggregate over the date/priority slice's lines
    (see _slice_membership). (Oracle's l1 join has duplicate orders
    per line; its DISTINCT is the aggregate's (key, price) grouping.)"""
    return _q16_94_impl(
        spark, sf_dir, "1996-01-01", "1996-04-01",
        ("1-URGENT", "2-HIGH"), negate_prio=False,
    )


@register(
    "qds94_web_no_returns",
    oracle=_Q16_94_ORACLE.format(
        d0="1997-01-01", d1="1997-03-01", prio_cond="NOT IN ('5-LOW')"
    ),
    bench=True,
    tags=("tpcds", "paper", "subquery", "semi-join", "anti-join"),
)
def qds94_web_no_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q94 shape: identical membership skeleton to Q16 on the
    second "channel" slice (different date window + priority class) —
    the paper runs both to stress the same I/O pattern twice.  The
    per-order aggregate covers the slice's lines only (see
    _slice_membership)."""
    return _q16_94_impl(
        spark, sf_dir, "1997-01-01", "1997-03-01", ("5-LOW",), negate_prio=True,
    )


@register(
    "qds95_both_sites_view",
    oracle="""
    WITH ws_wh AS (
      SELECT l1.l_orderkey AS okey
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
      GROUP BY l1.l_orderkey
    )
    SELECT count(DISTINCT o_orderkey) AS order_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-06-01'
      AND o_orderdate < TIMESTAMP '1996-09-01'
      AND o_orderkey IN (SELECT okey FROM ws_wh)
      AND o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        WHERE l_returnflag = 'R'
          AND l_orderkey IN (SELECT okey FROM ws_wh))
    """,
    bench=True,
    tags=("tpcds", "paper", "subquery", "cte", "self-join"),
)
def qds95_both_sites_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q95 shape: the multi-site order set (the oracle's ws_wh
    self-join view) referenced by BOTH membership tests.  Unlike Q94,
    the return test requires the returning line itself to be in a
    multi-site order — but that line's order is then multi-site by
    definition, so the two tests collapse to one per-order aggregate
    ("≥2 suppliers AND has a returned line") over the date slice's
    lines (see _slice_membership; o_orderkey is orders' key, so its
    (key, price) groups are the oracle's orders rows)."""
    t = Tables(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= _ts("1996-06-01"))
        & (F.col("o_orderdate") < _ts("1996-09-01"))
    )
    return _slice_membership(t, orders, has_r=1)


@register(
    "qds3_brand_revenue",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS sales_year,
           p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part   ON l_partkey  = p_partkey
    WHERE p_type = 'PROMO'
    GROUP BY sales_year, p_brand
    ORDER BY sales_year, revenue DESC, p_brand
    """,
    tags=("tpcds", "beyond-quartet"),
)
def qds3_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q3 plan shape beyond the paper's quartet (TPC-DS spec
    query 3: brand revenue by year for one manufacturer): fact ⋈ date
    ⋈ item with a selective dimension predicate, grouped on
    (year, brand).  On this schema the date dim is derived from
    o_orderdate, item maps to part, and the Q3 manufacturer predicate
    maps to the p_type='PROMO' slice (this schema has no p_mfgr).

    The shape's point at scale: the `p_mfgr` predicate makes the item
    side small → broadcast; the orders join carries only (orderkey,
    orderdate).  Grouping keys are low-cardinality so the partial agg
    collapses the fact stream before the single shuffle."""
    t = Tables(spark, sf_dir)
    item = t.part.filter(F.col("p_type") == "PROMO").select(
        "p_partkey", "p_brand"
    )
    return (
        t.lineitem.join(
            t.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(item), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.year("o_orderdate").alias("sales_year"), F.col("p_brand")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("sales_year", F.col("revenue").desc(), "p_brand")
    )


@register(
    "qds7_demographic_item_avgs",
    oracle="""
    SELECT p_brand,
           round(avg(l_quantity), 4)      AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4)      AS avg_disc,
           round(avg(l_tax), 4)           AS avg_tax
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN part     ON l_partkey  = p_partkey
    WHERE c_mktsegment = 'BUILDING'
      AND year(o_orderdate) = 1995
      AND (p_type = 'PROMO' OR p_size < 10)
    GROUP BY p_brand
    ORDER BY p_brand
    LIMIT 100
    """,
    tags=("tpcds", "beyond-quartet"),
)
def qds7_demographic_item_avgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q7 plan shape beyond the paper's quartet (spec query 7:
    per-item averages for one demographic slice, one year, promo-
    channel-filtered): a 4-way STAR — fact ⋈ demographics ⋈ date ⋈
    item(+promo predicate) → group on the item key → four AVGs →
    ordered LIMIT.  On this schema: customer_demographics maps to
    customer (cd_gender/marital/education slice → c_mktsegment),
    date_dim to year(o_orderdate), item to part, and the promotion
    dim's disjunctive channel predicate to
    (p_type='PROMO' OR p_size<10) on the item side.

    The shape's point at scale: three independent dim filters reduce
    the fact stream multiplicatively BEFORE the single agg shuffle;
    customer is the only non-broadcast-size dim, so the planner
    shuffle-joins it and broadcasts the rest (no hints — AQE decides),
    and the final TopK is TakeOrderedAndProject, never a global sort."""
    t = Tables(spark, sf_dir)
    demo = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    item = t.part.filter(
        (F.col("p_type") == "PROMO") | (F.col("p_size") < 10)
    ).select("p_partkey", "p_brand")
    dated_orders = t.orders.filter(F.year("o_orderdate") == 1995).select(
        "o_orderkey", "o_custkey"
    )
    return (
        t.lineitem.select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax",
        )
        .join(dated_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(demo, F.col("o_custkey") == F.col("c_custkey"))
        .join(item, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.round(F.avg("l_tax"), 4).alias("avg_tax"),
        )
        .orderBy("p_brand")
        .limit(100)
    )


#: Exact-decimal revenue recipe for the round-7 star shapes: the
#: corpus's money columns are 2-decimal by construction, so the
#: double product price·(1-disc) is within 1 ULP of a 4-decimal
#: value — casting it to DECIMAL(18,4) lands both engines on the
#: identical decimal (no midpoint within reach), and decimal sums
#: are order-independent, so the aggregate is bit-exact at ANY
#: corpus size (the round-7 streaming-window lesson applied from
#: the start instead of retrofitted).
_DEC_REVENUE_SQL = (
    "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))"
    " AS DOUBLE)"
)


def _dec_revenue():
    return (
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,4)")
        )
        .cast("double")
    )


@register(
    "qds42_category_month_revenue",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS sales_year,
           p_type AS category,
           {_DEC_REVENUE_SQL} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part   ON l_partkey  = p_partkey
    WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 11
      AND p_size <= 10
    GROUP BY sales_year, category
    ORDER BY revenue DESC, category
    """,
    tags=("tpcds", "beyond-quartet"),
)
def qds42_category_month_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q42 plan shape (spec query 42: category revenue for one
    (year, month), manager-sliced items): fact ⋈ date ⋈ item with BOTH
    a year- and month-selective date predicate and an item slice,
    grouped on (year, category), ordered by revenue.  On this schema
    the date dim derives from o_orderdate (year=1997, moy=11), item
    maps to part, i_category to p_type, and the i_manager_id=1 slice
    to p_size <= 10.

    Shape's point at scale: the month predicate makes this the most
    date-selective of the star trio — with a date-partitioned fact
    table the scan prunes to ~1/84 of the data before any join; the
    item side broadcasts; the six-group agg collapses map-side.
    Revenue aggregates through DECIMAL(18,4) (see _DEC_REVENUE_SQL) —
    order-independent, so bit-exact at any corpus size."""
    t = Tables(spark, sf_dir)
    item = t.part.filter(F.col("p_size") <= 10).select("p_partkey", "p_type")
    dated = t.orders.filter(
        (F.year("o_orderdate") == 1997) & (F.month("o_orderdate") == 11)
    ).select("o_orderkey", "o_orderdate")
    return (
        t.lineitem.select(
            "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
        )
        .join(dated, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(item), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.year("o_orderdate").alias("sales_year"),
            F.col("p_type").alias("category"),
        )
        .agg(_dec_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "category")
    )


@register(
    "qds52_brand_month_extprice",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS sales_year,
           p_brand,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS ext_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part   ON l_partkey  = p_partkey
    WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 12
      AND p_type = 'SMALL'
    GROUP BY sales_year, p_brand
    ORDER BY ext_price DESC, p_brand
    """,
    tags=("tpcds", "beyond-quartet"),
)
def qds52_brand_month_extprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q52 plan shape (spec query 52: brand ext-price for one
    (year, month), manager-sliced — Q42's twin grouped on brand with
    undiscounted price): fact ⋈ date ⋈ item, (year=1996, moy=12),
    i_brand → p_brand, the slice to p_type='SMALL'.  Q42/Q52/Q55 are
    deliberately near-identical in the spec (same star, different
    report column); carrying both pins that the engine plans the
    family identically — broadcast item, date-pruned fact scan, map-
    side-collapsed agg — rather than treating each as novel.
    Undiscounted 2-decimal prices sum exactly through DECIMAL(18,4)."""
    t = Tables(spark, sf_dir)
    item = t.part.filter(F.col("p_type") == "SMALL").select(
        "p_partkey", "p_brand"
    )
    dated = t.orders.filter(
        (F.year("o_orderdate") == 1996) & (F.month("o_orderdate") == 12)
    ).select("o_orderkey", "o_orderdate")
    return (
        t.lineitem.select("l_orderkey", "l_partkey", "l_extendedprice")
        .join(dated, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(item), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.year("o_orderdate").alias("sales_year"), F.col("p_brand")
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("ext_price")
        )
        .orderBy(F.col("ext_price").desc(), "p_brand")
    )


@register(
    "qds19_cross_nation_brand_revenue",
    oracle=f"""
    SELECT p_brand,
           {_DEC_REVENUE_SQL} AS cross_border_revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN part     ON l_partkey  = p_partkey
    WHERE p_type IN ('PROMO', 'ECONOMY') AND p_size <= 15
      AND c_nationkey != s_nationkey
      AND year(o_orderdate) = 1998
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    tags=("tpcds", "beyond-quartet"),
)
def qds19_cross_nation_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q19 plan shape (spec query 19: brand revenue restricted
    to sales where the customer's zip differs from the store's — the
    only quartet-adjacent query whose defining predicate CROSSES two
    dimensions): a 5-way star whose filter c_nationkey != s_nationkey
    compares attributes carried in from two different dimension joins,
    so it cannot be pushed into any single scan.  On this schema:
    store_sales→lineitem, item(manager slice)→part (type ∈ {{PROMO,
    ECONOMY}}, size ≤ 15), d_year→1998, and "bought in a different
    zip than the store" → "customer and supplier in different
    nations".

    Shape's point at scale: the cross-dim predicate must be evaluated
    AFTER both the customer and supplier attributes are attached but
    BEFORE the aggregation — the planner keeps the two key columns
    (each a single int) flowing through the fact stream and filters
    pre-shuffle, so the agg exchange sees only surviving rows; every
    dim except customer broadcasts.  Revenue through DECIMAL(18,4) —
    bit-exact at any corpus size."""
    t = Tables(spark, sf_dir)
    item = t.part.filter(
        F.col("p_type").isin("PROMO", "ECONOMY") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_brand")
    dated = t.orders.filter(F.year("o_orderdate") == 1998).select(
        "o_orderkey", "o_custkey"
    )
    cust = t.customer.select("c_custkey", "c_nationkey")
    supp = t.supplier.select("s_suppkey", "s_nationkey")
    return (
        t.lineitem.select(
            "l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount",
        )
        .join(dated, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(item), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy("p_brand")
        .agg(
            _dec_revenue().alias("cross_border_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


@register(
    "qds88_hour_band_counts",
    oracle="""
    SELECT
      count(*) FILTER (WHERE hour(ts) BETWEEN 0 AND 2
                         AND event_type = 'view')      AS h0_2_view,
      count(*) FILTER (WHERE hour(ts) BETWEEN 3 AND 5
                         AND event_type = 'view')      AS h3_5_view,
      count(*) FILTER (WHERE hour(ts) BETWEEN 6 AND 8
                         AND event_type = 'click')     AS h6_8_click,
      count(*) FILTER (WHERE hour(ts) BETWEEN 9 AND 11
                         AND event_type = 'click')     AS h9_11_click,
      count(*) FILTER (WHERE hour(ts) BETWEEN 12 AND 14
                         AND event_type = 'purchase')  AS h12_14_purchase,
      count(*) FILTER (WHERE hour(ts) BETWEEN 15 AND 17
                         AND event_type = 'purchase')  AS h15_17_purchase,
      count(*) FILTER (WHERE hour(ts) BETWEEN 18 AND 20
                         AND value > 50)               AS h18_20_highval,
      count(*) FILTER (WHERE hour(ts) BETWEEN 21 AND 23
                         AND value > 50)               AS h21_23_highval
    FROM events
    """,
    tags=("tpcds", "beyond-quartet"),
)
def qds88_hour_band_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape — eight time-band counts emitted as one row.
    The spec writes Q88 as eight scalar subqueries cross-joined
    (`s1 CROSS JOIN s2 ...`), i.e. eight separate scans of store_sales;
    the Spark-first rewrite is a SINGLE scan with eight conditional
    aggregates (count_if per band) — one pass, map-side combinable,
    no join at all.  That rewrite is exactly what matters at 100 TB:
    Q88's naive form reads the fact table eight times; this form once.
    The oracle keeps the banding in FILTER-clause form to pin the same
    semantics.  Mapped onto events: hour-of-day bands × event-type /
    value predicates."""
    t = Tables(spark, sf_dir)
    h = F.hour("ts")

    def band(lo, hi, pred, name):
        return F.count_if(h.between(lo, hi) & pred).alias(name)

    return t.events.agg(
        band(0, 2, F.col("event_type") == "view", "h0_2_view"),
        band(3, 5, F.col("event_type") == "view", "h3_5_view"),
        band(6, 8, F.col("event_type") == "click", "h6_8_click"),
        band(9, 11, F.col("event_type") == "click", "h9_11_click"),
        band(12, 14, F.col("event_type") == "purchase", "h12_14_purchase"),
        band(15, 17, F.col("event_type") == "purchase", "h15_17_purchase"),
        band(18, 20, F.col("value") > 50, "h18_20_highval"),
        band(21, 23, F.col("value") > 50, "h21_23_highval"),
    )


@register(
    "qds51_cumulative_channels",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders WHERE year(o_orderdate) = 1997 AND month(o_orderdate) <= 2
      GROUP BY 1
    ),
    l AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem WHERE year(l_shipdate) = 1997 AND month(l_shipdate) <= 2
      GROUP BY 1
    ),
    merged AS (
      SELECT coalesce(o.day, l.day) AS day,
             coalesce(o.rev, 0) AS o_rev, coalesce(l.rev, 0) AS l_rev
      FROM o FULL OUTER JOIN l ON o.day = l.day
    ),
    cum AS (
      SELECT day,
             sum(o_rev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS o_cum,
             sum(l_rev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS l_cum
      FROM merged
    )
    SELECT day, CAST(o_cum AS DOUBLE) AS order_cum,
           CAST(l_cum AS DOUBLE) AS ship_cum
    FROM cum WHERE o_cum > l_cum
    ORDER BY day
    """,
    tags=("tpcds", "beyond-quartet"),
)
def qds51_cumulative_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q51 shape — two channels' daily revenue, FULL OUTER
    joined on day, running cumulative totals compared (the spec asks
    for days where the web cumulative exceeds the store cumulative).
    Mapped onto this schema: order-booking revenue vs shipment
    revenue, first two months of 1997.

    Plan shape Q51 exists to test: two independent aggregations →
    full outer join on the time key → window over the merged series.
    The cumulative window is time-ordered over a BOUNDED series (one
    row per day post-aggregation — ≤59 here, ≤ a few thousand for any
    realistic horizon), so the unpartitioned frame is bounded by
    construction, like the calendar windows in the guard allow-list.
    Sums are decimal until the output cast."""
    t = Tables(spark, sf_dir)
    o = (
        t.orders.filter(
            (F.year("o_orderdate") == 1997) & (F.month("o_orderdate") <= 2)
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("o_rev"))
    )
    l = (
        t.lineitem.filter(
            (F.year("l_shipdate") == 1997) & (F.month("l_shipdate") <= 2)
        )
        .groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("l_rev")
        )
    )
    merged = (
        o.join(l, "day", "full_outer")
        .select(
            "day",
            F.coalesce("o_rev", F.lit(0)).alias("o_rev"),
            F.coalesce("l_rev", F.lit(0)).alias("l_rev"),
        )
    )
    from pyspark.sql.window import Window as W

    cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        merged.select(
            "day",
            F.sum("o_rev").over(cum).alias("o_cum"),
            F.sum("l_rev").over(cum).alias("l_cum"),
        )
        .filter(F.col("o_cum") > F.col("l_cum"))
        .select(
            "day",
            F.col("o_cum").cast("double").alias("order_cum"),
            F.col("l_cum").cast("double").alias("ship_cum"),
        )
        .orderBy("day")
    )


@register(
    "qds98_revenue_ratio",
    oracle=f"""
    WITH item_rev AS (
      SELECT p_partkey AS item_id, p_type AS item_type,
             p_brand AS class,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))) AS itemrev_dec
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part   ON l_partkey  = p_partkey
      WHERE o_orderdate BETWEEN DATE '1997-11-01'
                            AND DATE '1997-11-30'
      GROUP BY item_id, item_type, class
    )
    SELECT item_id, item_type, class,
           CAST(itemrev_dec AS DOUBLE) AS itemrevenue,
           round(CAST(itemrev_dec AS DOUBLE) * 100.0 /
                 CAST(sum(itemrev_dec) OVER (PARTITION BY class)
                      AS DOUBLE), 6)
               AS revenueratio
    FROM item_rev
    ORDER BY class, revenueratio DESC, item_id
    """,
    tags=("tpcds", "beyond-quartet", "window"),
)
def qds98_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q98 plan shape (spec query 98: each item's revenue share
    of its class over a 30-day window): fact ⋈ date ⋈ item, per-item
    rollup, then a CLASS-PARTITIONED window sum for the denominator —
    the canonical 'ratio to group total' report.  On this schema item
    maps to part, i_class to p_brand (25 classes), the date dim to
    o_orderdate.

    Shape's point at scale: the window partitions on class, so Spark
    re-shuffles only the per-item rollup (|items| rows, not the fact)
    and each class's partition is independent — NO unpartitioned
    window anywhere (the registry-wide guard applies).  Item revenue
    aggregates through DECIMAL(18,4) (order-independent, bit-exact);
    the ratio divides two exact decimals cast to double identically on
    both engines before the shared round(…, 6)."""
    t = Tables(spark, sf_dir)
    dated = t.orders.filter(
        F.col("o_orderdate").between("1997-11-01", "1997-11-30")
    ).select("o_orderkey")
    item = t.part.select("p_partkey", "p_type", "p_brand")
    item_rev = (
        t.lineitem.select(
            "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
        )
        .join(dated, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(item), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_partkey").alias("item_id"),
            F.col("p_type").alias("item_type"),
            F.col("p_brand").alias("class"),
        )
        .agg(
            # Kept DECIMAL through the window: the class denominator is
            # a sum over per-item revenues, and a double window sum is
            # accumulation-order dependent.  Both sides cast to double
            # only at the ratio/output.
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).alias("itemrev_dec")
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("class")
    return (
        item_rev.select(
            "item_id",
            "item_type",
            "class",
            F.col("itemrev_dec").cast("double").alias("itemrevenue"),
            F.round(
                F.col("itemrev_dec").cast("double") * 100.0
                / F.sum("itemrev_dec").over(w).cast("double"),
                6,
            ).alias("revenueratio"),
        )
        .orderBy("class", F.col("revenueratio").desc(), "item_id")
    )


@register(
    "qds1_returns_above_avg",
    oracle="""
    WITH cr AS (
      SELECT o_custkey AS ck, c_nationkey AS nk,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS ret
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R'
      GROUP BY o_custkey, c_nationkey
    ),
    na AS (
      SELECT nk, sum(ret) AS tot, count(*) AS cnt FROM cr GROUP BY nk
    )
    SELECT cr.ck AS custkey, cr.nk AS nationkey,
           round(CAST(cr.ret AS DOUBLE), 4) AS returns
    FROM cr JOIN na ON cr.nk = na.nk
    WHERE cr.ret * 5 * na.cnt > na.tot * 6
    ORDER BY returns DESC, custkey
    LIMIT 100
    """,
    tags=("tpcds", "correlated-avg"),
)
def qds1_returns_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q1 plan shape (spec query 1: customers whose total store
    returns exceed 1.2x the average of their store's customers): a
    per-customer returns rollup compared against its GROUP's average —
    the correlated-aggregate-filter pattern.  Store maps to nation;
    returns to l_returnflag='R' revenue.

    The 1.2x comparison is done in INTEGER-EXACT form on both engines:
    ret > 1.2 * (tot / cnt)  ⟺  ret * 5 * cnt > tot * 6, with ret/tot
    as exact DECIMAL(18,4) sums — no double division or float literal
    anywhere near the boundary (the r8 heavy-hitter ADVICE class).

    Shape's point at scale: the group average is a partitioned window
    over the per-customer ROLLUP (|customers| rows, not the fact
    table), so the second pass shuffles only aggregates; the fact
    scans once."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    cr = (
        t.lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).alias("ret")
        )
    )
    w = Window.partitionBy("nationkey")
    return (
        cr.withColumn("tot", F.sum("ret").over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("ret") * 5 * F.col("cnt") > F.col("tot") * 6)
        .select(
            "custkey",
            "nationkey",
            F.round(F.col("ret").cast("double"), 4).alias("returns"),
        )
        .orderBy(F.col("returns").desc(), "custkey")
        .limit(100)
    )


@register(
    "qds11_yoy_channel_growth",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS ck,
             sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
                       AND o_orderdate < TIMESTAMP '1996-01-01'
                      THEN CAST(o_totalprice AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS o95,
             sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                       AND o_orderdate < TIMESTAMP '1997-01-01'
                      THEN CAST(o_totalprice AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS o96
      FROM orders GROUP BY o_custkey
    ),
    l AS (
      SELECT o_custkey AS ck,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01'
                       AND l_shipdate < TIMESTAMP '1996-01-01'
                      THEN CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS l95,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate < TIMESTAMP '1997-01-01'
                      THEN CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS l96
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey
    )
    SELECT c_mktsegment AS segment,
           count(*) AS n_candidates,
           CAST(sum(CASE WHEN o96 * l95 > l96 * o95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orders_outgrew
    FROM o JOIN l USING (ck)
    JOIN customer ON ck = c_custkey
    WHERE o95 > 0 AND o96 > 0 AND l95 > 0 AND l96 > 0
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
    tags=("tpcds", "yoy", "self-join"),
)
def qds11_yoy_channel_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q11/Q4 plan shape (spec: customers whose year-over-year
    growth in one channel exceeds their growth in another): two
    per-customer per-year channel rollups joined back on customer, the
    cross-channel ratio comparison, then a segment report.  Channels
    map to order headers (o_totalprice by o_orderdate year) vs line
    items (revenue by l_shipdate year), 1995 → 1996.

    The ratio comparison is EXACT: o96/o95 > l96/l95 on positive
    denominators is evaluated as o96*l95 > l96*o95 — products of exact
    DECIMAL sums, no division, so Spark and DuckDB agree at every
    boundary.  Output is integer counts per segment (nothing float at
    all).

    Shape's point at scale: both channel rollups reduce the facts to
    |customers| rows BEFORE the join; the YoY comparison joins
    aggregates, never facts, and the final report is a |segments|-row
    aggregate."""
    t = Tables(spark, sf_dir)
    d18_2, d18_4 = "decimal(18,2)", "decimal(18,4)"

    def year_sum(col, datecol, lo, hi, dec):
        return F.sum(
            F.when(
                (F.col(datecol) >= F.lit(lo).cast("timestamp"))
                & (F.col(datecol) < F.lit(hi).cast("timestamp")),
                col.cast(dec),
            ).otherwise(F.lit(0).cast(dec))
        )

    o = t.orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        year_sum(F.col("o_totalprice"), "o_orderdate",
                 "1995-01-01", "1996-01-01", d18_2).alias("o95"),
        year_sum(F.col("o_totalprice"), "o_orderdate",
                 "1996-01-01", "1997-01-01", d18_2).alias("o96"),
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    li = (
        t.lineitem.select(
            "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
        )
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            year_sum(rev, "l_shipdate",
                     "1995-01-01", "1996-01-01", d18_4).alias("l95"),
            year_sum(rev, "l_shipdate",
                     "1996-01-01", "1997-01-01", d18_4).alias("l96"),
        )
    )
    return (
        o.join(li, "ck")
        .filter(
            (F.col("o95") > 0) & (F.col("o96") > 0)
            & (F.col("l95") > 0) & (F.col("l96") > 0)
        )
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_mktsegment")),
            F.col("ck") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(
                F.when(
                    F.col("o96") * F.col("l95")
                    > F.col("l96") * F.col("o95"),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_orders_outgrew"),
        )
        .orderBy("segment")
    )


@register(
    "qds90_time_band_ratio",
    oracle="""
    WITH am AS (
      SELECT count(*) AS n FROM events
      WHERE CAST(extract(hour FROM ts) AS INTEGER) BETWEEN 7 AND 9
    ),
    pm AS (
      SELECT count(*) AS n FROM events
      WHERE CAST(extract(hour FROM ts) AS INTEGER) BETWEEN 16 AND 18
    )
    SELECT CAST(am.n AS BIGINT) AS am_count,
           CAST(pm.n AS BIGINT) AS pm_count,
           round(CAST(am.n AS DOUBLE) / pm.n, 4) AS am_pm_ratio
    FROM am, pm
    """,
    tags=("tpcds", "scalar-ratio"),
)
def qds90_time_band_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q90 plan shape (spec: ratio of morning to evening web
    sales): two disjoint time-band scalar aggregates joined into one
    ratio row.  On this schema the web_sales time bands map to events
    hours 7-9 (am) and 16-18 (pm).

    Shape's point at scale: ONE scan computes both band counts as
    conditional aggregates (no second corpus pass, no cartesian of two
    subquery scans — the spec's two-subquery formulation is the
    repeat-scan defect class guard #4 hunts); the division happens on
    two driver-visible longs cast identically on both engines."""
    t = Tables(spark, sf_dir)
    hour = F.hour("ts")
    return t.events.agg(
        F.count(F.when(hour.between(7, 9), 1)).alias("am_count"),
        F.count(F.when(hour.between(16, 18), 1)).alias("pm_count"),
    ).select(
        "am_count",
        "pm_count",
        F.round(
            F.col("am_count").cast("double") / F.col("pm_count"), 4
        ).alias("am_pm_ratio"),
    )


@register(
    "qds97_channel_overlap",
    oracle="""
    WITH h1 AS (
      SELECT DISTINCT o_custkey AS ck FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1995-07-01'
    ),
    h2 AS (
      SELECT DISTINCT o_custkey AS ck FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-07-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    )
    SELECT CAST(sum(CASE WHEN h1.ck IS NOT NULL AND h2.ck IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS both_halves,
           CAST(sum(CASE WHEN h2.ck IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS first_only,
           CAST(sum(CASE WHEN h1.ck IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS second_only
    FROM h1 FULL OUTER JOIN h2 ON h1.ck = h2.ck
    """,
    tags=("tpcds", "full-outer", "overlap"),
)
def qds97_channel_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q97 plan shape (spec: customers buying from store only,
    catalog only, or both, via FULL OUTER JOIN of the two channels'
    distinct-customer sets): the canonical audience-overlap report.
    Channels map to 1995-H1 vs 1995-H2 order activity.

    Shape's point at scale: each side reduces to DISTINCT customer
    keys BEFORE the full-outer join (|customers| rows, not |orders|),
    the join is a key-partitioned SortMergeJoin FullOuter (both sides
    shuffle once on ck — no broadcast: full-outer cannot broadcast
    either side), and the overlap counts are one final scalar
    aggregate.  Integer output, nothing float."""
    t = Tables(spark, sf_dir)

    def half(lo, hi, alias):
        return (
            t.orders.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
            .select(F.col("o_custkey").alias(alias))
            .distinct()
        )

    h1 = half("1995-01-01", "1995-07-01", "ck1")
    h2 = half("1995-07-01", "1996-01-01", "ck2")
    return (
        h1.join(h2, F.col("ck1") == F.col("ck2"), "full_outer")
        .agg(
            F.sum(
                F.when(
                    F.col("ck1").isNotNull() & F.col("ck2").isNotNull(), 1
                ).otherwise(0)
            ).cast("bigint").alias("both_halves"),
            F.sum(
                F.when(F.col("ck2").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("first_only"),
            F.sum(
                F.when(F.col("ck1").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("second_only"),
        )
    )


@register(
    "qds39_quantity_volatility",
    oracle="""
    WITH g AS (
      SELECT l_suppkey,
             CAST(extract(month FROM l_shipdate) AS INTEGER) AS mo,
             stddev_samp(l_quantity) / avg(l_quantity) AS cov
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT a.l_suppkey AS suppkey,
           a.mo AS mo1, round(a.cov, 4) AS cov1,
           b.mo AS mo2, round(b.cov, 4) AS cov2
    FROM g a JOIN g b
      ON a.l_suppkey = b.l_suppkey AND b.mo = a.mo + 1
    WHERE a.cov > 0.5 AND b.cov > 0.5
    ORDER BY suppkey, mo1
    """,
    tags=("tpcds", "self-join", "volatility"),
)
def qds39_quantity_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q39 plan shape (spec: inventory whose monthly quantity
    is volatile — coefficient of variation stdev/mean above a bar —
    in two CONSECUTIVE months, found by self-joining the aggregate
    with itself shifted one month).  Mapping: warehouse inventory →
    per-(supplier, ship-month) lineitem quantities in 1995.

    Shape's point at scale: the volatile-month table aggregates ONCE
    and self-joins on (suppkey, month±1) — the aggregate output is
    |suppliers|×12 rows, so the self-join is dim-sized regardless of
    fact size, and the planner is free to broadcast it.  The HAVING
    count >= 3 fence keeps stddev_samp off degenerate groups in both
    engines.  cov is irrational (a square root) for any non-trivial
    group, so the 0.5 threshold cannot sit on an engine-boundary
    midpoint; outputs round to 4 dp."""
    t = Tables(spark, sf_dir)
    g = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= _ts("1995-01-01"))
            & (F.col("l_shipdate") < _ts("1996-01-01"))
        )
        .groupBy(
            "l_suppkey", F.month("l_shipdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.stddev_samp("l_quantity") / F.avg("l_quantity")).alias("cov"),
        )
        .filter(F.col("n") >= 3)
        .select("l_suppkey", "mo", "cov")
    )
    a = g.alias("a")
    b = g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
            & (F.col("b.mo") == F.col("a.mo") + 1),
        )
        .filter((F.col("a.cov") > 0.5) & (F.col("b.cov") > 0.5))
        .select(
            F.col("a.l_suppkey").alias("suppkey"),
            F.col("a.mo").alias("mo1"),
            F.round("a.cov", 4).alias("cov1"),
            F.col("b.mo").alias("mo2"),
            F.round("b.cov", 4).alias("cov2"),
        )
        .orderBy("suppkey", "mo1")
    )


@register(
    "qds47_monthly_deviation",
    oracle=f"""
    WITH monthly AS (
      SELECT n.n_name,
             CAST(extract(month FROM o.o_orderdate) AS INTEGER) AS mo,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,4))) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-01-01'
      GROUP BY 1, 2
    ), w AS (
      SELECT n_name, mo, rev,
             sum(rev) OVER (PARTITION BY n_name) AS year_sum,
             count(*) OVER (PARTITION BY n_name) AS n_mo,
             lag(rev) OVER (PARTITION BY n_name ORDER BY mo) AS prev_rev,
             lead(rev) OVER (PARTITION BY n_name ORDER BY mo) AS next_rev
      FROM monthly
    )
    SELECT n_name, mo,
           CAST(rev AS DOUBLE) AS rev,
           CAST(year_sum AS DOUBLE) AS year_sum,
           CAST(prev_rev AS DOUBLE) AS prev_rev,
           CAST(next_rev AS DOUBLE) AS next_rev
    FROM w
    WHERE rev * n_mo * 10 > year_sum * 12
       OR rev * n_mo * 10 < year_sum * 8
    ORDER BY n_name, mo
    """,
    tags=("tpcds", "window", "deviation"),
)
def qds47_monthly_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q47 plan shape (spec: months whose category sales
    deviate from the yearly average, reported with the neighboring
    months' sales via lag/lead): per-(nation, month) 1995 revenue,
    kept where the month is ±20% off its nation's monthly average.

    Shape's point at scale: one star-join pass builds the monthly
    table (|nations|×12 rows), then BOTH window families run on that
    dim-sized output — the yearly frame (sum/count over the nation
    partition) and the ordered frame (lag/lead by month) share one
    partitioning, so the window stage is a single tiny exchange.  The
    deviation filter multiplies exact DECIMAL sums by integer
    constants (rev·n·10 vs year_sum·12) instead of comparing against
    a float average — no engine can land on a different side of the
    cut, the round-7 decimal lesson applied to a PREDICATE rather
    than an output column.  The report carries the exact decimal
    year_sum rather than a rounded year_sum/n quotient: the strict
    sweep caught round(quotient, 4) flipping at a half-at-5th-decimal
    midpoint between Spark's HALF_UP and DuckDB's double rounding
    (1385069.094 vs .0939 at sf0.01) — never round a float DIVISION
    for output when the dividend is already exact."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    monthly = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(
            (F.col("o_orderdate") >= _ts("1995-01-01"))
            & (F.col("o_orderdate") < _ts("1996-01-01"))
        )
        .groupBy("n_name", F.month("o_orderdate").alias("mo"))
        .agg(F.sum(rev).alias("rev"))
    )
    part = Window.partitionBy("n_name")
    ordered = part.orderBy("mo")
    w = monthly.select(
        "n_name",
        "mo",
        "rev",
        F.sum("rev").over(part).alias("year_sum"),
        F.count(F.lit(1)).over(part).alias("n_mo"),
        F.lag("rev").over(ordered).alias("prev_rev"),
        F.lead("rev").over(ordered).alias("next_rev"),
    )
    dev = F.col("rev") * F.col("n_mo") * 10
    return (
        w.filter(
            (dev > F.col("year_sum") * 12) | (dev < F.col("year_sum") * 8)
        )
        .select(
            "n_name",
            "mo",
            F.col("rev").cast("double").alias("rev"),
            F.col("year_sum").cast("double").alias("year_sum"),
            F.col("prev_rev").cast("double").alias("prev_rev"),
            F.col("next_rev").cast("double").alias("next_rev"),
        )
        .orderBy("n_name", "mo")
    )


@register(
    "qds23_frequent_best_buyers",
    oracle=f"""
    WITH frequent_parts AS (
      SELECT l.l_partkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-01-01'
      GROUP BY 1
      HAVING count(DISTINCT l.l_orderkey) >= 4
    ), best_customers AS (
      SELECT o_custkey
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
      GROUP BY 1
      HAVING sum(CAST(o_totalprice AS DECIMAL(18,2))) > 450000.00
    )
    SELECT CAST(extract(month FROM o.o_orderdate) AS INTEGER) AS mo,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND l.l_partkey IN (SELECT l_partkey FROM frequent_parts)
      AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("tpcds", "semi-join", "cte-reuse"),
)
def qds23_frequent_best_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q23 plan shape (spec: sales restricted to BOTH a
    frequently-sold-items set and a best-customers set, each built by
    its own aggregate-HAVING subquery): H2-1995 revenue by month from
    lineitems whose part sold in >= 4 distinct 1995 orders AND whose
    customer spent > 450k in 1995.

    Shape's point at scale: the two filter sets reduce to key columns
    BEFORE touching the fact (|parts| and |customers| rows, built with
    map-side-combinable aggregates), then apply as left-semi joins the
    planner can broadcast.  All three order-side roles (frequent-parts
    build, best-customer build, H2 fact slice) derive from ONE
    persisted 1995 orders projection — unpersisted, the plan scans
    orders three times, which is exactly the N×-corpus-read multiplier
    the repeat-scan gate exists to catch (it did, in review).  The
    spend cut compares an exact DECIMAL(18,2) sum against a decimal
    literal — no float boundary."""
    release_prior()
    t = Tables(spark, sf_dir)
    in_1995 = (F.col("o_orderdate") >= _ts("1995-01-01")) & (
        F.col("o_orderdate") < _ts("1996-01-01")
    )
    orders95 = persist_tracked(
        t.orders.filter(in_1995).select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
        )
    )
    frequent = (
        t.lineitem.join(
            orders95.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_ord"))
        .filter(F.col("n_ord") >= 4)
        .select("l_partkey")
    )
    best = (
        orders95
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
        )
        .filter(F.col("spend") > F.lit("450000.00").cast("decimal(18,2)"))
        .select("o_custkey")
    )
    h2 = orders95.filter(
        F.col("o_orderdate") >= _ts("1995-07-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        t.lineitem.join(h2, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(frequent, "l_partkey", "left_semi")
        .join(best, "o_custkey", "left_semi")
        .groupBy(F.month("o_orderdate").alias("mo"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("o_custkey").alias("n_buyers"),
        )
        .orderBy("mo")
    )


@register(
    "qds67_rollup_brand_topn",
    oracle="""
    WITH sales AS (
      SELECT p.p_brand,
             CAST(extract(month FROM l.l_shipdate) AS INTEGER) AS mo,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,4)) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1997-01-01'
    ), rolled AS (
      SELECT p_brand, mo,
             CAST(GROUPING(p_brand) * 2 + GROUPING(mo) AS INTEGER) AS lvl,
             sum(rev) AS sumsales_dec
      FROM sales
      GROUP BY ROLLUP (p_brand, mo)
    ), ranked AS (
      SELECT p_brand, mo, lvl, sumsales_dec,
             CAST(rank() OVER (PARTITION BY p_brand
                               ORDER BY sumsales_dec DESC) AS INTEGER) AS rk
      FROM rolled
    )
    SELECT p_brand, mo, lvl,
           CAST(sumsales_dec AS DOUBLE) AS sumsales, rk
    FROM ranked
    WHERE rk <= 3
    ORDER BY p_brand NULLS FIRST, rk, mo NULLS FIRST, lvl
    """,
    tags=("tpcds", "rollup", "window", "topn"),
)
def qds67_rollup_brand_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q67 plan shape (spec: store sales grouped by ROLLUP over
    the full item/date hierarchy, then rank() within i_category keeps
    the top rows of EVERY rollup level together): 1996 revenue rolled
    up over (brand, month), ranked within each brand partition across
    all levels, top 3 kept.

    Shape's point at scale: Expand (rollup doubles rows per grouping
    set) feeds a window whose partition key is the FIRST rollup column
    — the subtotal rows land in the same partition as their detail
    rows, so the rank compares months against the brand subtotal
    exactly as Q67 compares category detail against its aggregates.
    rk <= 3 after a rank() is a WindowGroupLimit candidate: Spark
    pushes the limit below the sort inside each window partition, so
    at 100 TB the full ranked set is never materialized.  The rollup
    NULLs are unambiguous (shipdate and brand are non-null in the
    data), and the grouping-level column pins each row's provenance
    in both engines."""
    t = Tables(spark, sf_dir)
    from pyspark.sql.window import Window

    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    sales = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_brand"),
            F.month("l_shipdate").alias("mo"),
            rev.alias("rev"),
        )
    )
    rolled = sales.rollup("p_brand", "mo").agg(
        (F.grouping("p_brand") * 2 + F.grouping("mo"))
        .cast("int").alias("lvl"),
        F.sum("rev").alias("sumsales_dec"),
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("sumsales_dec").desc())
    return (
        rolled.select(
            "p_brand",
            "mo",
            "lvl",
            F.col("sumsales_dec").cast("double").alias("sumsales"),
            F.rank().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy(
            F.col("p_brand").asc_nulls_first(),
            "rk",
            F.col("mo").asc_nulls_first(),
            "lvl",
        )
    )


@register(
    "qds64_yoy_part_selfjoin",
    oracle="""
    WITH per_year AS (
      SELECT l.l_partkey,
             CAST(extract(year FROM o.o_orderdate) AS INTEGER) AS yr,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,4))) AS rev,
             sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS qty
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    )
    SELECT y1.l_partkey AS partkey,
           p.p_brand AS brand,
           CAST(y1.rev AS DOUBLE) AS rev95,
           CAST(y2.rev AS DOUBLE) AS rev96,
           CAST(y1.qty AS DOUBLE) AS qty95,
           CAST(y2.qty AS DOUBLE) AS qty96
    FROM per_year y1
    JOIN per_year y2 ON y1.l_partkey = y2.l_partkey
    JOIN part p ON y1.l_partkey = p.p_partkey
    WHERE y1.yr = 1995 AND y2.yr = 1996
      AND y2.rev > y1.rev * 2
    ORDER BY partkey
    """,
    tags=("tpcds", "self-join", "exchange-reuse"),
)
def qds64_yoy_part_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q64 plan shape (spec: a wide composed sales view is
    built once and self-joined across two consecutive years on the
    same item, keeping items whose second-year price moved): per-part
    1995 vs 1996 revenue from one derived aggregate referenced twice,
    keeping parts whose 1996 revenue more than doubled.

    Shape's point at scale: the expensive derived view (fact-fact join
    then aggregate) is computed ONCE and persisted; both year slices
    read the persisted aggregate, so the self-join input is
    |parts|x|years| rows, not two fresh passes over the fact table —
    Q64's cross_sales CTE works exactly this way (the spec names the
    view twice, cs1/cs2).  The year filter applies AFTER the shared
    aggregate, so the join is a narrow equi-join the planner can
    shuffle on partkey; the doubling cut compares exact decimals (a
    x2 decimal multiply is lossless), so both engines agree at the
    boundary."""
    release_prior()
    t = Tables(spark, sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_year = persist_tracked(
        t.lineitem.join(
            t.orders.filter(
                (F.col("o_orderdate") >= _ts("1995-01-01"))
                & (F.col("o_orderdate") < _ts("1997-01-01"))
            ).select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "l_partkey", F.year("o_orderdate").cast("int").alias("yr")
        )
        .agg(
            F.sum(rev).alias("rev"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"),
        )
    )
    y1 = per_year.filter(F.col("yr") == 1995).select(
        F.col("l_partkey"),
        F.col("rev").alias("rev95_dec"),
        F.col("qty").alias("qty95_dec"),
    )
    y2 = per_year.filter(F.col("yr") == 1996).select(
        F.col("l_partkey").alias("pk2"),
        F.col("rev").alias("rev96_dec"),
        F.col("qty").alias("qty96_dec"),
    )
    return (
        y1.join(y2, F.col("l_partkey") == F.col("pk2"))
        .filter(F.col("rev96_dec") > F.col("rev95_dec") * 2)
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("rev95_dec").cast("double").alias("rev95"),
            F.col("rev96_dec").cast("double").alias("rev96"),
            F.col("qty95_dec").cast("double").alias("qty95"),
            F.col("qty96_dec").cast("double").alias("qty96"),
        )
        .orderBy("partkey")
    )


@register(
    "qds93_returns_adjusted_sales",
    oracle="""
    WITH ret AS (
      SELECT l_orderkey, l_partkey,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS ret_qty
      FROM lineitem
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2
    ), adjusted AS (
      SELECT s.l_orderkey,
             (CAST(s.l_quantity AS DECIMAL(12,2))
              - COALESCE(r.ret_qty, CAST(0 AS DECIMAL(12,2))))
             * CAST(p.p_retailprice AS DECIMAL(12,2)) AS act_amt
      FROM lineitem s
      LEFT JOIN ret r
        ON s.l_orderkey = r.l_orderkey AND s.l_partkey = r.l_partkey
      JOIN part p ON s.l_partkey = p.p_partkey
      WHERE s.l_returnflag <> 'R'
    )
    SELECT o.o_orderpriority AS priority,
           CAST(extract(month FROM o.o_orderdate) AS INTEGER) AS mo,
           CAST(sum(a.act_amt) AS DOUBLE) AS net_sales,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM adjusted a JOIN orders o ON a.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("tpcds", "outer-join", "fact-fact"),
)
def qds93_returns_adjusted_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q93 plan shape (spec: store sales LEFT JOINED to store
    returns on item+ticket; the sold quantity is reduced by the
    returned quantity when a return matched): kept lineitem rows net
    of same-order same-part 'R' returns, valued at retail price,
    reported per order priority and month over H1-1996.

    Shape's point at scale: this is a fact-to-fact LEFT OUTER join on
    a compound key where the right side is first collapsed by a
    map-side-combinable aggregate (sum of returned quantity per
    order+part) — so the outer join's build side is bounded by
    DISTINCT return keys, not return rows, and rows with no return
    survive with COALESCE(0) exactly as Q93's CASE keeps unmatched
    sales whole.  The quantity adjustment and retail valuation stay
    in exact decimals end to end; the final rollup groups on
    low-cardinality keys so the last shuffle is tiny."""
    t = Tables(spark, sf_dir)
    dec0 = F.lit(0).cast("decimal(12,2)")
    ret = (
        t.lineitem.filter(F.col("l_returnflag") == "R")
        .groupBy(
            F.col("l_orderkey").alias("r_orderkey"),
            F.col("l_partkey").alias("r_partkey"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("ret_qty")
        )
    )
    adjusted = (
        t.lineitem.filter(F.col("l_returnflag") != "R")
        .join(
            ret,
            (F.col("l_orderkey") == F.col("r_orderkey"))
            & (F.col("l_partkey") == F.col("r_partkey")),
            "left",
        )
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_orderkey",
            (
                (
                    F.col("l_quantity").cast("decimal(12,2)")
                    - F.coalesce(F.col("ret_qty"), dec0)
                )
                * F.col("p_retailprice").cast("decimal(12,2)")
            ).alias("act_amt"),
        )
    )
    return (
        adjusted.join(
            t.orders.filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1996-07-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            F.sum("act_amt").cast("double").alias("net_sales"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("priority", "mo")
    )


@register(
    "qds14_cross_channel_intersect",
    oracle="""
    WITH ch AS (
      SELECT DISTINCT l.l_partkey, o.o_orderpriority AS prio
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-01-01'
        AND o.o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    ), cross_items AS (
      SELECT l_partkey FROM ch WHERE prio = '1-URGENT'
      INTERSECT
      SELECT l_partkey FROM ch WHERE prio = '2-HIGH'
      INTERSECT
      SELECT l_partkey FROM ch WHERE prio = '3-MEDIUM'
    ), by_brand AS (
      SELECT p.p_brand AS brand,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,4))) AS rev_dec,
             count(*) AS n_lines
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
        AND l.l_partkey IN (SELECT l_partkey FROM cross_items)
      GROUP BY 1
    )
    SELECT brand,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(n_lines AS BIGINT) AS n_lines
    FROM by_brand
    WHERE rev_dec * 400 > (SELECT sum(rev_dec) FROM by_brand)
    ORDER BY brand
    """,
    tags=("tpcds", "intersect", "scalar-subquery"),
)
def qds14_cross_channel_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q14 plan shape (spec: cross_items = item ids sold in ALL
    THREE channels via INTERSECT, avg_sales = a scalar threshold
    subquery, then channel sales over cross_items filtered by the
    scalar): parts ordered under all three fast priorities in 1995
    form the item set; 1996 revenue by brand over that set, keeping
    brands above a 1/400 share of the filtered total.

    Shape's point at scale: the INTERSECT chain runs over DISTINCT
    (partkey, priority) projections — key-only sets a planner
    broadcasts into the fact scan as a semi-join, exactly how Q14's
    cross_items prunes catalog_sales.  All three channel slices read
    ONE persisted distinct projection instead of three fact passes.
    The scalar threshold is derived from the GROUPED result (brand
    count rows, not a second fact pass) and compared in exact
    decimals (x400 is a lossless integer multiply), so the share cut
    cannot flip on float rounding in either engine."""
    release_prior()
    t = Tables(spark, sf_dir)
    fast = ("1-URGENT", "2-HIGH", "3-MEDIUM")
    ch = persist_tracked(
        t.lineitem.join(
            t.orders.filter(
                (F.col("o_orderdate") >= _ts("1995-01-01"))
                & (F.col("o_orderdate") < _ts("1996-01-01"))
                & F.col("o_orderpriority").isin(*fast)
            ).select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_partkey"), F.col("o_orderpriority").alias("prio")
        )
        .distinct()
    )
    cross_items = (
        ch.filter(F.col("prio") == fast[0]).select("l_partkey")
        .intersect(ch.filter(F.col("prio") == fast[1]).select("l_partkey"))
        .intersect(ch.filter(F.col("prio") == fast[2]).select("l_partkey"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    by_brand = persist_tracked(
        t.lineitem.join(
            t.orders.filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1997-01-01"))
            ).select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cross_items, "l_partkey", "left_semi")
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(rev).alias("rev_dec"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    total = by_brand.agg(F.sum("rev_dec").alias("total_dec"))
    return (
        by_brand.crossJoin(F.broadcast(total))
        .filter(F.col("rev_dec") * 400 > F.col("total_dec"))
        .select(
            "brand",
            F.col("rev_dec").cast("double").alias("revenue"),
            F.col("n_lines"),
        )
        .orderBy("brand")
    )
