"""Temporal join operators the engine adds beyond stock Spark: as-of
join and range (interval) join.

The reference has neither (SURVEY.md §2.3: non-equi conditions fall to
nested-loop/cartesian); Spark's built-ins don't either.  Per the
engine's custom-operator policy these are built as (a) compositions of
existing DataFrame ops where semantics allow, else (b) Arrow-batched
applyInPandas — never a driver-side loop.

* **As-of join** (`asof_join_events_orders`): for each event, the most
  recent order of the same customer at-or-before the event time.  Two
  interchangeable implementations, both O(n log n) per key:
    - union+window: append order rows to event rows, sort per key by
      time, carry the last-seen order forward with `last(ignorenulls)`
      — one shuffle on the key, pure JVM.
    - merge_asof: cogroup(events, orders).applyInPandas with
      pandas.merge_asof per key — the escape-hatch form.
  The registry entry uses the union+window form (JVM-side); the
  merge_asof twin is equivalence-tested against it.

* **Range join** (`range_join_price_bands`): value-interval equi-join
  accelerated by bucketing the range domain: each band explodes into
  the coarse bins it overlaps, probes join on their bin, a residual
  filter exacts the bounds — turning O(n·m) nested-loop into an
  equi-shuffle join (the same trick Databricks' range-join hint
  applies).  Oracle: the plain theta join.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


def _events_sample(t: Tables) -> DataFrame:
    return t.events.filter(F.col("event_id") <= 2000).select(
        "event_id", F.col("user_id").alias("custkey"), "ts", "value"
    )


@register(
    "asof_join_events_orders",
    oracle="""
    SELECT e.event_id, e.custkey, e.ts,
           o.o_orderkey AS asof_orderkey,
           o.o_orderdate AS asof_orderdate
    FROM (SELECT event_id, user_id AS custkey, ts, value
          FROM events WHERE event_id <= 2000) e
    ASOF LEFT JOIN (
          SELECT o_custkey, o_orderdate,
                 -- deterministic pick among same-timestamp orders:
                 max(o_orderkey) AS o_orderkey
          FROM orders GROUP BY o_custkey, o_orderdate) o
      ON e.custkey = o.o_custkey AND e.ts >= o.o_orderdate
    ORDER BY e.event_id
    """,
    tags=("join", "asof", "custom-operator"),
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, union+window form: order rows and event rows merge
    into one keyed timeline; a last(ignorenulls) window carries the
    most recent order forward onto each event.  One shuffle on the key;
    no nested loop, no per-row subquery.  Ties on (custkey, orderdate)
    resolve to max(o_orderkey) — mirrored in the oracle's pre-aggregate
    (DuckDB's native ASOF JOIN picks an arbitrary row otherwise)."""
    t = Tables(spark, sf_dir)
    events = _events_sample(t)
    orders = (
        t.orders.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("otime"),
        )
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    timeline = events.select(
        "custkey",
        F.col("ts").alias("time"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
    ).unionByName(
        orders.select(
            "custkey",
            F.col("otime").alias("time"),
            F.lit(0).alias("is_event"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("timestamp").alias("ts"),
            "o_orderkey",
            F.col("otime").alias("o_orderdate"),
        )
    )
    # Order rows sort before event rows at equal time (is_event ASC) so
    # an order dated exactly at the event time IS visible to it (>=).
    w = (
        Window.partitionBy("custkey")
        .orderBy("time", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        timeline
        .withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("asof_orderdate", F.last("o_orderdate", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
        .select("event_id", "custkey", "ts", "asof_orderkey", "asof_orderdate")
        .orderBy("event_id")
    )


def asof_join_merge_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas twin: cogroup events/orders per customer and
    run pandas.merge_asof inside each group.  Used when the carried
    payload is wide (merge_asof copies one row, the window form carries
    every column as a separate last() expression)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    events = _events_sample(t)
    orders = (
        t.orders.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("o_orderdate"),
        )
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )

    def merge(evs: pd.DataFrame, ords: pd.DataFrame) -> pd.DataFrame:
        if evs.empty:
            return pd.DataFrame(
                columns=["event_id", "custkey", "ts", "asof_orderkey", "asof_orderdate"]
            )
        evs = evs.sort_values("ts")
        ords = ords.sort_values("o_orderdate")
        merged = pd.merge_asof(
            evs,
            ords.rename(
                columns={"o_orderkey": "asof_orderkey", "o_orderdate": "asof_orderdate"}
            )[["asof_orderdate", "asof_orderkey"]],
            left_on="ts",
            right_on="asof_orderdate",
            direction="backward",
        )
        return merged[["event_id", "custkey", "ts", "asof_orderkey", "asof_orderdate"]]

    return (
        events.groupBy("custkey")
        .cogroup(orders.groupBy("custkey"))
        .applyInPandas(
            merge,
            schema="event_id bigint, custkey bigint, ts timestamp, "
                   "asof_orderkey bigint, asof_orderdate timestamp",
        )
        .orderBy("event_id")
    )


#: Coarse bin width for the range-join acceleration (price units).
BIN = 50_000.0

_BANDS_SQL = """
      SELECT 0 AS band_id, 0.0 AS lo, 100000.0 AS hi
      UNION ALL SELECT 1, 100000.0, 250000.0
      UNION ALL SELECT 2, 250000.0, 400000.0
      UNION ALL SELECT 3, 400000.0, 600000.0
"""


@register(
    "range_join_price_bands",
    oracle=f"""
    WITH bands AS ({_BANDS_SQL})
    SELECT b.band_id, count(*) AS n_orders, sum(o.o_totalprice) AS total
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_id
    ORDER BY b.band_id
    """,
    tags=("join", "range", "custom-operator"),
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via bin-bucketing: bands explode into the coarse bins
    they overlap; orders compute their bin; the join is an EQUI join on
    bin with a residual bounds filter.  At 100 TB this shuffles on a
    uniform bin key instead of nested-looping orders × bands.  (Here the
    band side is tiny so Catalyst broadcasts it anyway — the bin
    structure is what survives when BOTH sides are large.)"""
    t = Tables(spark, sf_dir)
    bands = spark.createDataFrame(
        [
            (0, 0.0, 100_000.0),
            (1, 100_000.0, 250_000.0),
            (2, 250_000.0, 400_000.0),
            (3, 400_000.0, 600_000.0),
        ],
        "band_id int, lo double, hi double",
    )
    binned_bands = bands.select(
        "band_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / BIN).cast("int"),
                F.ceil(F.col("hi") / BIN).cast("int"),
            )
        ).alias("bin"),
    )
    orders = t.orders.withColumn("bin", F.floor(F.col("o_totalprice") / BIN).cast("int"))
    return (
        orders.join(F.broadcast(binned_bands), "bin")
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("total"))
        .orderBy("band_id")
    )


def _pit_attach(examples: DataFrame, feats: DataFrame, key: str,
                out_col: str, ttl: str | None = None) -> DataFrame:
    """Attach ONE feature table to an example set, point-in-time.

    ``examples`` must carry ``key`` and event-time ``ts``; ``feats``
    must be (key, _fts, _fval, _fid).  Union+window form (same family
    as asof_join_events_orders): both sets merge into one keyed
    timeline, a last(ignorenulls) running window carries the newest
    feature ROW (as a struct, so a feature whose value is NULL still
    wins over an older non-null one — exactly what the oracle's
    ORDER BY ts DESC LIMIT 1 serves) onto each example row, and an
    optional staleness TTL nulls values whose feature time has fallen
    more than ``ttl`` behind the example time.  One shuffle on the
    entity key per
    feature table; examples are never fanned out (no range-join row
    explosion), which is what makes the operator safe when one entity
    has millions of feature updates.

    Tie discipline (mirrors the oracle's ORDER BY ts DESC, id DESC
    LIMIT 1): at equal time, feature rows sort BEFORE the example
    (at-or-before is inclusive) and among same-time feature rows the
    highest _fid wins."""
    ex_struct = F.struct(*[F.col(c) for c in examples.columns]).alias("_ex")
    e = examples.select(
        F.col(key).alias("_k"),
        F.col("ts").alias("_t"),
        F.lit(1).alias("_kind"),
        F.lit(-1).cast("long").alias("_fid"),
        F.lit(None).cast("double").alias("_fval"),
        ex_struct,
    )
    ex_type = e.schema["_ex"].dataType
    # A NULL-timestamped feature row is "never observed" (the oracle's
    # ts <= example.ts predicate excludes it); without this filter the
    # window's NULLS FIRST ordering would carry it into EVERY example.
    f = feats.filter(F.col("_fts").isNotNull()).select(
        F.col(key).alias("_k"),
        F.col("_fts").alias("_t"),
        F.lit(0).alias("_kind"),
        F.col("_fid").cast("long").alias("_fid"),
        F.col("_fval").cast("double").alias("_fval"),
        F.lit(None).cast(ex_type).alias("_ex"),
    )
    u = e.unionByName(f)
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_kind", "_fid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry the newest feature ROW, not the newest non-null value:
    # the struct is non-null for every feature row even when _fval is
    # NULL, so a fresh NULL-valued feature correctly shadows an older
    # non-null one (ignorenulls on the bare value would skip it while
    # carried_t still advanced — serving a stale, possibly
    # TTL-expired value the oracle's LIMIT 1 would never return).
    carried = F.last(
        F.when(F.col("_kind") == 0, F.struct("_t", "_fval")),
        ignorenulls=True,
    ).over(w)
    carried_v = carried["_fval"]
    carried_t = carried["_t"]
    if ttl is None:
        val = carried_v
    else:
        val = F.when(
            carried_t >= F.col("_t") - F.expr(f"INTERVAL {ttl}"), carried_v
        )
    return (
        u.withColumn("_v", val)
        .filter(F.col("_kind") == 1)
        .select(F.col("_ex.*"), F.col("_v").alias(out_col))
    )


@register(
    "pit_feature_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT c.value FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND c.ts <= p.ts
               AND c.ts >= p.ts - INTERVAL '2 hours'
             ORDER BY c.ts DESC, c.event_id DESC LIMIT 1)
             AS f_click_value,
           (SELECT o.o_totalprice FROM orders o
             WHERE o.o_custkey = p.user_id AND o.o_orderdate <= p.ts
             ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1)
             AS f_last_order_price
    FROM events p
    WHERE p.event_type = 'purchase'
    ORDER BY p.event_id
    """,
    tags=("join", "asof", "pit", "pipeline", "custom-operator"),
)
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join: enrich each training
    example — here every purchase event — with the value each feature
    table had AS OF the example's event time, never later (no label
    leakage), each feature under its own staleness TTL.  This is the
    canonical training-set assembly operator (Feast/Tecton-style PIT
    correctness); the reference has no temporal joins at all
    (SURVEY.md §2.3: non-equi conditions fall to nested-loop), and
    stock Spark expresses it only as a per-example correlated
    subquery.

    Two feature tables with different freshness rules:
      * f_click_value — the user's most recent click `value`, stale
        after 2 hours (older click => NULL, exactly how a feature
        store serves an expired online feature);
      * f_last_order_price — the customer's most recent order total,
        no TTL (slowly-changing profile feature).

    Scale design: one union+window pass per feature table, each a
    single shuffle on the entity key, JVM end to end (no pandas, no
    correlated per-row probe); examples never duplicate (a hot entity
    with millions of feature updates costs sort time, not row
    explosion — and the prefix-rank split-and-stitch mitigation in
    prefix_rank.py applies unchanged if one key dominates).  Feature
    values pass through VERBATIM (no arithmetic), so parity with the
    oracle's correlated form is exact."""
    t = Tables(spark, sf_dir)
    examples = t.events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = t.events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("_fts"),
        F.col("value").alias("_fval"),
        F.col("event_id").alias("_fid"),
    )
    orders = t.orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("_fts"),
        F.col("o_totalprice").alias("_fval"),
        F.col("o_orderkey").alias("_fid"),
    )
    step1 = _pit_attach(examples, clicks, "user_id",
                        "f_click_value", ttl="2 HOURS")
    step2 = _pit_attach(step1, orders, "user_id", "f_last_order_price")
    return step2.orderBy("event_id")
