from __future__ import annotations

import pytest

from splitserve_spark.registry import REGISTRY, load_all
from tests.oracle_utils import SF_DIR, check_query

load_all()

# Select by module, not by name prefix — a hand-maintained prefix list
# silently missed orders_seasonality / window_moving_zscore (r6 advice).
NAMES = sorted(
    n
    for n, s in REGISTRY.items()
    if s.fn.__module__ == "splitserve_spark.operators.analytics"
    and s.oracle is not None
)


@pytest.mark.parametrize("name", NAMES)
def test_oracle_match(spark, name):
    check_query(spark, name, SF_DIR)


def test_funnel_monotone(spark):
    """Each funnel stage can only lose users vs the previous one."""
    out = REGISTRY["events_funnel"].fn(spark, SF_DIR).toPandas()
    assert list(out["stage"]) == ["view", "click", "purchase"]
    counts = list(out["n_users"])
    assert counts[0] >= counts[1] >= counts[2] >= 0


def test_retention_offset_zero_is_cohort_size(spark):
    """Every user is active on their own cohort day, so the offset-0
    row of each cohort equals the cohort's size."""
    from pyspark.sql import functions as F

    from splitserve_spark.tables import Tables

    out = REGISTRY["events_retention_cohort"].fn(spark, SF_DIR).toPandas()
    t = Tables(spark, SF_DIR)
    cohorts = (
        t.events.groupBy("user_id")
        .agg(F.min("ts").cast("date").alias("cohort_day"))
        .groupBy("cohort_day")
        .agg(F.count("*").alias("n"))
        .toPandas()
    )
    zero = out[out["day_offset"] == 0].set_index("cohort_day")["n_active"]
    expect = cohorts.set_index("cohort_day")["n"]
    assert zero.sort_index().equals(expect.sort_index())
    assert (out["n_active"] > 0).all()


def test_zscore_outliers_bounded(spark):
    """Chebyshev: at most n/z² values can sit beyond z population
    stddevs, and every row keeps n_outliers ≤ n_events."""
    from splitserve_spark.operators.analytics import ZSCORE_THRESHOLD

    out = REGISTRY["agg_zscore_outliers"].fn(spark, SF_DIR).toPandas()
    assert (out["n_outliers"] <= out["n_events"] / ZSCORE_THRESHOLD**2).all()
    assert (out["n_outliers"] >= 0).all()


def test_equidepth_buckets_are_equal_and_ordered(spark):
    from splitserve_spark.operators.analytics import HISTOGRAM_BUCKETS

    out = (
        REGISTRY["window_equidepth_histogram"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("bucket")
    )
    assert len(out) == HISTOGRAM_BUCKETS
    # ntile: bucket sizes differ by at most one row.
    assert out["n_rows"].max() - out["n_rows"].min() <= 1
    # Depth boundaries are non-decreasing across buckets.
    assert (out["hi"] >= out["lo"]).all()
    assert (out["lo"].diff().dropna() >= 0).all()


def test_bm25_scores_positive_and_sorted(spark):
    out = REGISTRY["text_bm25_search"].fn(spark, SF_DIR).toPandas()
    assert (out["score"] > 0).all()
    assert list(out["score"]) == sorted(out["score"], reverse=True)


def test_bm25_term_counts_equal_lambda_count(spark):
    """_term_count == size(filter(words, w -> w = term)) per doc and
    term; a null text gives a count that, like the lambda form's,
    never passes `tf > 0`."""
    from pyspark.sql import functions as F

    from splitserve_spark.operators.text import (
        BM25_QUERY_TERMS,
        _term_count,
        _words,
    )
    from splitserve_spark.tables import Tables

    docs = Tables(spark, SF_DIR).documents.select("doc_id", "text")
    docs = docs.unionByName(
        spark.createDataFrame([(-1, None)], "doc_id long, text string")
    )
    ws = _words(F.col("text"))

    def eq(term):  # unary: a 2-arg lambda would be bound (element, index)
        return lambda w: w == term

    cols = []
    for i, term in enumerate(BM25_QUERY_TERMS):
        cols += [
            _term_count(ws, term).alias(f"new{i}"),
            F.size(F.filter(ws, eq(term))).alias(f"old{i}"),
        ]
    rows = docs.select("doc_id", "text", *cols).collect()
    assert len(rows) > 1
    hits = 0
    for r in rows:
        for i in range(len(BM25_QUERY_TERMS)):
            new, old = r[f"new{i}"], r[f"old{i}"]
            if r["text"] is None:
                assert new is None and not (old is not None and old > 0)
            else:
                assert new == old, (r["doc_id"], BM25_QUERY_TERMS[i])
                hits += new > 0
    assert hits > 0


def test_session_batch_invariants(spark):
    """Sessions per user are disjoint, ordered, and cover every event
    exactly once."""
    from splitserve_spark.tables import Tables

    out = (
        REGISTRY["window_session_batch"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["user_id", "session_start"])
    )
    t = Tables(spark, SF_DIR)
    assert out["n_events"].sum() == t.events.count()
    for _, g in out.groupby("user_id"):
        starts = g["session_start"].tolist()
        ends = g["session_end"].tolist()
        # strictly ordered, non-overlapping windows
        for i in range(1, len(g)):
            assert starts[i] >= ends[i - 1]


def test_market_basket_pairs_ordered_and_supported(spark):
    out = REGISTRY["agg_market_basket"].fn(spark, SF_DIR).toPandas()
    assert (out["part_a"] < out["part_b"]).all()
    assert (out["support"] >= 1).all()
    assert list(out["support"]) == sorted(out["support"], reverse=True)


def test_running_distinct_monotone_per_user(spark):
    out = (
        REGISTRY["window_running_distinct"].fn(spark, SF_DIR).toPandas()
    )
    assert out["n_types_seen"].between(1, 5).all()


def test_windowed_funnel_never_exceeds_unbounded(spark):
    """A deadline can only lose conversions vs the unbounded funnel."""
    unb = REGISTRY["events_funnel"].fn(spark, SF_DIR).toPandas()
    win = REGISTRY["events_funnel_windowed"].fn(spark, SF_DIR).toPandas()
    for stage in ("view", "click", "purchase"):
        u = int(unb.loc[unb["stage"] == stage, "n_users"].iloc[0])
        w = int(win.loc[win["stage"] == stage, "n_users"].iloc[0])
        assert w <= u


def test_dau_wau_mau_monotone(spark):
    """WAU ≥ DAU, MAU ≥ WAU per day, and stickiness ∈ (0, 1]."""
    out = REGISTRY["events_dau_wau_mau"].fn(spark, SF_DIR).toPandas()
    assert (out["wau"] >= out["dau"]).all()
    assert (out["mau"] >= out["wau"]).all()
    assert ((out["stickiness"] > 0) & (out["stickiness"] <= 1)).all()


def test_global_prefix_matches_single_reducer_window(spark):
    """with_global_prefix must reproduce the single-reducer global
    window bit-for-bit: rank == row_number over the global sort,
    running sum == cumulative window sum, ntile_from_rank == ntile —
    on data with duplicate sort values and enough rows to span many
    range buckets."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from splitserve_spark.operators.prefix_rank import (
        ntile_from_rank, with_global_prefix,
    )

    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 997).cast("double").alias("v"),  # duplicates
        (F.col("id") % 13).cast("long").alias("x"),
    )
    got, n, totals = with_global_prefix(
        df, "v", ["k"], sums={"cum_x": F.col("x")}, n_buckets=16
    )
    assert n == 10_000 and int(totals["cum_x"]) == sum(i % 13 for i in range(10_000))
    w = Window.orderBy("v", "k")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = df.select(
        "k",
        F.row_number().over(w).alias("_rank"),
        F.sum("x").over(wf).alias("cum_x"),
        F.ntile(7).over(w).alias("nt"),
    )
    joined = (
        got.select("k", "_rank", "cum_x",
                   ntile_from_rank(F.col("_rank"), n, 7).alias("nt_got"))
        .join(want.withColumnRenamed("_rank", "rank_want")
                  .withColumnRenamed("cum_x", "cum_want"), "k")
    )
    bad = joined.filter(
        (F.col("_rank") != F.col("rank_want"))
        | (F.col("cum_x") != F.col("cum_want"))
        | (F.col("nt_got") != F.col("nt"))
    ).count()
    assert bad == 0


def test_global_prefix_edge_cases(spark):
    """Degenerate inputs: a single distinct sort value (no cut points
    → one bucket) and an empty frame must not crash and must keep the
    rank contract."""
    from pyspark.sql import functions as F

    from splitserve_spark.operators.prefix_rank import with_global_prefix

    const = spark.range(100).select(
        F.lit(1.0).alias("v"), F.col("id").alias("k")
    )
    got, n, _ = with_global_prefix(const, "v", ["k"])
    assert n == 100
    ranks = [r["_rank"] for r in got.orderBy("k").collect()]
    assert ranks == list(range(1, 101))

    empty = const.filter(F.col("k") < 0)
    got_e, n_e, totals_e = with_global_prefix(
        empty, "v", ["k"], sums={"s": F.col("k")}
    )
    assert n_e == 0 and got_e.count() == 0 and int(totals_e["s"]) == 0
