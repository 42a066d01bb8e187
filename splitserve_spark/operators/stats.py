"""DataFrame statistics surface: df.stat.* and describe/summary.

Reference (SURVEY.md §2.12): DataFrameStatFunctions — approxQuantile
(Greenwald-Khanna, `execution/stat/StatFunctions.scala:58`), corr
Pearson (`:96`), cov (`:166`), crosstab (`:172`), freqItems
(`stat/FrequentItems.scala:27`), sampleBy (stratified,
`python/pyspark/sql/dataframe.py:612`), describe (`dataframe.py:861`).

All of these are single-pass distributed aggregations in stock Spark;
the queries here pin their semantics against the oracle where the
algorithm is deterministic (crosstab, corr/cov, describe) and against
property checks in tests where it is sketch-based (freqItems,
approxQuantile) or RNG-based (sampleBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splitserve_spark.operators.prefix_rank import with_global_prefix
from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


@register(
    "stat_crosstab",
    oracle="""
    SELECT l_returnflag AS l_returnflag_l_linestatus,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("stat", "crosstab"),
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.crosstab — contingency table (pair-count aggregate +
    driver-side pivot of the *distinct value set*, which must be small;
    row count is |distinct(a)|·|distinct(b)|, here 3×2)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    ct = t.lineitem.stat.crosstab("l_returnflag", "l_linestatus")
    return ct.orderBy("l_returnflag_l_linestatus")


@register(
    "stat_corr_cov",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 9)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
           round(covar_pop(l_quantity, l_extendedprice), 4)  AS covp_qty_price
    FROM lineitem
    """,
    tags=("stat", "corr"),
)
def stat_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.corr / cov semantics (Pearson, sample covariance) as a
    DataFrame result — single-pass co-moment aggregation."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    # Rounded both engines (9dp corr, 4dp cov): co-moment accumulation
    # order differs across engines → last-ULP drift under strict compare.
    return t.lineitem.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 9).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covp_qty_price"),
    )


@register(
    "stat_describe",
    oracle="""
    SELECT 'count'  AS summary, CAST(count(o_totalprice) AS DOUBLE) AS o_totalprice,
           CAST(count(o_orderkey) AS DOUBLE) AS o_orderkey
    FROM orders
    UNION ALL
    SELECT 'max', max(o_totalprice), CAST(max(o_orderkey) AS DOUBLE) FROM orders
    UNION ALL
    SELECT 'mean', avg(o_totalprice), CAST(avg(o_orderkey) AS DOUBLE) FROM orders
    UNION ALL
    SELECT 'min', min(o_totalprice), CAST(min(o_orderkey) AS DOUBLE) FROM orders
    UNION ALL
    SELECT 'stddev', stddev_samp(o_totalprice),
           stddev_samp(CAST(o_orderkey AS DOUBLE)) FROM orders
    ORDER BY summary
    """,
    tags=("stat", "describe"),
)
def stat_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.describe() — count/mean/stddev/min/max per numeric column.
    describe() itself returns strings (display contract); this re-casts
    to double so values hash-match the oracle."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    desc = t.orders.select("o_totalprice", "o_orderkey").describe()
    return (
        desc.select(
            "summary",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("o_orderkey").cast("double").alias("o_orderkey"),
        )
        .orderBy("summary")
    )


#: Columns audited by the frequent-items sketch and its exact check.
FREQ_ITEMS_COLS = ("o_orderpriority", "o_orderstatus")
FREQ_ITEMS_SUPPORT = 0.2
#: Integer-exact form of the support threshold: cnt * MULT >= n_rows
#: ⟺ cnt >= SUPPORT * n_rows, with NO float arithmetic on either
#: engine (r8 ADVICE: Spark compared against a binary double while
#: DuckDB parsed 0.2 as exact DECIMAL — a count landing exactly on
#: n/5 could make the engines disagree at the boundary).
FREQ_ITEMS_MULT = 5
assert FREQ_ITEMS_MULT * FREQ_ITEMS_SUPPORT == 1.0


@register(
    "stat_freq_items",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_rows FROM orders),
    c1 AS (
        SELECT count(*) AS n_hh FROM (
            SELECT count(*) AS cnt FROM orders GROUP BY o_orderpriority
        ) g CROSS JOIN n WHERE cnt * {FREQ_ITEMS_MULT} >= n_rows
    ),
    c2 AS (
        SELECT count(*) AS n_hh FROM (
            SELECT count(*) AS cnt FROM orders GROUP BY o_orderstatus
        ) g CROSS JOIN n WHERE cnt * {FREQ_ITEMS_MULT} >= n_rows
    )
    SELECT col, n_true_hh, superset_ok FROM (
        SELECT 'o_orderpriority' AS col,
               CAST((SELECT n_hh FROM c1) AS BIGINT) AS n_true_hh,
               TRUE AS superset_ok
        UNION ALL
        SELECT 'o_orderstatus',
               CAST((SELECT n_hh FROM c2) AS BIGINT), TRUE
    ) u
    ORDER BY col
    """,
    tags=("stat", "sketch"),
)
def stat_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.freqItems — misra-gries style frequent-item sketch
    (reference `stat/FrequentItems.scala:27`).  The sketch's contract
    is SUPERSET-of-true-heavy-hitters; its raw item list is
    engine-internal (over-reports depend on merge order), so (round-8,
    the agg_approx pattern) the query emits what the contract
    guarantees and an exact engine can pin: per audited column, the
    exact count of true heavy hitters (support ≥ {FREQ_ITEMS_SUPPORT})
    and the superset invariant — every true heavy hitter appears in
    the live freqItems output (checked via anti-join against the
    exploded sketch arrays, no collect).  The sketch itself still runs
    inside the checked plan; raw-output shape stays pinned in tests.

    TWO corpus scans, both single-column (the stat_heavy_hitters_exact
    pattern — each reads one audited column and map-side-combines to
    ≤|domain| partial rows): the sketch result (1 row) and each
    per-column count rollup are persisted for the run (run_cache
    contract), and the total row count derives from a cached rollup —
    so the many downstream branches (threshold filter, anti-join,
    final union) never re-derive a corpus pass."""
    ensure_parity_conf(spark)
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    t = Tables(spark, sf_dir)
    release_prior()
    fi = persist_tracked(
        t.orders.stat.freqItems(
            list(FREQ_ITEMS_COLS), support=FREQ_ITEMS_SUPPORT
        )
    )
    counts = {
        col: persist_tracked(
            t.orders.groupBy(F.col(col).alias("item"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        for col in FREQ_ITEMS_COLS
    }
    n = counts[FREQ_ITEMS_COLS[0]].agg(F.sum("cnt").alias("n_rows"))

    def check(col: str) -> DataFrame:
        sketch_items = fi.select(
            F.explode(F.col(f"{col}_freqItems")).alias("item")
        )
        # Integer-exact threshold (cnt * MULT >= n_rows): identical
        # arithmetic on both engines, no double/DECIMAL boundary.
        hh = (
            counts[col]
            .crossJoin(F.broadcast(n))
            .filter(F.col("cnt") * FREQ_ITEMS_MULT >= F.col("n_rows"))
        )
        missed = hh.join(F.broadcast(sketch_items), "item", "left_anti")
        return (
            hh.agg(F.count(F.lit(1)).alias("n_true_hh"))
            .crossJoin(missed.agg(F.count(F.lit(1)).alias("n_missed")))
            .select(
                F.lit(col).alias("col"),
                "n_true_hh",
                (F.col("n_missed") == 0).alias("superset_ok"),
            )
        )

    return (
        check(FREQ_ITEMS_COLS[0])
        .unionByName(check(FREQ_ITEMS_COLS[1]))
        .orderBy("col")
    )


@register(
    "stat_approx_quantile",
    oracle="""
    SELECT quantile_disc(o_totalprice, 0.25) AS q25,
           quantile_disc(o_totalprice, 0.50) AS q50,
           quantile_disc(o_totalprice, 0.75) AS q75
    FROM orders
    """,
    tags=("stat", "sketch"),
)
def stat_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.approxQuantile (Greenwald-Khanna, reference
    StatFunctions.scala:58).  Run in the sketch's EXACT regime
    (relativeError=0 keeps every GK sample), where the returned value
    is the discrete quantile — equal to DuckDB's quantile_disc — so
    the driver gets a value-checked verdict instead of the former
    rows-only row count (the r6 'upgrade rows-only entries' task).
    The API returns a driver-side list by contract; re-wrapped as a
    1-row DataFrame.  At 100 TB you run relativeError>0 (bounded
    memory); tests bound the rank error of that regime separately."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    q25, q50, q75 = t.orders.stat.approxQuantile(
        "o_totalprice", [0.25, 0.5, 0.75], 0.0
    )
    return spark.createDataFrame(
        [(float(q25), float(q50), float(q75))], ["q25", "q50", "q75"]
    )


#: Per-stratum sampleBy fractions for the stratified-sampling check.
SAMPLE_BY_FRACTIONS = {"F": 0.2, "O": 0.1, "P": 1.0}


@register(
    "stat_sample_by",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_stratum,
           TRUE AS rate_within_5pct
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("stat", "sample"),
)
def stat_sample_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.sampleBy — stratified sampling with per-stratum fractions
    (seeded per-row Bernoulli, reference `stat/StatFunctions.scala`).
    The RNG is engine-specific, so (round-8, the agg_approx pattern)
    the query emits what an auditor checks instead of raw sampled
    rows: the exact per-stratum population count, and the invariant
    |realized rate − target| ≤ 0.05 per stratum (measured ≤0.012 at
    every shipped SF; the fraction-1.0 stratum realizes exactly 1.0 by
    Bernoulli semantics, also inside the band).  The live sampleBy
    output feeds the check, so the §2 operator still runs inside the
    checked plan; rate assertions per stratum stay in tests."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    frac = F.create_map(
        *[F.lit(x) for kv in SAMPLE_BY_FRACTIONS.items() for x in kv]
    )
    pop = t.orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_stratum")
    )
    smp = (
        t.orders.sampleBy("o_orderstatus", fractions=SAMPLE_BY_FRACTIONS, seed=42)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        pop.join(smp, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_stratum",
            (
                F.abs(
                    F.coalesce("n_sampled", F.lit(0)) / F.col("n_stratum")
                    - frac[F.col("o_orderstatus")]
                )
                <= 0.05
            ).alias("rate_within_5pct"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "stat_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS rows_scanned,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS qty_scanned,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_quantity > 25) AS rows_kept
    FROM lineitem
    """,
    tags=("stat", "observability"),
)
def stat_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.observe(Observation, ...) — zero-cost pipeline observability:
    named aggregate metrics are computed inline on the already-flowing
    rows (CollectMetricsExec), so counting what a stage scanned costs
    no extra pass over the data.  The monitoring idiom every production
    pipeline wires into its ingest jobs; reference analogue is
    accumulators (`core/.../Accumulator.scala`), which observe()
    supersedes with SQL-typed, exactly-once semantics.

    Metrics attach BEFORE the filter, the action runs the filtered
    count, and the observation reports what the scan actually saw —
    the decimal sum keeps the metric bit-exact at any partition
    order."""
    ensure_parity_conf(spark)
    from pyspark.sql import Observation

    t = Tables(spark, sf_dir)
    obs = Observation("scan_metrics")
    observed = t.lineitem.select("l_quantity").observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_scanned"),
    )
    rows_kept = observed.filter(F.col("l_quantity") > 25).count()
    m = obs.get  # blocks until the action above delivered the metrics
    return spark.createDataFrame(
        [(m["rows_scanned"], float(m["qty_scanned"]), rows_kept)],
        "rows_scanned bigint, qty_scanned double, rows_kept bigint",
    )


#: The two samples for the KS test: event values of these two types.
KS_TYPE_A = "view"
KS_TYPE_B = "purchase"


@register(
    "stat_ks_two_sample",
    oracle=f"""
    WITH pooled AS (
        SELECT value, event_type FROM events
        WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
    ), byval AS (
        -- aggregate per DISTINCT value first: the statistic becomes
        -- tie-independent (within-tie row order can differ between
        -- engines; per-value count deltas cannot).
        SELECT value,
               sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END)
                   AS a,
               sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END)
                   AS b
        FROM pooled GROUP BY value
    ), counts AS (
        SELECT sum(a) AS na, sum(b) AS nb FROM byval
    ), cdfs AS (
        SELECT sum(a) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ca,
               sum(b) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cb
        FROM byval
    )
    SELECT CAST(c.na AS BIGINT) AS n_a, CAST(c.nb AS BIGINT) AS n_b,
           round(max(abs(cdfs.ca * 1.0 / c.na - cdfs.cb * 1.0 / c.nb)), 6)
               AS ks_d
    FROM cdfs CROSS JOIN counts c
    GROUP BY c.na, c.nb
    """,
    tags=("stats", "hypothesis"),
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two event types: D = max |F_a(x) − F_b(x)| over
    the pooled sample — the standard distribution-shift test between
    two cohorts (pyspark.ml exposes only the one-sample variant;
    this is the two-sample test as a DataFrame program).

    Counts aggregate per DISTINCT value first (groupBy — map-side
    combinable, and the statistic becomes tie-independent: D is the
    sup over value boundaries, where within-tie row order cannot
    matter).  The running CDFs then come from the distributed exact
    prefix-sum (prefix_rank.py: approx-quantile range buckets +
    partitioned cumulative windows + broadcast bucket offsets) — no
    single-reducer global sort anywhere, and the integer count sums
    make the decomposition bit-identical to the oracle's sequential
    window."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    ).select("value", "event_type")
    byval = pooled.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("long")).alias("a"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("long")).alias("b"),
    )
    cdfs, _, totals = with_global_prefix(
        byval, "value", sums={"ca": F.col("a"), "cb": F.col("b")}
    )
    n_a, n_b = int(totals["ca"]), int(totals["cb"])
    return cdfs.agg(
        F.round(
            F.max(
                F.abs(
                    F.col("ca") / F.lit(n_a) - F.col("cb") / F.lit(n_b)
                )
            ),
            6,
        ).alias("ks_d"),
    ).select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        "ks_d",
    )


#: Support threshold for the exact heavy-hitters rollup (matches the
#: freqItems sketch demo so the two are directly comparable).
HH_SUPPORT = 0.2


@register(
    "stat_heavy_hitters_exact",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_rows FROM orders),
    u AS (
        SELECT 'o_orderpriority' AS col, o_orderpriority AS item,
               count(*) AS cnt
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT 'o_orderstatus', o_orderstatus, count(*)
        FROM orders GROUP BY o_orderstatus
    )
    SELECT col, item, CAST(cnt AS BIGINT) AS cnt,
           round(cnt * 1.0 / n.n_rows, 6) AS frac
    FROM u CROSS JOIN n
    WHERE cnt >= {HH_SUPPORT} * n.n_rows
    ORDER BY col, item
    """,
    tags=("stat", "heavy-hitters"),
)
def stat_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters — the value-checked twin of the
    `stat_freq_items` sketch (reference `stat/FrequentItems.scala:27`):
    items covering ≥ {HH_SUPPORT} of the orders table per column, with
    exact counts and support fractions.  The sketch returns a superset
    with one pass and O(1/support) memory; this two-level exact rollup
    is what you run when the item domain is bounded (statuses,
    priorities, country codes) and the report must be auditable.

    Plan: one map-side-combinable groupBy per column (partial counts
    combine before the shuffle, so each column shuffles at most
    |domain| rows per partition), a unionByName of the tiny rollups,
    and the 1-row table count broadcast back for the relative
    threshold.  The fact table is scanned twice but never shuffled —
    at 100 TB each scan emits only its column's partial counts."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    n = t.orders.agg(F.count("*").alias("n_rows"))

    def hh(col: str) -> DataFrame:
        return (
            t.orders.groupBy(F.col(col).alias("item"))
            .agg(F.count("*").alias("cnt"))
            .select(F.lit(col).alias("col"), "item", "cnt")
        )

    u = hh("o_orderpriority").unionByName(hh("o_orderstatus"))
    return (
        u.crossJoin(F.broadcast(n))
        .filter(F.col("cnt") >= HH_SUPPORT * F.col("n_rows"))
        .select(
            "col", "item", "cnt",
            F.round(F.col("cnt") / F.col("n_rows"), 6).alias("frac"),
        )
        .orderBy("col", "item")
    )


@register(
    "stat_chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CASE WHEN value > 50 THEN 'high' ELSE 'low' END AS band,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT sum(o) AS n FROM obs),
    marg_r AS (SELECT event_type, sum(o) AS r FROM obs GROUP BY 1),
    marg_c AS (SELECT band, sum(o) AS c FROM obs GROUP BY 1)
    SELECT obs.event_type, obs.band, CAST(obs.o AS BIGINT) AS observed,
           round(CAST(marg_r.r AS DOUBLE) * marg_c.c / tot.n, 6)
             AS expected,
           round(pow(obs.o - CAST(marg_r.r AS DOUBLE) * marg_c.c / tot.n, 2)
                 / (CAST(marg_r.r AS DOUBLE) * marg_c.c / tot.n), 6)
             AS chi2_term
    FROM obs
    JOIN marg_r USING (event_type)
    JOIN marg_c USING (band)
    CROSS JOIN tot
    ORDER BY event_type, band
    """,
    tags=("stats", "hypothesis"),
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence, per-cell form (reference
    `mllib/stat/test/ChiSqTest.scala:109` chiSquaredMatrix computes
    exactly these (observed−expected)²/expected terms): event_type ×
    value-band contingency cells with observed counts, expected counts
    under independence (row·col/N), and each cell's χ² contribution —
    the caller sums chi2_term for the statistic (df = (R−1)(C−1)).

    Plan shape: one groupBy for the contingency table (map-side
    combinable; output is |types|×|bands| rows — tiny), then the
    marginals as window sums OVER THE CELLS — deriving R, C and N
    from separate aggregations would make Catalyst plan four
    independent scans of the fact table (DataFrame reuse is not
    common-subexpression elimination), while three windows over the
    bounded cell table read events exactly once.  The unpartitioned
    N-window is over input bounded BY CONSTRUCTION (|types|×|bands|
    rows), registered in the plan guard's allow-list."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    obs = (
        t.events.select(
            "event_type",
            F.when(F.col("value") > 50, "high").otherwise("low").alias("band"),
        )
        .groupBy("event_type", "band")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    r = F.sum("o").over(Window.partitionBy("event_type"))
    c = F.sum("o").over(Window.partitionBy("band"))
    n = F.sum("o").over(Window.partitionBy())
    exp = (r.cast("double") * c / n)
    return (
        obs.select(
            "event_type",
            "band",
            F.col("o").alias("observed"),
            F.round(exp, 6).alias("expected"),
            F.round(F.pow(F.col("o") - exp, 2) / exp, 6).alias("chi2_term"),
        )
        .orderBy("event_type", "band")
    )


@register(
    "stat_mann_whitney",
    oracle=f"""
    WITH pooled AS (
        SELECT value, event_type FROM events
        WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
    ), byval AS (
        SELECT value,
               sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END)
                   AS a,
               sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END)
                   AS b
        FROM pooled GROUP BY value
    ), pref AS (
        SELECT a, b,
               sum(a + b) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                 - (a + b) AS cum_before
        FROM byval
    ), agg AS (
        SELECT sum(a) AS na, sum(b) AS nb,
               sum(a * (2 * cum_before + a + b + 1)) AS r2,
               sum((a + b) * (a + b) * (a + b) - (a + b)) AS ties
        FROM pref
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(r2 - na * (na + 1) AS DOUBLE) / 2 AS u_a,
           round((CAST(r2 - na * (na + 1) AS DOUBLE) / 2
                  - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2)
                 / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                        * (CAST(na + nb + 1 AS DOUBLE)
                           - CAST(ties AS DOUBLE)
                             / (CAST(na + nb AS DOUBLE)
                                * CAST(na + nb - 1 AS DOUBLE)))),
                 6) AS z_score
    FROM agg
    """,
    tags=("stats", "hypothesis"),
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) between the value
    distributions of two event types, with the tie-corrected normal
    approximation — the nonparametric location-shift companion to
    stat_ks_two_sample's distribution test (neither exists in
    pyspark.ml; both are the bread-and-butter A/B significance tests).

    Exactness through integer arithmetic: counts aggregate per
    DISTINCT value (tie blocks), each block contributes its members'
    AVERAGE rank — a·(2·cum_before + a + b + 1)/2 — kept as the
    integer numerator until one final exact halving, so rank sums are
    order-independent BIGINTs, not drifting doubles.  The cumulative
    block offsets come from the distributed exact prefix-sum
    (prefix_rank.py) — no single-reducer window (the registry-wide
    guard applies).  The z-score divides the same integers through
    the same double expression on both engines before the shared
    round(…, 6)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    pooled = t.events.filter(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    ).select("value", "event_type")
    byval = pooled.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("long")).alias("a"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("long")).alias("b"),
    )
    pref, _, _ = with_global_prefix(
        byval, "value", sums={"ct": F.col("a") + F.col("b")}
    )
    tot = F.col("a") + F.col("b")
    agg = pref.withColumn("cum_before", F.col("ct") - tot).agg(
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
        F.sum(
            F.col("a") * (2 * F.col("cum_before") + tot + 1)
        ).alias("r2"),
        F.sum(tot * tot * tot - tot).alias("ties"),
    )
    na, nb = F.col("na"), F.col("nb")
    u_a = (F.col("r2") - na * (na + 1)).cast("double") / 2
    mu = na.cast("double") * nb.cast("double") / 2
    sigma2 = (
        na.cast("double") * nb.cast("double") / 12.0
        * (
            (na + nb + 1).cast("double")
            - F.col("ties").cast("double")
            / ((na + nb).cast("double") * (na + nb - 1).cast("double"))
        )
    )
    return agg.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        u_a.alias("u_a"),
        F.round((u_a - mu) / F.sqrt(sigma2), 6).alias("z_score"),
    )
