"""Modern SQL surface: recursive CTEs and the VARIANT semi-structured
type (beyond-parity; SURVEY.md §2 lists the 2.1-era SQL surface — these
are the two largest SQL-surface additions since, and both are pure
Catalyst constructs, so they come to the engine for free).

- Recursive CTE (`WITH RECURSIVE`): the reference era expressed
  hierarchies with iterative driver loops (the shape our
  `operators/graph.py` uses for PageRank); Spark 4 plans the recursion
  as a UnionLoop, so hierarchy walks become one declarative statement.
- VARIANT (`parse_json` / `variant_get`): schema-on-read JSON without
  per-query string re-parsing; the binary-encoded variant is columnar
  and prunable, which at 100 TB beats `get_json_object` string UDF
  patterns by avoiding repeated JSON text scans.

Both queries run through `sql_entry.sql` — a reference user's SQL runs
verbatim against the canonical table views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from splitserve_spark import sql_entry
from splitserve_spark.registry import register

#: Binary-heap parent edge over nation keys: parent(k) = (k-1) div 2.
#: A deterministic 25-node hierarchy derived from TESTDATA, so both
#: engines rebuild the same tree with no auxiliary table.
_RECURSIVE_SQL = """
WITH RECURSIVE hier(n_nationkey, n_name, depth, path) AS (
  SELECT n_nationkey, n_name, CAST(0 AS INTEGER) AS depth,
         CAST(n_name AS STRING) AS path
  FROM nation WHERE n_nationkey = 0
  UNION ALL
  SELECT c.n_nationkey, c.n_name, CAST(h.depth + 1 AS INTEGER) AS depth,
         CAST(concat(h.path, '/', c.n_name) AS STRING) AS path
  FROM nation c
  JOIN hier h
    ON h.n_nationkey = CAST(floor((c.n_nationkey - 1) / 2.0) AS BIGINT)
   AND c.n_nationkey > 0
)
SELECT n_nationkey, n_name, depth, path FROM hier ORDER BY n_nationkey
"""


@register(
    "sql_recursive_cte",
    oracle=_RECURSIVE_SQL,
    tags=("sql", "recursive-cte", "modern"),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE hierarchy walk (binary-heap parent edges over
    nation keys): depth + materialized root path per node.

    The identical SQL text runs on both engines — Spark 4 plans the
    recursion as UnionLoopExec with the per-level join broadcast; at
    scale the recursion depth is O(log n) levels, each a broadcast join
    against the (small) frontier, so no full-table shuffle per level.
    """
    return sql_entry.sql(spark, _RECURSIVE_SQL, sf_dir)


@register(
    "fn_variant_json",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)                                AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT)                                          AS sum_k,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT)                                          AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT)                                          AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sql", "variant", "modern"),
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion of `events.props`: parse once with
    `parse_json`, extract typed fields with `variant_get`, aggregate.

    At 100 TB the win over per-query `get_json_object` is structural:
    parse_json materializes the binary variant encoding a single time
    (e.g. at ingest into a parquet variant column) and every downstream
    `variant_get` is a binary-offset lookup, not a JSON text re-parse.
    The aggregate itself is a plain partial->final hash agg on
    event_type.  Oracle: DuckDB json_extract, sums pinned to BIGINT
    (HUGEINT dtype hazard, VERDICT r2 item 1).
    """
    from pyspark.sql import functions as F

    from splitserve_spark.tables import Tables

    t = Tables(spark, sf_dir)
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        t.events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@register(
    "sql_group_by_all",
    oracle=_GROUP_BY_ALL_SQL,
    tags=("sql", "modern"),
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the modern-SQL shorthand (DuckDB
    popularized it; Spark adopted it 3.4/4.0): grouping keys inferred
    from the non-aggregate select list, ordering from the full select
    list.  The IDENTICAL SQL text runs on both engines — the whole
    point of the shorthand is cross-engine portability."""
    return sql_entry.sql(spark, _GROUP_BY_ALL_SQL, sf_dir)


#: Source-row selectors for the upsert: every UPD_MOD-th customer gets
#: an update, and one synthetic new customer per INS_MOD existing keys.
#: The synthetic-insert key base is DERIVED from the data
#: (max(c_custkey) + 1) so the inserts are collision-free at every
#: scale factor by construction — no hand-tuned constant to outgrow
#: (the r9/r10 advisory's preferred form; the runtime assert_true
#: fence this replaces fired at SF≈33+).
UPD_MOD = 7
INS_MOD = 500
OUT_MOD = 97


@register(
    "merge_upsert_scd1",
    oracle=f"""
    WITH src AS (
      SELECT c_custkey, 'UPDATED' AS new_segment,
             round(c_acctbal + 100.0, 2) AS new_acctbal
      FROM customer WHERE c_custkey % {UPD_MOD} = 0
      UNION ALL
      SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer),
             'NEWSEG', CAST(0.0 AS DOUBLE)
      FROM customer WHERE c_custkey % {INS_MOD} = 0
    ), merged AS (
      SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
             CASE WHEN s.c_custkey IS NULL THEN t.c_mktsegment
                  ELSE s.new_segment END AS segment,
             CASE WHEN s.c_custkey IS NULL THEN round(t.c_acctbal, 2)
                  ELSE s.new_acctbal END AS acctbal,
             CASE WHEN t.c_custkey IS NULL THEN 'insert'
                  WHEN s.c_custkey IS NULL THEN 'keep'
                  ELSE 'update' END AS action
      FROM customer t FULL OUTER JOIN src s USING (c_custkey)
    )
    SELECT c_custkey, segment, acctbal, action
    FROM merged WHERE c_custkey % {OUT_MOD} = 0
    ORDER BY c_custkey
    """,
    tags=("sql", "modern", "merge"),
)
def merge_upsert_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (SCD-1 upsert) semantics as a DataFrame program:
    WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT, WHEN NOT
    MATCHED BY SOURCE THEN keep — expressed as ONE full-outer join +
    conditional projection, which is exactly the physical shape a
    MERGE-supporting table format (Delta/Iceberg) plans underneath.
    The 2.1-era reference has no MERGE; a user migrating from it gets
    the same semantics on plain parquet this way.

    Scale shape: one shuffle join on the merge key (broadcast when the
    source delta is small, which is the common case); the action column
    doubles as the audit the write path needs for metrics.  The
    synthetic-insert key base is max(c_custkey) + 1 computed as a
    1-row aggregate over just the key column (parquet column-stats
    cheap) and attached to the insert branch as a broadcast — so the
    inserts can never collide with real keys at ANY scale factor,
    replacing the r9 runtime fence that merely failed loudly at
    SF≈33+."""
    from pyspark.sql import functions as F

    from splitserve_spark.tables import Tables

    t = Tables(spark, sf_dir)
    target = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    upd = target.filter(F.col("c_custkey") % UPD_MOD == 0).select(
        "c_custkey",
        F.lit("UPDATED").alias("new_segment"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("new_acctbal"),
    )
    ins_base = t.customer.agg(
        (F.max("c_custkey") + 1).alias("ins_base")
    )
    ins = (
        target.filter(F.col("c_custkey") % INS_MOD == 0)
        # 1-row broadcast attach of the derived base: plans as a
        # BroadcastNestedLoopJoin with a single build row — the
        # DataFrame-API spelling of a scalar subquery, constant per
        # output partition, no shuffle.
        .crossJoin(F.broadcast(ins_base))
        .select(
            (F.col("c_custkey") + F.col("ins_base")).alias("c_custkey"),
            F.lit("NEWSEG").alias("new_segment"),
            F.lit(0.0).alias("new_acctbal"),
        )
    )
    src = upd.unionByName(ins)
    s_matched = F.col("new_segment").isNotNull()
    t_matched = F.col("c_mktsegment").isNotNull()
    merged = target.join(src, "c_custkey", "full_outer").select(
        "c_custkey",
        F.when(~s_matched, F.col("c_mktsegment"))
        .otherwise(F.col("new_segment"))
        .alias("segment"),
        F.when(~s_matched, F.round("c_acctbal", 2))
        .otherwise(F.col("new_acctbal"))
        .alias("acctbal"),
        F.when(~t_matched, "insert")
        .when(~s_matched, "keep")
        .otherwise("update")
        .alias("action"),
    )
    return (
        merged.filter(F.col("c_custkey") % OUT_MOD == 0).orderBy("c_custkey")
    )


@register(
    "fn_collation",
    oracle="""
    WITH mixed AS (
        SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                    ELSE c_mktsegment END AS seg
        FROM customer
    )
    SELECT count(DISTINCT seg)          AS n_binary_distinct,
           count(DISTINCT lower(seg))   AS n_lcase_distinct,
           CAST(sum(CASE WHEN lower(seg) = 'building' THEN 1 ELSE 0 END)
                AS BIGINT)              AS n_building_ci
    FROM mixed
    """,
    tags=("sql", "modern", "collation"),
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4.0, SPARK-46830): UTF8_LCASE makes
    comparisons, DISTINCT, and equality case-insensitive at the TYPE
    level — no lower() rewrites scattered through queries.  A
    mixed-case segment column counts 2× the distinct values under
    binary collation vs UTF8_LCASE, and a case-insensitive equality
    matches both case variants.

    The oracle models the collation with explicit lower(); at 100 TB
    the collated comparison stays whole-stage-codegen'd JVM and
    hash-aggregates exactly like a binary string — no extra shuffle."""
    from pyspark.sql import functions as F

    from splitserve_spark.tables import Tables

    t = Tables(spark, sf_dir)
    mixed = t.customer.select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
        ).otherwise(F.col("c_mktsegment")).alias("seg")
    )
    ci = F.collate(F.col("seg"), "UTF8_LCASE")
    return mixed.agg(
        F.count_distinct(F.col("seg")).alias("n_binary_distinct"),
        F.count_distinct(ci).alias("n_lcase_distinct"),
        F.sum(
            (ci == F.lit("building")).cast("int")
        ).cast("bigint").alias("n_building_ci"),
    )


#: Spark 4.0 SQL pipe syntax (SPARK-49555): the same logical query as
#: the oracle below, written as a left-to-right pipeline.
_PIPE_SQL = """
FROM orders
|> WHERE o_orderstatus = 'F'
|> AGGREGATE count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_value
   GROUP BY o_orderpriority
|> WHERE n_orders > 0
|> ORDER BY o_orderpriority
"""


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    HAVING count(*) > 0
    ORDER BY o_orderpriority
    """,
    tags=("sql", "modern", "pipe"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, SPARK-49555): `FROM t |> WHERE …
    |> AGGREGATE … |> ORDER BY` — queries written as left-to-right
    dataflow instead of inside-out SQL.  Catalyst resolves each pipe
    stage to the identical logical plan as the classic form, so the
    physical plan (partial→final agg, one shuffle) is unchanged; the
    oracle is the classic-form equivalent, proving the two surfaces
    agree."""
    return sql_entry.sql(spark, _PIPE_SQL, sf_dir)


_SCRIPT_SQL = """
BEGIN
  DECLARE total DECIMAL(38,2);
  DECLARE cum   DECIMAL(38,2) DEFAULT 0;
  DECLARE k     INT DEFAULT 0;
  SET total = (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
               FROM orders WHERE year(o_orderdate) = 1996);
  WHILE cum * 2 < total AND k < 12 DO
    SET k = k + 1;
    SET cum = (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
               FROM orders
               WHERE year(o_orderdate) = 1996 AND month(o_orderdate) <= k);
  END WHILE;
  SELECT k AS break_even_month,
         CAST(cum AS DOUBLE)   AS cum_revenue,
         CAST(total AS DOUBLE) AS total_revenue;
END
"""


@register(
    "sql_scripting_while",
    oracle="""
    WITH monthly AS (
      SELECT month(o_orderdate) AS m,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
    ), cums AS (
      SELECT m,
             sum(rev) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(rev) OVER () AS total
      FROM monthly
    )
    SELECT CAST(m AS INTEGER) AS break_even_month,
           CAST(cum AS DOUBLE) AS cum_revenue,
           CAST(total AS DOUBLE) AS total_revenue
    FROM cums
    WHERE cum * 2 >= total
    ORDER BY m LIMIT 1
    """,
    tags=("sql", "modern", "scripting"),
)
def sql_scripting_while(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0, SPARK-48338 / ANSI SQL/PSM):
    BEGIN…END with DECLARE, SET from scalar subqueries, and a WHILE
    loop that re-queries the catalog each iteration — the procedural
    surface stored-procedure users expect.  The script finds the
    break-even month: the smallest k whose cumulative 1996 revenue
    reaches half the year's total, by looping a monthly cumulative
    query.  The oracle computes the same k declaratively (cumulative
    window + first row ≥ half), proving loop and window forms agree.

    All comparisons are decimal-exact (cum * 2 < total over
    DECIMAL(38,2) sums — no double division at the loop boundary).
    Scale note: procedural loops re-scan per iteration by design (12
    scans here); the declarative twin is the 1-scan plan you deploy —
    the pair documents exactly that trade."""
    prior = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return sql_entry.sql(spark, _SCRIPT_SQL, sf_dir)
    finally:
        spark.conf.set("spark.sql.scripting.enabled", prior)


@register(
    "sql_udf_identifier_params",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice * 0.9 AS DECIMAL(18,4)))
                AS DOUBLE) AS discounted_total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("sql", "modern", "sql-udf"),
)
def sql_udf_identifier_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three modern SQL-surface features in one checked query:

    * **SQL scalar UDF** (CREATE TEMPORARY FUNCTION … RETURN expr,
      Spark 3.4 SPARK-28264): `discounted(p)` is declared in SQL and
      inlined by Catalyst — unlike a Python UDF it stays inside
      whole-stage codegen, so this is the RIGHT way to package reused
      business expressions (the registry-wide no-row-Python guard's
      positive counterpart).
    * **IDENTIFIER(:param) clause** (Spark 3.4, SQL:2016): the table
      name arrives as a BOUND PARAMETER, not string interpolation —
      injection-safe templated SQL.
    * **Parameterized spark.sql(args=…)** (Spark 3.4): the year
      boundaries bind as named scalar parameters.

    The oracle is the fully-inlined classic form; matching proves the
    UDF inlining, identifier binding, and parameter substitution all
    resolve to the same plan semantics.  Decimal-exact money math
    inside the UDF application (p * 0.9 cast to DECIMAL before the
    sum)."""
    from splitserve_spark.tables import Tables

    Tables(spark, sf_dir).register_temp_views()
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION discounted(p DOUBLE) "
        "RETURNS DECIMAL(18,4) RETURN CAST(p * 0.9 AS DECIMAL(18,4))"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(discounted(o_totalprice)) AS DOUBLE)
                   AS discounted_total
        FROM IDENTIFIER(:tbl)
        WHERE o_orderdate >= CAST(:lo AS TIMESTAMP)
          AND o_orderdate < CAST(:hi AS TIMESTAMP)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"tbl": "orders", "lo": "1996-01-01", "hi": "1997-01-01"},
    )


@register(
    "sql_table_function",
    oracle="""
    SELECT c_mktsegment AS seg,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY seg
    """,
    tags=("sql", "modern", "sql-udf", "table-function"),
)
def sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE function (CREATE TEMPORARY FUNCTION … RETURNS TABLE,
    Spark 3.4 SPARK-28264): `seg_orders(seg)` encapsulates a
    join-and-filter as a relation-valued function, invoked here
    CORRELATED — once per segment row via scalar subqueries — so
    Catalyst must decorrelate the TVF body (the same rewrite the
    subquery family pins for plain subqueries).  The oracle is the
    equivalent single left-join aggregate; matching proves the
    function body inlines to the same semantics in every per-segment
    invocation, including decimal-exact totals.

    Scale note (and why this query sits on the repeat-scan allow
    list): every correlated invocation inlines the TVF body, so the
    fact side scans once PER SUBQUERY — the cost model stored
    procedures hide.  The oracle's single left-join aggregate is the
    one-scan deployment form; the pair documents that trade the same
    way the scripting WHILE loop does."""
    from splitserve_spark.tables import Tables

    Tables(spark, sf_dir).register_temp_views()
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION seg_orders(seg STRING) "
        "RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE) "
        "RETURN SELECT o_orderkey, o_totalprice "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = seg"
    )
    return spark.sql(
        """
        SELECT s.seg,
               (SELECT count(*) FROM seg_orders(s.seg)) AS n_orders,
               (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                            AS DOUBLE)
                FROM seg_orders(s.seg)) AS total
        FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
        ORDER BY s.seg
        """
    )


#: Lateral-alias query — ONE text, run verbatim by BOTH engines (the
#: strongest dialect-compat form: any divergence in lateral-alias
#: resolution or decimal arithmetic is a value mismatch).
_LATERAL_ALIAS_SQL = """
    SELECT l_returnflag,
           CAST(sum(net) AS DOUBLE) AS sum_net,
           CAST(sum(gross) AS DOUBLE) AS sum_gross,
           CAST(sum(tax_amt) AS DOUBLE) AS sum_tax
    FROM (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2))) AS net,
             net * (1 + CAST(l_tax AS DECIMAL(4,2))) AS gross,
             gross - net AS tax_amt
      FROM lineitem
    ) AS t
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


@register(
    "sql_lateral_alias",
    oracle=_LATERAL_ALIAS_SQL,
    tags=("sql", "modern", "lateral-alias"),
)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4, SPARK-27561): a SELECT-list
    alias referenced by LATER expressions in the same list — `net`
    feeds `gross` feeds `tax_amt` — the way analysts actually write
    derived-metric chains, without nesting three subqueries.  The
    exact SAME SQL text runs on both engines (the oracle IS the query
    string), so alias-resolution order and the decimal arithmetic
    chain (scale-4 net → scale-6 gross, all exact, summed exactly and
    cast to double only at the edge) must agree to the bit."""
    from splitserve_spark.tables import Tables

    Tables(spark, sf_dir).register_temp_views()
    return spark.sql(_LATERAL_ALIAS_SQL)


#: User subset for the clustered-layout report.
DIST_MOD = 13


@register(
    "sql_distribute_sort_by",
    oracle=f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           true AS single_partition,
           true AS sorted_within
    FROM events
    WHERE user_id % {DIST_MOD} = 0
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("sql", "hive-clauses", "distribute-by", "layout"),
)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY / SORT BY — the Hive-era SQL clauses the
    reference's 2.1 grammar ships (the SQL form of
    repartition + sortWithinPartitions; CLUSTER BY is their
    contraction): rows hash-partition by user_id and sort by
    (user_id, ts) WITHIN each partition, no global sort.  The layout
    claims are verified IN-QUERY, physically: spark_partition_id()
    + monotonically_increasing_id() capture the post-shuffle physical
    row order, a window over (pid, mid) checks every row is >= its
    predecessor in (user_id, ts), and countDistinct(pid) per user
    must be 1 (hash distribution puts each user in exactly one
    partition).  Both invariants hold at ANY partition count — the
    5/64 sweep exercises exactly that — so the oracle states them as
    constants next to the per-user counts.

    Scale shape: this is THE write-side layout verb for downstream
    merge-free reads (bucketed tables, clustered parquet) — one
    shuffle, per-partition sort, no global order paid."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from splitserve_spark.tables import Tables

    t = Tables(spark, sf_dir)
    t.events.filter(F.col("user_id") % DIST_MOD == 0).select(
        "user_id", "ts", "event_id"
    ).createOrReplaceTempView("dist_events")
    clustered = spark.sql(
        "SELECT user_id, ts FROM dist_events "
        "DISTRIBUTE BY user_id SORT BY user_id, ts"
    )
    tagged = clustered.select(
        "user_id",
        "ts",
        F.spark_partition_id().alias("pid"),
        F.monotonically_increasing_id().alias("mid"),
    )
    w = Window.partitionBy("pid").orderBy("mid")
    prev_u = F.lag("user_id").over(w)
    prev_ts = F.lag("ts").over(w)
    in_order = F.when(prev_u.isNull(), True).otherwise(
        (F.col("user_id") > prev_u)
        | ((F.col("user_id") == prev_u) & (F.col("ts") >= prev_ts))
    )
    return (
        tagged.withColumn("ok", in_order)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.countDistinct("pid") == 1).alias("single_partition"),
            F.min("ok").alias("sorted_within"),
        )
        .orderBy("user_id")
    )


#: Snapshot-B derivation moduli (shared verbatim with the oracle):
#: keys % DEL deleted, % CHG repriced, % INS mirrored to negative keys.
SNAP_DEL, SNAP_CHG, SNAP_INS = 97, 13, 89


@register(
    "snapshot_diff_audit",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % {SNAP_CHG} = 0
                  THEN round(o_totalprice + 1.00, 2) ELSE o_totalprice
             END AS o_totalprice
      FROM orders WHERE o_orderkey % {SNAP_DEL} <> 0
      UNION ALL
      SELECT -o_orderkey - 1, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % {SNAP_INS} = 0
    ),
    d AS (
      SELECT CASE
               WHEN b.o_orderkey IS NULL THEN 'deleted'
               WHEN a.o_orderkey IS NULL THEN 'inserted'
               WHEN a.o_totalprice <> b.o_totalprice
                 OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
               ELSE 'unchanged'
             END AS change_type,
             coalesce(b.o_totalprice, a.o_totalprice) AS price
      FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM d GROUP BY change_type ORDER BY change_type
    """,
    tags=("pipeline", "audit", "versioning", "join"),
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version reconciliation — the audit every training-data
    release pipeline runs between snapshot N and N+1 before shipping:
    a keyed FULL OUTER join classifies every row as deleted / inserted
    / changed / unchanged and rolls up counts and exact money totals
    per class.  Snapshot B is derived deterministically from orders
    (drop keys % {SNAP_DEL}, reprice keys % {SNAP_CHG} by +1.00,
    mirror keys % {SNAP_INS} to fresh negative keys) so both engines
    reconcile bit-identical versions with no auxiliary table — the
    same derived-twin technique as merge_upsert_scd1.

    Scale notes: reconciliation is inherently one co-partitioned FULL
    OUTER shuffle join on the snapshot key (both sides bucketed on the
    key at a real warehouse → zero-shuffle, scale_patterns.py's
    join_bucketed_colocated layout); the class rollup is map-side
    combinable; money totals ride the lossless DECIMAL(18,2) cast
    (FIXTURES.md round-11 discipline) so the hash is partition-order
    independent."""
    from pyspark.sql import functions as F

    from splitserve_spark.tables import Tables

    t = Tables(spark, sf_dir)
    a = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    # Derive snapshot B in ONE pass over orders instead of a union of
    # two filtered branches (guide §2.4: the union cost a second full
    # fact scan; row order is irrelevant to the full-outer join + agg
    # that consume it).  Each order emits 0–2 B rows: its surviving
    # (possibly repriced) self, and/or its negative-key mirror.
    b_rows = F.filter(
        F.array(
            F.when(
                F.col("o_orderkey") % SNAP_DEL != 0,
                F.struct(
                    F.col("o_orderkey"),
                    F.col("o_orderstatus"),
                    F.when(
                        F.col("o_orderkey") % SNAP_CHG == 0,
                        F.round(F.col("o_totalprice") + 1.00, 2),
                    )
                    .otherwise(F.col("o_totalprice"))
                    .alias("o_totalprice"),
                ),
            ),
            F.when(
                F.col("o_orderkey") % SNAP_INS == 0,
                F.struct(
                    (-F.col("o_orderkey") - 1).alias("o_orderkey"),
                    F.col("o_orderstatus"),
                    F.col("o_totalprice"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    b = (
        a.select(F.explode(b_rows).alias("r"))
        .select("r.o_orderkey", "r.o_orderstatus", "r.o_totalprice")
    )
    bb = b.select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderstatus").alias("b_status"),
        F.col("o_totalprice").alias("b_price"),
    )
    joined = a.join(bb, a["o_orderkey"] == bb["b_key"], "full_outer")
    change = (
        F.when(F.col("b_key").isNull(), "deleted")
        .when(F.col("o_orderkey").isNull(), "inserted")
        .when(
            (F.col("o_totalprice") != F.col("b_price"))
            | (F.col("o_orderstatus") != F.col("b_status")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            change.alias("change_type"),
            F.coalesce("b_price", "o_totalprice").alias("price"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("change_type")
    )
