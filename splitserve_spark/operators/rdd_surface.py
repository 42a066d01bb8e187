"""RDD-level operator surface (SURVEY.md §2.11).

Reference: `python/pyspark/rdd.py` (2,473 LoC) — map/flatMap/filter,
reduceByKey/combineByKey/aggregateByKey, joins, sortByKey, zipWithIndex,
sample/histogram/stats, etc.; Scala impls under
`core/src/main/scala/org/apache/spark/rdd/` (PairRDDFunctions.scala,
ShuffledRDD.scala, CoGroupedRDD.scala).

Engine stance (SURVEY.md §2.11): the RDD API ships unchanged with
PySpark — the build cost is zero — but it is the *escape hatch*, not
the execution model: every RDD row crosses the JVM↔Python pickle
boundary, so the same logic as a DataFrame runs 10-100× faster under
codegen.  These queries exist to prove the surface works end-to-end
(driver contract included), with each one's DataFrame-equivalent
result as the oracle.  `createDataFrame` at the end brings results
back into the relational plane.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


@register(
    "rdd_wordcount",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    HAVING count(*) >= 200
    ORDER BY word
    """,
    tags=("rdd", "map-reduce"),
)
def rdd_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flatMap → map → reduceByKey — the canonical RDD program
    (map-side combine happens in reduceByKey, same as a partial
    aggregate). Threshold filter keeps the result bounded."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    rdd = (
        t.documents.select("text").rdd
        .flatMap(lambda row: row["text"].lower().strip().split(" "))
        .filter(lambda w: w != "")
        .map(lambda w: (w, 1))
        .reduceByKey(lambda a, b: a + b)
        .filter(lambda kv: kv[1] >= 200)
    )
    return spark.createDataFrame(rdd, "word string, n bigint").orderBy("word")


@register(
    "rdd_aggregate_by_key",
    oracle="""
    SELECT l_suppkey, count(*) AS n, sum(l_quantity) AS total_qty,
           max(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
    tags=("rdd", "pair-ops"),
)
def rdd_aggregate_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateByKey with a (count, sum, max) accumulator — the
    combineByKey family (PairRDDFunctions). seqOp runs map-side,
    combOp merges per key after the shuffle."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    rdd = (
        t.lineitem.select("l_suppkey", "l_quantity", "l_extendedprice").rdd
        .map(lambda r: (r["l_suppkey"], (r["l_quantity"], r["l_extendedprice"])))
        .aggregateByKey(
            (0, 0.0, float("-inf")),
            lambda acc, v: (acc[0] + 1, acc[1] + v[0], max(acc[2], v[1])),
            lambda x, y: (x[0] + y[0], x[1] + y[1], max(x[2], y[2])),
        )
        .map(lambda kv: (kv[0], kv[1][0], kv[1][1], kv[1][2]))
    )
    return spark.createDataFrame(
        rdd, "l_suppkey bigint, n bigint, total_qty double, max_price double"
    ).orderBy("l_suppkey")


@register(
    "rdd_join_cogroup",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    ORDER BY n_nationkey
    """,
    tags=("rdd", "pair-ops", "join"),
)
def rdd_join_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDD pair join (CoGroupedRDD underneath) on the dimension tables."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    nations = t.nation.rdd.map(lambda r: (r["n_regionkey"], (r["n_nationkey"], r["n_name"])))
    regions = t.region.rdd.map(lambda r: (r["r_regionkey"], r["r_name"]))
    joined = nations.join(regions).map(
        lambda kv: (kv[1][0][0], kv[1][0][1], kv[1][1])
    )
    return spark.createDataFrame(
        joined, "n_nationkey int, n_name string, r_name string"
    ).orderBy("n_nationkey")


@register(
    "rdd_sort_zip_index",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) - 1 AS BIGINT)
             AS rank_idx,
           s_suppkey, s_acctbal
    FROM supplier
    ORDER BY rank_idx
    LIMIT 10
    """,
    tags=("rdd", "sort"),
)
def rdd_sort_zip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortBy + zipWithIndex (range-partitioned sort, then per-partition
    offset assignment — one extra job to count partition sizes)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    rdd = (
        t.supplier.select("s_suppkey", "s_acctbal").rdd
        .sortBy(lambda r: (-r["s_acctbal"], r["s_suppkey"]))
        .zipWithIndex()
        .filter(lambda ri: ri[1] < 10)
        .map(lambda ri: (ri[1], ri[0]["s_suppkey"], ri[0]["s_acctbal"]))
    )
    return spark.createDataFrame(
        rdd, "rank_idx bigint, s_suppkey bigint, s_acctbal double"
    ).orderBy("rank_idx")


#: Sample count for the RDD Pi estimate (shared with the oracle SQL).
PI_RDD_N = 100_000
PI_RDD_PARTS = 8


@register(
    "workload_pi_rdd",
    oracle=f"""
    WITH pts AS (
      SELECT i,
             (('0x' || substr(md5('x' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
              % 1000000) / 1000000.0 AS x,
             (('0x' || substr(md5('y' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
              % 1000000) / 1000000.0 AS y
      FROM range(0, {PI_RDD_N}) t(i)
    )
    SELECT CAST(sum(CASE WHEN x*x + y*y < 1.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits,
           round(4.0 * sum(CASE WHEN x*x + y*y < 1.0 THEN 1 ELSE 0 END)
                 / count(*), 6) AS pi_estimate
    FROM pts
    """,
    tags=("rdd", "workload"),
)
def workload_pi_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SparkPi as the reference runs it (examples/src/main/python/pi.py):
    parallelize → map → reduce, RDD form — but with the same
    md5-derived quasi-Monte-Carlo points as the DataFrame twin
    `workload_pi` instead of a per-partition Mersenne RNG, so the hit
    count is partitioning-independent and EXACTLY oracle-checkable
    (hashlib.md5 in the Python worker == DuckDB's md5; the r6 'upgrade
    rows-only entries' task).  Each of the {PI_RDD_PARTS} partitions
    samples its own contiguous id range — the map/reduce shape is
    unchanged."""
    ensure_parity_conf(spark)

    def sample(split):
        import hashlib

        lo = split * (PI_RDD_N // PI_RDD_PARTS)
        hi = PI_RDD_N if split == PI_RDD_PARTS - 1 else lo + PI_RDD_N // PI_RDD_PARTS
        hits = 0
        for i in range(lo, hi):
            x = (int(hashlib.md5(f"x{i}".encode()).hexdigest()[:15], 16)
                 % 1_000_000) / 1_000_000.0
            y = (int(hashlib.md5(f"y{i}".encode()).hexdigest()[:15], 16)
                 % 1_000_000) / 1_000_000.0
            if x * x + y * y < 1.0:
                hits += 1
        yield hits

    hits = (
        spark.sparkContext.parallelize(range(PI_RDD_PARTS), PI_RDD_PARTS)
        .mapPartitionsWithIndex(lambda i, _: sample(i))
        .reduce(lambda a, b: a + b)
    )
    return spark.createDataFrame(
        [(hits, round(4.0 * hits / PI_RDD_N, 6))],
        "hits bigint, pi_estimate double",
    )


@register(
    "rdd_broadcast_accumulator",
    oracle="""
    SELECT r.r_name,
           CAST(count(*) AS BIGINT) AS n_nations,
           (SELECT CAST(count(*) AS BIGINT) FROM nation) AS rows_seen
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    tags=("rdd", "broadcast", "accumulator"),
)
def rdd_broadcast_accumulator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sc.broadcast + Accumulator — the RDD-era shared-variable pair
    (reference `core/.../Broadcast.scala`, `Accumulator.scala`; Python
    surface `python/pyspark/broadcast.py`, `accumulators.py`): the
    region dim ships once per executor as a broadcast map-side lookup
    (the hand-rolled ancestor of broadcast hash join) and an
    accumulator counts rows processed (the ancestor of df.observe).
    The DataFrame equivalents are strictly preferred (see module
    docstring); this proves the escape hatch end-to-end."""
    ensure_parity_conf(spark)
    sc = spark.sparkContext
    t = Tables(spark, sf_dir)
    region_map = sc.broadcast(
        dict(t.region.select("r_regionkey", "r_name").rdd.map(tuple).collect())
    )
    rows_seen = sc.accumulator(0)

    def lookup(row):
        rows_seen.add(1)
        return (region_map.value[row.n_regionkey], 1)

    counts = (
        t.nation.select("n_regionkey").rdd.map(lookup)
        .reduceByKey(lambda a, b: a + b)
        .collect()
    )
    # The action above is complete, so the accumulator value is final.
    seen = rows_seen.value
    return spark.createDataFrame(
        [(name, n, seen) for name, n in sorted(counts)],
        "r_name string, n_nations bigint, rows_seen bigint",
    )


@register(
    "rdd_tree_aggregate",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_quantity * l_quantity), 2) AS sum_sq
    FROM lineitem
    """,
    tags=("rdd", "tree"),
)
def rdd_tree_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """treeAggregate (reference `core/.../rdd/RDD.scala:1106`
    treeAggregate, the depth-limited combine MLlib uses for gradient
    sums): (count, Σx, Σx²) moments of l_quantity folded per
    partition, then merged through a depth-2 tree instead of all
    partitions reducing straight to the driver — at thousands of
    partitions the flat form makes the driver a single O(P) reducer,
    while the tree inserts an intermediate shuffle level so merge
    fan-in is O(√P) per task.  The combine is exact integer/decimal
    arithmetic on 2-decimal quantities, so the tree's different merge
    order cannot change the result (associativity is exact here —
    floats would need the decimal recipe the SQL oracles use)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    rdd = t.lineitem.select("l_quantity").rdd.map(
        lambda row: int(round(row["l_quantity"] * 100))
    )
    zero = (0, 0, 0)  # (count, sum_centi, sum_sq_centi2)

    def seq(acc, x):
        return (acc[0] + 1, acc[1] + x, acc[2] + x * x)

    def comb(a, b):
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2])

    n, s_c, sq_c = rdd.treeAggregate(zero, seq, comb, depth=2)
    return spark.createDataFrame(
        [(n, round(s_c / 100.0, 2), round(sq_c / 10000.0, 2))],
        "n bigint, sum_qty double, sum_sq double",
    )
