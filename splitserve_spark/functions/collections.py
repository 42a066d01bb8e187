"""Collection types + generators (SURVEY.md §2.8 collection registry,
§2.9 generators).

Reference: CreateArray/CreateMap/CreateNamedStruct
(`complexTypeCreator.scala:39,97,294`), Size/SortArray/ArrayContains
(`collectionOperations.scala:37,131,225`), GetStructField/GetArrayItem
(`complexTypeExtractors.scala:106,215`), Explode/PosExplode
(`generators.scala:242,263`) via GenerateExec (`GenerateExec.scala:52`).

explode on Spark multiplies rows inside a whole-stage-codegen'd
generator — no shuffle; the oracle uses UNNEST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


def _arr_str(col, sep: str = "|"):
    """Serialize an array column to 'a|b|c' — the driver's canonicalizer
    cannot hash array-typed values, so every registered query emits
    arrays in this form (oracle side: array_to_string(..., '|'))."""
    return F.array_join(F.transform(col, lambda x: x.cast("string")), sep)


@register(
    "fn_array_basic",
    oracle="""
    SELECT n_nationkey,
           array_to_string([n_nationkey, n_regionkey, 99], '|')    AS arr,
           len([n_nationkey, n_regionkey, 99])                     AS arr_len,
           list_contains([n_nationkey, n_regionkey], 3)            AS has3,
           [n_nationkey, n_regionkey, 99][1]                       AS first_elem,
           array_to_string(list_sort([99, n_nationkey, n_regionkey]), '|') AS sorted_arr,
           array_to_string(list_sort(list_distinct([n_nationkey, n_regionkey, n_regionkey])), '|') AS dedup_arr,
           array_to_string(generate_series(1, 3), '|')             AS seq
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("function", "array"),
)
def fn_array_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array / size / array_contains / element_at / sort_array /
    array_distinct / sequence."""
    t = Tables(spark, sf_dir)
    k, r = F.col("n_nationkey"), F.col("n_regionkey")
    arr = F.array(k, r, F.lit(99))
    return (
        t.nation.select(
            "n_nationkey",
            _arr_str(arr).alias("arr"),
            F.size(arr).cast("bigint").alias("arr_len"),
            F.array_contains(F.array(k, r), F.lit(3)).alias("has3"),
            F.element_at(arr, 1).alias("first_elem"),
            _arr_str(F.sort_array(F.array(F.lit(99), k, r))).alias("sorted_arr"),
            _arr_str(F.sort_array(F.array_distinct(F.array(k, r, r)))).alias("dedup_arr"),
            _arr_str(F.sequence(F.lit(1), F.lit(3))).alias("seq"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "fn_array_lambda",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list_transform([n_nationkey, n_regionkey], x -> x * 10), '|') AS times10,
           array_to_string(list_filter([n_nationkey, n_regionkey, 7], x -> x > 3), '|')  AS gt3,
           list_reduce([n_nationkey, n_regionkey, 5], (a, b) -> a + b) AS total,
           CAST(list_position([n_nationkey, n_regionkey, 7], 7) AS BIGINT) AS pos7,
           list_max([n_nationkey, n_regionkey])                     AS amax
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("function", "array", "lambda"),
)
def fn_array_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform / filter / aggregate /
    arrays_zip — all JVM lambda expressions, zero Python cost.  (Modern
    Spark surface; the 2.1 reference predates these but they're required
    for the vector ops in operators/similarity.py.)"""
    t = Tables(spark, sf_dir)
    k, r = F.col("n_nationkey"), F.col("n_regionkey")
    return (
        t.nation.select(
            "n_nationkey",
            _arr_str(F.transform(F.array(k, r), lambda x: x * 10)).alias("times10"),
            # gt3 is provably non-empty (literal 7 > 3 is always kept), so
            # DuckDB's array_to_string([]) → NULL divergence cannot bite here.
            _arr_str(F.filter(F.array(k, r, F.lit(7)), lambda x: x > 3)).alias("gt3"),
            F.aggregate(
                F.array(k, r, F.lit(5)), F.lit(0), lambda acc, x: acc + x
            ).alias("total"),
            F.array_position(F.array(k, r, F.lit(7)), F.lit(7)).alias("pos7"),
            F.array_max(F.array(k, r)).alias("amax"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "fn_explode",
    oracle="""
    SELECT n_nationkey, u.word
    FROM nation, UNNEST(string_split(n_name, ' ')) AS u(word)
    ORDER BY n_nationkey, word
    """,
    tags=("function", "generator"),
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (UDTF) over split tokens — reference Explode
    generators.scala:242 / LATERAL VIEW."""
    t = Tables(spark, sf_dir)
    return (
        t.nation.select(
            "n_nationkey", F.explode(F.split("n_name", " ")).alias("word")
        )
        .orderBy("n_nationkey", "word")
    )


@register(
    "fn_posexplode",
    oracle="""
    SELECT n_nationkey,
           CAST(g.i - 1 AS INTEGER) AS pos,
           string_split(n_name, ' ')[CAST(g.i AS INTEGER)] AS word
    FROM nation,
         LATERAL (
           SELECT unnest(generate_series(1, len(string_split(n_name, ' ')))) AS i
         ) g
    ORDER BY n_nationkey, pos
    """,
    tags=("function", "generator"),
)
def fn_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — 0-based position (oracle shifts UNNEST's 1-based
    ordinality)."""
    t = Tables(spark, sf_dir)
    return (
        t.nation.select(
            "n_nationkey",
            F.posexplode(F.split("n_name", " ")).alias("pos", "word"),
        )
        .orderBy("n_nationkey", "pos")
    )


@register(
    "fn_struct_access",
    oracle="""
    SELECT n_nationkey,
           to_json(struct_pack(key := n_nationkey, name := n_name)) AS st,
           struct_pack(key := n_nationkey, name := n_name).name     AS st_name,
           n_regionkey                                              AS mapped
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("function", "struct", "map"),
)
def fn_struct_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """named_struct creation + field access, map creation + key lookup
    (reference complexTypeCreator.scala / complexTypeExtractors.scala)."""
    t = Tables(spark, sf_dir)
    st = F.struct(F.col("n_nationkey").alias("key"), F.col("n_name").alias("name"))
    return (
        t.nation.select(
            "n_nationkey",
            F.to_json(st).alias("st"),
            st.getField("name").alias("st_name"),
            F.element_at(
                F.create_map(F.col("n_name"), F.col("n_regionkey")), F.col("n_name")
            ).alias("mapped"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "fn_stack_inline",
    oracle="""
    SELECT r_regionkey, t.k, t.v
    FROM region,
         (VALUES (1, 'a'), (2, 'b')) AS t(k, v)
    ORDER BY r_regionkey, k
    """,
    tags=("function", "generator"),
)
def fn_stack_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack generator (reference generators.scala:112) — rows from
    literal columns, cross-product with the input."""
    t = Tables(spark, sf_dir)
    return (
        t.region.select("r_regionkey")
        .select(
            "r_regionkey", F.expr("stack(2, 1, 'a', 2, 'b')").alias("k", "v")
        )
        .select("r_regionkey", F.col("k").cast("int").alias("k"), "v")
        .orderBy("r_regionkey", "k")
    )


@register(
    "fn_unpivot",
    oracle="""
    SELECT o_orderkey, metric, val FROM (
      SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val
      FROM orders WHERE o_orderkey <= 200
      UNION ALL
      SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE)
      FROM orders WHERE o_orderkey <= 200
    )
    ORDER BY o_orderkey, metric
    """,
    tags=("collection", "unpivot"),
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.unpivot (melt) — wide→long reshape, the inverse of pivot
    (§2.4).  Runs as an Expand node: one input row fans out to one row
    per value column, no shuffle."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_orderkey") <= 200)
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "metric", "val")
        .orderBy("o_orderkey", "metric")
    )


@register(
    "fn_map_functions",
    oracle="""
    WITH src AS (
      SELECT p_brand,
             list_sort(list_distinct(list(p_size))) AS sizes,
             count(*) AS n
      FROM part WHERE p_size <= 10
      GROUP BY p_brand
    )
    SELECT p_brand,
           len(sizes)                                        AS n_keys,
           array_to_string(list_sort(list_transform(sizes, s -> s * 10)), '|') AS sizes_x10,
           -- COALESCE: DuckDB array_to_string([]) is NULL, Spark array_join is ''
           COALESCE(array_to_string(list_sort(list_filter(sizes, s -> s % 2 = 0)), '|'), '') AS even_sizes,
           -- CAST: DuckDB list_aggregate sum yields HUGEINT (float64 via pandas)
           CAST(list_aggregate(sizes, 'sum') AS BIGINT)      AS size_sum
    FROM src
    ORDER BY p_brand
    """,
    tags=("collection", "map", "higher-order"),
)
def fn_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns + map higher-order functions: build a
    size→size·10 map per brand with map_from_arrays/transform_values,
    prune it with map_filter, read it back with map_keys/map_values.
    The oracle computes identical outputs from plain lists (DuckDB's
    MAP surface differs; the *values* are what parity pins)."""
    t = Tables(spark, sf_dir)
    sizes = F.array_sort(F.array_distinct(F.collect_list("p_size")))
    base = (
        t.part.filter(F.col("p_size") <= 10)
        .groupBy("p_brand")
        .agg(sizes.alias("sizes"), F.count(F.lit(1)).alias("n"))
    )
    m = F.map_from_arrays("sizes", F.transform("sizes", lambda s: s * 10))
    return base.select(
        "p_brand",
        F.size(m).alias("n_keys"),
        _arr_str(F.array_sort(F.map_values(m))).alias("sizes_x10"),
        _arr_str(F.array_sort(
            F.map_keys(F.map_filter(m, lambda k, v: k % 2 == 0))
        )).alias("even_sizes"),
        F.aggregate("sizes", F.lit(0), lambda acc, s: acc + s)
        .cast("long").alias("size_sum"),
    ).orderBy("p_brand")


@register(
    "fn_array_modern",
    oracle="""
    WITH src AS (
      SELECT l_orderkey,
             list_sort(list(l_linenumber)) AS lines,
             list_sort(list(l_quantity))   AS qtys
      FROM lineitem
      WHERE l_orderkey <= 300
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           array_to_string(lines[1:3], '|')             AS first3,
           array_to_string(list_reverse(lines), '|')    AS rev,
           CAST(len(lines) AS INTEGER)                  AS n,
           list_contains(lines, 2)                      AS has2,
           CAST(list_position(lines, 2) AS INTEGER)     AS pos2,
           array_to_string(list_transform(list_zip(lines, qtys),
                          p -> round(CAST(p[1] AS DOUBLE) * p[2], 2)), '|') AS weighted
    FROM src
    ORDER BY l_orderkey
    """,
    tags=("collection", "array", "modern"),
)
def fn_array_modern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface beyond 2.1: slice, reverse, position, zip_with —
    all JVM-side on per-order collected line arrays.  Both engines
    return 0 (not NULL) from array_position/list_position when absent."""
    t = Tables(spark, sf_dir)
    base = (
        t.lineitem.filter(F.col("l_orderkey") <= 300)
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(F.collect_list("l_linenumber")).alias("lines"),
            F.array_sort(F.collect_list("l_quantity")).alias("qtys"),
        )
    )
    return base.select(
        "l_orderkey",
        # first3/rev are provably non-empty: `lines` is a groupBy
        # collect_list, and every group has >= 1 row by construction.
        _arr_str(F.slice("lines", 1, 3)).alias("first3"),
        _arr_str(F.reverse("lines")).alias("rev"),
        F.size("lines").alias("n"),
        F.array_contains("lines", 2).alias("has2"),
        F.array_position("lines", 2).cast("int").alias("pos2"),
        _arr_str(F.zip_with(
            "lines", "qtys", lambda a, b: F.round(a.cast("double") * b, 2)
        )).alias("weighted"),
    ).orderBy("l_orderkey")


@register(
    "fn_explode_map",
    oracle="""
    SELECT n_nationkey,
           e['key']   AS k,
           e['value'] AS v
    FROM (
        SELECT n_nationkey,
               map(['name', 'region'],
                   [n_name, 'R' || CAST(n_regionkey AS VARCHAR)]) AS m
        FROM nation
    ), LATERAL unnest(map_entries(m)) AS t(e)
    ORDER BY n_nationkey, k
    """,
    tags=("collection", "generator", "map"),
)
def fn_explode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode() over a MAP column (ref `generators.scala` Explode:160
    — the map branch emits key/value columns, not a single element
    column): each nation's attribute map flattens to (key, value)
    rows.  The EAV un-nesting every metadata pipeline needs; generator
    output stays whole-stage-codegen'd JVM."""
    t = Tables(spark, sf_dir)
    m = F.create_map(
        F.lit("name"), F.col("n_name"),
        F.lit("region"), F.concat(F.lit("R"), F.col("n_regionkey").cast("string")),
    )
    return (
        t.nation.select("n_nationkey", m.alias("m"))
        .select("n_nationkey", F.explode("m").alias("k", "v"))
        .orderBy("n_nationkey", "k")
    )
