"""Math function surface (SURVEY.md §2.8, registry lines :184-235).

Reference impls: `catalyst/expressions/mathExpressions.scala` (39
classes — Acos:180 Asin:193 Atan:204 Cbrt:213 Ceil:224 Cos:257 Exp:319
Floor:339 Factorial:403 Log:442 Rint:495 Signum:506 Sqrt:533
ToDegrees:560 Atan2:760 Pow:780 Hypot:896 Round:1144) and arithmetic
ops `arithmetic.scala:149-415`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


@register(
    "fn_math_basic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25)              AS centered,
           -- CAST: Spark ceil/floor → BIGINT, DuckDB's → DOUBLE (q12 dtype class)
           CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
           CAST(floor(l_discount * 100) AS BIGINT)      AS disc_pct_floor,
           round(l_tax * 100, 1)             AS tax_pct,
           round(sqrt(l_quantity), 9)        AS root_qty,
           round(pow(l_discount, 2), 9)      AS disc_sq,
           round(exp(l_discount), 9)         AS e_disc,
           round(ln(l_extendedprice), 9)     AS ln_price,
           round(log10(l_extendedprice), 9)  AS log10_price,
           round(log2(l_quantity + 1), 9)    AS log2_qty,
           -- CAST: DuckDB sign() → TINYINT, Spark signum → DOUBLE
           CAST(sign(l_quantity - 25.0) AS DOUBLE) AS qty_sign,
           greatest(l_discount, l_tax)       AS max_rate,
           least(l_discount, l_tax)          AS min_rate
    FROM lineitem
    WHERE l_orderkey <= 200
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("function", "math"),
)
def fn_math_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.filter(F.col("l_orderkey") <= 200)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_quantity") - 25).alias("centered"),
            F.ceil(F.col("l_extendedprice") / 1000).alias("price_k_ceil"),
            F.floor(F.col("l_discount") * 100).alias("disc_pct_floor"),
            F.round(F.col("l_tax") * 100, 1).alias("tax_pct"),
            F.round(F.sqrt("l_quantity"), 9).alias("root_qty"),
            F.round(F.pow("l_discount", F.lit(2)), 9).alias("disc_sq"),
            F.round(F.exp("l_discount"), 9).alias("e_disc"),
            F.round(F.log("l_extendedprice"), 9).alias("ln_price"),
            F.round(F.log10("l_extendedprice"), 9).alias("log10_price"),
            F.round(F.log2(F.col("l_quantity") + 1), 9).alias("log2_qty"),
            F.signum(F.col("l_quantity") - 25.0).alias("qty_sign"),
            F.greatest("l_discount", "l_tax").alias("max_rate"),
            F.least("l_discount", "l_tax").alias("min_rate"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "fn_math_trig",
    oracle="""
    SELECT n_nationkey,
           round(sin(n_nationkey), 9)          AS s,
           round(cos(n_nationkey), 9)          AS c,
           round(tan(n_nationkey), 9)          AS t,
           round(asin(n_nationkey / 25.0), 9)  AS arc_s,
           round(acos(n_nationkey / 25.0), 9)  AS arc_c,
           round(atan(n_nationkey), 9)         AS arc_t,
           round(atan2(n_nationkey, 10), 9)    AS arc_t2,
           round((exp(n_nationkey / 10.0) - exp(-n_nationkey / 10.0)) / 2, 9) AS sh,
           round((exp(n_nationkey / 10.0) + exp(-n_nationkey / 10.0)) / 2, 9) AS ch,
           round((exp(n_nationkey / 5.0) - 1) / (exp(n_nationkey / 5.0) + 1), 9) AS th,
           round(degrees(n_nationkey / 10.0), 9) AS deg,
           round(radians(n_nationkey * 10), 9) AS rad,
           round(pi(), 9)                      AS pi_const,
           round(sqrt(n_nationkey * n_nationkey + 100.0), 9) AS hyp
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("function", "math", "trig"),
)
def fn_math_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trig/hyperbolic family; hypot expressed in the oracle as
    sqrt(x²+y²) (DuckDB has no hypot)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    k = F.col("n_nationkey")
    return (
        t.nation.select(
            "n_nationkey",
            # 9dp rounding both engines: libm last-ULP drift (e.g. acos at
            # k=22) is below the driver's quantization but fails strict.
            F.round(F.sin(k), 9).alias("s"),
            F.round(F.cos(k), 9).alias("c"),
            F.round(F.tan(k), 9).alias("t"),
            F.round(F.asin(k / 25.0), 9).alias("arc_s"),
            F.round(F.acos(k / 25.0), 9).alias("arc_c"),
            F.round(F.atan(k), 9).alias("arc_t"),
            F.round(F.atan2(k.cast("double"), F.lit(10.0)), 9).alias("arc_t2"),
            F.round(F.sinh(k / 10.0), 9).alias("sh"),
            F.round(F.cosh(k / 10.0), 9).alias("ch"),
            F.round(F.tanh(k / 10.0), 9).alias("th"),
            F.round(F.degrees(k / 10.0), 9).alias("deg"),
            F.round(F.radians(k * 10), 9).alias("rad"),
            F.round(F.expr("pi()"), 9).alias("pi_const"),
            F.round(F.hypot(k.cast("double"), F.lit(10.0)), 9).alias("hyp"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "fn_math_int",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey % 7                                   AS mod7,
           ((l_orderkey - 3) % 7 + 7) % 7                   AS pmod7,
           l_orderkey // 16                                 AS div16,
           CAST(factorial(l_linenumber) AS BIGINT)          AS fact,
           CAST(l_linenumber & 3 AS INTEGER)                AS band,
           CAST(l_linenumber | 8 AS INTEGER)                AS bor,
           CAST(xor(l_linenumber, 5) AS INTEGER)            AS bxor,
           CAST(l_linenumber << 2 AS INTEGER)               AS shl,
           CAST(l_orderkey >> 3 AS BIGINT)                  AS shr
    FROM lineitem
    WHERE l_orderkey <= 100
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("function", "math", "bitwise"),
)
def fn_math_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modulo / pmod / integer division / factorial / bitwise ops
    (reference arithmetic.scala + bitwiseExpressions.scala:36-130).
    pmod's always-positive result is spelled ((x%n)+n)%n in the oracle."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    ln = F.col("l_linenumber")
    return (
        t.lineitem.filter(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_orderkey") % 7).alias("mod7"),
            F.pmod(F.col("l_orderkey") - 3, F.lit(7)).alias("pmod7"),
            F.expr("l_orderkey div 16").alias("div16"),
            F.factorial(ln).alias("fact"),
            ln.bitwiseAND(F.lit(3)).alias("band"),
            ln.bitwiseOR(F.lit(8)).alias("bor"),
            ln.bitwiseXOR(F.lit(5)).alias("bxor"),
            F.shiftleft(ln, 2).alias("shl"),
            F.shiftright(F.col("l_orderkey"), 3).alias("shr"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "fn_math_rounding",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice)            AS r0,
           round(o_totalprice, 1)         AS r1,
           round(o_totalprice, -2)        AS rneg2,
           -- CAST: Spark ceil/floor return BIGINT, DuckDB's return DOUBLE —
           -- equal values, divergent driver hash (the q12 dtype class)
           CAST(ceil(o_totalprice) AS BIGINT)  AS c0,
           CAST(floor(o_totalprice) AS BIGINT) AS f0,
           CAST(trunc(o_totalprice) AS INTEGER) AS truncated
    FROM orders
    WHERE o_orderkey <= 300
    ORDER BY o_orderkey
    """,
    tags=("function", "math", "rounding"),
)
def fn_math_rounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HALF_UP rounding incl. negative scale (reference Round:1144).
    Both engines round halves away from zero for `round`.  Non-ANSI
    double→int cast truncates toward zero, matching DuckDB's
    CAST(TRUNC())-free semantics only via trunc — Spark's cast truncates,
    DuckDB CAST rounds, so the oracle uses CAST(trunc(...))."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_orderkey") <= 300)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 0).alias("r0"),
            F.round("o_totalprice", 1).alias("r1"),
            F.round("o_totalprice", -2).alias("rneg2"),
            F.ceil("o_totalprice").alias("c0"),
            F.floor("o_totalprice").alias("f0"),
            F.col("o_totalprice").cast("int").alias("truncated"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice + l_quantity                         AS t_add,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE l_extendedprice / l_discount END           AS t_div,
           TRY_CAST(l_returnflag AS INTEGER)                    AS t_cast_bad,
           TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER)   AS t_cast_ok,
           NULL                                                 AS t_overflow
    FROM lineitem
    WHERE l_orderkey <= 300
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("math", "try-functions"),
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_* family (modern safe arithmetic): NULL instead of error on
    overflow / bad cast / zero division — the ANSI-mode-compatible
    spelling of the engine's pre-ANSI semantics.  The oracle replicates
    with CASE/TRY_CAST; bigint overflow is pinned to NULL."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    big = F.lit(9223372036854775807).cast("long")
    return (
        t.lineitem.filter(F.col("l_orderkey") <= 300)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.try_add("l_extendedprice", "l_quantity").alias("t_add"),
            F.when(
                F.col("l_discount") == 0, F.lit(None).cast("double")
            ).otherwise(
                F.try_divide("l_extendedprice", "l_discount")
            ).alias("t_div"),
            F.try_to_number("l_returnflag", F.lit("999")).cast("int").alias("t_cast_bad"),
            F.col("l_linenumber").cast("string").cast("int").alias("t_cast_ok"),
            F.try_add(big, F.lit(1).cast("long")).alias("t_overflow"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


#: width_bucket histogram knobs shared with the oracle.
WB_LO, WB_HI, WB_N = 0.0, 500000.0, 10


@register(
    "fn_width_bucket",
    oracle=f"""
    WITH b AS (
      SELECT CASE
               WHEN o_totalprice < {WB_LO} THEN 0
               WHEN o_totalprice >= {WB_HI} THEN {WB_N} + 1
               ELSE CAST(floor((o_totalprice - {WB_LO})
                               / (({WB_HI} - {WB_LO}) / {WB_N})) AS BIGINT) + 1
             END AS bucket
      FROM orders
    )
    SELECT bucket, count(*) AS n_orders
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    tags=("function", "math"),
)
def fn_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket equi-width histogram assignment (reference
    `mathExpressions.scala` WidthBucket): order totals bucketed into
    WB_N equal intervals over [WB_LO, WB_HI), underflow → 0, overflow
    → N+1, then counted per bucket.  The oracle reimplements the
    bucket formula arithmetically (DuckDB has no width_bucket), so
    this checks Spark's edge semantics (inclusive lower, exclusive
    upper, the two sentinel buckets) — not just a count.

    Scale: scan-side projection + one small groupBy; the histogram is
    the map-side-combinable way to profile a distribution at 100 TB
    (contrast exact percentile windows)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.orders.select(
            F.width_bucket(
                "o_totalprice", F.lit(WB_LO), F.lit(WB_HI), F.lit(WB_N)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("bucket")
    )


@register(
    "fn_bit_ops",
    oracle="""
    SELECT o_orderkey,
           CAST(bit_count(o_orderkey) AS INTEGER)        AS popcount,
           o_orderkey << 2                               AS shl2,
           o_orderkey >> 1                               AS shr1,
           CAST((o_orderkey >> 3) & 1 AS TINYINT)        AS bit3,
           xor(o_orderkey, 255)                          AS xor_mask,
           o_orderkey & 15                               AS low_nibble,
           o_orderkey | 4096                             AS or_flag
    FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey
    """,
    tags=("function", "math", "bitwise"),
)
def fn_bit_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar bit manipulation (reference `mathExpressions.scala`
    ShiftLeft/ShiftRight, `bitwiseExpressions.scala` BitwiseAnd/Or/Xor,
    BitwiseCount, `bitExpressions.scala` GetBit): population count,
    shifts, single-bit probe, xor/and/or masking — the scalar toolkit
    under bitmap indexes and bloom-filter style membership probes
    (the aggregate side is agg_bitwise / agg_bitmap_distinct).

    Scale: pure codegen projection, no shuffle; fence bounds oracle
    output only."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    k = F.col("o_orderkey")
    return (
        t.orders.filter(k < 400)
        .select(
            "o_orderkey",
            F.bit_count(k).alias("popcount"),
            F.shiftleft(k, 2).alias("shl2"),
            F.shiftright(k, 1).alias("shr1"),
            F.getbit(k, F.lit(3)).alias("bit3"),
            k.bitwiseXOR(F.lit(255)).alias("xor_mask"),
            k.bitwiseAND(F.lit(15)).alias("low_nibble"),
            k.bitwiseOR(F.lit(4096)).alias("or_flag"),
        )
        .orderBy("o_orderkey")
    )
