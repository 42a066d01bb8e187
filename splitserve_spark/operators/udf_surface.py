"""User-defined function surface: pandas UDFs, applyInPandas, mapInPandas.

Reference surface (SURVEY.md §2.9): PythonUDF / BatchEvalPythonExec
(`execution/python/BatchEvalPythonExec.scala:63`, worker loop
`python/pyspark/worker.py:112`), UDAF (`sql/core/.../expressions/
udaf.scala:32`), typed map/flatMap/mapGroups/cogroup operators
(`execution/objects.scala:174,198,312,421`).

Spark-first stance: the 2.1 reference serializes one row at a time
through pickled Python workers; this engine uses Arrow-vectorized
pandas UDFs for every Python boundary (10-100× fewer
serialization round-trips) and keeps one row-at-a-time UDF only as a
documented slow-path parity demo.  Each query here computes something
a built-in could also compute — intentionally, so the DuckDB oracle
can verify the UDF plumbing end-to-end (schema mapping, Arrow batch
transfer, grouped state).

Scale notes: pandas UDF batches are bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch` (default 10k rows), so
executor memory stays flat as input grows. applyInPandas groups must
individually fit in memory — groups here are per-customer/per-flag
(bounded); never key grouped UDFs on a column with unbounded groups.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_extendedprice * (1 - l_discount) >= 50000 THEN 'high'
                WHEN l_extendedprice * (1 - l_discount) >= 20000 THEN 'mid'
                ELSE 'low' END AS price_band,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity >= 49
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("udf", "pandas-udf"),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-batched, SCALAR eval type): vectorized
    banding over a computed column. One Arrow batch per ~10k rows
    instead of one pickle round-trip per row."""
    t = Tables(spark, sf_dir)

    @F.pandas_udf(StringType())
    def band(net: pd.Series) -> pd.Series:
        out = pd.Series("low", index=net.index)
        out[net >= 20000] = "mid"
        out[net >= 50000] = "high"
        return out

    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem
        .filter(F.col("l_quantity") >= 49)
        .select(
            "l_orderkey",
            "l_linenumber",
            band(net).alias("price_band"),
            net.alias("net_price"),  # unrounded: round() tie-breaking
            # differs across engines (HALF_UP vs HALF_EVEN) at .xx5
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "udf_pandas_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_discount * l_quantity) / sum(l_quantity), 9) AS wavg_discount
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("udf", "udaf", "pandas-udf"),
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the modern UDAF
    (reference: UserDefinedAggregateFunction, udaf.scala:32).
    Weighted average discount; whole group arrives as pandas Series."""
    t = Tables(spark, sf_dir)

    @F.pandas_udf(DoubleType())
    def wavg(disc: pd.Series, qty: pd.Series) -> float:
        return float((disc * qty).sum() / qty.sum())

    return (
        t.lineitem
        .groupBy("l_returnflag")
        .agg(F.round(wavg(F.col("l_discount"), F.col("l_quantity")), 9).alias("wavg_discount"))
        .orderBy("l_returnflag")
    )


@register(
    "udf_apply_in_pandas",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
             / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 9)
             AS acctbal_z
    FROM customer
    ORDER BY c_mktsegment, c_custkey
    """,
    tags=("udf", "grouped-map", "pandas-udf"),
)
def udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().applyInPandas (reference: MapGroupsExec,
    execution/objects.scala:312): per-segment z-score normalization —
    each group becomes one pandas DataFrame in a Python worker.
    Groups are market segments (5 of them, each bounded); a real
    pipeline keys on similarly bounded dimensions."""
    t = Tables(spark, sf_dir)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["c_acctbal"].mean()
        sd = pdf["c_acctbal"].std(ddof=1)
        pdf = pdf.copy()
        pdf["acctbal_z"] = (pdf["c_acctbal"] - mu) / sd
        return pdf[["c_mktsegment", "c_custkey", "c_acctbal", "acctbal_z"]]

    return (
        t.customer
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(
            zscore,
            schema="c_mktsegment string, c_custkey bigint, "
                   "c_acctbal double, acctbal_z double",
        )
        # 9dp both engines: pandas mean/std accumulate in a different
        # order than DuckDB's window aggregates -> last-ULP drift.
        .withColumn("acctbal_z", F.round("acctbal_z", 9))
        .orderBy("c_mktsegment", "c_custkey")
    )


@register(
    "udf_map_in_pandas",
    oracle="""
    SELECT o_orderkey,
           o_totalprice * 1.1 AS gross_price,
           upper(o_orderpriority) AS priority
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 300000
    ORDER BY o_orderkey
    """,
    tags=("udf", "map-partitions", "pandas-udf"),
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas (reference: MapPartitionsExec, objects.scala:174):
    iterator-of-batches transform — streams Arrow batches through
    Python without materializing a partition, so partition size never
    bounds memory."""
    t = Tables(spark, sf_dir)

    def transform(batches):
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "o_orderkey": pdf["o_orderkey"],
                    "gross_price": pdf["o_totalprice"] * 1.1,
                    "priority": pdf["o_orderpriority"].str.upper(),
                }
            )
            yield out

    return (
        t.orders
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 300000))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .mapInPandas(
            transform,
            schema="o_orderkey bigint, gross_price double, priority string",
        )
        .orderBy("o_orderkey")
    )


@register(
    "udf_cogroup_in_pandas",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS custkey, count(*) AS n_orders,
             sum(o_totalprice) AS total_spend
      FROM orders GROUP BY o_custkey),
    c AS (
      SELECT c_custkey AS custkey, c_acctbal FROM customer)
    SELECT c.custkey,
           coalesce(o.n_orders, 0) AS n_orders,
           round(coalesce(o.total_spend, 0.0), 4) AS total_spend,
           c.c_acctbal
    FROM c LEFT OUTER JOIN o ON c.custkey = o.custkey
    ORDER BY c.custkey
    """,
    tags=("udf", "cogroup", "pandas-udf"),
)
def udf_cogroup_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup().applyInPandas (reference: CoGroupExec,
    objects.scala:421): both sides shuffle on the key, then each
    key's two pandas frames meet in one Python call."""
    t = Tables(spark, sf_dir)

    _COLS = ["custkey", "n_orders", "total_spend", "c_acctbal"]

    def merge(cust: pd.DataFrame, ords: pd.DataFrame) -> pd.DataFrame:
        # This function runs ONCE PER KEY (the cogroup contract), so its
        # body is built the cheapest way pandas allows — from_records on
        # scalars measured ~40% less per-call ctor cost than the
        # dict-of-Series form (guide §4.2: per-call overhead dominates
        # when the per-group payload is tiny).  The remaining per-key
        # cost is the cogroup arrow-framing itself, inherent to the
        # applyInPandas surface this operator exists to exercise.
        if cust.empty:
            return pd.DataFrame(columns=_COLS)
        return pd.DataFrame.from_records(
            [(
                cust["c_custkey"].iat[0],
                len(ords),
                float(ords["o_totalprice"].sum()) if len(ords) else 0.0,
                cust["c_acctbal"].iat[0],
            )],
            columns=_COLS,
        )

    grouped_c = t.customer.select("c_custkey", "c_acctbal").groupBy("c_custkey")
    grouped_o = t.orders.select("o_custkey", "o_totalprice").groupBy("o_custkey")
    return (
        grouped_c.cogroup(grouped_o)
        .applyInPandas(
            merge,
            schema="custkey bigint, n_orders bigint, "
                   "total_spend double, c_acctbal double",
        )
        # 4dp both engines: pandas .sum() order != DuckDB sum order.
        .withColumn("total_spend", F.round("total_spend", 4))
        .orderBy("custkey")
    )


@register(
    "udf_python_row",
    oracle="""
    SELECT n_nationkey, n_name,
           concat(n_name, '#', CAST(n_regionkey AS VARCHAR)) AS tagged
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("udf", "slow-path"),
)
def udf_python_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — the reference's only Python UDF form
    (BatchEvalPythonExec). Kept as a parity demo on a 25-row dimension;
    NEVER use this on a fact table (each row round-trips through a
    pickled Python worker)."""
    t = Tables(spark, sf_dir)

    @F.udf(StringType(), useArrow=False)
    def tag(name, regionkey):
        return f"{name}#{regionkey}"

    return (
        t.nation
        .select("n_nationkey", "n_name", tag("n_name", "n_regionkey").alias("tagged"))
        .orderBy("n_nationkey")
    )


#: Words per chunk for the UDTF demo.
UDTF_CHUNK = 10


@register(
    "udtf_chunk_text",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), ' +') AS ws
      FROM documents WHERE doc_id < 100
    ), c AS (
      SELECT doc_id, ws,
             unnest(range(0, CAST(ceil(len(ws) / {UDTF_CHUNK}.0) AS INTEGER)))
               AS chunk_idx
      FROM w
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           array_to_string(
             ws[chunk_idx * {UDTF_CHUNK} + 1 : (chunk_idx + 1) * {UDTF_CHUNK}],
             ' ') AS chunk,
           CAST(len(ws[chunk_idx * {UDTF_CHUNK} + 1 : (chunk_idx + 1) * {UDTF_CHUNK}])
                AS INTEGER) AS n_words
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
    tags=("udf", "udtf", "generator"),
)
def udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (user-defined TABLE function) — the modern mapping of
    the reference's `UserDefinedGenerator` (generators.scala:68, SURVEY
    §2.9): one input row expands to N output rows through a Python
    generator, invoked via LATERAL join.  Splits each document into
    fixed {UDTF_CHUNK}-word chunks (a simple tokenizer-sharding step).

    Arrow-optimized (useArrow=True) so batches cross the Python
    boundary columnar; still a Python-worker path — at corpus scale
    prefer the pure-column equivalent (slice/transform on the split
    array) unless the expansion logic genuinely needs Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk string, n_words int", useArrow=True)
    class ChunkText:
        def eval(self, text: str):
            # Same semantics as the oracle's string_split_regex(trim(text),
            # ' +'): NULL → no rows; trim SPACES only (SQL trim ≠ Python
            # strip-all-whitespace); split on single-space runs; empty
            # text → one [''] chunk.
            if text is None:
                return
            words = re.split(" +", text.strip(" "))
            for i in range(0, len(words), UDTF_CHUNK):
                chunk = words[i : i + UDTF_CHUNK]
                yield i // UDTF_CHUNK, " ".join(chunk), len(chunk)

    spark.udtf.register("chunk_text", ChunkText)
    t = Tables(spark, sf_dir)
    t.documents.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM _udtf_docs d, LATERAL chunk_text(d.text) c
        WHERE d.doc_id < 100
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           CAST(l_quantity >= 25 AS BOOLEAN) AS bulk
    FROM lineitem
    WHERE l_orderkey % 101 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("udf", "map-partitions", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy sibling of mapInPandas — the UDF
    receives pyarrow.RecordBatch objects directly, skipping the
    Arrow→pandas conversion entirely (ref Python evaluation operators,
    `execution/python/MapInPandasExec.scala:33`; the Arrow variant is
    its 3.3+ twin).  The right tier for batch transforms that are pure
    columnar arithmetic: pyarrow.compute kernels run vectorized over
    the batch with no pandas boxing, which is also why this is the
    fastest Python hook for the multimodal decode path.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    t = Tables(spark, sf_dir)

    def net_price(batches):
        for batch in batches:
            # No rounding anywhere: the raw IEEE product of two doubles
            # is bit-identical across engines, while round-at-2dp is
            # ULP-fragile (pyarrow rounds half-to-even, SQL round
            # half-away-from-zero).
            net = pc.multiply(
                batch.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), batch.column("l_discount")),
            )
            bulk = pc.greater_equal(batch.column("l_quantity"), pa.scalar(25.0))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("l_orderkey"),
                    batch.column("l_linenumber"),
                    net,
                    bulk,
                ],
                names=["l_orderkey", "l_linenumber", "net_price", "bulk"],
            )

    src = t.lineitem.filter(F.col("l_orderkey") % 101 == 0).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
        "l_quantity",
    )
    return (
        src.mapInArrow(
            net_price,
            schema="l_orderkey bigint, l_linenumber int, net_price double, "
                   "bulk boolean",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "udtf_polymorphic_schema",
    oracle="""
    SELECT p_partkey,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice,
           CAST(p_size AS DOUBLE) AS p_size,
           CAST(p_retailprice AS DOUBLE) + CAST(p_size AS DOUBLE)
             AS row_total
    FROM part
    WHERE p_partkey < 200
    ORDER BY p_partkey
    """,
    tags=("udf", "udtf", "polymorphic", "analyze"),
)
def udtf_polymorphic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 3.5 `analyze()` static method):
    the output schema is computed AT PLAN TIME from the argument's
    type — here the UDTF widens whatever struct it is handed with a
    row_total column, so its schema is `fields(arg) + row_total`,
    different for every call site.  This is the half of the UDTF API
    `udtf_chunk_text` (static returnType) doesn't exercise, and the
    Python mapping of a type-parameterized generator.  The total is a
    single IEEE double add, bit-identical in both engines; invoked
    via LATERAL join against part."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import DoubleType, StructType

    class WidenStruct:
        @staticmethod
        def analyze(arg) -> "AnalyzeResult":  # noqa: F821 — pyspark type
            from pyspark.sql.udtf import AnalyzeResult

            # arg.dataType is the struct handed in at THIS call site:
            # emit its fields (as doubles) plus the computed total.
            out = StructType()
            for f in arg.dataType.fields:
                out.add(f.name, DoubleType())
            out.add("row_total", DoubleType())
            return AnalyzeResult(schema=out)

        def eval(self, row):
            vals = [float(v) for v in row]
            yield (*vals, sum(vals))

    spark.udtf.register("widen_struct", udtf(WidenStruct))
    t = Tables(spark, sf_dir)
    t.part.createOrReplaceTempView("udtf_poly_part")
    return spark.sql(
        """
        SELECT p.p_partkey, w.*
        FROM udtf_poly_part p,
             LATERAL widen_struct(
               struct(p.p_retailprice, CAST(p.p_size AS DOUBLE) AS p_size)
             ) w
        WHERE p.p_partkey < 200
        ORDER BY p.p_partkey
        """
    )
