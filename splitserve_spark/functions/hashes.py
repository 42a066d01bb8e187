"""Hash/digest functions (SURVEY.md §2.8, registry lines :363-376).

Reference: `catalyst/expressions/hash.scala` (Md5:51 Sha2:86 Sha1:158
Crc32:185 Murmur3Hash:521 XxHash64:552), `misc.scala`,
`MonotonicallyIncreasingID.scala`, `InputFileName.scala`.

md5/sha are standard digests → oracle-checkable.  murmur3/xxhash64 are
PUBLIC algorithms in Spark-published variants, so since round 7 they
are oracle-checked too: `functions/pure_hash.py` reimplements both from
the spec (plus zlib's crc32) and the oracle inlines the expected values
for the fixed 25-row nation table — a genuinely independent second
entry, replacing the former rows-only determinism check.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.functions.pure_hash import murmur3_x86_32, xxhash64
from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


@register(
    "fn_hash_digests",
    oracle="""
    SELECT n_nationkey,
           md5(n_name)                 AS name_md5,
           sha256(n_name)              AS name_sha256
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("function", "hash"),
)
def fn_hash_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 + sha2-256 hex digests (reference hash.scala Md5:51 Sha2:86)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.nation.select(
            "n_nationkey",
            F.md5(F.col("n_name").cast("binary")).alias("name_md5"),
            F.sha2(F.col("n_name").cast("binary"), 256).alias("name_sha256"),
        )
        .orderBy("n_nationkey")
    )


def _expected_hash_values() -> str:
    """VALUES rows (name, murmur3, xx64, crc) for the fixed 25-row
    nation table, computed at import by the pure-Python spec
    implementations — the oracle's independent second entry.  The
    oracle JOINs nation on n_name, so an unexpected name shows up as a
    row-count mismatch, never a silent pass."""
    rows = []
    for i in range(25):
        name = f"NATION_{i}"
        b = name.encode()
        rows.append(
            f"('{name}', {murmur3_x86_32(b)}, {xxhash64(b)}, {zlib.crc32(b)})"
        )
    return ",\n           ".join(rows)


@register(
    "fn_hash_partitioning",
    oracle=f"""
    WITH expected(n_name, murmur3, xx64, crc) AS (
      VALUES {_expected_hash_values()}
    )
    SELECT n_nationkey,
           CAST(murmur3 AS INTEGER) AS murmur3,
           CAST(xx64 AS BIGINT)     AS xx64,
           CAST(crc AS BIGINT)      AS crc
    FROM nation JOIN expected USING (n_name)
    ORDER BY n_nationkey
    """,
    tags=("function", "hash"),
)
def fn_hash_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """murmur3 hash / xxhash64 / crc32 — the hash family Spark uses for
    shuffle partitioning (reference Murmur3_x86_32.java:63
    hashUnsafeBytes, XXH64.java:88, hash.scala:521,552).  Exact oracle
    since r7: `pure_hash.py` reimplements both published algorithms in
    Python (canonical SMHasher/xxHash vectors pinned in tests) and the
    oracle carries the expected values for the fixed nation table —
    upgraded from the former rows-only determinism check."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.nation.select(
            "n_nationkey",
            F.hash("n_name").alias("murmur3"),
            F.xxhash64("n_name").alias("xx64"),
            F.crc32(F.col("n_name").cast("binary")).alias("crc"),
        )
        .orderBy("n_nationkey")
    )
