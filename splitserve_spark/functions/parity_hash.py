"""Cross-engine deterministic hashing for dedup/fingerprint operators.

Spark's native hash functions (murmur3 `hash.scala:521`, xxhash64
`:552`) are engine-internal, so operators that need an external oracle
use an md5-derived 60-bit integer hash that Spark and DuckDB compute
identically:

  Spark : CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)
  DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

60 bits (15 hex digits) keeps every value inside signed-64 range, and
`a * (h % P) + b` stays under 2^62 for 31-bit `a`, so downstream
permutation hashing never overflows on either engine (DuckDB errors on
BIGINT overflow; pre-ANSI Spark wraps — both avoided).

md5 here is a deterministic fingerprint, not a security boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 - 1: modulus for permutation hashing.
HASH_P = 2_147_483_647

#: (a, b) pairs for the MinHash permutation family h_i(x) = (a·x + b) mod P.
#: Fixed constants → reproducible signatures across runs and engines.
MINHASH_PERMS = (
    (1_203_114_875, 552_769_676),
    (784_903_498, 1_947_336_035),
    (991_326_241, 1_272_153_217),
    (161_247_905, 663_269_245),
    (1_852_904_491, 712_261_372),
    (1_140_735_781, 1_486_702_370),
    (2_021_694_101, 129_195_289),
    (605_513_323, 1_069_663_851),
)


def md5_hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash of a string column (JVM-side)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def md5_hash60_sql(expr: str) -> str:
    """DuckDB SQL computing the same 60-bit hash for oracle queries."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def md5_hash60_spark_sql(expr: str) -> str:
    """Spark-SQL string for md5_hash60 — parses to the IDENTICAL
    Catalyst expression as the Column form (verified by plan diff).
    String construction exists because every F.* call costs py4j round
    trips: built Column-by-Column, md5_hash60 costs 37 and the eight
    perm_hash calls of a signature 120 on this engine's sessions
    (call-site capture off, session.TUNING_CONF), and 50 and 360 on a
    stock PySpark 4.1 session, where each call also captures its call
    site; one F.expr parses JVM-side in 3 either way (optimization
    guide §7.3 — driver/planning overhead)."""
    return f"CAST(conv(substring(md5(CAST(({expr}) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"


def perm_hash(h: Column, a: int, b: int) -> Column:
    """Permutation hash (a·(h mod P) + b) mod P, overflow-safe."""
    return F.pmod(F.lit(a) * (h % HASH_P) + F.lit(b), F.lit(HASH_P))


def perm_hash_spark_sql(expr: str, a: int, b: int) -> str:
    """Spark-SQL string for perm_hash (same single-parse rationale as
    md5_hash60_spark_sql; pmod is native on the Spark side).

    NB: ``expr`` is textually embedded in the returned string, so a
    call site that emits one perm_hash per permutation (the MinHash
    signature aggregate emits 8) duplicates the inner hash expression
    that many times and relies on codegen common-subexpression
    elimination to evaluate it once.  That holds for the signature
    aggregate (measured: factoring the hash into a pre-projection did
    not change runtime), but reusing this helper where CSE does not
    apply would pay O(perms) hash evaluations."""
    return f"pmod({a} * (({expr}) % {HASH_P}) + {b}, {HASH_P})"


def perm_hash_sql(expr: str, a: int, b: int) -> str:
    """DuckDB SQL for perm_hash (pmod spelled out: DuckDB % keeps sign)."""
    return f"((({a} * (({expr}) % {HASH_P}) + {b}) % {HASH_P} + {HASH_P}) % {HASH_P})"
