"""Pre-ANSI (Spark 2.1) semantics parity — what ensure_parity_conf pins.

Reference behavior (SURVEY.md §2.2 Cast gotcha): 2.1 casts overflow
silently, bad casts return NULL, x/0 returns NULL — no ANSI errors.
Spark 4 defaults to ANSI mode, so these tests prove the parity conf
actually restores the reference semantics on ANY session.
"""

from __future__ import annotations

from splitserve_spark.session import ensure_parity_conf


def test_division_by_zero_is_null(spark):
    ensure_parity_conf(spark)
    rows = spark.sql(
        "SELECT 1/0 AS a, 1.0/0.0 AS b, CAST(1 AS DOUBLE)/0 AS c"
    ).collect()[0]
    assert rows["a"] is None and rows["b"] is None
    assert rows["c"] is None


def test_invalid_cast_is_null(spark):
    ensure_parity_conf(spark)
    rows = spark.sql(
        "SELECT CAST('abc' AS INT) AS a, CAST('12.9.9' AS DOUBLE) AS b, "
        "CAST('2024-99-99' AS DATE) AS c"
    ).collect()[0]
    assert rows["a"] is None and rows["b"] is None and rows["c"] is None


def test_integer_overflow_wraps(spark):
    ensure_parity_conf(spark)
    rows = spark.sql(
        "SELECT CAST(2147483647 AS INT) + CAST(1 AS INT) AS wrapped, "
        "CAST(9223372036854775807 AS BIGINT) + CAST(1 AS BIGINT) AS wrapped64"
    ).collect()[0]
    assert rows["wrapped"] == -2147483648
    assert rows["wrapped64"] == -9223372036854775808


def test_permissive_string_to_number_coercion(spark):
    ensure_parity_conf(spark)
    rows = spark.sql(
        "SELECT '42' + 1 AS s2n, CAST('  7 ' AS INT) AS trimmed"
    ).collect()[0]
    assert rows["s2n"] == 43.0
    assert rows["trimmed"] == 7


def test_parity_conf_survives_foreign_session_state(spark):
    """ensure_parity_conf must win even if the caller flipped ANSI on."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        ensure_parity_conf(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert spark.sql("SELECT 1/0 AS v").collect()[0]["v"] is None
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        ensure_parity_conf(spark)


class _StubConf:
    """A session conf whose ``set`` is ignored for ``stuck`` keys (a
    deployment that pins them) or raises for ``locked`` keys."""

    def __init__(self, stuck=(), locked=()):
        self.values = {"spark.sql.ansi.enabled": "true"}
        self.stuck, self.locked = set(stuck), set(locked)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        if key in self.locked:
            raise ValueError("static conf")
        if key not in self.stuck:
            self.values[key] = value


def test_parity_conf_that_does_not_read_back_raises():
    """A conf that silently stays unset (ANSI on) or refuses the set
    must fail loudly, naming the key — never run queries with pre-ANSI
    semantics assumed but not in force."""
    from types import SimpleNamespace

    import pytest

    from splitserve_spark.session import PARITY_CONF

    ok = SimpleNamespace(conf=_StubConf())
    assert ensure_parity_conf(ok) is ok
    assert ok.conf.values == PARITY_CONF
    for conf in (_StubConf(stuck={"spark.sql.ansi.enabled"}),
                 _StubConf(locked={"spark.sql.ansi.enabled"})):
        with pytest.raises(RuntimeError, match="spark.sql.ansi.enabled"):
            ensure_parity_conf(SimpleNamespace(conf=conf))


def test_aqe_on_off_equivalence(spark):
    """Property test: AQE must not change results, only plans."""
    from pyspark.sql import functions as F

    from splitserve_spark.tables import Tables
    from tests.oracle_utils import SF_DIR

    t = Tables(spark, SF_DIR)

    def run():
        return sorted(
            (r["o_orderstatus"], r["n"], round(r["total"], 2))
            for r in (
                t.orders.join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("total"))
                .collect()
            )
        )

    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        with_aqe = run()
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        without_aqe = run()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert with_aqe == without_aqe
