from __future__ import annotations

import pytest

from splitserve_spark.registry import load_all
from tests.oracle_utils import SF_DIR, check_query

load_all()

NAMES = [
    "source_csv_roundtrip",
    "source_json_roundtrip",
    "source_partitioned_parquet",
    "source_text_lines",
    "source_jdbc_roundtrip",
    "source_python_datasource",
    "source_python_stream",
    "source_schema_evolution",
]


@pytest.mark.parametrize("name", NAMES)
def test_oracle_match(spark, name):
    check_query(spark, name, SF_DIR)


def test_jdbc_partitioned_scan_parallelism(spark):
    """The JDBC read must honor the columnPartition contract: the
    requested numPartitions materialize as actual scan partitions
    (reference JDBCRelation.scala:103), and every row arrives exactly
    once across the stride partitions (edge partitions unbounded)."""
    from splitserve_spark.registry import REGISTRY

    # Runs the roundtrip to (re)create the Derby table for the reads below.
    REGISTRY["source_jdbc_roundtrip"].fn(spark, SF_DIR).count()

    from splitserve_spark.sources.io import jdbc_roundtrip_url

    url = jdbc_roundtrip_url(SF_DIR)
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    back = spark.read.jdbc(
        url, "nation_rt", column="n_nationkey",
        lowerBound=5, upperBound=20, numPartitions=4, properties=props,
    )
    assert back.rdd.getNumPartitions() == 4
    # Bounds partition, they do NOT filter: all 25 rows survive.
    assert back.count() == 25


def test_python_datasource_partition_planning(spark):
    """The custom Python DataSource must materialize its declared shard
    count as actual scan partitions (the parallelism contract an ingest
    wrapper relies on), with every doc in its home shard."""
    from splitserve_spark.sources.python_ds import (
        PDS_SHARDS,
        CrawlShardDataSource,
    )

    try:
        spark.dataSource.register(CrawlShardDataSource)
    except Exception:
        pass
    df = spark.read.format("crawl_shards").load()
    assert df.rdd.getNumPartitions() == PDS_SHARDS
    rows = df.collect()
    assert len(rows) == len({r["doc_id"] for r in rows})  # exactly once
    assert all(r["doc_id"] % PDS_SHARDS == r["shard"] for r in rows)


def test_json_corrupt_record_column(spark, tmp_path):
    """PERMISSIVE mode routes malformed JSON lines into the
    corrupt-record column instead of failing the scan (reference
    JsonFileFormat corrupt-record handling, SURVEY.md §2.1)."""
    p = tmp_path / "mixed.json"
    p.write_text(
        '{"a": 1, "b": "ok"}\n'
        "{not json at all}\n"
        '{"a": 2, "b": "fine"}\n'
    )
    df = spark.read.schema("a long, b string, _corrupt_record string").json(str(p))
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["a"] for r in good} == {1, 2}
    assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]
    # FAILFAST mode must raise instead.
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.schema("a long, b string").option("mode", "FAILFAST").json(
            str(p)
        ).collect()


def test_csv_malformed_and_null_options(spark, tmp_path):
    """CSV option surface: custom delimiter, quotes, nullValue, header."""
    p = tmp_path / "opts.csv"
    p.write_text('k|v\n1|"x|y"\n2|NULLTOKEN\n')
    df = (
        spark.read.option("header", True)
        .option("delimiter", "|")
        .option("quote", '"')
        .option("nullValue", "NULLTOKEN")
        .option("inferSchema", True)
        .csv(str(p))
    )
    rows = {r["k"]: r["v"] for r in df.collect()}
    assert rows == {1: "x|y", 2: None}


def test_dynamic_partition_overwrite(spark, tmp_path):
    """partitionOverwriteMode=dynamic must replace only the partitions
    present in the written frame (reference InsertIntoHadoopFsRelation
    overwrite semantics)."""
    path = str(tmp_path / "dyn")
    base = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 10)], "part string, v int"
    )
    base.write.partitionBy("part").mode("overwrite").parquet(path)
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        spark.createDataFrame([("B", 99)], "part string, v int").write.partitionBy(
            "part"
        ).mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    got = sorted((r["part"], r["v"]) for r in spark.read.parquet(path).collect())
    # partition A untouched, partition B replaced
    assert got == [("A", 1), ("A", 2), ("B", 99)], got
