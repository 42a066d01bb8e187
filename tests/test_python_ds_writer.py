"""Two-phase-commit contract tests for the Python DataSource batch
writer (`sources/python_ds.py` ShardSinkDataSource).

The visibility rule under test is the file-commit-protocol one: data
becomes visible ONLY through commit (staged shards moved + manifest
written); a failed job aborts and the publish directory never changes.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from splitserve_spark.registry import load_all
from splitserve_spark.sources.python_ds import register_shard_sink
from splitserve_spark.tables import raw_schema
from tests.oracle_utils import SF_DIR, check_query

load_all()


def test_oracle_match(spark):
    check_query(spark, "sink_python_datasource", SF_DIR)


def test_commit_publishes_manifest_gated_shards(spark, tmp_path):
    register_shard_sink(spark)
    out = str(tmp_path / "pub")
    os.makedirs(out)
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("bucket")
    ).repartition(4)
    (
        df.write.format("shard_sink").mode("append")
        .option("path", out).save()
    )
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["total_rows"] == 1000
    assert len(manifest["shards"]) == 4
    files = sorted(
        f for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert files == sorted(s["file"] for s in manifest["shards"])
    assert not os.path.exists(os.path.join(out, "_staging"))
    back = spark.read.parquet(
        *[os.path.join(out, f) for f in files]
    )
    assert back.count() == 1000
    assert back.agg(F.sum("id")).head()[0] == 999 * 1000 // 2


def test_abort_publishes_nothing(spark, tmp_path):
    """A task failure mid-write must leave the publish dir untouched:
    no manifest, no visible shards — failed-attempt files stay in (or
    are swept from) staging, never published."""
    register_shard_sink(spark)
    out = str(tmp_path / "pub")
    os.makedirs(out)

    @F.udf("long")
    def poison(v):
        if v == 666:
            raise ValueError("poisoned row")
        return v

    df = spark.range(0, 1000).select(
        poison(F.col("id")).alias("id")
    ).repartition(4)
    with pytest.raises(Exception):
        (
            df.write.format("shard_sink").mode("append")
            .option("path", out).save()
        )
    published = [
        f for f in os.listdir(out)
        if f.endswith(".parquet") or f == "_MANIFEST.json"
    ]
    assert published == [], published


# ---- streaming writer (per-batch two-phase commit) -------------------

import time

from splitserve_spark.sources.python_ds import (
    read_manifested_shards,
    register_shard_stream_sink,
)


def test_stream_oracle_match(spark):
    check_query(spark, "sink_python_stream", SF_DIR)


def test_stream_sink_exactly_once_across_restart(spark, tmp_path):
    """Stop the streaming query mid-log, restart from the same
    checkpoint: the manifest-gated read path must see every input row
    exactly once — a replayed batch rewrites its own manifest instead
    of duplicating rows."""
    from splitserve_spark.streaming.custom_state import (
        _ordered_event_splits,
    )

    register_shard_stream_sink(spark)
    sf_dir = SF_DIR
    src_dir = _ordered_event_splits(spark, sf_dir)
    out = str(tmp_path / "pub")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)
    events_schema = raw_schema(spark, sf_dir, "events")
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    def start(trigger_kwargs):
        stream = (
            spark.readStream.schema(events_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src_dir}/b*.parquet")
            .select("event_id", "event_type")
        )
        return (
            stream.writeStream.format("shard_stream_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    def manifests():
        return [
            f for f in os.listdir(out)
            if f.startswith("_MANIFEST-") and f.endswith(".json")
        ]

    # A wide trigger interval guarantees a window to interrupt in:
    # batch 0 commits fast, then the engine idles ~5 s before batch 1,
    # so the stop lands mid-log deterministically (a fast trigger
    # could drain all 4 batches before the poll saw the first).
    q = start({"processingTime": "5 seconds"})
    try:
        deadline = time.time() + 90
        while time.time() < deadline and len(manifests()) < 1:
            time.sleep(0.05)
    finally:
        q.stop()
    n_mid = len(manifests())
    assert 1 <= n_mid < 4, f"stopped with {n_mid}/4 batch manifests"

    q2 = start({"availableNow": True})
    q2.awaitTermination()
    assert len(manifests()) == 4

    back = read_manifested_shards(spark, out)
    assert back.count() == total, "lost or duplicated rows across restart"
    assert back.select("event_id").distinct().count() == total


def test_empty_manifest_readback_fails_loudly(spark, tmp_path):
    """r9 ADVICE: zero committed batches must surface as an explicit
    diagnosis, not spark.read.parquet()'s opaque schema-inference error."""
    import pytest

    from splitserve_spark.sources.python_ds import read_manifested_shards

    empty = tmp_path / "no_batches"
    empty.mkdir()
    with pytest.raises(RuntimeError, match="no manifest-committed shards"):
        read_manifested_shards(spark, str(empty))
