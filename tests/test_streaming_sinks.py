"""Socket source, foreach/console sinks, rate source (SURVEY.md §2.10
— the surfaces formerly waived as environment-limited; localhost TCP
turns out to work, so they run for real)."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from splitserve_spark.registry import load_all
from tests.oracle_utils import SF_DIR, check_query

load_all()


@pytest.mark.parametrize("name", ["source_socket_stream", "sink_foreach_rows", "source_rate_stream", "pipeline_stream_ingest"])
def test_oracle_match(spark, name):
    check_query(spark, name, SF_DIR)


def test_foreach_writer_protocol_and_exactly_once(spark, tmp_path):
    """open/process/close must fire per partition; re-running an epoch
    into partition+epoch-keyed files must not duplicate rows."""
    from splitserve_spark.streaming.sinks import JsonlForeachWriter

    w = JsonlForeachWriter(str(tmp_path / "fw"))
    assert w.open(0, 0) is True

    class Row:
        event_id, value = 7, 1.5

    w.process(Row())
    w.close(None)
    # Same partition+epoch re-opened (micro-batch retry) → same file
    # overwritten, not appended: still exactly one row.
    assert w.open(0, 0) is True
    w.process(Row())
    w.close(None)
    out = spark.read.schema("event_id long, value double").json(
        str(tmp_path / "fw")
    )
    assert out.count() == 1


def test_console_sink_runs_to_completion(spark, tmp_path):
    """Console sink (ConsoleSink): the debug sink must drive the full
    micro-batch loop to termination under availableNow."""
    src = tmp_path / "console_src"
    src.mkdir()
    (src / "a.json").write_text('{"k": "x"}\n{"k": "y"}\n{"k": "x"}\n')
    stream = spark.readStream.schema("k string").json(str(src))
    q = (
        stream.groupBy("k")
        .count()
        .writeStream.format("console")
        .outputMode("complete")
        .option("truncate", False)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None


def test_rate_source_produces_rows(spark):
    """Rate source (RateStreamSource): the built-in load-generator
    source must emit (timestamp, value) rows with dense values."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
    )
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == ["timestamp", "value"]
    name = "rate_probe"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table(name).count() >= 10:
                break
            time.sleep(0.3)
        rows = spark.table(name).orderBy("value").collect()
        assert len(rows) >= 10
        vals = [r["value"] for r in rows]
        assert vals[: len(vals)] == list(range(min(vals), min(vals) + len(vals)))
    finally:
        q.stop()


def test_socket_server_helper_is_reusable():
    """serve_lines hands out a fresh ephemeral port per call."""
    from splitserve_spark.streaming.sinks import SOCKET_LINES, serve_lines

    h1, p1 = serve_lines(SOCKET_LINES)
    h2, p2 = serve_lines(SOCKET_LINES)
    assert h1 == h2 == "127.0.0.1" and p1 != p2


def test_stream_ingest_manifest_gates_readback(spark):
    """The exactly-once property of the parquet file sink: readers
    resolve the shard directory THROUGH the _spark_metadata manifest,
    so a file that was never manifest-committed (a torn batch, a rogue
    writer) is invisible.  Drop an orphan parquet file into a shard
    partition after the drain and assert the readback total is
    unchanged, and matches the oracle's distinct-gated-fingerprint
    count."""
    import glob
    import os
    import shutil
    import tempfile

    from splitserve_spark.registry import REGISTRY
    from splitserve_spark.tables import sfdir_tag

    out = REGISTRY["pipeline_stream_ingest"].fn(spark, SF_DIR).toPandas()
    n_before = int(out["n_docs"].sum())
    # locate the shards dir the query just wrote (pid-scoped; same
    # derivation as pipeline_stream_ingest — gettempdir, not /tmp)
    base = os.path.join(
        tempfile.gettempdir(), "splitserve_spark_stream",
        f"ingest_{sfdir_tag(SF_DIR)}_p{os.getpid()}",
    )
    shards = os.path.join(base, "shards")
    assert os.path.isdir(os.path.join(shards, "_spark_metadata")), (
        "file sink did not write its manifest"
    )
    committed = glob.glob(os.path.join(shards, "source_bucket=*", "*.parquet"))
    assert committed, "no committed shard files found"
    # forge an orphan: copy a committed file under a new name
    orphan = os.path.join(os.path.dirname(committed[0]),
                          "part-99999-orphan.parquet")
    shutil.copyfile(committed[0], orphan)
    try:
        n_after = (
            spark.read.parquet(shards).count()
        )
        assert n_after == n_before, (
            f"orphan file leaked into readback: {n_before} -> {n_after}"
        )
    finally:
        os.remove(orphan)
