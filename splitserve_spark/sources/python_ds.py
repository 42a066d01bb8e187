"""Custom Python DataSource (pyspark.sql.datasource) — §2.1 extension.

The reference's extension point for a new source is a Scala DataSource
V1/V2 implementation (`sql/core/.../execution/datasources/DataSource.
scala:89`, provider resolution); modern PySpark exposes the same
contract natively in Python (`pyspark.sql.datasource.DataSource` /
`DataSourceReader`, Spark 4): schema + partition planning on the
driver, per-partition iterators on the executors, Arrow-batched back
into the JVM.  This is how an ingest pipeline wraps a bespoke upstream
(internal API, proprietary format, crawl frontier) WITHOUT leaving
Python or giving up partition parallelism.

`CrawlShardDataSource` models a crawl-frontier shard listing: a
deterministic document manifest partitioned into shards, every field
derivable from doc_id alone — which is exactly what makes it
oracle-able: DuckDB replays the formulas over range(n).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from splitserve_spark.registry import register
from splitserve_spark.streaming.drain import drain, drain_until
from splitserve_spark.tables import raw_schema, sfdir_tag

PDS_DOCS = 500
PDS_SHARDS = 8


class CrawlShardReader(DataSourceReader):
    """Executor-side reader: one InputPartition per shard; rows are
    generated (never collected on the driver), so a 10⁹-doc manifest
    scales by adding shards, identical to a file-source split plan."""

    def __init__(self, options) -> None:
        self.n_docs = int(options.get("n_docs", PDS_DOCS))
        self.n_shards = int(options.get("n_shards", PDS_SHARDS))

    def partitions(self):
        return [InputPartition(s) for s in range(self.n_shards)]

    def read(self, partition):
        shard = partition.value
        for doc_id in range(shard, self.n_docs, self.n_shards):
            url = f"https://site{doc_id % 7}.example/page/{doc_id}"
            yield (
                doc_id,
                shard,
                url,
                100 + (doc_id * 13) % 400,
            )


class CrawlShardDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "crawl_shards"

    def schema(self) -> str:
        return "doc_id bigint, shard int, url string, length int"

    def reader(self, schema) -> CrawlShardReader:
        return CrawlShardReader(self.options)


@register(
    "source_python_datasource",
    oracle=f"""
    WITH m AS (
      SELECT r.range AS doc_id,
             CAST(r.range % {PDS_SHARDS} AS INTEGER) AS shard,
             'https://site' || (r.range % 7) || '.example/page/' || r.range
               AS url,
             CAST(100 + (r.range * 13) % 400 AS INTEGER) AS length
      FROM range(0, {PDS_DOCS}) r
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length) AS BIGINT) AS total_bytes,
           md5(string_agg(url, ',' ORDER BY doc_id)) AS manifest_hash
    FROM m
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("source", "python-datasource"),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the custom Python DataSource and roll the manifest
    up per shard (count, bytes, order-stable url digest) — proving the
    partition planning, per-partition iteration, and Arrow hand-off all
    preserve every row exactly once."""
    try:
        spark.dataSource.register(CrawlShardDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("crawl_shards")
        .option("n_docs", PDS_DOCS)
        .option("n_shards", PDS_SHARDS)
        .load()
    )
    return (
        df.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("length").cast("bigint").alias("total_bytes"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "url"))),
                        lambda s: s["url"],
                    ),
                    ",",
                ).cast("binary")
            ).alias("manifest_hash"),
        )
        .orderBy("shard")
    )


#: Rows per micro-batch and the deterministic read cutoff for the
#: streaming Python source.
PDS_STREAM_BATCH = 64
PDS_STREAM_N = 256


class FrontierTailReader(SimpleDataSourceStreamReader):
    """Streaming half of the Python DataSource contract
    (SimpleDataSourceStreamReader): offset bookkeeping lives in plain
    dicts the engine checkpoints; `read(start)` advances the frontier
    one micro-batch, and `readBetweenOffsets` replays any committed
    range exactly — which is what makes the source recoverable."""

    def initialOffset(self):
        return {"pos": 0}

    def read(self, start):
        pos = start["pos"]
        end = pos + PDS_STREAM_BATCH
        return (iter([(i, i % 7) for i in range(pos, end)]), {"pos": end})

    def readBetweenOffsets(self, start, end):
        return iter([(i, i % 7) for i in range(start["pos"], end["pos"])])


class FrontierTailSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "crawl_frontier_tail"

    def schema(self) -> str:
        return "seq bigint, site int"

    def simpleStreamReader(self, schema) -> FrontierTailReader:
        return FrontierTailReader()


@register(
    "source_python_stream",
    oracle=f"""
    SELECT CAST(r.range % 7 AS INTEGER) AS site,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(r.range) AS BIGINT) AS seq_sum
    FROM range(0, {PDS_STREAM_N}) r
    GROUP BY site
    ORDER BY site
    """,
    tags=("source", "python-datasource", "streaming"),
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read through the custom Python DataSource: run the
    micro-batch loop until at least {PDS_STREAM_N} frontier rows have
    landed in the sink, then aggregate the deterministic seq < N prefix
    — overshoot from the final batch is filtered out, so the result is
    exact regardless of trigger timing."""
    try:
        spark.dataSource.register(FrontierTailSource)
    except Exception:
        pass
    name = "pys_" + sfdir_tag(sf_dir)
    stream = spark.readStream.format("crawl_frontier_tail").load()
    drain_until(
        spark,
        stream.writeStream.format("memory")
        .queryName(name).outputMode("append"),
        lambda: spark.table(name).count() >= PDS_STREAM_N,
    )
    return (
        spark.table(name)
        .filter(F.col("seq") < PDS_STREAM_N)
        .groupBy("site")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("seq").cast("bigint").alias("seq_sum"),
        )
        .orderBy("site")
    )


# ---------------------------------------------------------------------
# Batch WRITER half of the Python DataSource surface (§2.1 sinks).
# The reference's sink extension point is Scala DataSource V1/V2
# (`sql/core/.../execution/datasources/DataSource.scala:89` provider
# resolution + WriteSupport); modern PySpark exposes the same
# two-phase commit contract natively in Python:
# executor-side write(RecordBatch iterator) -> WriterCommitMessage,
# driver-side commit(messages) / abort(messages).  Visibility is
# manifest-gated: tasks write parquet shards into a _staging dir,
# COMMIT moves exactly the files named in the commit messages into the
# publish dir and writes _MANIFEST.json; a failed job aborts and the
# publish dir never changes — files from failed or speculative task
# attempts are swept with the staging dir, never published.  That is
# the same atomic-visibility discipline as Spark's file commit
# protocol (HadoopMapReduceCommitProtocol), expressed in ~60 lines of
# Python.  (Local mode shares one filesystem; on a cluster the path
# must be shared storage, same as any file sink.)

import shutil as _shutil
import uuid as _uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    DataSourceStreamWriter,
    WriterCommitMessage,
)


@dataclass
class ShardCommit(WriterCommitMessage):
    filename: str
    n_rows: int


class ShardSinkWriter(DataSourceArrowWriter):
    """Arrow-batched writer: one parquet shard per non-empty task."""

    def __init__(self, options) -> None:
        self.path = options["path"]

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        batches = list(iterator)
        if not batches:
            return ShardCommit("", 0)
        tbl = pa.Table.from_batches(batches)
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        fname = (
            f"shard-{TaskContext.get().partitionId()}"
            f"-{_uuid.uuid4().hex[:8]}.parquet"
        )
        pq.write_table(tbl, os.path.join(staging, fname))
        return ShardCommit(fname, tbl.num_rows)

    def commit(self, messages) -> None:
        staging = os.path.join(self.path, "_staging")
        shards = []
        for m in messages:
            if m is None or not m.filename:
                continue
            os.replace(
                os.path.join(staging, m.filename),
                os.path.join(self.path, m.filename),
            )
            shards.append({"file": m.filename, "n_rows": m.n_rows})
        # Staging may still hold files from failed/speculative task
        # attempts (they returned no commit message): swept, never
        # published.
        _shutil.rmtree(staging, ignore_errors=True)
        manifest = {
            "shards": sorted(shards, key=lambda s: s["file"]),
            "total_rows": sum(s["n_rows"] for s in shards),
        }
        tmp = os.path.join(self.path, "_MANIFEST.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self.path, "_MANIFEST.json"))

    def abort(self, messages) -> None:
        _shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )


class ShardSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "shard_sink"

    def writer(self, schema, overwrite) -> ShardSinkWriter:
        return ShardSinkWriter(self.options)


def register_shard_sink(spark: SparkSession) -> None:
    try:
        spark.dataSource.register(ShardSinkDataSource)
    except Exception:
        pass  # already registered in this session


@register(
    "sink_python_datasource",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value * 100 AS BIGINT)) AS BIGINT) AS cents,
           count(DISTINCT event_id) AS n_ids
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sink", "python-datasource"),
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events through the custom Python sink (4 repartitioned
    tasks → 4 staged parquet shards → manifest-gated publish), then
    read back ONLY the manifest-listed shards and aggregate per
    event_type.  The oracle aggregates the source table directly, so
    any row lost, duplicated, or published outside the two-phase
    commit breaks count / exact-cents sum / distinct-id count; the
    abort path (nothing published on task failure) is pinned in
    tests/test_python_ds_writer.py."""
    import tempfile

    register_shard_sink(spark)
    out = tempfile.mkdtemp(prefix="shard_sink_")
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_id",
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .repartition(4)
        .write.format("shard_sink")
        .mode("append")
        .option("path", out)
        .save()
    )
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(out, s["file"]) for s in manifest["shards"]]
    if not files:
        raise RuntimeError(
            f"shard_sink manifest at {out} lists zero committed shards — "
            "the write finished without publishing data (r9 ADVICE: fail "
            "loudly instead of spark.read.parquet()'s opaque "
            "'unable to infer schema')")
    back = spark.read.parquet(*files)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents"),
            F.countDistinct("event_id").alias("n_ids"),
        )
        .orderBy("event_type")
    )


@dataclass
class StreamShardCommit(WriterCommitMessage):
    filename: str
    n_rows: int


class ShardStreamWriter(DataSourceStreamWriter):
    """Streaming half of the writer contract: per-BATCH two-phase
    commit.  Tasks stage shards exactly like the batch writer; the
    engine calls commit(messages, batchId) once per micro-batch, which
    publishes that batch's shards under a batch-scoped manifest
    `_MANIFEST-{batchId}.json`.  A replayed batch (failure/restart
    between sink write and checkpoint commit) re-stages NEW uniquely
    named files and REWRITES its manifest atomically, so the
    manifest-gated read path sees each batch exactly once — orphaned
    files from a superseded attempt exist on disk but are unreachable,
    the same idempotent-per-batch rule foreachBatch sinks must
    implement by hand."""

    def __init__(self, options) -> None:
        self.path = options["path"]

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        rows = list(iterator)
        if not rows:
            return StreamShardCommit("", 0)
        cols = rows[0].asDict().keys()
        tbl = pa.table(
            {c: [r[c] for r in rows] for c in cols}
        )
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        fname = (
            f"shard-{TaskContext.get().partitionId()}"
            f"-{_uuid.uuid4().hex[:8]}.parquet"
        )
        pq.write_table(tbl, os.path.join(staging, fname))
        return StreamShardCommit(fname, tbl.num_rows)

    def commit(self, messages, batchId) -> None:
        staging = os.path.join(self.path, "_staging")
        shards = []
        for m in messages:
            if m is None or not m.filename:
                continue
            final = f"b{batchId}-{m.filename}"
            os.replace(
                os.path.join(staging, m.filename),
                os.path.join(self.path, final),
            )
            shards.append({"file": final, "n_rows": m.n_rows})
        _shutil.rmtree(staging, ignore_errors=True)
        manifest = {
            "batch_id": batchId,
            "shards": sorted(shards, key=lambda s: s["file"]),
            "total_rows": sum(s["n_rows"] for s in shards),
        }
        tmp = os.path.join(self.path, f"_MANIFEST-{batchId}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self.path, f"_MANIFEST-{batchId}.json"))

    def abort(self, messages, batchId) -> None:
        _shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )


class ShardStreamSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "shard_stream_sink"

    def streamWriter(self, schema, overwrite) -> ShardStreamWriter:
        return ShardStreamWriter(self.options)


def register_shard_stream_sink(spark: SparkSession) -> None:
    try:
        spark.dataSource.register(ShardStreamSinkDataSource)
    except Exception:
        pass  # already registered in this session


def read_manifested_shards(spark: SparkSession, path: str) -> DataFrame:
    """The exactly-once read path shared by query and tests: only
    shards reachable through a batch manifest are visible."""
    files = []
    for f in sorted(os.listdir(path)):
        if f.startswith("_MANIFEST-") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                m = json.load(fh)
            files += [os.path.join(path, s["file"]) for s in m["shards"]]
    if not files:
        raise RuntimeError(
            f"no manifest-committed shards under {path} — either no batch "
            "ever committed or the sink aborted before publishing (r9 "
            "ADVICE: diagnose the zero-committed-batch edge explicitly)")
    return spark.read.parquet(*files)


@register(
    "sink_python_stream",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value * 100 AS BIGINT)) AS BIGINT) AS cents,
           count(DISTINCT event_id) AS n_ids
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sink", "python-datasource", "streaming"),
)
def sink_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch stream → custom Python STREAMING sink: events replay
    as 4 ordered time-split files (one per trigger), each batch commits
    its shards under a batch-scoped manifest, and the manifest-gated
    read-back must aggregate to exactly the batch answer — any row
    lost, duplicated across batch replays, or published outside a
    manifest breaks count / exact-cents sum / distinct-id parity.
    The stop/restart exactly-once pytest lives in
    tests/test_python_ds_writer.py."""
    import tempfile

    from splitserve_spark.streaming.custom_state import (
        _ordered_event_splits,
    )

    register_shard_stream_sink(spark)
    src_dir = _ordered_event_splits(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="shard_stream_sink_")
    stream = (
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*.parquet")
        .select(
            "event_id",
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    drain(
        spark,
        stream.writeStream.format("shard_stream_sink")
        .option("path", out)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="shard_ss_ckpt_")
        ),
    )
    return (
        read_manifested_shards(spark, out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents"),
            F.countDistinct("event_id").alias("n_ids"),
        )
        .orderBy("event_type")
    )
