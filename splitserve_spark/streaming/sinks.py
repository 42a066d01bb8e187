"""Socket streaming source + row-level foreach / console sinks.

Reference (SURVEY.md §2.10): TextSocketSource
(`execution/streaming/socket.scala:39` — the quick-start wordcount
source), ForeachSink (`execution/streaming/ForeachSink.scala:28`,
Python surface `python/pyspark/sql/streaming.py` foreach), ConsoleSink
(`execution/streaming/console.scala`).

These were environment-limited in earlier rounds on the assumption the
sandbox had no network; localhost TCP works, so the socket source runs
for REAL here: the query function starts an in-process line server,
streams from it through the micro-batch engine, and returns the sink
table for the oracle to hash.  The foreach sink likewise executes the
genuine row-at-a-time ForeachWriter protocol (open/process/close per
partition per epoch) with the emitted rows read back and re-aggregated
against the batch oracle.

Scale notes: socket is a dev/debug source (single connection, no
replay, no offsets — the reference says the same); production streams
come from Kafka, which still needs a broker + the spark-sql-kafka
package and stays a documented deployment surface.  foreach is the
slow path next to foreachBatch (per-row Python call vs whole-frame) —
use it only for true row-level protocols (e.g. per-row RPC).
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.streaming.drain import drain, drain_until
from splitserve_spark.tables import raw_schema, sfdir_tag

#: The canonical wordcount feed — single source of truth for the Spark
#: query AND the DuckDB oracle (interpolated into the SQL below).
SOCKET_LINES = (
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps in the warm sun",
    "a quick brown cat naps beside the dog",
    "the sun sets over the quiet river",
    "a fox and a cat watch the river",
)

_N_WORDS = sum(len(l.split()) for l in SOCKET_LINES)

_SOCKET_VALUES = ", ".join(f"('{l}')" for l in SOCKET_LINES)


def serve_lines(lines) -> tuple[str, int]:
    """One-shot localhost line server: accept a single client, write
    every line, hold the connection open briefly (the socket source
    treats disconnect as end-of-stream), then close.  A 90 s accept
    timeout bounds the thread's lifetime if no client ever connects
    (e.g. the streaming query failed before its first micro-batch)."""
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    srv.settimeout(90)

    def run() -> None:
        try:
            conn, _ = srv.accept()
            for line in lines:
                conn.sendall((line + "\n").encode())
            time.sleep(20)  # outlive the test's read window
            conn.close()
        except Exception:
            pass
        finally:
            srv.close()

    threading.Thread(target=run, daemon=True).start()
    return "127.0.0.1", port


@register(
    "source_socket_stream",
    oracle=f"""
    SELECT word, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(string_split(line, ' ')) AS word
      FROM (VALUES {_SOCKET_VALUES}) AS t(line)
    )
    GROUP BY word
    ORDER BY word
    """,
    tags=("streaming", "source", "socket"),
)
def source_socket_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quick-start socket wordcount, executed for real: an
    in-process TCP server feeds {len(SOCKET_LINES)} fixed lines, the
    socket source streams them through a groupBy(word).count() in
    complete mode, and the memory-sink table (polled until all
    {_N_WORDS} words arrived) is the result the oracle hashes."""
    host, port = serve_lines(SOCKET_LINES)
    name = "sock_wc_" + sfdir_tag(sf_dir)
    stream = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    counts = (
        stream.select(F.explode(F.split("value", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drain_until(
        spark,
        counts.writeStream.format("memory")
        .queryName(name).outputMode("complete"),
        lambda: (spark.table(name).agg(F.sum("n")).collect()[0][0] or 0)
        >= _N_WORDS,
    )
    return spark.table(name).orderBy("word")


class JsonlForeachWriter:
    """Row-level ForeachWriter (reference ForeachSink.scala:28): Spark
    calls open(partition, epoch) / process(row) / close(error) on the
    EXECUTORS — this class is pickled out, so it holds only the output
    path.  Emits one JSON line per row; partition+epoch-keyed filenames
    give exactly-once-per-epoch file semantics."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir

    def open(self, partition_id: int, epoch_id: int) -> bool:
        os.makedirs(self.out_dir, exist_ok=True)
        self._f = open(
            os.path.join(self.out_dir, f"p{partition_id}_e{epoch_id}.jsonl"),
            "w",
        )
        return True

    def process(self, row) -> None:
        self._f.write(
            json.dumps({"event_id": row.event_id, "value": row.value}) + "\n"
        )

    def close(self, error) -> None:
        self._f.close()


#: Keep the row-at-a-time Python path cheap: ~2% of events.
FOREACH_MOD = 50


@register(
    "sink_foreach_rows",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE event_id % {FOREACH_MOD} = 0
    """,
    tags=("streaming", "sink", "foreach"),
)
def sink_foreach_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level foreach sink, end to end: events stream → ForeachWriter
    emits JSON lines on the executors (the real open/process/close
    protocol) → the emitted files are read back and re-aggregated; the
    oracle proves no row was lost or duplicated across partitions and
    epochs.  foreachBatch (the fast whole-frame path) is covered in
    tests/test_stateful_streaming.py; this is its per-row sibling."""
    from splitserve_spark.sources.io import _roundtrip_dir
    from splitserve_spark.streaming.stateful import _events_stream

    out_dir = _roundtrip_dir(sf_dir, "foreach")
    shutil.rmtree(out_dir, ignore_errors=True)
    stream = _events_stream(spark, sf_dir).filter(
        F.col("event_id") % FOREACH_MOD == 0
    ).select("event_id", "value")
    drain(spark, stream.writeStream.foreach(JsonlForeachWriter(out_dir)))
    back = spark.read.schema("event_id long, value double").json(out_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


#: rate-micro-batch contract: one availableNow pass over a fresh query
#: emits exactly the first batch — rowsPerBatch rows valued 0..R-1.
RATE_ROWS_PER_BATCH = 1000
RATE_PARTITIONS = 4


@register(
    "source_rate_stream",
    oracle=f"""
    SELECT CAST({RATE_ROWS_PER_BATCH} AS BIGINT) AS n_rows,
           CAST({RATE_ROWS_PER_BATCH * (RATE_ROWS_PER_BATCH - 1) // 2}
                AS BIGINT) AS sum_value,
           CAST(0 AS BIGINT) AS min_value,
           CAST({RATE_ROWS_PER_BATCH - 1} AS BIGINT) AS max_value
    """,
    tags=("streaming", "source", "rate"),
)
def source_rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rate-micro-batch streaming source (ref rate source
    `execution/streaming/RateSourceProvider.scala:41`; the
    deterministic micro-batch variant is its successor): Spark's
    built-in load-generator source, used to soak-test streaming
    topologies without external infrastructure.

    Unlike plain `rate` (wall-clock driven), `rate-micro-batch` emits a
    FIXED number of rows per batch with values 0..R-1, so one
    availableNow pass is exactly reproducible and the closed-form
    oracle (count R, sum R(R-1)/2) proves no row was lost or duplicated
    across the 4 source partitions."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", RATE_ROWS_PER_BATCH)
        .option("numPartitions", RATE_PARTITIONS)
        .load()
    )
    agg = stream.groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    name = "rate_stream_agg"
    drain(spark, agg.writeStream.format("memory")
          .queryName(name).outputMode("complete"))
    return spark.table(name)


class SimulatedCrash(RuntimeError):
    """Raised by MergeLedgerTarget's test-only kill point — models the
    process dying AFTER the sink's data write but BEFORE its commit."""


class MergeLedgerTarget:
    """Exactly-once parquet MERGE target for foreachBatch.

    The engine's recovery loop (reference:
    `execution/streaming/StreamExecution.scala:217,445` — offset WAL →
    runBatch → sink.addBatch, replayed from the WAL when the commit
    log is behind) re-delivers the last batch after a crash, so the
    SINK must make re-application a no-op.  Two mechanisms, mirroring
    the manifest-gate rule in sources/python_ds.py's sink:

    - an applied-batch LEDGER: a batch_id already in the ledger is
      skipped outright (the fold is count/sum arithmetic — NOT
      idempotent — so replay protection must be explicit);
    - versioned target directories with an atomic pointer swap
      (os.replace of the ledger JSON is the single commit point): a
      crash between the parquet write and the swap leaves the pointer
      on the previous consistent version, and the replay re-writes the
      orphan version dir before committing it.

    ``crash_after_write_ids`` is the test-only kill point: applying one
    of those batch_ids raises SimulatedCrash after the versioned write
    but before the ledger swap — exactly the torn-batch state the
    recovery contract must absorb.

    The fold is fixed (per-key count / exact-decimal sum / max-ts —
    the SCD-1 shape of `modern_sql.merge_upsert_scd1`); the delta
    extraction is pluggable so the same recovery discipline serves
    both the events profile and the Kafka-shaped composition."""

    def __init__(self, spark, base: str, key_col: str, delta_fn) -> None:
        self.spark = spark
        self.base = base
        self.key_col = key_col
        self.delta_fn = delta_fn
        self.ledger_path = os.path.join(base, "ledger.json")
        self.crash_after_write_ids: set[int] = set()
        os.makedirs(base, exist_ok=True)

    def ledger(self) -> dict:
        try:
            with open(self.ledger_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {"applied": [], "current": None}

    def current(self) -> DataFrame:
        led = self.ledger()
        assert led["current"] is not None, "no batch was ever applied"
        return self.spark.read.parquet(led["current"])

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        led = self.ledger()
        if batch_id in led["applied"]:
            return  # replayed batch: the fold must not re-add
        delta = self.delta_fn(batch_df)
        k = self.key_col
        if led["current"] is not None:
            tgt = self.spark.read.parquet(led["current"])
            merged = tgt.join(delta, k, "full_outer").select(
                k,
                (
                    F.coalesce("n_events", F.lit(0))
                    + F.coalesce("d_n", F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(
                        "total_value", F.lit(0).cast("decimal(28,2)")
                    )
                    + F.coalesce("d_tot", F.lit(0).cast("decimal(28,2)"))
                ).cast("decimal(28,2)").alias("total_value"),
                F.greatest("last_seen", "d_ts").alias("last_seen"),
            )
        else:
            merged = delta.select(
                k,
                F.col("d_n").alias("n_events"),
                F.col("d_tot").cast("decimal(28,2)").alias("total_value"),
                F.col("d_ts").alias("last_seen"),
            )
        version_dir = os.path.join(self.base, f"target_v{batch_id}")
        merged.write.mode("overwrite").parquet(version_dir)
        if batch_id in self.crash_after_write_ids:
            raise SimulatedCrash(
                f"killed after writing {version_dir}, before the ledger "
                "swap — the pointer must still name the previous version"
            )
        led["applied"].append(batch_id)
        led["current"] = version_dir
        tmp = self.ledger_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(led, fh)
        os.replace(tmp, self.ledger_path)  # the atomic commit point


def events_profile_delta(batch_df: DataFrame) -> DataFrame:
    """Per-user delta of one events micro-batch for MergeLedgerTarget."""
    return batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("d_n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("d_tot"),
        F.max("ts").alias("d_ts"),
    )


@register(
    "stream_foreachbatch_merge",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events
    WHERE user_id % 17 = 0
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "sink", "foreachbatch", "merge"),
)
def stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch as a REGISTERED topology (previously only
    pytest-covered): the streaming-upsert pattern every warehouse
    pipeline runs — each micro-batch's per-user delta MERGEs (SCD-1
    fold: full-outer join + coalesce, `modern_sql.merge_upsert_scd1`'s
    physical shape) into a parquet profile table, across the 5-file
    time-split fixture under Trigger.AvailableNow.

    Exactly-once discipline, the part foreachBatch makes the USER's
    job: the fold is NOT idempotent (counts/sums re-add on replay), so
    an applied-batch ledger skips batch_ids already folded, and each
    fold writes a NEW versioned target directory before an atomic
    pointer swap (os.replace of the ledger JSON) — a crash between
    write and swap leaves the pointer on the old consistent version,
    exactly the manifest-gate rule sources/python_ds.py's sink
    documents.  Final profiles must equal the batch per-user
    aggregates: any lost, double-applied, or torn batch breaks the
    count, the exact decimal sum, or the max-ts.

    Scale notes: each delta is a map-side-combinable aggregate of ONE
    batch; the fold join is keyed on user_id (broadcastable while the
    delta is small, shuffle-partitioned when not); the target rewrite
    is the parquet-only price — a MERGE-supporting format (Delta/
    Iceberg) replaces the versioned-rewrite with row-level commits,
    same logical plan."""
    import tempfile as _tf

    from splitserve_spark.streaming.custom_state import (
        _ordered_event_splits,
    )
    from splitserve_spark.tables import normalize_event_ts

    src_dir = _ordered_event_splits(spark, sf_dir)
    tag = sfdir_tag(sf_dir)
    base = os.path.join(
        _tf.gettempdir(), "splitserve_spark_stream",
        f"fbmerge_{tag}_p{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)
    target = MergeLedgerTarget(spark, base, "user_id",
                               events_profile_delta)

    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*.parquet")
    ).select("user_id", "value", "ts")
    drain(spark, stream.writeStream.foreachBatch(target.apply)
          .option("checkpointLocation", os.path.join(base, "ckpt")))
    return (
        target.current()
        .filter(F.col("user_id") % 17 == 0)
        .select(
            "user_id",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
            F.date_format("last_seen", "yyyy-MM-dd HH:mm:ss").alias(
                "last_seen"
            ),
        )
        .orderBy("user_id")
    )


def delete_latest_commit(ckpt: str) -> int:
    """Kill-point injector shared by the recovery topology and its
    pytest battery: remove the NEWEST entry of the checkpoint's commit
    log, leaving the offset WAL one batch ahead — byte-for-byte the
    on-disk state after a crash between sink.addBatch and the commit-
    log write (reference recovery loop:
    `execution/streaming/StreamExecution.scala:217,445`).  On restart
    the engine MUST re-run that batch with the WAL's exact offsets.
    Returns the replayed batch_id."""
    commits = os.path.join(ckpt, "commits")
    ids = [int(f) for f in os.listdir(commits) if f.isdigit()]
    latest = max(ids)
    os.remove(os.path.join(commits, str(latest)))
    # The local ChecksumFs keeps a .N.crc sidecar; a stale one makes
    # the engine's re-commit rename fail with FileAlreadyExists.  A
    # real crash never leaves the sidecar without its file (the pair
    # is renamed together), so removing both IS the post-crash state.
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return latest


@register(
    "stream_merge_recovery",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events
    WHERE user_id % 13 = 0
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "sink", "foreachbatch", "merge", "recovery"),
)
def stream_merge_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-recovery topology for the foreachBatch MERGE sink — the
    r10 verdict's missing contract, run END-TO-END as a registered
    query rather than only asserted in pytest:

    1. RUN 1 drains the first half of the time-split events fixture
       (maxFilesPerTrigger=1, Trigger.AvailableNow) through
       MergeLedgerTarget; every batch folds into a versioned parquet
       target behind the ledger's atomic pointer swap.
    2. KILL: the newest checkpoint commit-log entry is deleted while
       the sink's ledger retains the batch — exactly the state left by
       a process dying after sink.addBatch but before the engine's
       commit-log write (the reference's exactly-once window,
       `execution/streaming/StreamExecution.scala:217,445`).
    3. RUN 2 restarts on the same checkpoint with the remaining files
       staged: the engine REPLAYS the torn batch from its offset WAL
       (same batch_id, same file), the ledger must skip the re-fold,
       and the drain then continues through the new files.

    The final profile table must equal the batch per-user aggregate
    over ALL events — a double-fold (replay applied twice), a lost
    fold (skip misfired), or a torn version pointer each breaks the
    exact count / decimal sum / max-ts.  This composes with the file
    source's replay contract the same way the Kafka-shaped source's
    crash-window note composes in tests/test_crash_replay.py."""
    import glob as _glob
    import tempfile as _tf

    from splitserve_spark.streaming.custom_state import (
        _ordered_event_splits,
    )
    from splitserve_spark.tables import normalize_event_ts

    splits_dir = _ordered_event_splits(spark, sf_dir)
    split_files = sorted(_glob.glob(os.path.join(splits_dir, "b*.parquet")))
    assert len(split_files) >= 4, split_files
    tag = sfdir_tag(sf_dir)
    base = os.path.join(
        _tf.gettempdir(), "splitserve_spark_stream",
        f"fbrecover_{tag}_p{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)
    staged = os.path.join(base, "staged")
    os.makedirs(staged, exist_ok=True)
    ckpt = os.path.join(base, "ckpt")
    target = MergeLedgerTarget(spark, base, "user_id",
                               events_profile_delta)

    def _drain() -> None:
        stream = normalize_event_ts(
            spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staged}/b*.parquet")
        ).select("user_id", "value", "ts")
        drain(spark, stream.writeStream.foreachBatch(target.apply)
              .option("checkpointLocation", ckpt))

    def _stage(files) -> None:
        for f in files:
            dst = os.path.join(staged, os.path.basename(f))
            shutil.copy2(f, dst)  # copy2 keeps the ordered mtimes

    half = len(split_files) // 2
    _stage(split_files[:half])
    _drain()  # run 1
    applied_before = list(target.ledger()["applied"])
    replayed = delete_latest_commit(ckpt)  # the kill
    _stage(split_files[half:])
    _drain()  # run 2: must replay `replayed`, skip its fold, continue
    applied_after = target.ledger()["applied"]
    assert replayed in applied_before, (replayed, applied_before)
    # Equality with range(n) of the SORTED ledger implies both
    # completeness and no-duplicates in one check.
    assert sorted(applied_after) == list(range(len(split_files))), (
        f"ledger corrupted across recovery: {applied_after}"
    )
    return (
        target.current()
        .filter(F.col("user_id") % 13 == 0)
        .select(
            "user_id",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
            F.date_format("last_seen", "yyyy-MM-dd HH:mm:ss").alias(
                "last_seen"
            ),
        )
        .orderBy("user_id")
    )


#: Streaming-ingest pipeline constants — shared verbatim with the
#: oracle.  Collapsing the Kafka payload mod INGEST_FP_MOD plants
#: genuine CONTENT duplication in the log (426 records → ≤200 unique
#: documents), on top of the transport duplication the union-doubled
#: legs add; every derived field is a pure function of the fingerprint
#: so the output is insensitive to WHICH copy survives dedup.
INGEST_FP_MOD = 200
INGEST_QUALITY_MIN = 30

from splitserve_spark.sources.kafka_shaped import (  # noqa: E402
    KQ_BASE as _KQ_BASE,
    KQ_PARTS as _KQ_PARTS,
    KQ_SKEW as _KQ_SKEW,
)


@register(
    "pipeline_stream_ingest",
    oracle="""
    WITH parts AS (SELECT CAST(p.range AS INTEGER) AS part
                   FROM range(0, {parts}) p),
    m AS (
      SELECT ((o.range * 31 + part) % 1000) % {fp_mod} AS content_fp
      FROM parts CROSS JOIN range(0, {maxlog}) o
      WHERE o.range < {base} + part * {skew}
    ),
    docs AS (SELECT DISTINCT content_fp FROM m),
    gated AS (
      SELECT content_fp,
             (content_fp * 7919) % 100 AS quality,
             content_fp % 5 AS source_bucket
      FROM docs
      WHERE (content_fp * 7919) % 100 >= {qmin}
    )
    SELECT CAST(source_bucket AS BIGINT) AS source_bucket,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(quality) AS BIGINT)  AS sum_quality,
           CAST(min(content_fp) AS BIGINT) AS min_fp,
           CAST(max(content_fp) AS BIGINT) AS max_fp
    FROM gated GROUP BY source_bucket ORDER BY source_bucket
    """.format(
        parts=_KQ_PARTS,
        base=_KQ_BASE,
        skew=_KQ_SKEW,
        maxlog=_KQ_BASE + (_KQ_PARTS - 1) * _KQ_SKEW,
        fp_mod=INGEST_FP_MOD,
        qmin=INGEST_QUALITY_MIN,
    ),
    tags=("streaming", "pipeline", "kafka-shaped", "dedup", "sink",
          "exactly-once"),
)
def pipeline_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full streaming training-data ingest topology, end to end in
    one registered query — the composition a 100 TB/day pipeline
    actually runs, where the prior rounds verified each stage alone:

      Kafka-shaped source (×2 legs — at-least-once redelivery)
        → JVM quality gate (cheap projection BEFORE any state)
        → dropDuplicatesWithinWatermark on the content fingerprint
          (bounded state: in-horizon fingerprints only)
        → Spark's built-in parquet FILE SINK, partitioned by source
          bucket — the real exactly-once shard writer (the
          _spark_metadata manifest commits files atomically per batch;
          readers resolve the directory THROUGH the manifest, so a
          torn batch is invisible; reference
          `execution/streaming/FileStreamSink.scala:41`)
        → manifest-honoring readback aggregated per shard bucket.

    Content duplication is planted by collapsing the payload mod
    INGEST_FP_MOD (426 log records → ≤200 unique fingerprints);
    transport duplication comes from unioning two byte-identical
    broker legs.  The oracle replays the record formula analytically:
    distinct fingerprints → quality gate → per-bucket counts and
    integer sums.  Any lost record, surviving duplicate (either
    kind), gate drift, or sink/readback tear is a hash mismatch.

    Scale notes: the gate runs before the stateful operator so state
    carries only passing fingerprints; dedup state is bounded by the
    watermark horizon, not history; the file sink's per-batch manifest
    commit is O(files), not O(rows); partitionBy(source_bucket) gives
    the downstream trainer co-located shards without a second pass."""
    import tempfile as _tf

    from splitserve_spark.sources.kafka_shaped import register_kafka_shaped

    register_kafka_shaped(spark)
    tag = sfdir_tag(sf_dir)
    base = os.path.join(
        _tf.gettempdir(), "splitserve_spark_stream",
        f"ingest_{tag}_p{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)
    shards = os.path.join(base, "shards")
    ckpt = os.path.join(base, "ckpt")

    def leg(n: int) -> DataFrame:
        raw = (
            spark.readStream.format("kafka_shaped")
            .option("topic", f"ingest_{tag}_p{os.getpid()}_leg{n}")
            .option("brokerDir", os.path.join(base, f"broker{n}"))
            .option("numPartitions", _KQ_PARTS)
            .option("logSize", _KQ_BASE)
            .option("logSkew", _KQ_SKEW)
            .option("producePerPoll", _KQ_BASE + _KQ_PARTS * _KQ_SKEW)
            .option("startingOffsets", "earliest")
            .load()
        )
        fp = (
            F.split(F.col("value").cast("string"), r"\|")
            .getItem(3)
            .cast("long")
            % INGEST_FP_MOD
        )
        return raw.select(
            F.col("timestamp").alias("ts"), fp.alias("content_fp")
        )

    gated = (
        leg(0)
        .union(leg(1))
        .withColumn("quality", (F.col("content_fp") * 7919) % 100)
        .withColumn("source_bucket", F.col("content_fp") % 5)
        .filter(F.col("quality") >= INGEST_QUALITY_MIN)
    )
    deduped = gated.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["content_fp"]
    )
    drain(
        spark,
        deduped.select("content_fp", "quality", "source_bucket")
        .writeStream.format("parquet")
        .option("path", shards)
        .option("checkpointLocation", ckpt)
        .partitionBy("source_bucket")
        .outputMode("append"),
    )
    return (
        spark.read.parquet(shards)
        .groupBy(F.col("source_bucket").cast("long").alias("source_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("quality").alias("sum_quality"),
            F.min("content_fp").alias("min_fp"),
            F.max("content_fp").alias("max_fp"),
        )
        .orderBy("source_bucket")
    )
