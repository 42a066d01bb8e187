"""Kafka-shaped streaming source (broker-free) — closes SURVEY §2.1's
last streaming-source row.

The reference ships a Kafka connector
(`external/kafka-0-10-sql/.../KafkaSource.scala:84`): a partitioned
topic, per-partition monotonically increasing offsets, JSON offset
maps, `startingOffsets=earliest|latest|{"0": 23, "1": -1, ...}` (the
per-partition JSON form: -1 latest, -2 earliest), `failOnDataLoss`
(fail vs skip when retention ages records out under a committed
offset — modeled here by the `logStartOffsets` retention knob),
`maxOffsetsPerTrigger` rate limiting (KafkaSource applies its
ReadLimit inside latestOffset), and exactly-once replay of any
committed offset range.  This environment
has no broker and no spark-sql-kafka jar (README.md:193 waiver), so
this module implements the same CONTRACT on the Python DataSource
streaming API (`pyspark.sql.datasource.DataSourceStreamReader`, the
partitioned variant — same extension point `sources/python_ds.py`
already exercises for batch + simple streaming):

* topic = N partitions, each an append-only log whose record at
  (partition, offset) is a pure function of (partition, offset) —
  which is what makes the source oracle-able AND lets executors read
  any replayed range without contacting shared state;
* the "broker" is a JSON state file under ``brokerDir`` holding the
  per-partition produced watermark — it must live on the filesystem
  (not module globals) because the streaming reader runs in a
  per-query Python worker process: a stop/restart gets a FRESH
  interpreter, exactly like reconnecting to a broker that outlived
  the consumer;
* ``latestOffset`` advances the produced watermark by
  ``producePerPoll`` per partition per poll (bounded by the
  per-partition log size) and then caps the returned end at
  ``maxOffsetsPerTrigger`` records past the previous end — the
  previous end is ALSO persisted, so the rate limit holds across
  restart, as KafkaSource's does;
* output schema is Kafka's exactly: key binary, value binary, topic
  string, partition int, offset long, timestamp, timestampType.

Exactly-once: offsets are checkpointed by the engine; ``partitions``
replays any (start, end] range deterministically, and the
stop/restart pytest (tests/test_kafka_shaped.py) asserts each
(partition, offset) lands in a file sink exactly once.  If a real
spark-sql-kafka jar ever appears, these contract tests transfer to
the connector unchanged.
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from splitserve_spark.registry import register
from splitserve_spark.streaming.drain import drain, drain_until
from splitserve_spark.tables import sfdir_tag

#: Epoch for record timestamps: CreateTime of offset o is EPOCH + o s.
KAFKA_EPOCH = datetime(2026, 1, 1, 0, 0, 0)

#: Registered-query topic geometry (oracle replays these formulas).
KQ_PARTS = 4
KQ_BASE = 96  # log size of partition 0
KQ_SKEW = 7  # partition p holds KQ_BASE + p*KQA_SKEW records
KQ_TOTAL = sum(KQ_BASE + p * KQ_SKEW for p in range(KQ_PARTS))  # 426


def _record(p: int, o: int) -> tuple:
    """The record at (partition, offset): pure function of its
    coordinates, shared by every executor-side replay and (as SQL) by
    the DuckDB oracle."""
    key = f"k{(o * 7 + p) % 13}"
    payload = (o * 31 + p) % 1000
    value = f"m|{p}|{o}|{payload}"
    return (
        key.encode("utf-8"),
        value.encode("utf-8"),
        None,  # topic, filled by caller
        p,
        o,
        KAFKA_EPOCH + timedelta(seconds=o),
        0,  # timestampType: CreateTime, like Kafka's default
    )


class KafkaShapedStreamReader(DataSourceStreamReader):
    """Driver-side half of the contract: offset bookkeeping.

    Offsets are dicts {partition(str): next_offset(int)} — the same
    shape as Kafka's JSON offset maps ({"topic":{"0":123}}) minus the
    redundant topic level.  String keys keep the JSON round-trip
    through the engine's offset log stable."""

    def __init__(self, schema, options) -> None:
        # Spark option keys are case-insensitive; normalize like the
        # JVM's CaseInsensitiveStringMap so camelCase options work.
        options = {k.lower(): v for k, v in options.items()}
        self.topic = options.get("topic", "ingest")
        self.n_parts = int(options.get("numpartitions", 4))
        self.base = int(options.get("logsize", KQ_BASE))
        self.skew = int(options.get("logskew", KQ_SKEW))
        self.backlog = int(options.get("initialbacklog", 0))
        self.per_poll = int(options.get("produceperpoll", 32))
        mopt = options.get("maxoffsetspertrigger")
        self.max_per_trigger = int(mopt) if mopt is not None else None
        self.starting = options.get("startingoffsets", "earliest")
        # Kafka's failOnDataLoss (KafkaSource.scala option): when a
        # committed/requested offset falls below the log start (records
        # aged out by retention), true fails the query, false skips to
        # the earliest retained offset.  Default true, like Kafka's.
        self.fail_on_data_loss = (
            options.get("failondataloss", "true").lower() == "true"
        )
        # Per-partition earliest RETAINED offset — the sim's retention
        # knob.  Accepts an int (all partitions) or a JSON map
        # {"0": 5, ...}; restarting a topic with a higher value models
        # the broker aging out records under a live checkpoint.
        self._log_starts = self._parse_log_starts(
            options.get("logstartoffsets", "0")
        )
        # startingOffsets also accepts Kafka's per-partition JSON map —
        # {"0": 23, "1": -1, "2": -2} (or nested under the topic name,
        # {"<topic>": {...}}): -1 = latest, -2 = earliest, an explicit
        # offset otherwise; unlisted partitions default to earliest.
        s = self.starting.strip()
        self._json_spec = None
        if s.startswith("{"):
            spec = json.loads(s)
            if isinstance(spec.get(self.topic), dict):
                spec = spec[self.topic]
            self._json_spec = {str(k): int(v) for k, v in spec.items()}
        self._wants_latest = self.starting == "latest" or (
            self._json_spec is not None
            and -1 in self._json_spec.values()
        )
        broker_dir = options.get(
            "brokerdir",
            os.path.join(tempfile.gettempdir(), "kafka_shaped_broker"),
        )
        os.makedirs(broker_dir, exist_ok=True)
        self._state_path = os.path.join(broker_dir, f"{self.topic}.json")
        self._query_start_cache: dict | None = None

    # -- broker state ---------------------------------------------------
    def _log_size(self, p: int) -> int:
        return self.base + p * self.skew

    def _parse_log_starts(self, raw: str) -> dict:
        """logStartOffsets option → {partition(int): first retained
        offset}.  Clamped to the log size (a fully-aged partition is
        empty, never negative-length)."""
        raw = raw.strip()
        per = json.loads(raw) if raw.startswith("{") else {
            str(p): int(raw) for p in range(self.n_parts)
        }
        # Clamp to [0, log size]: a negative retention start would
        # otherwise admit replay of offsets that never existed.
        return {
            p: min(max(int(per.get(str(p), 0)), 0), self._log_size(p))
            for p in range(self.n_parts)
        }

    def _log_start(self, p: int) -> int:
        return self._log_starts.get(int(p), 0)

    def _data_loss(self, p, requested: int, where: str) -> int:
        """A requested offset below the log start means those records
        were aged out.  Kafka's contract: failOnDataLoss=true aborts
        the query; false skips to the earliest retained offset."""
        ls = self._log_start(int(p))
        if requested >= ls:
            return requested
        if self.fail_on_data_loss:
            raise RuntimeError(
                f"data loss detected on topic={self.topic} partition={p}: "
                f"{where} offset {requested} is below the log start {ls} "
                "(records aged out by retention). Set the source option "
                "failOnDataLoss=false to skip to the earliest retained "
                "offset instead of failing."
            )
        return ls

    def _load_state(self) -> dict:
        """Produced watermark + last returned end, from the broker file.
        Single-writer by construction (one streaming query drives one
        reader), so plain read-modify-write-rename is race-free."""
        try:
            with open(self._state_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            # Aged-out records were necessarily produced, so the
            # produced watermark starts at least at the log start.
            produced = {
                str(p): min(
                    max(self.backlog, self._log_start(p)),
                    self._log_size(p),
                )
                for p in range(self.n_parts)
            }
            return {"produced": produced, "last_end": None,
                    "latest_start": None}

    def _save_state(self, state: dict) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, self._state_path)

    # -- streaming contract ----------------------------------------------
    def initialOffset(self) -> dict:
        if self._json_spec is not None:
            return self._json_start()
        if self.starting == "latest":
            # Skip the pre-existing backlog, exactly like Kafka's
            # startingOffsets=latest: first batch begins at the
            # produced watermark as of query start.  The start is
            # PINNED into broker state by whichever contract call
            # touches the topic first — the engine's runner prefetches
            # latestOffset BEFORE initialOffset and may call
            # initialOffset repeatedly; a start (re)derived from the
            # live produced watermark drifts as production advances
            # and silently skips records (observed: 25→33).
            state = self._pin_latest_start(self._load_state())
            return {p: int(o) for p, o in state["latest_start"].items()}
        # earliest = the first RETAINED offset per partition, not 0 —
        # records below the log start were aged out before query start
        # (never a data-loss event; they were never promised).
        return {str(p): self._log_start(p) for p in range(self.n_parts)}

    def _json_start(self) -> dict:
        """Per-partition JSON startingOffsets: -1 = latest (pinned at
        first topic contact, like the scalar form), -2 = earliest
        retained, an explicit offset otherwise — an explicit offset
        below the log start is a data-loss event at query start."""
        state = None
        start = {}
        for p in range(self.n_parts):
            v = int(self._json_spec.get(str(p), -2))
            if v == -1:
                if state is None:
                    state = self._pin_latest_start(self._load_state())
                v = int(state["latest_start"][str(p)])
            elif v == -2:
                v = self._log_start(p)
            else:
                if v > self._log_size(p):
                    raise ValueError(
                        f"startingOffsets for partition {p} ({v}) is past "
                        f"the log end ({self._log_size(p)})"
                    )
                v = self._data_loss(p, v, "requested starting")
            start[str(p)] = v
        return start

    def _pin_latest_start(self, state: dict) -> dict:
        """First touch of a topic whose query start involves 'latest'
        (scalar form, or -1 in the JSON form) freezes that start at the
        CURRENT produced watermark (pre-advance)."""
        if self._wants_latest and state.get("latest_start") is None:
            state["latest_start"] = dict(state["produced"])
            self._save_state(state)
        return state

    def _start_floor(self) -> dict:
        """Per-partition lower bound every batch end must respect: the
        EXPLICIT offsets of a JSON startingOffsets spec (the only start
        form that can exceed the produced watermark — earliest/latest
        resolve ≤ it by construction).  Derived from the spec alone, no
        state reads and no data-loss side effects: if retention later
        ages the log past an explicit start, produced ≥ log start ≥
        request makes the clamp a no-op, and partitions() still owns
        the committed-offset data-loss decision."""
        if self._query_start_cache is None:
            self._query_start_cache = (
                {p: v for p, v in self._json_spec.items() if v >= 0}
                if self._json_spec is not None
                else {}
            )
        return self._query_start_cache

    def latestOffset(self) -> dict:
        state = self._pin_latest_start(self._load_state())
        produced = {
            p: min(int(o) + self.per_poll, self._log_size(int(p)))
            for p, o in state["produced"].items()
        }
        end = dict(produced)
        if self.max_per_trigger is not None:
            # KafkaSource splits its ReadLimit across partitions.
            # Allot floor(cap/n) per partition and spread the
            # remainder over the first (cap mod n) partitions — a
            # partition MAY get 0 this trigger (exactly Kafka's
            # proportional split when cap < #partitions), so the TOTAL
            # batch never exceeds maxOffsetsPerTrigger; a flat
            # max(1, cap//n) floor would ship n rows under cap < n.
            #
            # Reference point: the previous returned end, persisted so
            # the cap normally holds across a stop/restart too.  One
            # honest API gap: DataSourceStreamReader.latestOffset()
            # does not receive the engine's committed start (the JVM
            # connector gets it via SupportsAdmissionControl), so if
            # the process dies AFTER this state write but BEFORE the
            # engine commits the batch to its offset log, the replayed
            # first batch spans up to 2x the cap.  Delivery stays
            # exactly-once; only the rate bound is briefly loose.
            last = (
                state.get("last_end")
                or state.get("latest_start")
                or (
                    self._json_start()
                    if self._json_spec is not None
                    else {p: self._log_start(int(p)) for p in produced}
                )
            )
            base, rem = divmod(self.max_per_trigger, self.n_parts)
            # Remainder goes to the largest backlogs (ties by
            # partition id) — deterministic AND starvation-free: a
            # fixed first-k assignment would never drain partitions
            # k.. when cap < #partitions.
            backlog_order = sorted(
                produced,
                key=lambda p: (
                    -(produced[p] - int(last.get(p, 0))), int(p)
                ),
            )
            bonus = set(backlog_order[:rem])
            end = {
                p: min(
                    produced[p],
                    int(last.get(p, 0)) + base + (1 if p in bonus else 0),
                )
                for p in produced
            }
        # An explicit startingOffsets ABOVE the current produced
        # watermark (start 10, first poll produces 7) must hold the
        # batch end AT the requested start: returning end < start would
        # make the engine commit the lower end as the next batch's
        # start, and later batches would consume offsets below the
        # requested start — silently violating the startingOffsets
        # contract.  Clamping end[p] up to the explicit start yields
        # empty batches until production reaches the request (Kafka's
        # behaviour for a valid not-yet-produced offset).
        floor = self._start_floor()
        if floor:
            end = {
                p: max(int(o), int(floor.get(str(p), 0)))
                for p, o in end.items()
            }
        state.update(produced=produced, last_end=end)
        self._save_state(state)
        return {p: int(o) for p, o in end.items()}

    def partitions(self, start: dict, end: dict):
        parts = []
        for p in sorted(start, key=int):
            # A committed start below the log start means the broker
            # aged records out under the checkpoint (the restart-after-
            # retention scenario): failOnDataLoss decides fail vs skip.
            lo = self._data_loss(p, int(start[p]), "committed")
            hi = int(end.get(p, lo))
            if hi > lo:
                parts.append(InputPartition((self.topic, int(p), lo, hi)))
        return parts

    def read(self, partition):
        """Executor-side replay of one (partition, start, end] slice —
        derived from coordinates alone, so ANY committed range replays
        byte-identically (the exactly-once half of the contract)."""
        topic, p, lo, hi = partition.value
        for o in range(lo, hi):
            rec = _record(p, o)
            yield rec[:2] + (topic,) + rec[3:]

    def commit(self, end: dict) -> None:
        pass  # broker state already persisted in latestOffset

    def stop(self) -> None:
        pass


class KafkaShapedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kafka_shaped"

    def schema(self) -> str:
        # Kafka's exact source schema (KafkaSource.scala companion).
        return (
            "key binary, value binary, topic string, partition int, "
            "offset bigint, timestamp timestamp, timestampType int"
        )

    def streamReader(self, schema) -> KafkaShapedStreamReader:
        return KafkaShapedStreamReader(schema, self.options)


#: Geometry for the JSON-startingOffsets registered variant — oracle
#: and query derive from the SAME dicts so they cannot desynchronize.
#: p0: explicit offset; p1: UNLISTED (defaults to earliest); p2:
#: explicit -2 (earliest); p3: explicit offset BELOW the log start —
#: a data-loss event that failOnDataLoss=false resolves by skipping to
#: the first retained offset.
KJ_LOG_START = {0: 0, 1: 5, 2: 8, 3: 6}
KJ_STARTING = {0: 10, 2: -2, 3: 2}


def _kj_effective_start(p: int) -> int:
    """What the contract resolves partition p's start to."""
    v = KJ_STARTING.get(p, -2)
    return max(v, KJ_LOG_START[p]) if v >= 0 else KJ_LOG_START[p]


KJ_TOTAL = sum(
    KQ_BASE + p * KQ_SKEW - _kj_effective_start(p) for p in range(KQ_PARTS)
)


def register_kafka_shaped(spark: SparkSession) -> None:
    try:
        spark.dataSource.register(KafkaShapedDataSource)
    except Exception:
        pass  # already registered in this session


@register(
    "source_kafka_shaped",
    oracle=f"""
    WITH parts AS (SELECT CAST(p.range AS INTEGER) AS part
                   FROM range(0, {KQ_PARTS}) p),
    m AS (
      SELECT part, o.range AS off,
             'k' || ((o.range * 7 + part) % 13) AS key_s,
             'm|' || part || '|' || o.range || '|'
               || ((o.range * 31 + part) % 1000) AS val_s,
             (o.range * 31 + part) % 1000 AS payload
      FROM parts CROSS JOIN range(0, {KQ_BASE + (KQ_PARTS - 1) * KQ_SKEW}) o
      WHERE o.range < {KQ_BASE} + part * {KQ_SKEW}
    )
    SELECT part AS partition,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(max(off) AS BIGINT) AS last_offset,
           CAST(sum(payload) AS BIGINT) AS payload_sum,
           CAST(count(DISTINCT key_s) AS BIGINT) AS n_keys,
           md5(string_agg(val_s, ',' ORDER BY off)) AS log_digest,
           CAST(TIMESTAMP '2026-01-01 00:00:00'
                + (({KQ_BASE} + part * {KQ_SKEW}) - 1) * INTERVAL 1 SECOND
                AS VARCHAR) AS last_ts
    FROM m
    GROUP BY part
    ORDER BY part
    """,
    tags=("source", "streaming", "kafka-shaped", "python-datasource"),
)
def source_kafka_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume a {KQ_PARTS}-partition Kafka-shaped topic from
    startingOffsets=earliest under maxOffsetsPerTrigger rate limiting
    until all {KQ_TOTAL} produced records land, then roll the log up
    per partition: count, last offset, payload sum, distinct keys, and
    an offset-ordered value digest — any duplicate, loss, or reorder
    across the micro-batches breaks the digest.  Asymmetric partition
    sizes prove per-partition (not global) offset bookkeeping."""
    register_kafka_shaped(spark)
    tag = sfdir_tag(sf_dir)
    name = f"kafka_q_{tag}_p{os.getpid()}"
    broker_dir = tempfile.mkdtemp(prefix="kshape_broker_")
    stream = (
        spark.readStream.format("kafka_shaped")
        .option("topic", name)
        .option("brokerDir", broker_dir)
        .option("numPartitions", KQ_PARTS)
        .option("logSize", KQ_BASE)
        .option("logSkew", KQ_SKEW)
        .option("producePerPoll", 48)
        .option("maxOffsetsPerTrigger", 64)
        .option("startingOffsets", "earliest")
        .load()
    )
    drain_until(
        spark,
        stream.writeStream.format("memory")
        .queryName(name).outputMode("append"),
        lambda: spark.table(name).count() >= KQ_TOTAL,
    )
    val = F.col("value").cast("string")
    return (
        spark.table(name)
        .select(
            "partition",
            "offset",
            val.alias("val_s"),
            F.col("key").cast("string").alias("key_s"),
            F.split(val, r"\|").getItem(3).cast("bigint").alias("payload"),
            "timestamp",
        )
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.max("offset").alias("last_offset"),
            F.sum("payload").alias("payload_sum"),
            F.countDistinct("key_s").alias("n_keys"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("offset", "val_s"))
                        ),
                        lambda s: s["val_s"],
                    ),
                    ",",
                ).cast("binary")
            ).alias("log_digest"),
            F.date_format(F.max("timestamp"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_ts"
            ),
        )
        .orderBy("partition")
    )


def _kj_starts_values() -> str:
    """Inline VALUES table of (partition, effective start) for the
    oracle, generated from the shared geometry dicts."""
    rows = ", ".join(
        f"({p}, {_kj_effective_start(p)})" for p in range(KQ_PARTS)
    )
    return f"(VALUES {rows}) AS s(part, start_off)"


@register(
    "source_kafka_json_offsets",
    oracle=f"""
    WITH starts AS (SELECT * FROM {_kj_starts_values()}),
    m AS (
      SELECT part, o.range AS off,
             'm|' || part || '|' || o.range || '|'
               || ((o.range * 31 + part) % 1000) AS val_s,
             (o.range * 31 + part) % 1000 AS payload
      FROM starts CROSS JOIN range(0, {KQ_BASE + (KQ_PARTS - 1) * KQ_SKEW}) o
      WHERE o.range >= start_off
        AND o.range < {KQ_BASE} + part * {KQ_SKEW}
    )
    SELECT part AS partition,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(min(off) AS BIGINT) AS first_offset,
           CAST(max(off) AS BIGINT) AS last_offset,
           CAST(sum(payload) AS BIGINT) AS payload_sum,
           md5(string_agg(val_s, ',' ORDER BY off)) AS log_digest
    FROM m
    GROUP BY part
    ORDER BY part
    """,
    tags=("source", "streaming", "kafka-shaped", "python-datasource"),
)
def source_kafka_json_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume the Kafka-shaped topic from PER-PARTITION JSON
    startingOffsets under a retention-aged log (logStartOffsets) with
    failOnDataLoss=false, then roll the consumed slice up per
    partition.  The four partitions cover the whole option surface the
    reference's KafkaSource resolves (KafkaSource.scala:84 area):
    an explicit offset (p0), an UNLISTED partition defaulting to
    earliest-retained (p1), an explicit -2 = earliest (p2), and an
    explicit offset BELOW the log start (p3) — aged-out data that
    failOnDataLoss=false resolves by skipping to the first retained
    offset (=true would abort the query; the contract pytest pins
    that arm).  first_offset per partition proves each resolution
    rule; the offset-ordered digest proves no duplicate/loss/reorder
    in the consumed range."""
    register_kafka_shaped(spark)
    tag = sfdir_tag(sf_dir)
    name = f"kafka_j_{tag}_p{os.getpid()}"
    broker_dir = tempfile.mkdtemp(prefix="kshape_json_")
    starting = json.dumps({str(p): v for p, v in KJ_STARTING.items()})
    log_starts = json.dumps({str(p): v for p, v in KJ_LOG_START.items()})
    stream = (
        spark.readStream.format("kafka_shaped")
        .option("topic", name)
        .option("brokerDir", broker_dir)
        .option("numPartitions", KQ_PARTS)
        .option("logSize", KQ_BASE)
        .option("logSkew", KQ_SKEW)
        .option("producePerPoll", 64)
        .option("maxOffsetsPerTrigger", 96)
        .option("startingOffsets", starting)
        .option("logStartOffsets", log_starts)
        .option("failOnDataLoss", "false")
        .load()
    )
    drain_until(
        spark,
        stream.writeStream.format("memory")
        .queryName(name).outputMode("append"),
        lambda: spark.table(name).count() >= KJ_TOTAL,
    )
    val = F.col("value").cast("string")
    return (
        spark.table(name)
        .select(
            "partition",
            "offset",
            val.alias("val_s"),
            F.split(val, r"\|").getItem(3).cast("bigint").alias("payload"),
        )
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.min("offset").alias("first_offset"),
            F.max("offset").alias("last_offset"),
            F.sum("payload").alias("payload_sum"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("offset", "val_s"))
                        ),
                        lambda s: s["val_s"],
                    ),
                    ",",
                ).cast("binary")
            ).alias("log_digest"),
        )
        .orderBy("partition")
    )


#: Tumbling-window width (seconds) for the windowed composition query.
KW_WINDOW_S = 30


@register(
    "stream_kafka_windowed",
    oracle=f"""
    WITH parts AS (SELECT CAST(p.range AS INTEGER) AS part
                   FROM range(0, {KQ_PARTS}) p),
    m AS (
      SELECT part, o.range AS off,
             'k' || ((o.range * 7 + part) % 13) AS key_s,
             (o.range * 31 + part) % 1000 AS payload,
             TIMESTAMP '2026-01-01 00:00:00'
               + o.range * INTERVAL 1 SECOND AS ts
      FROM parts CROSS JOIN range(0, {KQ_BASE + (KQ_PARTS - 1) * KQ_SKEW}) o
      WHERE o.range < {KQ_BASE} + part * {KQ_SKEW}
    )
    SELECT CAST(time_bucket(INTERVAL {KW_WINDOW_S} SECOND, ts) AS VARCHAR)
             AS window_start,
           key_s,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(payload) AS BIGINT) AS payload_sum,
           CAST(bit_count(bit_or(1 << part)) AS BIGINT) AS n_partitions
    FROM m
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("source", "streaming", "kafka-shaped", "window", "watermark"),
)
def stream_kafka_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composition: the Kafka-shaped source feeds a REAL
    event-time tumbling-window aggregation — watermarked {KW_WINDOW_S}s
    windows over the records' CreateTime timestamps, keyed by the
    message key, counting and summing payloads across all
    {KQ_PARTS} partitions.  This is the canonical ingest topology
    (Kafka → watermark → window → sink) the reference's Kafka source
    exists to serve (KafkaSource.scala:84 + the 2.1-era event-time
    windowing in EventTimeWatermarkExec), run under
    Trigger.AvailableNow so the drain is deterministic: producePerPoll
    covers the whole log at the first poll, AvailableNow pre-fetches
    that end once and drains to it, and every window closes by end of
    stream (complete output mode).  The oracle replays the record
    formula analytically — a timestamp-derivation or window-assignment
    bug anywhere in source or aggregation is a hash mismatch."""
    register_kafka_shaped(spark)
    tag = sfdir_tag(sf_dir)
    name = f"kafka_w_{tag}_p{os.getpid()}"
    broker_dir = tempfile.mkdtemp(prefix="kshape_win_")
    stream = (
        spark.readStream.format("kafka_shaped")
        .option("topic", name)
        .option("brokerDir", broker_dir)
        .option("numPartitions", KQ_PARTS)
        .option("logSize", KQ_BASE)
        .option("logSkew", KQ_SKEW)
        .option("producePerPoll", KQ_BASE + KQ_PARTS * KQ_SKEW)
        # No maxOffsetsPerTrigger here: AvailableNow pre-fetches the
        # end ONCE via latestOffset (the Python stream API has no
        # admission-control channel), so a cap applied there would
        # silently truncate the drain to one capped batch.  The
        # rate-capped multi-batch drain is source_kafka_shaped's job.
        .option("startingOffsets", "earliest")
        .load()
    )
    agg = (
        stream.withWatermark("timestamp", "2 minutes")
        .groupBy(
            F.window("timestamp", f"{KW_WINDOW_S} seconds"),
            F.col("key").cast("string").alias("key_s"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum(
                F.split(F.col("value").cast("string"), r"\|")
                .getItem(3)
                .cast("bigint")
            ).alias("payload_sum"),
            # countDistinct is unsupported in streaming aggs; an
            # exact distinct-partition count fits in a 4-bit mask.
            F.expr("bit_count(bit_or(shiftleft(1, partition)))")
            .cast("bigint")
            .alias("n_partitions"),
        )
    )
    drain(spark, agg.writeStream.format("memory")
          .queryName(name).outputMode("complete"))
    return (
        spark.table(name)
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "key_s",
            "n_msgs",
            "payload_sum",
            "n_partitions",
        )
        .orderBy("window_start", "key_s")
    )
