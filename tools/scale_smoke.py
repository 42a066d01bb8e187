#!/usr/bin/env python
"""Scale-up smoke: drive the heavy LLM-pipeline operators on a K×
replicated corpus and record wall time + output growth.

    python tools/scale_smoke.py [--scale 8] [--src /root/testdata/sf0.1]
        [--family all|pipeline|graph|streaming|skew|multimodal|functions|vocab]
        [--only NAME,...] [--ratio-limit R]

Builds `<repo>/tmp_scale/x{K}/` containing documents / embeddings /
events replicated K× (ids offset per copy, payload columns byte-
identical — every document gains K-1 exact twins, the worst case for
dedup pair expansion), with the relational tables symlinked from the
source SF.  Then runs the operators whose cost is driven by those
tables and prints one JSON line per query:

    {"query": ..., "rows_1x": ..., "rows_Kx": ..., "sec_1x": ...,
     "sec_Kx": ..., "time_ratio": ...}

What this checks that the per-SF strict runs cannot:
- fenced blocks stay fenced (all-pairs confirms, vocab caps, bounded
  broadcasts) — their cost must NOT grow ~K²;
- bucketed/banded paths (MinHash LSH, sign-bit LSH, IVF/PQ) absorb a
  K× corpus with ~K× work even when every bucket is full of exact
  twins;
- nothing driver-materializes the corpus (a collect would OOM long
  before 100 TB, but shows up here as superlinear time first).

Every record comes out of one loop (smoke_record): a family supplies
a runner and a verdict; the loop times the runner on both sides (1×
and K×, or uniform and hot), suffixes its fields with the side, and
judges the record.  Where a registered plan exists the runner executes
it: pipeline rows and the four STREAM_TWINS run their REGISTRY query,
multimodal rows the multimodal.py builders the mm_* queries cap.
Runners with no registered twin, and why:
- graph:* — the registered ops read fenced, SF-invariant fixtures, so
  the smoke replicates their edge lists and drives graph.py's cores;
- stream:session_window — stream_session_window is a batch query;
- stream:dedup_within — the registered within-watermark dedup drains
  in one batch, so it never evicts;
- stream:ingest_horizon — pipeline_stream_ingest cannot grow its log
  in time;
- fn:* — wide function projections, a probe, not a query;
- skew:* — a hot-key corpus and its uniform twin no query reads;
- vocab:* — a Heaps'-law corpus for the tfidf df-join flip.

A time_ratio wildly above K (for a K× corpus) is the smoke signal;
modest ratios are expected because local[32] overheads amortize.
Exit code is non-zero if any query fails or any ratio exceeds
--ratio-limit (default 3×K).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Operators whose cost is driven by documents/embeddings/events.
SMOKE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_incremental",
    "sim_cosine_topk",
    "sim_lsh_ann",
    "sim_ivf_ann",
    "sim_pq_ann",
    "text_stats",
    "text_bm25_search",
    "text_keyword_tfidf",
    "text_source_drift_jsd",
    "pipeline_training_data",
    "events_dau_wau_mau",
    "window_session_batch",
    "dedup_url_canonical",
    "mix_epoch_shuffle",
    "events_concurrency_sweep",
    "events_cohort_ltv",
    "stat_chi2_independence",
    "sim_semantic_dedup",
    "sim_range_search",
    "text_gopher_filter",
    "dedup_substring_spans",
    "split_dedup_cluster",
    "pit_feature_join",
]


#: Stateful-streaming smoke: these operators are guard-exempt
#: (GUARD_SKIP_REASONS["stream_"]) — their plans are not one batch DAG
#: — so replication smoke is their ONLY scale check.  Each runs the
#: real micro-batch engine on the 1× source and the K× corpus and
#: records, besides wall time, the peak state-store row count
#: (progress stateOperators numRowsTotal): state must track KEYS
#: (sessions / ids / in-horizon join rows / event types), never input
#: history — the property that bounds an unbounded 100 TB/day stream.
STREAM_SMOKE = ["session_window", "dedup_ids", "dedup_within",
                "stream_stream_join", "attribution_outer", "cusum",
                "ingest_horizon"]

#: Stream rows that run a registered drain: smoke name → registered query.
STREAM_TWINS = {
    "dedup_ids": "stream_dedup_ids",
    "stream_stream_join": "stream_click_attribution",
    "attribution_outer": "stream_click_attribution_outer",
    "cusum": "stream_cusum_stateful",
}


#: Graph-family smoke: the iterative operators are exempt from the
#: three registry-wide plan guards (GUARD_SKIP_PREFIXES) and their
#: fixtures are FENCED (SF-invariant node blocks), so corpus
#: replication never exercises them.  Instead we replicate the derived
#: EDGE LISTS K× as disjoint copies (node ids offset / prefixed per
#: copy) and drive the factored algorithm cores — per-copy component
#: size stays constant, so total work must grow ~K, never ~K².
GRAPH_SMOKE = ["scc", "kcore", "adamic_adar", "sssp", "triangle"]


def _offset_copies(df, scale, steps):
    """K disjoint integer-id copies: each col in ``steps`` is offset by
    k*step in copy k (copy 0 unchanged)."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [
        df.select(*[
            (F.col(c) + k * steps[c]).alias(c) if c in steps else F.col(c)
            for c in df.columns
        ])
        for k in range(scale)
    ]
    return reduce(lambda a, b: a.union(b), parts)


def _prefix_copies(df, scale, cols):
    """K disjoint string-id copies: each col in ``cols`` gains a
    per-copy prefix x{k}| (applied to copy 0 too, so the 1x baseline
    built with scale=1 pays the identical concat)."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [
        df.select(*[
            F.concat(F.lit(f"x{k}|"), F.col(c)).alias(c) if c in cols
            else F.col(c)
            for c in df.columns
        ])
        for k in range(scale)
    ]
    return reduce(lambda a, b: a.union(b), parts)


def graph_smoke(spark, src):
    """{name: runner(k)} over the factored graph cores on k-fold
    replicated edge lists; runners return {rows}."""
    from pyspark.sql import functions as F

    from splitserve_spark.operators import graph as G

    def scc(k):
        fwd = G._md5_block_edges(spark, src, "scc", G.SCC_N)
        rep = _offset_copies(fwd, k, {"src": G.SCC_N, "dst": G.SCC_N})
        reach = rep.union(
            rep.select(F.col("src"), F.col("src").alias("dst"))
        ).distinct()
        return G._scc_core(reach)

    def kcore(k):
        base = G._symmetrize(G._md5_block_edges(spark, src, "kcore", G.KCORE_N))
        return G._kcore_core(
            _offset_copies(base, k, {"src": G.KCORE_N, "dst": G.KCORE_N})
        )

    def adamic_adar(k):
        base = G._symmetrize(G._md5_block_edges(spark, src, "aa", G.AA_N))
        # localCheckpoint mirrors the registered op's persist of the
        # 4-consumer edge list (run_cache contract) without leaking a
        # tracked cache entry out of the smoke.
        g = _offset_copies(base, k, {"src": G.AA_N, "dst": G.AA_N}).localCheckpoint()
        scored = G._aa_scored(g)
        return scored.join(
            g, (scored.u == g.src) & (scored.w == g.dst), "left_anti"
        )

    def sssp(k):
        sym = G._sssp_sym_edges(spark, src)
        seeds = G._sssp_seeds(sym)
        # The registered op persists sym (it feeds every relaxation
        # round); mirror that here, else each of the 5 rounds re-derives
        # the k-branch union from parquet and the smoke measures scan
        # replay, not the algorithm.
        rep = _prefix_copies(sym, k, ["a", "b"]).localCheckpoint()
        return G._sssp_core(rep, _prefix_copies(seeds, k, ["node"]))

    def triangle(k):
        os_ = G._co_membership_pairs(spark, src)
        hi = os_.agg(
            F.max("ok").alias("mok"), F.max("s").alias("ms")
        ).first()
        return G._triangle_core(
            spark,
            _offset_copies(os_, k, {"ok": hi["mok"] + 1, "s": hi["ms"] + 1}),
        )

    builders = {
        "scc": scc, "kcore": kcore, "adamic_adar": adamic_adar,
        "sssp": sssp, "triangle": triangle,
    }
    return {
        name: (lambda k, b=b: {"rows": b(k).count()})
        for name, b in builders.items()
    }


def _drain_to_memory(spark, df, mode, tag):
    """Drain ``df`` (availableNow) into memory table ``tag``; return
    (sink rows, peak state-store rows)."""
    from splitserve_spark.streaming.drain import drain
    from splitserve_spark.streaming.progress import drain_events, state_peak

    _, events = drain_events(
        spark,
        lambda: drain(spark, df.writeStream.format("memory")
                      .outputMode(mode).queryName(tag)),
    )
    return spark.table(tag).count(), state_peak(events)


def stream_twin(spark, name, sf_dir):
    """Run the registered drain ``STREAM_TWINS[name]`` over ``sf_dir``
    and return {rows, state, keys, inputs}: the rows its sink received
    and its peak state-store rows (both from its progress events), the
    batch-computed key count the state is supposed to track, and the
    input event count."""
    from pyspark.sql import functions as F

    from splitserve_spark.registry import REGISTRY
    from splitserve_spark.streaming.progress import drain_events, state_peak
    from splitserve_spark.streaming.stateful import ATTRIB_GAP
    from splitserve_spark.tables import normalize_event_ts

    _, events = drain_events(
        spark, lambda: REGISTRY[STREAM_TWINS[name]].fn(spark, sf_dir)
    )
    rows = sum(e["sink"]["numOutputRows"] for e in events)
    ev = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    if name == "dedup_ids":
        keys = ev.select("event_id").distinct().count()
    elif name == "cusum":
        keys = ev.select("event_type").distinct().count()
    else:  # join state buffers in-horizon rows of both sides
        keys = ev.filter(F.col("event_type").isin("click", "purchase")).count()
    if name == "attribution_outer":
        # The heartbeat flush must hold at K×: sink rows EQUAL the
        # batch LEFT JOIN row count (every unmatched click's window
        # closed by the sentinel-advanced watermark), failing loudly if
        # the flush ever stops working at scale.
        cond = (
            (F.col("c_user") == F.col("b_user"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts")
               <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIB_GAP}"))
        )
        cb = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        bb = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("buy_ts"),
        )
        expect = cb.join(bb, cond, "left_outer").count()
        if rows != expect:
            raise AssertionError(
                f"outer flush incomplete at {sf_dir}: sink rows {rows} "
                f"!= batch left-join {expect}"
            )
        keys += 2  # the two heartbeat sentinels sit in join state too
    return {"rows": rows, "state": state_peak(events), "keys": keys,
            "inputs": ev.count()}


def streaming_smoke(spark, out, scale):
    """{name: runner(sf_dir)} over the stateful streaming operators.
    Each runner executes a REAL micro-batch query against the given
    events directory and returns {rows, state, keys, inputs}: sink
    rows, the peak state-store row count across all progress events,
    the batch-computed key count the state is supposed to track, and
    the input event count.  STREAM_TWINS rows run their registered
    drain (stream_twin); the three runners below have no registered
    twin.  The K× corpus replicates events with per-copy
    user_id/event_id offsets and identical ts/event_type, so keys grow
    exactly K× for user- and id-keyed state and stay CONSTANT for
    event_type-keyed state (CUSUM) — the sharpest form of the
    state-tracks-keys claim."""
    from pyspark.sql import functions as F

    from splitserve_spark.streaming.stateful import GAP, _events_stream

    run_tag = f"sm{os.getpid()}_{scale}"

    def session_window(sf_dir):
        tag = "ssw_" + run_tag + ("_k" if sf_dir == out else "_1")
        agg = (
            _events_stream(spark, sf_dir)
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", GAP), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        # Session-window streaming aggregations support append only;
        # sessions ending after (max_ts - watermark) stay open in state
        # and never reach the sink, so rows < keys here — the state
        # peak is the signal, the sink count is informational.
        rows, state = _drain_to_memory(spark, agg, "append", tag)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        keys = (  # batch twin: the true session count state must track
            ev.groupBy(F.session_window("ts", GAP), "user_id").count().count()
        )
        return {"rows": rows, "state": state, "keys": keys,
                "inputs": ev.count()}

    def dedup_within(sf_dir):
        """dropDuplicatesWithinWatermark (r10): unlike dedup_ids
        (plain dropDuplicates — state = ALL keys ever seen), state
        here must be bounded by the keys inside the watermark horizon:
        driven over the 5-file time-split fixture, each batch advances
        the watermark ~6 days past a 1-hour delay, so the previous
        split's keys evict and PEAK state ≈ the largest split, not the
        corpus.  The sharpest contrast row in this family: same K×
        keys, two APIs, one state curve flat vs one growing."""
        import glob

        from splitserve_spark.streaming import custom_state as C
        from splitserve_spark.tables import normalize_event_ts, raw_schema

        tag = "sdw_" + run_tag + ("_k" if sf_dir == out else "_1")
        src_dir = C._ordered_event_splits(spark, sf_dir)
        stream = normalize_event_ts(
            spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src_dir}/b*.parquet")
        ).select("event_id", "ts")
        ded = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        rows, state = _drain_to_memory(spark, ded, "append", tag)
        # The bound state must respect: the largest single split (all
        # of one batch's keys live until the next batch's watermark).
        keys = max(
            spark.read.parquet(f).count()
            for f in sorted(glob.glob(f"{src_dir}/b*.parquet"))
        )
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return {"rows": rows, "state": state, "keys": keys,
                "inputs": ev.count()}

    def ingest_horizon(sf_dir):
        """The registered pipeline_stream_ingest topology's bounded-
        state claim, measured on the axis the registered query cannot
        move: LOG LENGTH.  The registered query's Kafka-shaped log
        spans ~117 s — under its watermark horizon, so dedup state
        trivially holds every fingerprint.  Here the log grows K× in
        TIME (logSize × K) and the fingerprint space grows with it
        (fp_mod = 4×logSize — no trivial key cap), drained in rate-
        capped multi-batch mode so the watermark advances and evicts:
        peak state must respect the ANALYTIC in-horizon bound (max
        distinct fingerprints in any 2·delay + 2·batch-span window —
        see the bound computation below for why 2·delay),
        far below the log's total distinct count at K×."""
        import tempfile as _tf
        from collections import Counter

        from splitserve_spark.sources.kafka_shaped import (
            KQ_BASE,
            KQ_PARTS,
            KQ_SKEW,
            register_kafka_shaped,
        )
        from splitserve_spark.streaming.progress import (
            drain_events,
            state_peak,
        )

        register_kafka_shaped(spark)
        k = scale if sf_dir == out else 1
        logsize = KQ_BASE * k
        fp_mod = 4 * logsize
        delay_s = 120
        total = sum(logsize + p * KQ_SKEW for p in range(KQ_PARTS))
        cap = max(64, total // 12)
        tag = "sin_" + run_tag + ("_k" if sf_dir == out else "_1")
        raw = (
            spark.readStream.format("kafka_shaped")
            .option("topic", tag)
            .option("brokerDir", _tf.mkdtemp(prefix="kshape_smoke_"))
            .option("numPartitions", KQ_PARTS)
            .option("logSize", logsize)
            .option("logSkew", KQ_SKEW)
            .option("producePerPoll", cap)
            .option("maxOffsetsPerTrigger", cap)
            .option("startingOffsets", "earliest")
            .load()
        )
        val = F.col("value").cast("string")
        fp = (
            F.split(val, r"\|").getItem(2).cast("long") * 31
            + F.split(val, r"\|").getItem(1).cast("long")
        ) % fp_mod
        ded = (
            raw.select(F.col("timestamp").alias("ts"), fp.alias("fp"))
            .withWatermark("ts", f"{delay_s} seconds")
            .dropDuplicatesWithinWatermark(["fp"])
        )

        def drain():
            q = (
                ded.writeStream.format("memory")
                .queryName(tag)
                .outputMode("append")
                .trigger(processingTime="200 milliseconds")
                .start()
            )
            try:
                seen: dict[int, int] = {}  # batchId -> numInputRows
                drained_at = None
                deadline = time.time() + 300
                while time.time() < deadline:
                    for p in q.recentProgress:
                        bid = p["batchId"]
                        if bid not in seen:
                            seen[bid] = p["numInputRows"]
                    if sum(seen.values()) >= total:
                        # Drained; linger ~2 s for the trailing empty
                        # batch that finalizes the watermark, then stop.
                        drained_at = drained_at or time.time()
                        if time.time() - drained_at > 2:
                            break
                    time.sleep(0.3)
                else:
                    raise TimeoutError("ingest smoke did not drain the log")
            finally:
                q.stop()

        _, events = drain_events(spark, drain)
        state = state_peak(events)
        # Analytic in-horizon bound: the most distinct fingerprints
        # alive in any (2·delay + 2·per-partition batch span) window —
        # a WithinWatermark key lives until the watermark passes its
        # event time + delay, and the watermark itself lags one batch
        # AND sits delay behind the max event time, hence 2·delay.
        recs = sorted(
            (o, (o * 31 + p) % fp_mod)
            for p in range(KQ_PARTS)
            for o in range(logsize + p * KQ_SKEW)
        )
        win = 2 * delay_s + 2 * (cap // KQ_PARTS)
        alive: Counter = Counter()
        keys, lo = 0, 0
        for i, (o, f_) in enumerate(recs):
            alive[f_] += 1
            while recs[lo][0] < o - win:
                f0 = recs[lo][1]
                alive[f0] -= 1
                if not alive[f0]:
                    del alive[f0]
                lo += 1
            keys = max(keys, len(alive))
        return {"rows": spark.table(tag).count(), "state": state,
                "keys": keys, "inputs": total}

    twins = {
        name: (lambda sf_dir, name=name: stream_twin(spark, name, sf_dir))
        for name in STREAM_TWINS
    }
    return {
        "session_window": session_window,
        "dedup_within": dedup_within,
        "ingest_horizon": ingest_horizon,
        **twins,
    }


#: Multimodal smoke: the Arrow-kernel (mapInPandas) operators are the
#: only Arrow-heavy family with no K× evidence — their registered
#: queries CAP doc_id (oracle-size discipline), so the per-SF strict
#: runs never push corpus-scale bytes through the kernels.  This
#: family drives the SAME encode/decode/fan-out kernels uncapped over
#: the K× documents table and checks (a) wall stays ~K (Arrow batch
#: amortization holds under 1:N in-batch row expansion) and (b) the
#: transform pipeline keeps ZERO exchanges — scan → encode → kernel
#: must never grow a shuffle at any K.
#: Each row runs a multimodal.py builder uncapped; the value is the
#: registered query that applies the builder's doc_id cap.
MM_SMOKE = {
    "wav_features": "mm_decode_features",
    "frame_sample": "mm_frame_sample",
    "image_patches": "mm_image_patches",
    "audio_autocorr": "mm_audio_autocorr",
}


def _exchanges(df):
    """Exchange count in ``df``'s physical plan."""
    return df._jdf.queryExecution().executedPlan().toString().count(
        "Exchange"
    )


def mm_smoke(spark):
    """{name: runner(sf_dir)} over the multimodal builders, uncapped
    (every doc_id in the corpus synthesizes a payload — the kernels are
    pure functions of doc_id, the registered ops' caps exist only to
    bound oracle output).  Runners return {rows, exchanges}: result
    rows and the Exchange count in the transform plan (pre-action),
    which must stay 0."""
    from splitserve_spark.operators import multimodal as M

    def runner(name, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = getattr(M, name)(docs.select("doc_id"))
        return {"exchanges": _exchanges(df), "rows": df.count()}

    return {
        name: (lambda sf_dir, name=name: runner(name, sf_dir))
        for name in MM_SMOKE
    }


#: Scalar-function replication smoke (r10 verdict task 6 — the last
#: family with no K× evidence): the widest string / datetime / JSON
#: projections driven over the replicated corpus.  They are narrow
#: JVM projections, so the contract is strict: the SAME exchange count
#: at 1× and K× (one single-partition exchange for the consuming
#: global aggregate — growth would mean an expression started
#: shuffling) and ~linear wall.  Every computed column is consumed
#: through xxhash64 into the aggregate — a bare count() would let
#: Catalyst prune the functions and time parquet metadata instead.
FN_SMOKE = ["strings_wide", "datetime_wide", "json_wide"]


def functions_smoke(spark):
    """{name: runner(sf_dir)}; runners return {rows, exchanges} for a
    wide function projection reduced to one hash-checksum row."""
    from pyspark.sql import functions as F

    from splitserve_spark.tables import Tables

    def strings_wide(sf_dir):
        t = F.col("text")
        cols = [
            F.upper(t), F.lower(t), F.length(t), F.substring(t, 5, 20),
            F.trim(t), F.lpad("lang", 8, "*"), F.reverse(t),
            F.translate(t, "aeiou", "AEIOU"),
            F.regexp_extract(t, r"(\w+)\s+(\w+)", 2),
            F.regexp_replace(t, r"\d+", "#"),
            F.md5(t), F.sha2(t, 256),
            F.levenshtein(F.substring(t, 1, 8), F.lit("sampletx")),
            F.split(t, " ").getItem(3),
            F.initcap(F.substring(t, 1, 30)),
            F.soundex("source"),
            F.format_string("%s|%s", "lang", "source"),
            F.encode(F.substring(t, 1, 16), "utf-8"),
        ]
        return (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.xxhash64(*cols).alias("h"))
            .agg(F.count("*").alias("rows_"), F.sum("h").alias("checksum"))
        )

    def datetime_wide(sf_dir):
        ts = F.col("ts")
        d = F.to_date(ts)
        cols = [
            F.year(ts), F.month(ts), F.dayofmonth(ts), F.hour(ts),
            F.minute(ts), F.second(ts), F.dayofweek(ts), F.dayofyear(ts),
            F.weekofyear(ts), F.quarter(ts), F.date_trunc("hour", ts),
            d, F.date_format(ts, "yyyy-MM-dd HH:mm"),
            F.unix_timestamp(ts), F.date_add(d, 30), F.add_months(d, 2),
            F.months_between(d, F.lit("2024-01-01").cast("date")),
            F.next_day(d, "Mon"), F.last_day(d),
            F.datediff(d, F.lit("2024-01-01").cast("date")),
        ]
        return (
            Tables(spark, sf_dir).events
            .select(F.xxhash64(*cols).alias("h"))
            .agg(F.count("*").alias("rows_"), F.sum("h").alias("checksum"))
        )

    def json_wide(sf_dir):
        p = F.col("props")
        cols = [
            F.get_json_object(p, "$.k"),
            F.from_json(p, "k INT").getField("k"),
            F.to_json(F.from_json(p, "k INT")),
            F.json_object_keys(p),
            F.length(p),
            F.schema_of_json(F.lit('{"k": 1}')),
        ]
        return (
            Tables(spark, sf_dir).events
            .select(F.xxhash64(*cols).alias("h"))
            .agg(F.count("*").alias("rows_"), F.sum("h").alias("checksum"))
        )

    builders = {"strings_wide": strings_wide,
                "datetime_wide": datetime_wide,
                "json_wide": json_wide}

    def runner(build, sf_dir):
        df = build(sf_dir)
        (row,) = df.collect()
        return {"rows": int(row["rows_"]), "exchanges": _exchanges(df)}

    return {
        name: (lambda sf_dir, b=b: runner(b, sf_dir))
        for name, b in builders.items()
    }


#: Hot-key smoke: a corpus where ONE user owns 50% of events — the
#: shape the uniform replication smoke can never produce.  Checks that
#: (a) AQE's skew-join split actually engages on the hot shuffle
#: partition of a fact-side join (OptimizeSkewedJoin marks the join
#: skew=true in the final adaptive plan), (b) two-phase hash
#: aggregation neutralizes the hot key map-side (wall parity with the
#: uniform twin), and (c) the per-user window family's honest limit is
#: measured: a gap-sessionization window serializes the hot user
#: through one task by SEMANTICS, which no engine mechanism splits.
SKEW_SMOKE = ["join_user_rollup", "join_user_rollup_broadcast",
              "agg_user_totals", "window_sessionize",
              "window_sessionize_hotsafe"]


def build_skew_corpus(src: str, out: str, scale: int) -> None:
    """events replicated scale× where HALF the copies reassign every
    row to user 1 (one user owns 50% of all events) and half keep
    per-copy-offset users; event ids stay globally unique.  A uniform
    twin of identical size (all copies offset) lands alongside, so
    skew cost is measured against equal-volume uniform data."""
    import duckdb

    # scale < 2 builds NO hot copies (k < scale//2 never holds) and an
    # odd scale under-delivers the advertised 50% share — either way
    # the skew gate downstream would report a phantom engine
    # regression, so fail the precondition loudly here instead.
    if scale < 2 or scale % 2:
        raise ValueError(
            f"skew corpus needs an even scale >= 2 (got {scale}): "
            "half the copies reassign to the hot user"
        )
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    src_file = f"{src}/events.parquet"
    n = con.execute(
        f"SELECT max(event_id) + 1 FROM '{src_file}'"
    ).fetchone()[0]
    hot, uni = [], []
    for k in range(scale):
        off = k * n
        user = "1" if k < scale // 2 else f"user_id + {off}"
        hot.append(
            f"SELECT event_id + {off} AS event_id, ts, {user} AS user_id,"
            f" event_type, value, props FROM '{src_file}'"
        )
        uni.append(
            f"SELECT event_id + {off} AS event_id, ts,"
            f" user_id + {off} AS user_id,"
            f" event_type, value, props FROM '{src_file}'"
        )
    for name, sels in (("events_hot", hot), ("events_uniform", uni)):
        con.execute(
            f"COPY ({' UNION ALL '.join(sels)}) TO "
            f"'{out}/{name}.parquet' (FORMAT PARQUET)"
        )


def skew_smoke(spark, skew_dir):
    """{name: runner(variant)}; variant is 'uniform' or 'hot'.  Runners
    return {rows, skew_split, bhj}, the flags read off the FINAL
    adaptive physical plan (post-execution), where OptimizeSkewedJoin's
    skew=true marker is visible."""
    from pyspark.sql import functions as F

    def _events(variant):
        return spark.read.parquet(f"{skew_dir}/events_{variant}.parquet")

    def _final_plan(df):
        # Execute df's OWN QueryExecution (count() would clone a new
        # one and leave this plan isFinalPlan=false), then read the
        # finalized adaptive plan.  Every skew runner reduces to a
        # tiny summary first, so the collect is driver-safe.
        rows = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return rows, {"skew_split": "skew=true" in plan,
                      "bhj": "BroadcastHashJoin" in plan}

    def join_user_rollup(variant):
        """Fact-side shuffle join keyed on the hot column: events ⋈
        per-user rollup.  At 100 TB both sides are big and the planner
        picks a shuffle join; locally the rollup (≤|users| rows) would
        broadcast — which IS the production skew mitigation, but would
        leave the skew-split path untested — so the smoke pins the
        SHUFFLE path (broadcast off) with thresholds scaled to the
        corpus (256 KiB advisory / 1 MiB skew threshold vs the 256 MiB
        production default: same factor-5 median rule, test-sized
        bytes)."""
        ev = _events(variant)
        # Materialize the rollup (a production dim is a stored table).
        # This also matters mechanically: OptimizeSkewedJoin only
        # rewrites an SMJ whose children are bare shuffle(+sort)
        # stages — an aggregate between the build side's shuffle and
        # the join disqualifies the split (the partial partition could
        # not be re-aggregated), so an inline groupBy here would mask
        # the mechanism this smoke exists to exercise.
        rollup_path = f"{skew_dir}/rollup_{variant}.parquet"
        if not os.path.exists(rollup_path):
            ev.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("user_events"),
            ).write.parquet(rollup_path)
        rollup = spark.read.parquet(rollup_path)
        old = {
            "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"
            ),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes":
                spark.conf.get(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes"
                ),
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                spark.conf.get(
                    "spark.sql.adaptive.skewJoin."
                    "skewedPartitionThresholdInBytes"
                ),
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k"
            )
            spark.conf.set(
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes", "1m"
            )
            joined = (
                ev.join(rollup, "user_id")
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("user_events").alias("weight"),
                )
            )
            rows, flags = _final_plan(joined)
            return {"rows": len(rows), **flags}
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)

    def join_user_rollup_broadcast(variant):
        """The FIRST-LINE production mitigation for the same hot join:
        broadcast the per-user rollup, so the fact side never shuffles
        on the hot key — there is no shuffle partition to skew, hence
        no skew split to need.  Valid whenever the dim fits in executor
        memory (a per-user rollup usually does; when it doesn't, the
        shuffle path + AQE split of join_user_rollup is the fallback).
        The smoke asserts the broadcast plan holds hot/uniform wall
        parity with ZERO OptimizeSkewedJoin involvement — measuring
        both mitigations, not just the split."""
        ev = _events(variant)
        rollup = spark.read.parquet(f"{skew_dir}/rollup_{variant}.parquet")
        joined = (
            ev.join(F.broadcast(rollup), "user_id")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("user_events").alias("weight"),
            )
        )
        rows, flags = _final_plan(joined)
        return {"rows": len(rows), **flags}

    def agg_user_totals(variant):
        ev = _events(variant)
        agg = (
            ev.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
            )
            .agg(F.count(F.lit(1)).alias("n_users"))  # tiny driver result
        )
        rows, flags = _final_plan(agg)
        return {"rows": rows[0][0], **flags}

    def window_sessionize(variant):
        from pyspark.sql.window import Window

        from splitserve_spark.tables import normalize_event_ts

        from splitserve_spark.streaming.stateful import _GAP_US

        ev = normalize_event_ts(_events(variant))
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # Microsecond gap arithmetic, exactly as the registered
        # operators and _hot_safe_sessions compute it — a cast('long')
        # second-diff would disagree with the hotsafe twin on
        # sub-second timestamps (r10 ADVICE).
        gap = (
            F.when(
                F.timestamp_diff(
                    "MICROSECOND", F.lag("ts").over(w), F.col("ts")
                ) > _GAP_US, 1
            ).otherwise(0)
        )
        sess = (
            ev.withColumn("new_s", F.coalesce(gap, F.lit(1)))
            .withColumn("sid", F.sum("new_s").over(w))
            .groupBy("user_id", "sid")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .agg(F.count(F.lit(1)).alias("n_sessions"))
        )
        rows, flags = _final_plan(sess)
        return {"rows": rows[0][0], **flags}

    def window_sessionize_hotsafe(variant):
        """The split-and-stitch mitigation for the hot-user window:
        same sessions as window_sessionize (the per-session aggregate
        is identical), but the per-event windows partition by
        (user, day) so the hot user fans out over #days tasks."""
        from splitserve_spark.streaming.stateful import (
            _hot_safe_sessions,
        )
        from splitserve_spark.tables import normalize_event_ts

        ev = normalize_event_ts(_events(variant)).select(
            "user_id", "ts", "event_id", "value"
        )
        sess = _hot_safe_sessions(ev).agg(
            F.count(F.lit(1)).alias("n_sessions")
        )
        rows, flags = _final_plan(sess)
        return {"rows": rows[0][0], **flags}

    builders = {
        "join_user_rollup": join_user_rollup,
        "join_user_rollup_broadcast": join_user_rollup_broadcast,
        "agg_user_totals": agg_user_totals,
        "window_sessionize": window_sessionize,
        "window_sessionize_hotsafe": window_sessionize_hotsafe,
    }
    return builders


def _stream_state_verdict(name, rec, scale):
    """The state-tracks-keys contract, per operator: peak state is
    bounded by the key count at BOTH scales (small slack for the agg
    operator's own rows / in-flight duplicates), and for the
    event_type-keyed CUSUM the state must not grow with K at all."""
    s1, sk = rec["state_1x"], rec[f"state_{scale}x"]
    k1, kk = rec["keys_1x"], rec[f"keys_{scale}x"]
    if name == "cusum":
        return sk == s1 == k1 == kk
    if name == "dedup_within":
        # Horizon-bounded dedup: peak state respects the largest
        # split's key count (keys here = max split size, NOT total
        # ids) and stays well under the corpus total — the property
        # that distinguishes WithinWatermark from plain dropDuplicates.
        slack = 1.15
        return (
            s1 <= k1 * slack + 16
            and sk <= kk * slack + 16
            and sk < rec[f"inputs_{scale}x"] / 2
        )
    if name == "ingest_horizon":
        # The ingest topology's dedup state must respect the ANALYTIC
        # in-horizon fingerprint bound at both scales, and at K× —
        # when the log's time span dwarfs the horizon — stay far under
        # the log's record count (eviction must actually bite).
        slack = 1.15
        return (
            s1 <= k1 * slack + 16
            and sk <= kk * slack + 16
            and sk < rec[f"inputs_{scale}x"] / 3
        )
    slack = 1.05
    return s1 <= k1 * slack + 2 and sk <= kk * slack + 2


def _skew_verdict(name, rec):
    """The hot-key contract per operator; time_ratio is hot over
    uniform wall."""
    if name == "join_user_rollup" and not rec["skew_split_hot"]:
        return "SKEW_SPLIT_DID_NOT_ENGAGE"
    # The broadcast twin must take the broadcast plan (its whole point
    # is removing the skewable shuffle), and — gated below with the
    # others — hold wall parity.
    if name == "join_user_rollup_broadcast" and not (
        rec["bhj_hot"] and rec["bhj_uniform"]
    ):
        return "BROADCAST_DID_NOT_ENGAGE"
    if name == "join_user_rollup_broadcast" and (
        rec["skew_split_hot"] or rec["skew_split_uniform"]
    ):
        return "BROADCAST_PLAN_STILL_SKEW_SPLIT"
    # A hot key costing >4x its equal-volume uniform twin means the hot
    # partition serialized the stage; the sessionization window is
    # EXPECTED to degrade (no engine mechanism splits a semantic
    # per-key window) — it reports, the other two gate.
    if name != "window_sessionize" and rec["time_ratio"] > 4.0:
        return "HOT_KEY_SERIALIZED"
    return "ok"


REL_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
]


#: Vocabulary-growth (Heaps'-law) probe for the text-IR family — the
#: r10 curve's own caveat: replication holds the vocabulary constant,
#: so the df side of `_score_tfidf`'s UNHINTED join (text.py:693 —
#: "unbounded vocab at scale; planner/AQE picks the join") never grows
#: and the one join whose plan must CHANGE with data is never
#: exercised.  This family synthesizes corpora whose distinct-token
#: count grows ~ n^0.5 (|V| = ceil(sqrt(total tokens)); uniform
#: frequencies — it is the join-side CARDINALITY that drives the plan,
#: not the frequency shape) and asserts the broadcast→shuffle flip is
#: graceful: identical values on both sides of it, bounded wall growth.
VOCAB_DOC_LEN = 40
#: Fixed autoBroadcastJoinThreshold for the flip observation, sized so
#: the smallest vocab point broadcasts and the largest shuffles on
#: local test corpora.  At the production default (10 MiB) the same
#: flip happens near |V| ≈ 3×10^5 (≈ 10^11 tokens under Heaps β=0.5);
#: scaling the threshold down moves the crossing into test range
#: without changing the mechanism (AQE's measured-size decision).
VOCAB_FLIP_THRESHOLD = "32768"  # 32 KiB: V=448 measures ~28 KiB → under


def build_vocab_corpus(src: str, out: str, scale: int) -> None:
    """Synthesize documents with Heaps'-law vocabulary: D·scale docs of
    VOCAB_DOC_LEN tokens each, token(doc, i) = 't' || ((doc·L + i) mod
    V) with V = ceil(sqrt(total tokens)) — consecutive positions cover
    every residue, so distinct-token count is exactly V.  D comes from
    the source SF's documents table so 1× matches its size."""
    import math

    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    d0 = con.execute(
        f"SELECT count(*) FROM '{src}/documents.parquet'"
    ).fetchone()[0]
    n_docs = d0 * scale
    vocab = math.ceil(math.sqrt(n_docs * VOCAB_DOC_LEN))
    con.execute(f"""
        COPY (
          SELECT r.range AS doc_id,
                 array_to_string(
                   list_transform(
                     range({VOCAB_DOC_LEN}),
                     i -> 't' || ((r.range * {VOCAB_DOC_LEN} + i) % {vocab})
                   ), ' ') AS text
          FROM range(0, {n_docs}) r
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
    """)


def vocab_probe(spark, sf_dir):
    """One vocab point: postings cost, df-join plan choice at the fixed
    flip threshold, and the same summary under a FORCED shuffle join
    (the post-flip world) — values must agree across strategies."""
    from pyspark.sql import functions as F

    from splitserve_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        "doc_id", F.explode(T._words(F.col("text"))).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))

    def scored_summary():
        df_tab = tf.groupBy("w").agg(F.count("*").alias("df"))
        n_docs = docs.agg(F.count("*").alias("n_docs"))
        scored = T._score_tfidf(tf, df_tab, n_docs)
        # Checksum must be EXACTLY equal across the broadcast and
        # shuffle plans, so it cannot be a float sum (partial-sum
        # order differs between the two plans; over 12.8M doubles the
        # last-ulp drift can cross a rounding boundary).  Per-row
        # rounding to integer micro-units is plan-independent and the
        # long sum is associative — bit-equal by construction when the
        # values are.
        return scored.agg(
            F.count("*").alias("n_scored"),
            F.sum(F.round(F.col("raw") * 1_000_000).cast("long"))
            .alias("checksum"),
        )

    def join_kind(plan):
        # The n_docs attach is a hint-broadcast nested loop; the df
        # join is the plan's single equi-join — classify by its node.
        if "SortMergeJoin" in plan or "ShuffledHashJoin" in plan:
            return "shuffle"
        if "BroadcastHashJoin" in plan:
            return "broadcast"
        return "unknown"

    rec = {"n_docs": docs.count(),
           "vocab": words.select("w").distinct().count()}
    t0 = time.time()
    rec["postings_rows"] = tf.count()
    rec["sec_postings"] = round(time.time() - t0, 3)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", VOCAB_FLIP_THRESHOLD
        )
        s = scored_summary()
        t0 = time.time()
        (row,) = s.collect()
        rec["sec_natural"] = round(time.time() - t0, 3)
        rec["checksum_natural"] = [row["n_scored"], int(row["checksum"])]
        rec["df_join"] = join_kind(
            s._jdf.queryExecution().executedPlan().toString()
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s2 = scored_summary()
        t0 = time.time()
        (row2,) = s2.collect()
        rec["sec_forced_shuffle"] = round(time.time() - t0, 3)
        rec["checksum_shuffle"] = [row2["n_scored"], int(row2["checksum"])]
        rec["df_join_forced"] = join_kind(
            s2._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return rec


def _vocab_verdict(rec):
    """One vocab point: identical values across the broadcast and the
    forced-shuffle df join, and the forced plan really shuffles."""
    if rec["checksum_natural"] != rec["checksum_shuffle"]:
        return "FLIP_CHANGED_VALUES"
    if rec["df_join_forced"] != "shuffle":
        return "FORCED_SHUFFLE_NOT_SHUFFLE"
    return "ok"


def build_corpus(src: str, out: str, scale: int) -> None:
    """Replicate documents/embeddings/events scale× with offset ids
    (text/embedding/event payloads byte-identical per copy); symlink
    the relational tables."""
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    reps = {
        "documents": ("doc_id", "text, lang, source, n_chars"),
        "embeddings": ("vec_id", "embedding, label"),
        "events": ("event_id", "ts, user_id + {off} AS user_id, "
                                "event_type, value, props"),
    }
    for table, (idcol, rest) in reps.items():
        src_file = f"{src}/{table}.parquet"
        n = con.execute(
            f"SELECT max({idcol}) + 1 FROM '{src_file}'"
        ).fetchone()[0]
        selects = []
        for k in range(scale):
            off = k * n
            cols = rest.format(off=off)
            selects.append(
                f"SELECT {idcol} + {off} AS {idcol}, {cols} "
                f"FROM '{src_file}'"
            )
        con.execute(
            f"COPY ({' UNION ALL '.join(selects)}) TO "
            f"'{out}/{table}.parquet' (FORMAT PARQUET)"
        )
    for table in REL_TABLES:
        dst = f"{out}/{table}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{src}/{table}.parquet", dst)


def smoke_record(label, run, sides, verdict):
    """Print and return one smoke record.  For each ``(tag, arg)`` in
    ``sides`` it times ``run(arg)`` and stores its wall time and every
    field it returns suffixed ``_tag`` (unsuffixed for the empty tag).
    Two sides add ``time_ratio`` (second over first; ``state_ratio``
    too when the runner reports state), then ``verdict(rec)`` judges
    the record.  A raising runner or verdict becomes ``error``."""
    rec = {"query": label}
    try:
        for tag, arg in sides:
            sfx = f"_{tag}" if tag else ""
            t0 = time.time()
            res = run(arg)
            rec["sec" + sfx] = round(time.time() - t0, 3)
            rec.update((k + sfx, v) for k, v in res.items())
        if len(sides) == 2:
            a, b = (tag for tag, _ in sides)
            rec["time_ratio"] = round(
                rec[f"sec_{b}"] / max(rec[f"sec_{a}"], 1e-9), 2
            )
            if f"state_{a}" in rec:
                rec["state_ratio"] = round(
                    rec[f"state_{b}"] / max(rec[f"state_{a}"], 1), 2
                )
        rec["verdict"] = verdict(rec)
    except Exception as exc:  # noqa: BLE001 — report, keep smoking
        rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
    print(json.dumps(rec), flush=True)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=8)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--ratio-limit", type=float, default=None,
                    help="fail if sec_Kx/sec_1x exceeds this (default 3*scale)")
    ap.add_argument("--only", default=None,
                    help="comma-separated record names (the part after "
                         "the family prefix, e.g. dedup_exact, scc, "
                         "dedup_ids, wav_features); every other member "
                         "of every family is skipped.  The vocab probe "
                         "has no named members and ignores it")
    ap.add_argument("--family",
                    choices=["pipeline", "graph", "streaming", "skew",
                             "multimodal", "vocab", "functions", "all"],
                    default="all")
    args = ap.parse_args()
    scale = args.scale
    ratio_limit = args.ratio_limit or 3.0 * scale

    members = {
        "graph": GRAPH_SMOKE,
        "streaming": STREAM_SMOKE,
        "functions": FN_SMOKE,
        "multimodal": list(MM_SMOKE),
        "skew": SKEW_SMOKE,
        "pipeline": SMOKE_QUERIES,
    }
    wanted = set(args.only.split(",")) if args.only else None
    if wanted:
        unknown = wanted - {n for names in members.values() for n in names}
        if unknown:
            print(f"error: unknown --only names: {sorted(unknown)}",
                  file=sys.stderr)
            return 2
    chosen = {
        family: [n for n in names if wanted is None or n in wanted]
        for family, names in members.items()
        if args.family in (family, "all")
    }

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(repo, "tmp_scale", f"x{scale}")
    if any(chosen.get(f)
           for f in ("pipeline", "streaming", "multimodal", "functions")):
        if os.path.isdir(out):
            shutil.rmtree(out)
        build_corpus(args.src, out, scale)
        if chosen.get("streaming"):
            # The CUSUM splits fixture memoizes per sf_dir tag; the K×
            # corpus was just rebuilt, so drop any stale splits for it.
            import tempfile

            from splitserve_spark.tables import sfdir_tag
            tag = sfdir_tag(out)
            shutil.rmtree(
                os.path.join(tempfile.gettempdir(),
                             "splitserve_spark_stream", f"cusum_{tag}"),
                ignore_errors=True,
            )
            # (The outer-attribution heartbeat staging needs no sweep
            # here: its _READY marker is keyed on the source file's
            # mtime/size and restages itself when the corpus is
            # rebuilt.)

    from splitserve_spark.registry import REGISTRY, load_all
    from splitserve_spark.session import get_session

    load_all()
    spark = get_session()
    kx = [("1x", args.src), (f"{scale}x", out)]

    def linear(rec):
        return "SUPERLINEAR" if rec["time_ratio"] > ratio_limit else "ok"

    def stream_verdict(name):
        return lambda rec: (
            linear(rec) if _stream_state_verdict(name, rec, scale)
            else "STATE_NOT_KEY_BOUND"
        )

    def fn_verdict(rec):
        if (rec[f"exchanges_{scale}x"] != rec["exchanges_1x"]
                or rec["exchanges_1x"] != 2):
            # Exactly 2 = partial + final of the consuming aggregate;
            # anything else means an expression started shuffling
            # (even uniformly at both scales).
            return "PROJECTION_GREW_A_SHUFFLE"
        if rec[f"rows_{scale}x"] != scale * rec["rows_1x"]:
            return "ROWS_NOT_KX"
        return linear(rec)

    def mm_verdict(rec):
        if rec[f"exchanges_{scale}x"] or rec["exchanges_1x"]:
            return "KERNEL_PIPELINE_GREW_A_SHUFFLE"
        return linear(rec)

    def jobs():
        """(label, runner, sides, verdict) per record, in run order."""
        if chosen.get("graph"):
            runners = graph_smoke(spark, args.src)
            for name in chosen["graph"]:
                yield (f"graph:{name}", runners[name],
                       [("1x", 1), (f"{scale}x", scale)], linear)
        if chosen.get("streaming"):
            runners = streaming_smoke(spark, out, scale)
            for name in chosen["streaming"]:
                yield (f"stream:{name}", runners[name], kx,
                       stream_verdict(name))
        if chosen.get("functions"):
            runners = functions_smoke(spark)
            for name in chosen["functions"]:
                yield f"fn:{name}", runners[name], kx, fn_verdict
        if args.family == "vocab":  # Heaps'-law df-join probe, not in "all"
            points = sorted({1, max(2, scale // 4), scale})
            joins = {}

            def probe(k, vout):
                rec = {"scale": k, **vocab_probe(spark, vout)}
                joins[k] = rec["df_join"]
                return rec

            for k in points:
                vout = os.path.join(repo, "tmp_scale", f"vocab{k}")
                if os.path.isdir(vout):
                    shutil.rmtree(vout)
                build_vocab_corpus(args.src, vout, k)
                yield (f"vocab:{k}x", (lambda d, k=k: probe(k, d)),
                       [("", vout)], _vocab_verdict)
            yield (
                "vocab:flip",
                lambda _: {"joins": [joins.get(k) for k in points],
                           "points": points},
                [("", None)],
                lambda rec: "ok" if rec["joins"][0] == "broadcast"
                and rec["joins"][-1] == "shuffle" else "NO_FLIP_OBSERVED",
            )
        if chosen.get("multimodal"):
            runners = mm_smoke(spark)
            for name in chosen["multimodal"]:
                yield f"mm:{name}", runners[name], kx, mm_verdict
        if chosen.get("skew"):
            skew_dir = os.path.join(repo, "tmp_scale", f"skew{scale}")
            if os.path.isdir(skew_dir):
                shutil.rmtree(skew_dir)
            build_skew_corpus(args.src, skew_dir, scale)
            # Warmup outside the timed window: scan both variants (JVM
            # codegen, file-index) and pre-materialize the join rollups
            # so the first timed runner doesn't absorb one-time setup.
            from pyspark.sql import functions as _F
            for variant in ("uniform", "hot"):
                ev = spark.read.parquet(
                    f"{skew_dir}/events_{variant}.parquet"
                )
                ev.count()
                ev.groupBy("user_id").agg(
                    _F.count(_F.lit(1)).alias("user_events")
                ).write.parquet(f"{skew_dir}/rollup_{variant}.parquet")
            runners = skew_smoke(spark, skew_dir)
            for name in chosen["skew"]:
                yield (f"skew:{name}", runners[name],
                       [("uniform", "uniform"), ("hot", "hot")],
                       lambda rec, name=name: _skew_verdict(name, rec))
        for name in chosen.get("pipeline", []):
            spec = REGISTRY[name]
            yield (name,
                   lambda sf_dir, spec=spec: {
                       "rows": spec.fn(spark, sf_dir).count()},
                   kx, linear)

    records = [smoke_record(*job) for job in jobs()]
    failures = [r["query"] for r in records if r.get("verdict") != "ok"]
    print(json.dumps({
        "scale": scale,
        "queries": len(records),
        "failed": failures,
    }), flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
