#!/usr/bin/env python
"""Scale-up smoke: drive the heavy LLM-pipeline operators on a K×
replicated corpus and record wall time + output growth.

    python tools/scale_smoke.py [--scale 8] [--src /root/testdata/sf0.1]

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
#: (lastProgress stateOperators numRowsTotal): state must track KEYS
#: (sessions / ids / in-horizon join rows / event types), never input
#: history — the property that bounds an unbounded 100 TB/day stream.
STREAM_SMOKE = ["session_window", "dedup_ids", "dedup_within",
                "stream_stream_join", "attribution_outer", "cusum",
                "ingest_horizon"]


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


def graph_smoke(spark, src, scale):
    """Yield (name, runner_1x, runner_Kx) triples over the factored
    graph cores on replicated edge lists."""
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
    for name in GRAPH_SMOKE:
        b = builders[name]
        yield name, (lambda b=b: b(1)), (lambda b=b, k=scale: b(k))


def streaming_smoke(spark, src, out, scale):
    """Yield (name, runner(sf_dir)) pairs over the stateful streaming
    operators.  Each runner executes a REAL micro-batch query
    (availableNow) against the given events directory and returns
    {rows, state, keys}: sink rows, the peak state-store row count
    across all progress events, and the batch-computed key count the
    state is supposed to track.  The K× corpus replicates events with
    per-copy user_id/event_id offsets and identical ts/event_type, so
    keys grow exactly K× for user- and id-keyed state and stay CONSTANT
    for event_type-keyed state (CUSUM) — the sharpest form of the
    state-tracks-keys claim."""
    from pyspark.sql import functions as F

    from splitserve_spark.streaming.stateful import GAP, _events_stream

    run_tag = f"sm{os.getpid()}_{scale}"

    def drive(writer, name):
        q = writer.queryName(name).trigger(availableNow=True).start()
        q.awaitTermination()
        state = 0
        for p in q.recentProgress:
            tot = sum(
                so.get("numRowsTotal", 0)
                for so in p.get("stateOperators", [])
            )
            state = max(state, tot)
        return spark.table(name).count(), state

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
        rows, state = drive(
            agg.writeStream.format("memory").outputMode("append"), tag
        )
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        keys = (  # batch twin: the true session count state must track
            ev.groupBy(F.session_window("ts", GAP), "user_id").count().count()
        )
        return {"rows": rows, "state": state, "keys": keys,
                "inputs": ev.count()}

    def dedup_ids(sf_dir):
        tag = "sdd_" + run_tag + ("_k" if sf_dir == out else "_1")
        ded = (
            _events_stream(spark, sf_dir)
            .dropDuplicates(["event_id"])
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n_unique"))
        )
        rows, state = drive(
            ded.writeStream.format("memory").outputMode("complete"), tag
        )
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        keys = ev.select("event_id").distinct().count()
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
        from splitserve_spark.tables import normalize_event_ts

        tag = "sdw_" + run_tag + ("_k" if sf_dir == out else "_1")
        src_dir = C._ordered_event_splits(spark, sf_dir)
        raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        stream = normalize_event_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src_dir}/b*.parquet")
        ).select("event_id", "ts")
        ded = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        rows, state = drive(
            ded.writeStream.format("memory").outputMode("append"), tag
        )
        # The bound state must respect: the largest single split (all
        # of one batch's keys live until the next batch's watermark).
        keys = max(
            spark.read.parquet(f).count()
            for f in sorted(glob.glob(f"{src_dir}/b*.parquet"))
        )
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return {"rows": rows, "state": state, "keys": keys,
                "inputs": ev.count()}

    def stream_stream_join(sf_dir):
        from splitserve_spark.streaming.stateful import ATTRIB_GAP

        tag = "ssj_" + run_tag + ("_k" if sf_dir == out else "_1")
        clicks = (
            _events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        buys = (
            _events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("buy_id"),
                F.col("user_id").alias("b_user"),
                F.col("ts").alias("buy_ts"),
            )
            .withWatermark("buy_ts", "1 hour")
        )
        joined = clicks.join(
            buys,
            (F.col("c_user") == F.col("b_user"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts")
               <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIB_GAP}")),
            "inner",
        )
        rows, state = drive(
            joined.writeStream.format("memory").outputMode("append"), tag
        )
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        keys = ev.filter(
            F.col("event_type").isin("click", "purchase")
        ).count()  # join state buffers in-horizon rows of both sides
        return {"rows": rows, "state": state, "keys": keys,
                "inputs": ev.count()}

    def attribution_outer(sf_dir):
        """LEFT OUTER twin of stream_stream_join (the round-11
        stream_click_attribution_outer operator): buffered-row state
        must be IDENTICAL in kind to the inner join — outer semantics
        add no state rows, only deferred null emission — while the
        output grows by the unmatched clicks.  The runner also proves
        the heartbeat flush holds at K×: sink rows must EQUAL the
        batch LEFT JOIN row count (every unmatched click's window
        closed by the sentinel-advanced watermark), failing loudly if
        the flush ever stops working at scale."""
        from splitserve_spark.streaming.stateful import (
            ATTRIB_GAP,
            _attrib_outer_dir,
            _attrib_outer_joined,
        )
        from splitserve_spark.tables import normalize_event_ts

        tag = "sso_" + run_tag + ("_k" if sf_dir == out else "_1")
        src_dir = _attrib_outer_dir(spark, sf_dir)
        # The SHIPPED topology, not a hand copy — drift-proof.
        joined = _attrib_outer_joined(spark, src_dir)
        _, state = drive(
            joined.writeStream.format("memory").outputMode("append"), tag
        )
        rows = spark.table(tag).filter(F.col("click_id") >= 0).count()
        ev = normalize_event_ts(
            spark.read.parquet(f"{sf_dir}/events.parquet")
        )
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
        # Join state buffers in-horizon rows of both sides, plus the
        # two heartbeat sentinels.
        keys = ev.filter(
            F.col("event_type").isin("click", "purchase")
        ).count() + 2
        return {"rows": rows, "state": state, "keys": keys,
                "inputs": ev.count()}

    def cusum(sf_dir):
        from pyspark.sql.streaming.state import GroupStateTimeout

        from splitserve_spark.streaming import custom_state as C
        from splitserve_spark.tables import normalize_event_ts

        tag = "scu_" + run_tag + ("_k" if sf_dir == out else "_1")
        src_dir = C._ordered_event_splits(spark, sf_dir)
        raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        stream = normalize_event_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src_dir}/b*.parquet")
        ).select("event_type", "ts", "event_id", "value")
        upd = stream.groupBy("event_type").applyInPandasWithState(
            C._fold_cusum,
            outputStructType=C.CUSUM_OUTPUT_SCHEMA,
            stateStructType=C.CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        rows, state = drive(
            upd.writeStream.format("memory").outputMode("update"), tag
        )
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        keys = ev.select("event_type").distinct().count()
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
        q = (
            ded.writeStream.format("memory")
            .queryName(tag)
            .outputMode("append")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        state = 0
        try:
            seen: dict[int, int] = {}  # batchId -> numInputRows
            drained_at = None
            deadline = time.time() + 300
            while time.time() < deadline:
                for p in q.recentProgress:
                    bid = p["batchId"]
                    if bid not in seen:
                        seen[bid] = p["numInputRows"]
                    state = max(
                        state,
                        sum(
                            so.get("numRowsTotal", 0)
                            for so in p.get("stateOperators", [])
                        ),
                    )
                if sum(seen.values()) >= total:
                    # Drained; linger ~2 s for the trailing empty batch
                    # that finalizes the watermark, then stop.
                    drained_at = drained_at or time.time()
                    if time.time() - drained_at > 2:
                        break
                time.sleep(0.3)
            else:
                raise TimeoutError("ingest smoke did not drain the log")
        finally:
            q.stop()
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

    builders = {
        "session_window": session_window,
        "dedup_ids": dedup_ids,
        "dedup_within": dedup_within,
        "stream_stream_join": stream_stream_join,
        "attribution_outer": attribution_outer,
        "cusum": cusum,
        "ingest_horizon": ingest_horizon,
    }
    for name in STREAM_SMOKE:
        yield name, builders[name]


#: Text-IR decomposition probe (round 10): the BM25/TF-IDF 32× ratios
#: drifted high and noisy across r7-r9 refreshes (5.9 → 6.8 → 7.9)
#: without an attribution.  This family splits each operator into its
#: cost phases and times every phase separately (2 reps, min) at 1×
#: and K×, so the growth can be pinned on a phase: the tokenize scan
#: (no shuffle), the postings shuffle (explode → groupBy(doc, w)), or
#: everything after it (df rollup + score join + per-doc rank window).
#: Run at several K (8/32/64) for a marginal-cost curve: if
#: wall(K) ≈ a + b·K with stable b, the operator is linear in data
#: and the raw ratio drift was the fixed cost a amortizing, not a
#: scale hazard.
def textir_phases(spark, sf_dir):
    """Return {phase: seconds} + row counts for the text-IR cost
    decomposition on one corpus directory."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from splitserve_spark.operators import text as T
    from splitserve_spark.registry import REGISTRY

    def timed(fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return out, round(best, 3)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rec = {}

    # bm25 phase 1: the tokenize projection (scan + split + 3 term
    # filters, zero shuffles) — the operator's only corpus pass.
    ws = T._words(F.col("text"))

    def eq(term):
        return lambda w: w == term

    proj = docs.select(
        "doc_id",
        F.size(ws).cast("double").alias("dl"),
        *[
            F.size(F.filter(ws, eq(term))).cast("double").alias(f"tf_{term}")
            for term in T.BM25_QUERY_TERMS
        ],
    )
    # Force the projection: a bare count() lets Catalyst prune the
    # tokenize columns entirely (the probe then measures parquet
    # row-count metadata, observed as "K× faster than 1×").
    def run_tokenize():
        row = proj.agg(
            F.count("*").alias("n"), F.sum("dl").alias("s"),
            *[F.sum(f"tf_{t}") for t in T.BM25_QUERY_TERMS],
        ).collect()[0]
        return int(row["n"])

    rec["bm25_docs"], rec["sec_bm25_tokenize"] = timed(run_tokenize)
    # bm25 full operator (includes its persist + stats agg + top-k).
    _, rec["sec_bm25_full"] = timed(
        lambda: REGISTRY["text_bm25_search"].fn(spark, sf_dir).count()
    )

    # tfidf phase 1: the postings shuffle — explode → groupBy(doc, w).
    words = docs.select("doc_id", F.explode(ws).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    rec["postings_rows"], rec["sec_tfidf_postings"] = timed(tf.count)
    # tfidf phase 2: everything after the postings shuffle, measured
    # from a pre-materialized tf (df rollup + score join + rank
    # window) — if THIS grows faster than the postings phase, the
    # operator is shuffle-width-bound and needs an earlier combine.
    tf_p = tf.persist()
    tf_p.count()  # materialize outside the timer
    try:
        df_tab = tf_p.groupBy("w").agg(F.count("*").alias("df"))
        n_docs = docs.agg(F.count("*").alias("n_docs"))
        scored = T._score_tfidf(tf_p, df_tab, n_docs)
        wk = Window.partitionBy("doc_id").orderBy(F.col("raw").desc(), "w")
        after = (
            scored.select(
                "doc_id", F.row_number().over(wk).alias("rank"), "w"
            )
            .filter(F.col("rank") <= T.KEYWORDS_PER_DOC)
        )
        rec["keyword_rows"], rec["sec_tfidf_after_postings"] = timed(
            after.count
        )
    finally:
        tf_p.unpersist()
    # tfidf full operator (its own persist discipline included).
    _, rec["sec_tfidf_full"] = timed(
        lambda: REGISTRY["text_keyword_tfidf"].fn(spark, sf_dir).count()
    )
    rec["distinct_terms"] = words.select("w").distinct().count()
    return rec


#: Multimodal smoke: the Arrow-kernel (mapInPandas) operators are the
#: only Arrow-heavy family with no K× evidence — their registered
#: queries CAP doc_id (oracle-size discipline), so the per-SF strict
#: runs never push corpus-scale bytes through the kernels.  This
#: family drives the SAME encode/decode/fan-out kernels uncapped over
#: the K× documents table and checks (a) wall stays ~K (Arrow batch
#: amortization holds under 1:N in-batch row expansion) and (b) the
#: transform pipeline keeps ZERO exchanges — scan → encode → kernel
#: must never grow a shuffle at any K.
MM_SMOKE = ["wav_features", "frame_sample", "image_patches",
            "audio_autocorr"]


def mm_smoke(spark, src, out, scale):
    """Yield (name, runner(sf_dir)) pairs over the multimodal Arrow
    kernels, uncapped (every doc_id in the corpus synthesizes a
    payload — the kernels are pure functions of doc_id, the registered
    ops' caps exist only to bound oracle output).  Runners return
    {rows, exchanges}: result rows and the Exchange count in the
    transform plan (pre-action), which must stay 0."""
    from splitserve_spark.operators import multimodal as M

    def docs(sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id"
        )

    def wav(sf_dir):
        return docs(sf_dir).mapInPandas(
            M._encode_wav_batches, schema="doc_id bigint, payload binary"
        )

    def wav_features(sf_dir):
        return wav(sf_dir).mapInPandas(
            M._decode_wav_batches,
            schema=(
                "doc_id bigint, channels int, sample_rate int, bits int, "
                "n_samples int, byte_len int, mean_amp double, peak_amp int"
            ),
        )

    def frame_sample(sf_dir):
        return wav(sf_dir).mapInPandas(
            M._frame_batches,
            schema=(
                "doc_id bigint, frame_idx int, n_in_frame int, "
                "energy bigint, peak int"
            ),
        )

    def image_patches(sf_dir):
        ppm = docs(sf_dir).mapInPandas(
            M._encode_ppm_batches, schema="doc_id long, payload binary"
        )
        return ppm.mapInPandas(
            M._patch_ppm_batches,
            schema="doc_id long, py int, px int, "
                   "sum_r long, sum_g long, sum_b long",
        )

    def audio_autocorr(sf_dir):
        return wav(sf_dir).mapInPandas(
            M._autocorr_batches,
            schema=(
                "doc_id bigint, n_samples int, r0 bigint, r1 bigint, "
                "r2 bigint, pitch_lag int, r_peak bigint"
            ),
        )

    builders = {
        "wav_features": wav_features,
        "frame_sample": frame_sample,
        "image_patches": image_patches,
        "audio_autocorr": audio_autocorr,
    }

    def runner(build, sf_dir):
        df = build(sf_dir)
        exchanges = df._jdf.queryExecution().executedPlan().toString().count(
            "Exchange"
        )
        return {"rows": df.count(), "exchanges": exchanges}

    for name in MM_SMOKE:
        b = builders[name]
        yield name, (lambda sf_dir, b=b: runner(b, sf_dir))


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


def functions_smoke(spark, src, out, scale):
    """Yield (name, runner(sf_dir)) pairs; runners return
    {rows, exchanges} for a wide function projection reduced to one
    hash-checksum row."""
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
        exchanges = df._jdf.queryExecution().executedPlan().toString().count(
            "Exchange"
        )
        return {"rows": int(row["rows_"]), "exchanges": exchanges}

    for name in FN_SMOKE:
        b = builders[name]
        yield name, (lambda sf_dir, b=b: runner(b, sf_dir))


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


def skew_smoke(spark, skew_dir, scale):
    """Yield (name, runner(variant)) pairs; variant is 'hot' or
    'uniform'.  Runners return {rows, plan} — plan is the FINAL
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
        return rows, df._jdf.queryExecution().executedPlan().toString()

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
            rows, plan = _final_plan(joined)
            return {"rows": len(rows), "plan": plan}
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
        rows, plan = _final_plan(joined)
        return {"rows": len(rows), "plan": plan}

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
        rows, plan = _final_plan(agg)
        return {"rows": rows[0][0], "plan": plan}

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
        rows, plan = _final_plan(sess)
        return {"rows": rows[0][0], "plan": plan}

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
        rows, plan = _final_plan(sess)
        return {"rows": rows[0][0], "plan": plan}

    builders = {
        "join_user_rollup": join_user_rollup,
        "join_user_rollup_broadcast": join_user_rollup_broadcast,
        "agg_user_totals": agg_user_totals,
        "window_sessionize": window_sessionize,
        "window_sessionize_hotsafe": window_sessionize_hotsafe,
    }
    for name in SKEW_SMOKE:
        yield name, builders[name]


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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=8)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--ratio-limit", type=float, default=None,
                    help="fail if sec_Kx/sec_1x exceeds this (default 3*scale)")
    ap.add_argument("--only", default=None,
                    help="comma-separated subset of pipeline queries "
                         "and/or streaming builders; the other members "
                         "of those families are skipped")
    ap.add_argument("--family",
                    choices=["pipeline", "graph", "streaming", "skew",
                             "multimodal", "textir", "vocab", "functions",
                             "all"],
                    default="all")
    args = ap.parse_args()
    ratio_limit = args.ratio_limit or 3.0 * args.scale

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(repo, "tmp_scale", f"x{args.scale}")
    if args.family in ("pipeline", "streaming", "multimodal", "textir",
                       "functions", "all"):
        if os.path.isdir(out):
            shutil.rmtree(out)
        build_corpus(args.src, out, args.scale)
        if args.family in ("streaming", "all"):
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
    failures = []

    stream_names = list(STREAM_SMOKE)
    if args.only:
        wanted = set(args.only.split(","))
        unknown = wanted - set(SMOKE_QUERIES) - set(STREAM_SMOKE)
        if unknown:
            print("error: --only names in neither SMOKE_QUERIES nor "
                  f"STREAM_SMOKE: {sorted(unknown)}", file=sys.stderr)
            return 2
        stream_names = [q for q in stream_names if q in wanted]

    if args.family in ("graph", "all"):
        for name, run1, runk in graph_smoke(spark, args.src, args.scale):
            rec = {"query": f"graph:{name}"}
            try:
                for tag, runner in (("1x", run1), (f"{args.scale}x", runk)):
                    t0 = time.time()
                    rows = runner().count()
                    rec[f"rows_{tag}"], rec[f"sec_{tag}"] = rows, round(
                        time.time() - t0, 3
                    )
                rec["time_ratio"] = round(
                    rec[f"sec_{args.scale}x"] / max(rec["sec_1x"], 1e-9), 2
                )
                if rec["time_ratio"] > ratio_limit:
                    rec["verdict"] = "SUPERLINEAR"
                    failures.append(f"graph:{name}")
                else:
                    rec["verdict"] = "ok"
            except Exception as exc:  # noqa: BLE001 — report, keep smoking
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                failures.append(f"graph:{name}")
            print(json.dumps(rec), flush=True)

    if args.family in ("streaming", "all"):
        for name, runner in streaming_smoke(spark, args.src, out, args.scale):
            if name not in stream_names:
                continue
            rec = {"query": f"stream:{name}"}
            try:
                for tag, sf_dir in (("1x", args.src), (f"{args.scale}x", out)):
                    t0 = time.time()
                    res = runner(sf_dir)
                    rec[f"sec_{tag}"] = round(time.time() - t0, 3)
                    rec[f"rows_{tag}"] = res["rows"]
                    rec[f"state_{tag}"] = res["state"]
                    rec[f"keys_{tag}"] = res["keys"]
                    rec[f"inputs_{tag}"] = res["inputs"]
                rec["time_ratio"] = round(
                    rec[f"sec_{args.scale}x"] / max(rec["sec_1x"], 1e-9), 2
                )
                rec["state_ratio"] = round(
                    rec[f"state_{args.scale}x"] / max(rec["state_1x"], 1), 2
                )
                key_bound = _stream_state_verdict(name, rec, args.scale)
                if not key_bound:
                    rec["verdict"] = "STATE_NOT_KEY_BOUND"
                    failures.append(f"stream:{name}")
                elif rec["time_ratio"] > ratio_limit:
                    rec["verdict"] = "SUPERLINEAR"
                    failures.append(f"stream:{name}")
                else:
                    rec["verdict"] = "ok"
            except Exception as exc:  # noqa: BLE001 — report, keep smoking
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                failures.append(f"stream:{name}")
            print(json.dumps(rec), flush=True)

    if args.family in ("functions", "all"):
        for name, runner in functions_smoke(spark, args.src, out, args.scale):
            rec = {"query": f"fn:{name}"}
            try:
                for tag, sf_dir in (("1x", args.src), (f"{args.scale}x", out)):
                    t0 = time.time()
                    res = runner(sf_dir)
                    rec[f"sec_{tag}"] = round(time.time() - t0, 3)
                    rec[f"rows_{tag}"] = res["rows"]
                    rec[f"exchanges_{tag}"] = res["exchanges"]
                rec["time_ratio"] = round(
                    rec[f"sec_{args.scale}x"] / max(rec["sec_1x"], 1e-9), 2
                )
                if (rec[f"exchanges_{args.scale}x"] != rec["exchanges_1x"]
                        or rec["exchanges_1x"] != 2):
                    # Exactly 2 = partial + final of the consuming
                    # aggregate; anything else means an expression
                    # started shuffling (even uniformly at both scales).
                    rec["verdict"] = "PROJECTION_GREW_A_SHUFFLE"
                    failures.append(f"fn:{name}")
                elif rec[f"rows_{args.scale}x"] != args.scale * rec["rows_1x"]:
                    rec["verdict"] = "ROWS_NOT_KX"
                    failures.append(f"fn:{name}")
                elif rec["time_ratio"] > ratio_limit:
                    rec["verdict"] = "SUPERLINEAR"
                    failures.append(f"fn:{name}")
                else:
                    rec["verdict"] = "ok"
            except Exception as exc:  # noqa: BLE001 — report, keep smoking
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                failures.append(f"fn:{name}")
            print(json.dumps(rec), flush=True)

    if args.family == "vocab":  # Heaps'-law df-join probe, not in "all"
        points = sorted({1, max(2, args.scale // 4), args.scale})
        joins = {}
        for k in points:
            vout = os.path.join(repo, "tmp_scale", f"vocab{k}")
            if os.path.isdir(vout):
                shutil.rmtree(vout)
            build_vocab_corpus(args.src, vout, k)
            rec = {"query": f"vocab:{k}x", "scale": k}
            try:
                rec.update(vocab_probe(spark, vout))
                if rec["checksum_natural"] != rec["checksum_shuffle"]:
                    rec["verdict"] = "FLIP_CHANGED_VALUES"
                    failures.append(f"vocab:{k}x")
                elif rec["df_join_forced"] != "shuffle":
                    rec["verdict"] = "FORCED_SHUFFLE_NOT_SHUFFLE"
                    failures.append(f"vocab:{k}x")
                else:
                    rec["verdict"] = "ok"
                joins[k] = rec.get("df_join")
            except Exception as exc:  # noqa: BLE001 — report, keep smoking
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                failures.append(f"vocab:{k}x")
            print(json.dumps(rec), flush=True)
        rec = {"query": "vocab:flip",
               "joins": [joins.get(k) for k in points], "points": points}
        if joins.get(points[0]) == "broadcast" and (
                joins.get(points[-1]) == "shuffle"):
            rec["verdict"] = "ok"
        else:
            rec["verdict"] = "NO_FLIP_OBSERVED"
            failures.append("vocab:flip")
        print(json.dumps(rec), flush=True)

    if args.family == "textir":  # decomposition probe, not in "all"
        for tag, sf_dir in (("1x", args.src), (f"{args.scale}x", out)):
            rec = {"query": f"textir:{tag}", "scale": args.scale}
            try:
                rec.update(textir_phases(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 — report, keep smoking
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                failures.append(f"textir:{tag}")
            print(json.dumps(rec), flush=True)

    if args.family in ("multimodal", "all"):
        for name, runner in mm_smoke(spark, args.src, out, args.scale):
            rec = {"query": f"mm:{name}"}
            try:
                for tag, sf_dir in (("1x", args.src), (f"{args.scale}x", out)):
                    t0 = time.time()
                    res = runner(sf_dir)
                    rec[f"sec_{tag}"] = round(time.time() - t0, 3)
                    rec[f"rows_{tag}"] = res["rows"]
                    rec[f"exchanges_{tag}"] = res["exchanges"]
                rec["time_ratio"] = round(
                    rec[f"sec_{args.scale}x"] / max(rec["sec_1x"], 1e-9), 2
                )
                if rec[f"exchanges_{args.scale}x"] or rec["exchanges_1x"]:
                    rec["verdict"] = "KERNEL_PIPELINE_GREW_A_SHUFFLE"
                    failures.append(f"mm:{name}")
                elif rec["time_ratio"] > ratio_limit:
                    rec["verdict"] = "SUPERLINEAR"
                    failures.append(f"mm:{name}")
                else:
                    rec["verdict"] = "ok"
            except Exception as exc:  # noqa: BLE001 — report, keep smoking
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                failures.append(f"mm:{name}")
            print(json.dumps(rec), flush=True)

    if args.family in ("skew", "all"):
        skew_dir = os.path.join(repo, "tmp_scale", f"skew{args.scale}")
        if os.path.isdir(skew_dir):
            shutil.rmtree(skew_dir)
        build_skew_corpus(args.src, skew_dir, args.scale)
        # Warmup outside the timed window: scan both variants (JVM
        # codegen, file-index) and pre-materialize the join rollups so
        # the first timed runner doesn't absorb one-time setup.
        from pyspark.sql import functions as _F
        for variant in ("uniform", "hot"):
            ev = spark.read.parquet(f"{skew_dir}/events_{variant}.parquet")
            ev.count()
            ev.groupBy("user_id").agg(
                _F.count(_F.lit(1)).alias("user_events")
            ).write.parquet(f"{skew_dir}/rollup_{variant}.parquet")
        for name, runner in skew_smoke(spark, skew_dir, args.scale):
            rec = {"query": f"skew:{name}"}
            try:
                for variant in ("uniform", "hot"):
                    t0 = time.time()
                    res = runner(variant)
                    rec[f"sec_{variant}"] = round(time.time() - t0, 3)
                    rec[f"rows_{variant}"] = res["rows"]
                    rec[f"skew_split_{variant}"] = "skew=true" in res["plan"]
                    rec[f"bhj_{variant}"] = (
                        "BroadcastHashJoin" in res["plan"]
                    )
                rec["hot_over_uniform"] = round(
                    rec["sec_hot"] / max(rec["sec_uniform"], 1e-9), 2
                )
                if name == "join_user_rollup" and not rec["skew_split_hot"]:
                    rec["verdict"] = "SKEW_SPLIT_DID_NOT_ENGAGE"
                    failures.append(f"skew:{name}")
                # The broadcast twin must take the broadcast plan (its
                # whole point is removing the skewable shuffle), and —
                # gated below with the others — hold wall parity.
                elif name == "join_user_rollup_broadcast" and not (
                    rec["bhj_hot"] and rec["bhj_uniform"]
                ):
                    rec["verdict"] = "BROADCAST_DID_NOT_ENGAGE"
                    failures.append(f"skew:{name}")
                elif name == "join_user_rollup_broadcast" and (
                    rec["skew_split_hot"] or rec["skew_split_uniform"]
                ):
                    rec["verdict"] = "BROADCAST_PLAN_STILL_SKEW_SPLIT"
                    failures.append(f"skew:{name}")
                # A hot key costing >4x its equal-volume uniform twin
                # means the hot partition serialized the stage; the
                # sessionization window is EXPECTED to degrade (no
                # engine mechanism splits a semantic per-key window) —
                # it reports, the other two gate.
                elif name != "window_sessionize" and \
                        rec["hot_over_uniform"] > 4.0:
                    rec["verdict"] = "HOT_KEY_SERIALIZED"
                    failures.append(f"skew:{name}")
                else:
                    rec["verdict"] = "ok"
            except Exception as exc:  # noqa: BLE001 — report, keep smoking
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                failures.append(f"skew:{name}")
            print(json.dumps(rec), flush=True)

    pipeline_queries = SMOKE_QUERIES if args.family in ("pipeline", "all") else []
    if args.only:
        pipeline_queries = [
            q for q in pipeline_queries if q in set(args.only.split(","))
        ]
    for name in pipeline_queries:
        spec = REGISTRY[name]
        rec = {"query": name}
        try:
            for tag, sf_dir in (("1x", args.src), (f"{args.scale}x", out)):
                t0 = time.time()
                rows = spec.fn(spark, sf_dir).count()
                rec[f"rows_{tag}"], rec[f"sec_{tag}"] = rows, round(
                    time.time() - t0, 3
                )
            rec["time_ratio"] = round(
                rec[f"sec_{args.scale}x"] / max(rec["sec_1x"], 1e-9), 2
            )
            if rec["time_ratio"] > ratio_limit:
                rec["verdict"] = "SUPERLINEAR"
                failures.append(name)
            else:
                rec["verdict"] = "ok"
        except Exception as exc:  # noqa: BLE001 — report, keep smoking
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            failures.append(name)
        print(json.dumps(rec), flush=True)
    n = len(pipeline_queries) + (
        len(GRAPH_SMOKE) if args.family in ("graph", "all") else 0
    ) + (
        len(stream_names) if args.family in ("streaming", "all") else 0
    ) + (
        len(SKEW_SMOKE) if args.family in ("skew", "all") else 0
    ) + (
        len(MM_SMOKE) if args.family in ("multimodal", "all") else 0
    )
    print(json.dumps({
        "scale": args.scale,
        "queries": n,
        "failed": failures,
    }), flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
