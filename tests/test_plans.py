"""Physical-plan assertions: the 100 TB scale-discipline gate.

A query that passes its oracle but loses pushdown/broadcast/top-k
pushdown would still be 100× slower at scale — these tests pin the
plans (SURVEY.md §4; reference SparkStrategies.scala selection rules).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from splitserve_spark.plans.inspect import (
    assert_in_plan,
    count_exchanges,
    count_executed_scans,
    physical_plan,
    pushed_filters,
)
from splitserve_spark.registry import REGISTRY, load_all
from tests.oracle_utils import SF_DIR

load_all()


def q(name, spark):
    return REGISTRY[name].fn(spark, SF_DIR)


def test_q1_filter_pushdown_and_pruning(spark):
    df = q("q1_pricing_summary", spark)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf, pf
    plan = physical_plan(df)
    assert "ReadSchema" in plan
    # Column pruning: only 9 of 11 lineitem columns are read.
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema


def test_project_filter_both_predicates_pushed(spark):
    pf = pushed_filters(q("project_filter", spark))
    assert "l_quantity" in pf and "l_discount" in pf, pf


def test_q3_broadcasts_dimension(spark):
    assert_in_plan(q("q3_shipping_priority", spark), "BroadcastHashJoin")


def test_q5_broadcasts_all_dims(spark):
    plan = physical_plan(q("q5_region_revenue", spark))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_fact_fact_join_is_sort_merge_without_broadcast(spark):
    """With broadcast disabled (the 100 TB case: both sides huge), the
    planner must choose sort-merge, not nested-loop/cartesian."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        from splitserve_spark.tables import Tables

        t = Tables(spark, SF_DIR)
        j = t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).groupBy("o_orderstatus").count()
        plan = physical_plan(j)
        # Either shuffle-based equi-join is scale-safe; what must NOT
        # appear is a broadcast or nested-loop form.
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_topk_plans_take_ordered(spark):
    assert_in_plan(q("topk_orders", spark), "TakeOrderedAndProject")


def test_topn_per_group_has_window_group_limit(spark):
    assert_in_plan(q("window_topn_per_group", spark), "WindowGroupLimit")


def test_semi_anti_plan_shapes(spark):
    assert_in_plan(q("join_left_semi", spark), "LeftSemi")
    assert_in_plan(q("join_left_anti", spark), "LeftAnti")


def test_partition_pruning_on_partitioned_layout(spark):
    df = q("source_partitioned_parquet", spark)
    plan = physical_plan(df)
    # The partition-key filter must prune at metadata level, not scan-level.
    assert "PartitionFilters" in plan, plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "l_returnflag" in pf_line, pf_line


def test_q1_two_shuffles_max(spark):
    """Q1 needs only the aggregation exchange + the final-sort range
    exchange (6 rows) — anything more means a lost partial aggregate."""
    assert count_exchanges(q("q1_pricing_summary", spark)) <= 2


def test_wholestage_codegen_active(spark):
    plan = physical_plan(q("q1_pricing_summary", spark), mode="codegen")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0" not in plan.splitlines()[1]


def test_agg_is_partial_then_final(spark):
    """Map-side combine: HashAggregate appears before and after the
    exchange."""
    plan = physical_plan(q("agg_basic_stats", spark), mode="simple")
    assert plan.count("HashAggregate") >= 2, plan


def test_shuffled_hash_join_planned(spark):
    """hint('SHUFFLE_HASH') must produce ShuffledHashJoin — the 5th
    physical join form (reference SparkStrategies.scala:128-141)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Disable broadcast so the hint is the deciding factor even at
        # tiny test SFs where the filtered side would auto-broadcast.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        assert_in_plan(q("join_shuffled_hash", spark), "ShuffledHashJoin")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)


def test_natural_join_resolves_to_equi_join(spark):
    """NATURAL JOIN must resolve to a hash equi-join on the shared key,
    not a cartesian (ResolveNaturalAndUsingJoin)."""
    plan = physical_plan(q("join_natural", spark))
    assert "Join" in plan and "Cartesian" not in plan, plan


def test_sort_within_partitions_is_local_sort(spark):
    """sortWithinPartitions plans Sort(global=false): no range-exchange
    after the repartition — one exchange total, and each output
    partition is internally ordered."""
    from splitserve_spark.tables import Tables
    t = Tables(spark, SF_DIR)
    df = (
        t.orders.select("o_orderkey", "o_custkey")
        .repartition(4, "o_custkey")
        .sortWithinPartitions("o_custkey", "o_orderkey")
    )
    plan = physical_plan(df)
    assert "Sort" in plan, plan
    # Local sort: exactly the one hash repartition, no rangepartitioning.
    assert "rangepartitioning" not in plan.lower(), plan
    assert count_exchanges(df) == 1, plan
    # Every partition is internally ordered by the sort key.
    def _ordered(it):
        prev = None
        for row in it:
            k = (row.o_custkey, row.o_orderkey)
            assert prev is None or k >= prev
            prev = k
        return iter(())
    list(df.rdd.mapPartitions(_ordered).collect())


def test_dedup_embedding_lsh_no_cartesian(spark):
    """The LSH-candidate dedup must generate pairs via the (tbl, bucket)
    equi-join — never a cartesian/nested-loop pass over vector pairs
    (the fenced O(n²) form is dedup_embedding_cosine's job)."""
    plan = physical_plan(q("dedup_embedding_lsh", spark))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pagerank_edges_weighted_once(spark):
    """The static weighted-edge table is persisted before the loop: the
    per-iteration subplans must reuse it (InMemoryTableScan), not
    recompute outdeg per iteration."""
    plan = physical_plan(q("graph_pagerank", spark))
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan


def test_pagerank_iteration_not_broadcast_at_scale(spark):
    """The per-iteration rank join must NOT plan a broadcast when the
    rank vector is large (the rank vector is O(|nodes|); a forced
    broadcast per iteration was the one remaining 100 TB scale-killer).
    Drive one iteration with a large synthetic graph — the planner must
    pick a shuffle-based equi-join for both joins."""
    from splitserve_spark.operators.graph import _iterate_rank

    n = 20_000_000  # ~big enough that size estimates exceed the 64 MB threshold
    nodes = spark.range(n).select(
        F.concat(F.lit("n"), F.col("id")).alias("node")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    edges_w = spark.range(n).select(
        F.concat(F.lit("n"), F.col("id")).alias("src"),
        F.concat(F.lit("n"), (F.col("id") + 1) % n).alias("dst"),
        F.lit(1.0).alias("w"),
    )
    plan = physical_plan(_iterate_rank(edges_w, nodes, ranks))
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_non_equi_join_not_broadcast_at_scale(spark):
    """join_non_equi must NOT force-broadcast supplier: supplier is
    SF-proportional (10k rows/SF → ~10⁹ rows at the 100 TB target), the
    same defect class as the r5 PageRank hints and r6 vocab broadcasts.
    With large synthetic inputs the planner must use the equi conjunct
    (nationkey) as a shuffle-join key with the inequality as residual —
    never a nested loop, never a forced broadcast.  At small SFs AQE is
    still free to broadcast the measured-small side at runtime."""
    from splitserve_spark.operators.joins import _non_equi_count

    n = 10_000_000
    customer = spark.range(n).select(
        F.col("id").alias("c_custkey"),
        (F.col("id") % 25).cast("int").alias("c_nationkey"),
        (F.col("id") % 9999).cast("double").alias("c_acctbal"),
    )
    supplier = spark.range(n).select(
        F.col("id").alias("s_suppkey"),
        (F.col("id") % 25).cast("int").alias("s_nationkey"),
        (F.col("id") % 7777).cast("double").alias("s_acctbal"),
    )
    plan = physical_plan(_non_equi_count(customer, supplier))
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_tokenize_vocab_probe_is_broadcast(spark):
    """The top-V vocabulary must broadcast into the word→id probe —
    the exploded corpus must never shuffle against a 512-row dict."""
    plan = physical_plan(q("text_tokenize_ids", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_merge_upsert_single_join(spark):
    """MERGE-as-full-outer-join must plan exactly one data join (plus
    the presentation sort) — no re-scan per action branch.  The ONLY
    nested-loop allowed is the 1-row broadcast that attaches the
    derived insert-key base (max key + 1) to the insert branch; a
    second one would mean a real cartesian crept in."""
    plan = physical_plan(q("merge_upsert_scd1", spark))
    assert plan.count("Join") >= 1
    assert "CartesianProduct" not in plan
    simple = physical_plan(q("merge_upsert_scd1", spark), mode="simple")
    assert simple.count("BroadcastNestedLoopJoin") <= 1, simple


def test_training_prep_shuffle_budgets(spark):
    """Training-prep operators keep their scale-critical shuffle
    budgets: pseudonymization and quantization are pure projections
    (only the presentation sort exchanges); packing and mixing spend
    exactly one data shuffle (the per-shard window) plus the sort."""
    assert count_exchanges(q("pii_pseudonymize", spark)) <= 1
    assert count_exchanges(q("sim_quantize_int8", spark)) <= 1
    assert count_exchanges(q("pack_sequences", spark)) <= 2
    assert count_exchanges(q("mix_domains_quota", spark)) <= 2


def test_boilerplate_probe_is_broadcast(spark):
    """The boilerplate set (df >= K grams) must broadcast back to the
    corpus-side probe — the corpus must not shuffle a second time."""
    assert_in_plan(q("text_boilerplate", spark), "BroadcastHashJoin")


def test_segment_rewrite_probe_is_broadcast_anti(spark):
    """The common-segment set must broadcast into the anti-join probe
    (same discipline as text_boilerplate) — the exploded corpus must
    not shuffle against it."""
    plan = physical_plan(q("text_segment_dedup_rewrite", spark))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_has_window_group_limit(spark):
    """rank <= K over the per-source hash order must push down as
    WindowGroupLimit (partial top-K before the shuffle)."""
    assert_in_plan(q("sample_stratified_topk", spark), "WindowGroupLimit")


def test_bm25_no_explode_and_stats_broadcast(spark):
    """BM25's fixed-query path must not explode a posting list: term
    frequencies are array-function projections, and the 1-row corpus
    stats join back via broadcast — the corpus never shuffles."""
    plan = physical_plan(q("text_bm25_search", spark))
    assert "Generate" not in plan, plan  # no explode/posexplode
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zscore_stats_join_is_broadcast(spark):
    """The 5-row per-type stats table must broadcast back onto the
    events scan — shuffling the fact side against it would be the
    100 TB mistake."""
    plan = physical_plan(q("agg_zscore_outliers", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_funnel_reuses_user_partitioning(spark):
    """The three funnel stages chain groupBy(user_id) + join(user_id):
    every exchange must hash on user_id only — no other key ever
    shuffles, and no broadcast of the (large) per-user sets at scale
    is required for correctness (AQE may still choose one at test SF).
    """
    plan = physical_plan(q("events_funnel", spark))
    import re

    for m in re.finditer(r"hashpartitioning\(([a-z_#0-9L, ]+?)\)", plan):
        keys = m.group(1)
        assert "user_id" in keys, plan


def test_lateral_topn_decorrelates_to_ranked_join(spark):
    """LATERAL per-nation top-2 must decorrelate to a window-ranked
    join (one customer shuffle), NOT a per-outer-row re-execution —
    and the 25-row nation side must broadcast."""
    plan = physical_plan(q("join_lateral_topn", spark))
    assert "Window" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bitmap_distinct_shuffles_bitmaps_not_keys(spark):
    """The bitmap rollup's final aggregation must consume merged
    bitmap blobs: no Expand (multi-distinct rewrite) and no exchanges
    beyond the (status, bucket) → (status) pair plus the presentation
    sort."""
    df = q("agg_bitmap_distinct", spark)
    plan = physical_plan(df)
    assert "Expand" not in plan, plan
    assert count_exchanges(df) <= 3, plan


def _big_words(spark, n=20_000_000):
    """Synthetic exploded corpus large enough that size estimates beat
    the broadcast threshold: n (doc_id, word) rows over a 5M vocab."""
    return spark.range(n).select(
        (F.col("id") % 100_000).alias("doc_id"),
        (F.col("id") % 97).alias("source"),
        F.concat(F.lit("w"), F.col("id") % 5_000_000).alias("w"),
    )


def test_unigram_lm_not_broadcast_at_scale(spark):
    """The LM word-frequency table is the FULL distinct-token
    distribution — 10⁸-10⁹ rows on a 100 TB web corpus (Heaps' law), so
    it must NOT be force-broadcast (the r6 verdict's uncapped-vocab
    defect class).  With a large synthetic corpus the planner must pick
    a shuffle-based equi-join for the word probe; only the 1-row total
    may broadcast (BNLJ).  At small SFs AQE still converts to broadcast
    at runtime — that conversion is asserted separately
    (test_aqe_converts_join_and_coalesces_partitions)."""
    from splitserve_spark.operators.text import _attach_unigram_lm

    words = _big_words(spark).select("doc_id", "w")
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("n"))
    plan = physical_plan(_attach_unigram_lm(words, freq, tot))
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_pq_ann_broadcasts_codebook_and_lut(spark):
    """PQ search must broadcast the codebook and the per-query LUT;
    the ADC join against the encoded corpus must be broadcast-probed
    (codes never shuffle against the LUT)."""
    plan = physical_plan(q("sim_pq_ann", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_converts_join_and_coalesces_partitions(spark):
    """Runtime adaptivity evidence (SURVEY §4.2; AQE is the engine's
    answer to 100 TB statistics drift): a sort-merge-planned join whose
    build side SHRINKS below the broadcast threshold after a selective
    filter must be converted to a broadcast join at RUNTIME, and
    over-partitioned shuffles must be coalesced (AQEShuffleRead)."""
    from splitserve_spark.tables import Tables

    t = Tables(spark, SF_DIR)
    small = t.orders.filter(F.col("o_totalprice") > 450000).select(
        "o_orderkey", "o_totalprice"
    )
    j = (
        t.lineitem.join(small, t.lineitem.l_orderkey == small.o_orderkey)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    j.collect()
    plan = _executed_plan(j)
    assert "isFinalPlan=true" in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # runtime SMJ→BHJ conversion
    assert "AQEShuffleRead" in plan, plan  # runtime partition coalescing


def test_tfidf_df_table_not_broadcast_at_scale(spark):
    """TF-IDF's document-frequency table is the full vocabulary — it
    must NOT be force-broadcast (same defect class as the unigram LM).
    With a large synthetic corpus the planner must shuffle-join the df
    probe; only the 1-row corpus count may broadcast."""
    from splitserve_spark.operators.text import _score_tfidf

    words = _big_words(spark).select("doc_id", "w")
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = words.agg(F.count_distinct("doc_id").alias("n_docs"))
    plan = physical_plan(_score_tfidf(tf, dfreq, n_docs))
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_jsd_corpus_dist_not_broadcast_at_scale(spark):
    """Source-drift JSD's corpus word distribution is the full
    vocabulary — same rule: shuffle-join at scale, no forced
    broadcast."""
    from splitserve_spark.operators.text import _attach_corpus_dist

    words = _big_words(spark).select("source", "w")
    sw = words.groupBy("source", "w").agg(F.count("*").alias("c"))
    stot = sw.groupBy("source").agg(F.sum("c").alias("n_s"))
    corpus = sw.groupBy("w").agg(F.sum("c").alias("c_all"))
    ctot = corpus.agg(F.sum("c_all").alias("n_all"))
    plan = physical_plan(_attach_corpus_dist(sw, stot, corpus, ctot))
    # The corpus-side word probe must be shuffle-based; the per-source
    # totals side is O(|sources|) and MAY broadcast.
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_chunk_overlap_is_shuffle_free_codegen(spark):
    """Overlapping chunking must be a pure generate/project pipeline:
    zero hash exchanges (the only exchange is the presentation sort)
    and no Python evaluation."""
    df = q("text_chunk_overlap", spark)
    plan = physical_plan(df)
    assert "Generate" in plan, plan  # the explode
    assert "Python" not in plan, plan  # fast-path twin of the UDTF
    assert count_exchanges(df) <= 1, plan  # orderBy only


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """DPP (SURVEY §4.2; `execution/dynamicpruning/`): joining a
    nationkey-partitioned fact against a filtered dimension must
    inject a dynamicpruning subquery into the fact scan, so only the
    matching partition directories are read — the runtime twin of
    static partition pruning, and the difference between reading 1/25
    and 25/25 of a 100 TB fact table."""
    from splitserve_spark.tables import Tables

    t = Tables(spark, SF_DIR)
    path = str(tmp_path / "dpp_fact")
    fact = (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_nationkey")
    )
    fact.write.mode("overwrite").partitionBy("c_nationkey").parquet(path)
    pf = spark.read.parquet(path)
    dim = t.nation.filter(F.col("n_name") == "NATION_3")
    j = pf.join(dim, pf.c_nationkey == dim.n_nationkey).agg(
        F.sum("o_totalprice").alias("s")
    )
    plan = _executed_plan(j)
    assert "dynamicpruning" in plan.lower(), plan


def test_no_unfenced_cartesian_anywhere(registry_simple_plans):
    """Global scale guard: NO batch-relational query in the registry
    may plan a CartesianProduct at test SF.  Every pairwise operator
    (jaccard/containment ground truth, cosine pairs, ANN, BM25 stats
    attach) must either fence with an explicit predicate that planners
    turn into a join, or broadcast a bounded side (which plans
    BroadcastNestedLoopJoin, not CartesianProduct).  Non-relational
    surfaces (streaming, sinks, DDL side effects, RDD demos, iterative
    drivers) are exercised by their own suites and skipped here."""
    offenders = [
        name
        for name, plan in registry_simple_plans.items()
        if "CartesianProduct" in plan
    ]
    assert not offenders, offenders


def test_weighted_sample_is_take_ordered(spark):
    """A-ES weighted sampling must plan TakeOrderedAndProject — a
    global Sort before the limit would mean the corpus range-shuffles
    for a K-row answer."""
    df = q("sample_weighted_ares", spark)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert count_exchanges(df) == 0, plan


def test_inverted_index_shuffles_only_term_keys(spark):
    """Posting-list build: two map-side-combinable aggregations plus
    the presentation sort — no window, no Python, and the 1-row corpus
    count joins via broadcast (BNLJ), never a shuffle."""
    df = q("text_inverted_index", spark)
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan
    # (w,doc) agg + (w) agg + presentation sort + the 1-row corpus
    # count's SinglePartition exchange (moves #partitions partial rows).
    assert count_exchanges(df) <= 4, plan


def test_prefix_rank_plans_broadcast_offsets_and_partitioned_windows(spark):
    """The distributed prefix decomposition must keep its shape: the
    ≤32-row bucket-offset table joins back via BROADCAST (an offsets
    shuffle join would re-shuffle the data a third time), and every
    Window in the plan is partitioned (by the range-bucket id)."""
    from splitserve_spark.plans.inspect import unpartitioned_window_nodes

    for name in ("window_equidepth_histogram", "window_pareto_share"):
        df = q(name, spark)
        plan = physical_plan(df)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert not unpartitioned_window_nodes(df), name


#: Queries allowed to plan an UNPARTITIONED window because its input is
#: bounded BY CONSTRUCTION (not merely small at test SF) — each entry
#: names the bound.  Everything else must use partitioned windows or
#: the distributed prefix decomposition (operators/prefix_rank.py).
UNPARTITIONED_WINDOW_ALLOWED = {
    "mix_importance_weights": "window over the per-source aggregate, O(|sources|)",
    "mix_temperature_weights": "window over the per-source aggregate, O(|sources|)",
    "orders_seasonality": "window over the per-(year,month) aggregate, bounded by the calendar",
    "window_moving_zscore": "window over the per-day aggregate, bounded by the calendar",
    "text_tokenize_ids": "id-assignment window over the top-V vocab AFTER .limit(512)",
    "stat_chi2_independence": "N-window over the contingency cells, O(|types|×|bands|)",
    "qds51_cumulative_channels": "cumulative window over the per-day aggregate, bounded by the calendar",
    "mix_dsir_select": "rank window over the selected manifest AFTER "
        ".limit(DSIR_K) — bounded by the LIMIT; the corpus-sized weight "
        "table goes through TakeOrderedAndProject, never this window",
}


#: Non-relational surfaces exercised by their own suites; the
#: registry-wide plan guards skip these.  EVERY exemption needs a
#: named reason here (the r7 verdict's guard-accounting task) — the
#: prefixes tuple is DERIVED from this dict, so a new exemption
#: without a reason is impossible, and
#: test_guard_exemptions_are_accounted pins the exact set so growth
#: is an explicit, reviewed edit.
GUARD_SKIP_REASONS = {
    "stream_": "Structured Streaming — plans aren't one batch DAG; "
               "covered by test_streaming*/test_stateful_streaming",
    "source_": "connector write+read roundtrips with filesystem/JDBC "
               "side effects; plan shapes pinned in test_sources",
    "sink_": "sink side effects (files/foreach/memory tables)",
    "ddl_": "catalog DDL side effects (views/databases/partitions)",
    "rdd_": "RDD-surface demos — no SQL plan to inspect",
    "workload_pi": "eager driver aggregate over spark.range",
    "ml_kmeans": "eager ML fit / driver-loop Lloyd iteration",
    "graph_": "iterative drivers (localCheckpoint per round); scale "
              "evidence is the 8x edge-replication smoke "
              "(SCALE_SMOKE.md graph family)",
    "merge_": "MERGE demos write managed tables",
    "mm_": "multimodal Arrow pipelines with eager fixture setup; "
           "representative plans pinned individually "
           "(test_audio_features_single_pass_no_exchange)",
    "udtf_": "Python UDTF registration side effects",
}
GUARD_SKIP_PREFIXES = tuple(GUARD_SKIP_REASONS)


def test_guard_exemptions_are_accounted():
    """The exempt set must not silently grow: every prefix carries a
    non-empty reason, and the exact set is pinned — adding an
    exemption requires editing BOTH the reasons dict and this pin,
    making growth a reviewed decision (same discipline as
    UNPARTITIONED_WINDOW_ALLOWED)."""
    assert set(GUARD_SKIP_PREFIXES) == {
        "stream_", "source_", "sink_", "ddl_", "rdd_", "workload_pi",
        "ml_kmeans", "graph_", "merge_", "mm_", "udtf_",
    }
    assert all(r.strip() for r in GUARD_SKIP_REASONS.values())
    # The unpartitioned-window allow-list carries the same contract.
    assert all(r.strip() for r in UNPARTITIONED_WINDOW_ALLOWED.values())


import pytest  # noqa: E402


@pytest.fixture(scope="module")
def registry_simple_plans(spark):
    """One `simple` physical plan per guard-eligible registry query,
    shared by the four registry-wide guards below — several queries
    are eager (driver-side approxQuantile/collect steps), so planning
    each once instead of once per guard is a real suite-time win."""
    from splitserve_spark.registry import REGISTRY, load_all

    load_all()
    plans = {}
    for name, spec in sorted(REGISTRY.items()):
        if name.startswith(GUARD_SKIP_PREFIXES):
            continue
        plans[name] = physical_plan(spec.fn(spark, SF_DIR), mode="simple")
    return plans


def test_no_unpartitioned_window_anywhere(registry_simple_plans):
    """Global scale guard (the r6 verdict's single-reducer-window
    class): no batch-relational registry query may plan a Window with
    an empty partition spec over unbounded input — Spark moves ALL
    rows to one partition for these (WindowExec.scala:82).  The four
    r6 offenders (KS, equi-depth histogram, RFM, Pareto) now use the
    exact distributed prefix decomposition instead; the allow-list
    above names the only inputs bounded by construction."""
    from splitserve_spark.plans.inspect import unpartitioned_window_nodes_in

    offenders = {}
    for name, plan in registry_simple_plans.items():
        if name in UNPARTITIONED_WINDOW_ALLOWED:
            continue
        nodes = unpartitioned_window_nodes_in(plan)
        if nodes:
            offenders[name] = nodes[0][:160]
    assert not offenders, offenders


def test_no_row_python_outside_designated_slow_path(registry_simple_plans):
    """Global UDF-tier guard: the ONLY registry plan allowed to contain
    row-at-a-time Python evaluation (BatchEvalPython) is
    `udf_python_row`, the deliberate slow-path demo.  Everything else
    that crosses into Python must go through Arrow (pandas UDFs,
    mapInPandas/mapInArrow → ArrowEvalPython / MapInPandas nodes) —
    the 10-100× rule the module docstrings promise."""
    offenders = [
        name
        for name, plan in registry_simple_plans.items()
        if name != "udf_python_row" and "BatchEvalPython" in plan
    ]
    assert not offenders, offenders


#: Queries allowed ≥3 base-table scans in one plan because each scan is
#: justified — different pushed-down filters / spec semantics — not a
#: re-derived shared intermediate.  Everything else must persist its
#: shared intermediate (run_cache) or restructure to a single pass;
#: the round-8 sweep fixed eleven offenders this way (funnel ×2,
#: dau/wau/mau, MAD outliers, PQ/IVF/truncation/embedding-LSH/centroid
#: -drift, boilerplate, segment-rewrite).
REPEAT_SCAN_ALLOWED = {
    "stat_heavy_hitters_exact": "per-column single-column scans emitting "
        "map-side-combined partials; one scan per audited column + the "
        "1-row count, documented in the op",
    "subq_scalar_uncorrelated": "scalar-subquery semantics demo — each "
        "scalar subquery executes once by design, tiny results",
    "text_contamination": "eval/candidate branches scan DISJOINT doc_id "
        "ranges (pushdown-pruned) + a doc_id-only projection; no "
        "duplicated tokenize work",
    "sim_lsh_ann": "the guide-§8 decide-small/attach-once shape (r12): "
        "one full scan computes signatures, one full scan attaches "
        "neighbor vectors AFTER the id-level candidate dedup — the "
        "former 2-scan form instead replicated every embedding payload "
        "N_TABLES× through the bucket join and hashed full double[] "
        "vectors in its distinct; the remaining two scans are "
        "vec_id < N_QUERIES pushdown-pruned query-side fetches that "
        "touch one row group",
    "sql_table_function": "correlated SQL-TVF demo — each per-segment "
        "scalar-subquery invocation inlines the function body (orders ⋈ "
        "customer) by design, plus the segment driving scan; the oracle's "
        "single left-join aggregate is the deployment form, and the "
        "docstring records exactly this trade",
    "snapshot_diff_audit": "snapshot B is a DERIVED TWIN of orders (the "
        "test-harness trick that lets both engines reconcile identical "
        "versions): its survivor and mirrored-insert branches each scan "
        "orders with different pushed filters, plus side A's scan = 3. "
        "A real deployment diffs two MATERIALIZED snapshots — one scan "
        "each — so persisting the derivation here would optimize "
        "scaffolding a production plan doesn't have",
}


def test_no_repeat_corpus_scans_anywhere(registry_simple_plans):
    """Global scale guard #4 (round 8): no batch-relational registry
    query may scan the same base parquet table ≥3 times in one plan,
    outside the reasoned allow-list above.  A table scanned N times is
    an N× corpus-read multiplier at 100 TB — the defect class fixed by
    the run_cache persists (text r7, funnel/ANN/analytics r8).  Uses
    the cache-aware counter plans.inspect.count_executed_scans
    (persisted subtrees count once), whose format assumptions
    tests/test_tools.py pins."""
    offenders = {}
    for name, plan in registry_simple_plans.items():
        if name in REPEAT_SCAN_ALLOWED:
            continue
        worst = {
            t: c for t, c in count_executed_scans(plan).items() if c >= 3
        }
        if worst:
            offenders[name] = worst
    assert not offenders, offenders
    assert all(r.strip() for r in REPEAT_SCAN_ALLOWED.values())


def test_audio_features_single_pass_no_exchange(spark):
    """mm_audio_features' 1:N frame expansion happens INSIDE the Arrow
    batch: the plan is scan → two ArrowEvalPython/mapInPandas stages →
    presentation sort, with no hash exchange (the only exchange is the
    final orderBy's range partitioning)."""
    df = q("mm_audio_features", spark)
    plan = physical_plan(df)
    assert "Generate" not in plan, plan  # no explode-then-shuffle
    assert count_exchanges(df) <= 1, plan  # orderBy only


def test_qds7_star_topk_take_ordered(spark):
    """qds7's ordered LIMIT must plan TakeOrderedAndProject (never a
    global sort of all brands), and the partial aggregate must collapse
    the fact stream before the single group-key shuffle."""
    df = q("qds7_demographic_item_avgs", spark)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_avg" in plan or "partial" in plan.lower(), plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime bloom-filter join pruning (round 10): for a shuffle join
    whose build side carries a selective filter, the optimizer injects
    a BloomFilterAggregate on the build side and a might_contain
    predicate on the FACT side — rows that cannot match are dropped
    before the shuffle, the row-level sibling of partition-level DPP.
    The trigger thresholds are production-sized by default
    (applicationSideScanSizeThreshold 10 GB), so — exactly like the
    skew smoke — the test scales the BYTES thresholds to the corpus
    while keeping the rule structure; and it pins the negative too:
    without a selective build-side filter the bloom is NOT injected
    (an unconditional bloom would tax every join for nothing)."""
    sf = SF_DIR
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    keep = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        # Pin the shuffle path: a broadcast join already ships the
        # build side everywhere, so bloom pruning has nothing to add
        # (the rule skips it) — same reason the skew smoke pins SMJ.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold", "100MB"
        )
        selective = orders.filter("o_orderpriority = '1-URGENT'")
        j = (
            li.join(selective, li.l_orderkey == selective.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, (
            "bloom filter did not inject on the selective join"
        )
        # Negative: no selective build-side predicate -> no bloom.
        j2 = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan2 = j2._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" not in plan2, (
            "bloom filter injected without a selective build side"
        )
        # The pruned join returns exactly the plain join's result.
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        plain = {
            r["o_orderstatus"]: r["count"]
            for r in li.join(
                selective, li.l_orderkey == selective.o_orderkey
            ).groupBy("o_orderstatus").count().collect()
        }
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        bloomed = {r["o_orderstatus"]: r["count"] for r in j.collect()}
        assert bloomed == plain and bloomed, (bloomed, plain)
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
        ):
            spark.conf.unset(k)


def test_substring_dedup_semi_join_broadcasts_on_clean_corpus(spark):
    """dedup_substring_spans' duplicate-hash set is output-sized on a
    clean corpus, so the probe-back semi join must be a BROADCAST hash
    join (the persisted window table never reshuffles by hash on the
    probe side).  The boilerplate-flood fallback to a shuffled
    sort-merge semi join is measured in SCALE_SMOKE.md (32x twin
    corpus) rather than pinned here — it needs the replicated corpus."""
    from splitserve_spark.registry import REGISTRY

    df = REGISTRY["dedup_substring_spans"].fn(spark, SF_DIR)
    df.count()  # execute so the AQE final plan is real
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = [l for l in plan.splitlines() if "Join" in l]
    assert any("BroadcastHashJoin" in l and "LeftSemi" in l for l in joins), (
        f"expected broadcast left-semi dup-set join, got: {joins}"
    )
    assert not any("SortMergeJoin" in l for l in joins), (
        f"unexpected shuffle join on the clean corpus: {joins}"
    )


def test_qds67_rollup_feeds_window_group_limit(spark):
    """Q67 shape: Expand (rollup grouping sets) must feed a window
    whose rank<=3 filter is pushed below the per-partition sort as a
    WindowGroupLimit — at 100 TB the full ranked rollup is never
    materialized, only each brand partition's top rows survive the
    partial pass."""
    plan = physical_plan(q("qds67_rollup_brand_topn", spark))
    assert "Expand" in plan
    assert "WindowGroupLimit" in plan
    # Partial limit runs map-side before the window partition shuffle.
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_qds93_outer_join_build_side_pre_collapsed(spark):
    """Q93 shape: the returns side of the LEFT OUTER fact-fact join
    must be an aggregate (distinct return keys), not raw return rows
    — and the aggregate must run partial→final so the collapse is
    map-side-combinable."""
    plan = physical_plan(q("qds93_returns_adjusted_sales", spark))
    assert "LeftOuter" in plan
    assert "partial_sum" in plan, plan


def test_qds14_intersect_applies_as_semi_join(spark):
    """Q14 shape: the INTERSECT-built item set must apply to the fact
    table as a LeftSemi join (never a distinct-then-inner that would
    duplicate fact rows), and the scalar share threshold must come
    from the grouped result (a scalar aggregate over brand rows), not
    a second pass over lineitem."""
    df = q("qds14_cross_channel_intersect", spark)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    # Scalar total: a keyless aggregate over the persisted grouped rows.
    assert "InMemoryTableScan" in plan, plan
