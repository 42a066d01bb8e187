"""Training-data preparation operators (beyond-parity, LLM-pipeline).

Operations every large-scale training-data pipeline runs between raw
corpus and tokenizer, absent from the reference (SURVEY.md §4.3 plans
LLM-pipeline capabilities as DataFrame libraries):

  * `pii_pseudonymize`        — irreversible surrogate ids + digit
                                masking + value bucketing before data
                                leaves the governed zone.
  * `text_boilerplate`        — CCNet-style cross-document boilerplate
                                detection: word-3-grams in ≥ K docs.
  * `pack_sequences`          — concat-and-chunk packing of the token
                                stream into fixed context windows.
  * `mix_domains_quota`       — deterministic hash-ordered per-domain
                                quota sampling (reproducible mixing).
  * `split_train_eval`        — leakage-free hash split + manifest.
  * `filter_reason_codes`     — quality filter with reason labels.
  * `mix_importance_weights`  — per-domain mixing weights.
  * `text_token_histogram`    — per-source length profile.
  * `sample_stratified_topk`  — exact hash-ranked per-source sample
                                (reproducible, WindowGroupLimit-pushed).

All are pure DataFrame programs (no UDFs) with exact DuckDB oracles;
they run on the driver-generated `documents`/`customer` tables
(TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables


@register(
    "pii_pseudonymize",
    oracle="""
    SELECT c_custkey,
           md5(c_name)                                   AS pseudo_id,
           regexp_replace(c_name, '[0-9]', 'X', 'g')     AS masked_name,
           CAST(floor(c_acctbal / 1000) AS BIGINT)       AS acctbal_bucket,
           c_mktsegment
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("pipeline", "privacy", "text"),
)
def pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymize identity columns before training: stable
    irreversible surrogate (md5), digit-masked display form, and
    k-anonymity-style bucketing of the numeric attribute.

    Scale shape: a narrow projection — no shuffle, no UDF; md5 and
    regexp_replace run inside whole-stage codegen, so this is a
    zero-cost rewrite on the 100 TB scan path."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.customer.select(
            "c_custkey",
            F.md5(F.col("c_name").cast("binary")).alias("pseudo_id"),
            F.regexp_replace("c_name", "[0-9]", "X").alias("masked_name"),
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("acctbal_bucket"),
            "c_mktsegment",
        )
        .orderBy("c_custkey")
    )


#: A word-3-gram is boilerplate if it occurs in at least this many
#: distinct documents (absolute threshold — corpus-size-relative
#: thresholds are vacuous on the synthetic corpus, whose max 3-gram
#: doc-frequency is ~2%; at larger SFs this catches proportionally
#: more, which is the intended CCNet-style behavior).
BOILER_MIN_DOCS = 5
BOILER_N = 3

_BOILER_GRAMS_SQL = """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), ' +') AS ws FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 3 THEN
               list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
             ELSE [] END AS gs
      FROM w
    ), e AS (
      SELECT DISTINCT doc_id, unnest(gs) AS g FROM g
    ), boiler AS (
      SELECT g FROM e GROUP BY g HAVING count(*) >= {min_docs}
    )
""".format(min_docs=BOILER_MIN_DOCS)


@register(
    "text_boilerplate",
    oracle=_BOILER_GRAMS_SQL
    + """
    , m AS (
      SELECT e.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler
      FROM e LEFT JOIN boiler b ON e.g = b.g
      GROUP BY e.doc_id
    )
    SELECT d.doc_id,
           COALESCE(m.n_grams, CAST(0 AS BIGINT)) AS n_grams,
           COALESCE(m.n_boiler, CAST(0 AS BIGINT)) AS n_boiler,
           COALESCE(round(CAST(m.n_boiler AS DOUBLE) / m.n_grams, 6), 0.0)
             AS boiler_ratio
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN m USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("text", "pipeline", "dedup"),
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate scan (CCNet line-dedup analog at the
    n-gram level): per document, the fraction of its distinct
    word-{BOILER_N}-grams shared by ≥ {BOILER_MIN_DOCS} documents —
    headers/footers/navigation chrome in a real crawl.

    Scale shape: gram doc-frequency is one map-side-combinable groupBy
    on the gram; the boilerplate set (df ≥ K) is orders of magnitude
    smaller than the corpus and broadcasts back for the per-doc probe —
    the corpus shuffles once (per-doc distinct), same skeleton as
    text_contamination.  The distinct (doc, gram) table feeds both the
    doc-frequency rollup and the per-doc probe, so it is persisted for
    the run (run_cache contract) — without it Catalyst re-tokenizes
    the corpus once per branch."""
    ensure_parity_conf(spark)
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    t = Tables(spark, sf_dir)
    # Let-bound single-parse gram expression — see text._word_ngrams_expr
    # (the unbound form re-inlined split(trim(text)) into every
    # element_at reference).
    from splitserve_spark.operators.text import _word_ngrams_expr

    release_prior()
    e = persist_tracked(
        t.documents.select("doc_id", _word_ngrams_expr(BOILER_N).alias("gs"))
        .selectExpr("doc_id", "explode(gs) AS g")
        .distinct()
    )
    boiler = (
        e.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DOCS)
        .select("g")
    )
    m = (
        e.join(F.broadcast(boiler.withColumn("hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).alias("n_boiler"),
        )
    )
    return (
        t.documents.select("doc_id")
        .join(m, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0).cast("bigint")).alias("n_boiler"),
            F.coalesce(
                F.round(F.col("n_boiler").cast("double") / F.col("n_grams"), 6),
                F.lit(0.0),
            ).alias("boiler_ratio"),
        )
        .orderBy("doc_id")
    )


#: Fixed context-window length (tokens) for sequence packing.
CONTEXT_TOKENS = 512


@register(
    "pack_sequences",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             -- CAST: DuckDB sum(BIGINT) yields HUGEINT, which pandas
             -- renders as float64 and breaks the dtype-class compare
             CAST(COALESCE(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS offset_tokens
      FROM d
    )
    SELECT doc_id, source, n_tokens, offset_tokens,
           CAST(floor(offset_tokens / {CONTEXT_TOKENS}) AS BIGINT) AS chunk_first,
           CAST(floor((offset_tokens + n_tokens - 1) / {CONTEXT_TOKENS}) AS BIGINT)
             AS chunk_last
    FROM c
    ORDER BY source, doc_id
    """,
    tags=("pipeline", "packing"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per shard (source), documents
    are concatenated in doc_id order into one token stream and cut into
    fixed {CONTEXT_TOKENS}-token context windows; each document reports
    its token offset and the chunk range it spans — exactly the packed
    layout an LLM pre-training loader materializes.

    Scale shape: ONE window partitioned by shard (never a global
    single-partition cumsum — the per-source partitioning is the
    parallelism), computed in a single shuffle on source; everything
    else is arithmetic in codegen."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    n_tokens = F.size(F.split(F.trim(F.col("text")), " +")).cast("bigint")
    run = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        t.documents.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn(
            "offset_tokens",
            F.coalesce(F.sum("n_tokens").over(run), F.lit(0).cast("bigint")),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "offset_tokens",
            F.floor(F.col("offset_tokens") / CONTEXT_TOKENS)
            .cast("bigint")
            .alias("chunk_first"),
            F.floor((F.col("offset_tokens") + F.col("n_tokens") - 1) / CONTEXT_TOKENS)
            .cast("bigint")
            .alias("chunk_last"),
        )
        .orderBy("source", "doc_id")
    )


#: Per-domain document quota for deterministic data mixing.
MIX_QUOTA = 10


@register(
    "mix_domains_quota",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hkey
      FROM documents
    ), r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id)
               AS pick_rank
      FROM h
    )
    SELECT source, CAST(pick_rank AS BIGINT) AS pick_rank, doc_id
    FROM r
    WHERE pick_rank <= {MIX_QUOTA}
    ORDER BY source, pick_rank
    """,
    tags=("pipeline", "sampling"),
)
def mix_domains_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing: each domain (source) contributes its
    {MIX_QUOTA} documents with the smallest md5(doc_id) — a reproducible
    uniform subsample per domain, the building block of weighted
    corpus-mixing recipes (quota per domain = weight × budget).

    Hash-ordered selection beats rand() sampling at scale because it is
    stable across runs/retries and needs no seed plumbing: one shuffle
    on source, WindowGroupLimit prunes each partition to the quota
    before the final sort."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("hkey", "doc_id")
    return (
        t.documents.select(
            "doc_id", "source",
            F.md5(F.col("doc_id").cast("string").cast("binary")).alias("hkey"),
        )
        .withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= MIX_QUOTA)
        .select("source", F.col("pick_rank").cast("bigint").alias("pick_rank"), "doc_id")
        .orderBy("source", "pick_rank")
    )


#: Deterministic split: docs whose 60-bit hash lands in the lowest
#: EVAL_PCT buckets of 100 are held out.
EVAL_PCT = 5


@register(
    "split_train_eval",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
                       % 100 < {EVAL_PCT}
                  THEN 'eval' ELSE 'train' END AS split,
             len(string_split_regex(trim(text), ' +')) AS n_tokens
      FROM documents
    )
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM d GROUP BY source, split
    ORDER BY source, split
    """,
    tags=("pipeline", "sampling"),
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval split by document hash: stable across
    runs, machines and engines (no seed plumbing), leakage-free by
    construction — the same doc can never switch sides.  Output is the
    per-source split manifest (doc/token counts) a pipeline records
    next to the data.

    Scale shape: the split predicate is a codegen projection; the
    manifest is one map-side-combinable groupBy."""
    from splitserve_spark.functions.parity_hash import md5_hash60

    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    split = F.when(
        md5_hash60(F.col("doc_id").cast("string")) % 100 < EVAL_PCT, "eval"
    ).otherwise("train")
    n_tokens = F.size(F.split(F.trim(F.col("text")), " +")).cast("bigint")
    return (
        t.documents.select(
            "source", split.alias("split"), n_tokens.alias("n_tokens")
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source", "split")
    )


#: Quality-filter thresholds (calibrated non-degenerate on the synthetic
#: corpus: ~105 short / ~171 long / ~165 repetitive / ~59 ok at sf0.001).
MIN_WORDS, MAX_WORDS, MIN_UNIQ_RATIO = 30, 70, 0.55


@register(
    "filter_reason_codes",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), ' +')) AS n_words,
             len(list_distinct(string_split_regex(trim(text), ' +'))) AS n_uniq
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(CAST(n_uniq AS DOUBLE) / n_words, 6) AS uniq_ratio,
           CASE WHEN n_words < {MIN_WORDS} THEN 'too_short'
                WHEN n_words > {MAX_WORDS} THEN 'too_long'
                WHEN CAST(n_uniq AS DOUBLE) / n_words < {MIN_UNIQ_RATIO}
                  THEN 'repetitive'
                ELSE 'ok' END AS reason
    FROM w
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "quality"),
)
def filter_reason_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering with reason codes — production pipelines never
    just drop documents, they label WHY (too_short / too_long /
    repetitive / ok, first matching rule wins) so filter rates can be
    monitored per source and rules can be replayed.

    Scale shape: a narrow codegen projection; the downstream filter is
    `WHERE reason = 'ok'` and the monitoring rollup is a groupBy on
    (source, reason) — neither is materialized here."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    ws = F.split(F.trim(F.col("text")), " +")
    n_words = F.size(ws).cast("bigint")
    uniq_ratio = F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
    reason = (
        F.when(n_words < MIN_WORDS, "too_short")
        .when(n_words > MAX_WORDS, "too_long")
        .when(uniq_ratio < MIN_UNIQ_RATIO, "repetitive")
        .otherwise("ok")
    )
    return (
        t.documents.select(
            "doc_id",
            n_words.alias("n_words"),
            F.round(uniq_ratio, 6).alias("uniq_ratio"),
            reason.alias("reason"),
        )
        .orderBy("doc_id")
    )


@register(
    "mix_importance_weights",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ), tot AS (
      SELECT sum(n_docs) AS total, count(*) AS n_src FROM s
    )
    SELECT s.source, s.n_docs,
           round(CAST(s.n_docs AS DOUBLE) / tot.total, 6) AS actual_share,
           round(CAST(tot.total AS DOUBLE) / (tot.n_src * s.n_docs), 6)
             AS weight
    FROM s, tot
    ORDER BY s.source
    """,
    tags=("pipeline", "sampling"),
)
def mix_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights for corpus mixing: weight(source) =
    target_share / actual_share with a uniform 1/n_sources target —
    multiply per-doc sampling probability by its source weight to hit
    the recipe.  Over-represented domains get weight < 1, rare domains
    > 1 (upsampled).  The source count is measured in-query (a window
    over the aggregated rows), never pinned as a corpus constant.

    Scale shape: the corpus reduces to one row-per-source aggregate;
    the share/weight normalization is a window over those few rows,
    not the data."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    s = t.documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    everything = Window.partitionBy()
    total = F.sum("n_docs").over(everything)
    n_src = F.count(F.lit(1)).over(everything)
    return (
        s.withColumn("total", total)
        .withColumn("n_src", n_src)
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("total"), 6)
            .alias("actual_share"),
            F.round(
                F.col("total").cast("double")
                / (F.col("n_src") * F.col("n_docs")),
                6,
            ).alias("weight"),
        )
        .orderBy("source")
    )


#: Histogram bin width (tokens) for the corpus length profile.
HIST_BIN = 10


@register(
    "text_token_histogram",
    oracle=f"""
    WITH w AS (
      SELECT source,
             CAST(floor(len(string_split_regex(trim(text), ' +'))
                        / {HIST_BIN}) * {HIST_BIN} AS BIGINT) AS bin_lo
      FROM documents
    )
    SELECT source, bin_lo, CAST(count(*) AS BIGINT) AS n_docs
    FROM w GROUP BY source, bin_lo
    ORDER BY source, bin_lo
    """,
    tags=("pipeline", "text", "stats"),
)
def text_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram ({HIST_BIN}-token bins) —
    the length profile a pipeline inspects before choosing packing and
    truncation parameters.  One map-side-combinable groupBy; bins are
    computed in the scan projection."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    n_words = F.size(F.split(F.trim(F.col("text")), " +"))
    bin_lo = (F.floor(n_words / HIST_BIN) * HIST_BIN).cast("bigint")
    return (
        t.documents.select("source", bin_lo.alias("bin_lo"))
        .groupBy("source", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "bin_lo")
    )


#: Docs kept per source by the stratified sampler.
STRAT_K = 5


@register(
    "sample_stratified_topk",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT source, doc_id, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= {STRAT_K}
    ORDER BY source, rn
    """,
    tags=("pipeline", "sampling"),
)
def sample_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: exactly {STRAT_K} docs per
    source, chosen by hash order — the reproducible per-domain sample a
    pipeline pulls for manual quality review or per-domain eval sets.
    Unlike sampleBy (probabilistic, approximate counts), hash-ranked
    top-K is exact and replayable.

    Scale shape: one shuffle on source; the rank <= K predicate pushes
    into the shuffle as WindowGroupLimit (partial top-K on the map
    side), so only ~K rows per source per mapper ever move."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    h = F.md5(
        F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))
        .cast("binary")
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    )
    return (
        t.documents.select("source", "doc_id", rn.alias("rn"))
        .filter(F.col("rn") <= STRAT_K)
        .orderBy("source", "rn")
    )


#: Temperature exponent for source re-weighting (the multilingual-LM
#: convention: p_s ∝ n_s^alpha flattens the source distribution).
MIX_TEMPERATURE_ALPHA = 0.3


@register(
    "mix_temperature_weights",
    oracle=f"""
    WITH counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), powered AS (
        SELECT source, n_docs,
               pow(n_docs, {MIX_TEMPERATURE_ALPHA}) AS raw_w
        FROM counts
    )
    SELECT source, n_docs,
           round(raw_w / sum(raw_w) OVER (), 8)          AS sample_prob,
           round(raw_w / sum(raw_w) OVER ()
                 / (n_docs * 1.0 / sum(n_docs) OVER ()), 6) AS upweight
    FROM powered
    ORDER BY source
    """,
    tags=("pipeline", "mixing"),
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (p_s ∝ n_s^α, α=0.3 — the
    multilingual-LM sampling convention): per source, the re-scaled
    sampling probability and its up/down-weight factor vs the natural
    frequency.  α→0 flattens toward uniform, α=1 keeps natural
    proportions; the factor column is what a sampler multiplies into
    per-document weights.

    One groupBy(source) makes the table O(|sources|); the window
    normalizations run over that tiny aggregate, never the corpus."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    counts = t.documents.groupBy("source").agg(F.count("*").alias("n_docs"))
    w_all = Window.partitionBy()
    raw_w = F.pow(F.col("n_docs"), F.lit(MIX_TEMPERATURE_ALPHA))
    nat = F.col("n_docs") / F.sum("n_docs").over(w_all)
    prob = raw_w / F.sum(raw_w).over(w_all)
    return (
        counts.select(
            "source",
            "n_docs",
            F.round(prob, 8).alias("sample_prob"),
            F.round(prob / nat, 6).alias("upweight"),
        )
        .orderBy("source")
    )


#: PII regexes shared by the Spark detector and the DuckDB oracle
#: (RE2/Java-compatible subset: no lookaround).
PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
PII_PHONE_RE = "555-[0-9]{4}"


@register(
    "pii_detect_stats",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, source,
               text ||
               CASE WHEN doc_id % 3 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com'
                    ELSE '' END ||
               CASE WHEN doc_id % 5 = 0
                    THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                             4, '0')
                    ELSE '' END AS text2
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN regexp_matches(text2, '{PII_EMAIL_RE}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_email,
           CAST(sum(CASE WHEN regexp_matches(text2, '{PII_PHONE_RE}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_phone,
           CAST(sum(len(regexp_extract_all(text2, '{PII_EMAIL_RE}')))
                AS BIGINT) AS total_emails
    FROM aug
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "privacy", "text"),
)
def pii_detect_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection audit — the measurement half of the privacy
    pipeline (pii_pseudonymize is the remediation half): per source,
    how many documents contain email/phone-shaped spans and the total
    span count.  The corpus has no real PII, so deterministic
    synthetic spans are injected first (doc_id-keyed, like the URL and
    XML synthesizers) — the DETECTOR only sees the text.

    Pure regexp projections + one map-side-combinable rollup; the
    regexes avoid lookaround so Java and RE2-style engines agree.  At
    100 TB this is the scan-side audit you run before and after the
    pseudonymization rewrite."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    text2 = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    aug = t.documents.select("doc_id", "source", text2.alias("text2"))
    has_email = F.regexp_count("text2", F.lit(PII_EMAIL_RE)) > 0
    has_phone = F.regexp_count("text2", F.lit(PII_PHONE_RE)) > 0
    return (
        aug.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(has_email.cast("int")).cast("bigint").alias("n_with_email"),
            F.sum(has_phone.cast("int")).cast("bigint").alias("n_with_phone"),
            F.sum(F.regexp_count("text2", F.lit(PII_EMAIL_RE)))
            .cast("bigint")
            .alias("total_emails"),
        )
        .orderBy("source")
    )


#: Weighted-sample size for the A-ES reservoir demo.
ARES_K = 100


@register(
    "sample_weighted_ares",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), ' +')) AS weight
        FROM documents
    ), keyed AS (
        SELECT doc_id, weight,
               -ln(((('0x' || substr(md5('ares:' || CAST(doc_id AS VARCHAR)),
                       1, 15))::BIGINT % 1000000) + 1) / 1000001.0)
                   / weight AS k
        FROM w WHERE weight >= 1
    )
    SELECT doc_id, CAST(weight AS BIGINT) AS weight,
           round(k, 6) AS sample_key
    FROM keyed
    ORDER BY k, doc_id
    LIMIT {ARES_K}
    """,
    tags=("pipeline", "sampling"),
)
def sample_weighted_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each document draws an exponential race key
    k = -ln(u)/w — here weighted by token count, the 'sample long
    documents proportionally more' pretraining recipe — and the sample
    is the K smallest keys.  u comes from the md5-derived 60-bit hash
    (deterministic AND identical in DuckDB), so unlike rand()-based
    sampling the draw is partitioning-independent and exactly
    oracle-checkable.

    Scale design: the key is a pure scan projection and the K-smallest
    cut is orderBy+limit — Spark plans TakeOrderedAndProject (per-
    partition partial top-K, only K rows per partition reach the
    driver-side merge), so the corpus never globally sorts and never
    shuffles.  This is THE scale-safe form of weighted sampling: a
    100 TB corpus yields K rows with one pass and no exchange."""
    ensure_parity_conf(spark)
    from splitserve_spark.functions.parity_hash import md5_hash60

    t = Tables(spark, sf_dir)
    weight = F.size(F.split(F.trim(F.col("text")), " +"))
    u = (
        (md5_hash60(F.concat(F.lit("ares:"), F.col("doc_id").cast("string")))
         % 1_000_000) + 1
    ) / 1_000_001.0
    keyed = (
        t.documents.select(
            "doc_id",
            weight.cast("bigint").alias("weight"),
            (-F.log(u)).alias("_negln"),
        )
        .filter(F.col("weight") >= 1)
        .select(
            "doc_id", "weight",
            (F.col("_negln") / F.col("weight")).alias("k"),
        )
    )
    return (
        keyed.orderBy("k", "doc_id")
        .limit(ARES_K)
        .select("doc_id", "weight", F.round("k", 6).alias("sample_key"))
    )


#: Deterministic-epoch-shuffle knobs: seed tag baked into the hash so a
#: different epoch (tag) yields a different but equally deterministic
#: permutation; shard count models the training-job reader parallelism.
EPOCH_TAG = "epoch-1-"
EPOCH_SHARDS = 8


def _epoch_shuffle_oracle() -> str:
    """DuckDB replica: same seeded hash, same shard assignment, same
    per-shard row_number."""
    from splitserve_spark.functions.parity_hash import md5_hash60_sql

    h = md5_hash60_sql(f"'{EPOCH_TAG}' || CAST(doc_id AS STRING)")
    return f"""
    WITH keyed AS (
      SELECT doc_id, {h} AS hkey,
             CAST({h} % {EPOCH_SHARDS} AS INTEGER) AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hkey, doc_id)
                AS INTEGER) AS pos
    FROM keyed ORDER BY shard, pos
    """


@register(
    "mix_epoch_shuffle",
    oracle=_epoch_shuffle_oracle(),
    tags=("training-prep", "llm-pipeline", "shuffle"),
)
def mix_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding for one training epoch —
    how a 100 TB corpus is permuted WITHOUT a central RNG: each doc's
    position comes from a seeded hash (md5 of epoch-tag ++ doc_id), so
    the permutation is reproducible across reruns, resumable mid-epoch,
    and independent of input partitioning (the properties data loaders
    like a deterministic tf.data / torchdata shuffle need).

    shard = hash % EPOCH_SHARDS assigns each doc to a reader shard;
    pos = row_number over (PARTITION BY shard ORDER BY hash) gives its
    read order within the shard.  The window is PARTITIONED — each
    shard ranks independently, so parallelism = shard count (at 100 TB
    one runs thousands of shards; no global sort, no single reducer —
    contrast the fenced exact-rank twins in prefix_rank.py).

    Ref: the reference's RangePartitioner+sortByKey global shuffle
    (`core/.../Partitioner.scala:107`) is the RDD-era equivalent; the
    hash-shard form avoids its sampling pass entirely."""
    ensure_parity_conf(spark)
    from splitserve_spark.functions.parity_hash import md5_hash60

    t = Tables(spark, sf_dir)
    h = md5_hash60(F.concat(F.lit(EPOCH_TAG), F.col("doc_id").cast("string")))
    keyed = t.documents.select("doc_id", h.alias("hkey")).select(
        "doc_id",
        "hkey",
        (F.col("hkey") % EPOCH_SHARDS).cast("int").alias("shard"),
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("hkey", "doc_id")
    )
    return (
        keyed.select("doc_id", "shard", pos.alias("pos"))
        .orderBy("shard", "pos")
    )


@register(
    "split_group_holdout",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CASE WHEN (('0x' || substr(md5('grp-' || source), 1, 15))::BIGINT)
                       % 100 < {EVAL_PCT}
                  THEN 'eval' ELSE 'train' END AS split,
             len(string_split_regex(trim(text), ' +')) AS n_tokens
      FROM documents
    )
    SELECT split,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM d GROUP BY split
    ORDER BY split
    """,
    tags=("pipeline", "sampling"),
)
def split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/eval holdout: the split key is the hash of
    the SOURCE, not the document — every document of a source lands on
    the same side, so near-duplicates and boilerplate shared within a
    crawl domain can never leak from train into eval (the C4/Pile
    decontamination rule split_train_eval's per-doc hash cannot give;
    tests assert the no-straddle invariant).  Output is the per-split
    manifest (source/doc/token counts).

    Scale shape: identical to split_train_eval — a codegen hash
    projection plus one map-side-combinable groupBy; the distinct
    source count rides the same shuffle."""
    from splitserve_spark.functions.parity_hash import md5_hash60

    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    split = F.when(
        md5_hash60(F.concat(F.lit("grp-"), F.col("source"))) % 100 < EVAL_PCT,
        "eval",
    ).otherwise("train")
    n_tokens = F.size(F.split(F.trim(F.col("text")), " +")).cast("bigint")
    return (
        t.documents.select(
            split.alias("split"), "source", n_tokens.alias("n_tokens")
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split")
    )


#: DSIR hashed-feature bucket count (fixed-size by construction, so
#: the per-bucket ratio table is always broadcastable).
DSIR_B = 256
#: The target distribution: English documents (the "high-quality
#: domain" stand-in on this corpus — any predicate works).
DSIR_TARGET_LANG = "en"

#: Documents kept by the DSIR selection step.
DSIR_K = 100

#: The shared weight pipeline, ONE definition for both DSIR oracles
#: (importance report + selection) — smoothing, bucket count, hash fn
#: and rounding cannot drift between them.
_DSIR_WEIGHTS_SQL = f"""
    WITH words AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(text), ' +')) AS w
        FROM documents
    ), wb AS (
        SELECT doc_id, lang,
               ((('0x' || substr(md5(w), 1, 15))::BIGINT % {DSIR_B}
                 + {DSIR_B}) % {DSIR_B}) AS b
        FROM words
    ), bstats AS (
        SELECT b, count(*) AS rc,
               count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS tc
        FROM wb GROUP BY b
    ), tots AS (
        SELECT sum(rc) AS r_tot, sum(tc) AS t_tot FROM bstats
    ), ratio AS (
        SELECT b,
               ln((tc + 1.0) / (t_tot + {DSIR_B}))
                 - ln((rc + 1.0) / (r_tot + {DSIR_B})) AS lr
        FROM bstats CROSS JOIN tots
    ), perdoc AS (
        SELECT doc_id, b, count(*) AS cnt FROM wb GROUP BY doc_id, b
    ), weights AS (
        SELECT perdoc.doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_feats,
               round(sum(cnt * lr), 4) AS log_weight
        FROM perdoc JOIN ratio USING (b)
        GROUP BY perdoc.doc_id
    )
"""


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared Spark weight pipeline (doc_id, n_feats, log_weight)
    — the single implementation both registered DSIR operators build
    on, mirroring _DSIR_WEIGHTS_SQL term for term.  Calls
    release_prior()/persist_tracked itself: the per-(doc, bucket)
    rollup feeds the corpus-wide bucket stats AND the per-doc scoring
    join, and re-deriving it means re-running the explode + hash over
    the corpus."""
    from splitserve_spark.functions.parity_hash import md5_hash60
    from splitserve_spark.operators.run_cache import (
        persist_tracked, release_prior,
    )

    t = Tables(spark, sf_dir)
    release_prior()
    words = t.documents.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), " +")).alias("w"),
    )
    wb = words.select(
        "doc_id",
        "lang",
        F.pmod(md5_hash60(F.col("w")), F.lit(DSIR_B)).alias("b"),
    )
    perdoc = persist_tracked(
        wb.groupBy("doc_id", "b").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1)
            ).alias("tcnt"),
        )
    )
    bstats = perdoc.groupBy("b").agg(
        F.sum("cnt").alias("rc"), F.sum("tcnt").alias("tc")
    )
    tots = bstats.agg(
        F.sum("rc").alias("r_tot"), F.sum("tc").alias("t_tot")
    )
    ratio = bstats.crossJoin(F.broadcast(tots)).select(
        "b",
        (
            F.log((F.col("tc") + 1.0) / (F.col("t_tot") + DSIR_B))
            - F.log((F.col("rc") + 1.0) / (F.col("r_tot") + DSIR_B))
        ).alias("lr"),
    )
    return (
        perdoc.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.round(F.sum(F.col("cnt") * F.col("lr")), 4).alias(
                "log_weight"
            ),
        )
    )



@register(
    "mix_dsir_importance",
    oracle=_DSIR_WEIGHTS_SQL + """
    SELECT doc_id, n_feats, log_weight FROM weights ORDER BY doc_id
    """,
    tags=("mix", "pipeline", "dsir"),
)
def mix_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public method):
    score every raw document by log p_target(d)/p_raw(d) under hashed
    bag-of-token models, where the target distribution is estimated
    from the {DSIR_TARGET_LANG!r}-language slice and the raw
    distribution from the whole corpus.  Gumbel-top-k over these
    log-weights (the epoch-shuffle operator's race-key trick) then
    selects a target-like subcorpus — the standard
    domain-upsampling step between raw crawl and tokenizer.

    Hashing: tokens land in {DSIR_B} buckets via the cross-engine
    md5 60-bit hash (functions/parity_hash.py), so DuckDB replays the
    EXACT feature space — no engine-internal murmur anywhere.  +1
    smoothing on both distributions keeps every bucket finite.

    Plan shape at scale: ONE corpus explode feeds both distributions
    (target counts are a conditional aggregate of the same pass —
    never a second scan); the {DSIR_B}-row ratio table is bounded by
    construction and hint-broadcast (the ONLY broadcast here — the
    per-doc bucket rollup stays shuffled); per-doc scoring joins
    aggregates, not tokens, so the heavy side shuffles once on
    (doc_id, bucket) with map-side combine.  All JVM codegen, no
    UDF."""
    ensure_parity_conf(spark)
    return _dsir_weights(spark, sf_dir).orderBy("doc_id")


@register(
    "mix_dsir_select",
    oracle=_DSIR_WEIGHTS_SQL + f"""
    SELECT CAST(rk AS INTEGER) AS rank, doc_id, log_weight, lang, source
    FROM (
      SELECT w.doc_id, w.log_weight, d.lang, d.source,
             row_number() OVER (ORDER BY w.log_weight DESC, w.doc_id)
               AS rk
      FROM weights w JOIN documents d USING (doc_id)
    )
    WHERE rk <= {DSIR_K}
    ORDER BY rk
    """,
    tags=("mix", "pipeline", "dsir"),
)
def mix_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection half of DSIR: rank the corpus by the hashed
    importance log-weight (mix_dsir_importance's statistic) and keep
    the top {DSIR_K} — the deterministic-greedy variant of the paper's
    selection step.  (The paper's Gumbel-top-k RESAMPLING variant is
    this exact plan with the sort key perturbed by an md5-derived
    Gumbel noise term — the construction sample_weighted_aes already
    value-checks; greedy keeps this manifest reproducible byte-for-
    byte.)  Ties break on doc_id, so the manifest is a total order.

    Scale shape: the weight computation is the importance operator's
    (one corpus explode, conditional aggregates, bounded broadcast);
    selection adds one TakeOrderedAndProject over |docs| weight rows —
    never a global sort of the corpus."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    weights = _dsir_weights(spark, sf_dir).select("doc_id", "log_weight")
    # Top-K FIRST via orderBy+limit (TakeOrderedAndProject: per-
    # partition heaps, no global single-reducer sort of |docs| weight
    # rows), THEN the rank window over the K selected rows — bounded
    # by the LIMIT by construction (the text_tokenize_ids pattern; see
    # UNPARTITIONED_WINDOW_ALLOWED).
    topk = (
        weights.orderBy(F.col("log_weight").desc(), "doc_id")
        .limit(DSIR_K)
    )
    w = Window.orderBy(F.col("log_weight").desc(), "doc_id")
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .join(t.documents.select("doc_id", "lang", "source"), "doc_id")
        .select("rank", "doc_id", "log_weight", "lang", "source")
        .orderBy("rank")
    )


#: Eval share for the dedup-cluster split: cluster-hash % 10 == 0.
CLUSTER_EVAL_MOD = 10

from splitserve_spark.operators.dedup import (  # noqa: E402
    CLUSTER_ITER as _CLUSTER_ITER,
)


@register(
    "split_dedup_cluster",
    oracle="""
    WITH RECURSIVE
    fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
      FROM documents
    ),
    reps AS (SELECT fp, min(doc_id) AS rep FROM fp GROUP BY fp),
    estar AS (
      SELECT f.doc_id AS a, r.rep AS b
      FROM fp f JOIN reps r USING (fp) WHERE f.doc_id <> r.rep
    ),
    w AS (
      SELECT doc_id,
             list_distinct(string_split(regexp_replace(trim(lower(text)),
                           ' +', ' ', 'g'), ' ')) AS toks
      FROM documents WHERE doc_id < 150
    ),
    p AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM w a JOIN w b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(a.toks || b.toks)) >= 0.6
    ),
    sym AS (
      SELECT a, b FROM estar UNION SELECT b, a FROM estar
      UNION SELECT a, b FROM p UNION SELECT b, a FROM p
      UNION SELECT doc_id AS a, doc_id AS b FROM documents
    ),
    lab AS (
      SELECT 0 AS iter, a AS node, min(b) AS label FROM sym GROUP BY a
      UNION ALL
      SELECT l.iter + 1, s.a AS node, min(l.label) AS label
      FROM lab l JOIN sym s ON s.b = l.node
      WHERE l.iter < {it}
      GROUP BY l.iter + 1, s.a
    )
    SELECT node AS doc_id,
           CAST(label AS BIGINT) AS cluster_id,
           CASE WHEN (('0x' || substr(md5('cl-' || CAST(label AS VARCHAR)),
                                      1, 15))::BIGINT) % {m} = 0
                THEN 'eval' ELSE 'train' END AS split
    FROM lab WHERE iter = {it}
    ORDER BY doc_id
    """.format(it=_CLUSTER_ITER, m=CLUSTER_EVAL_MOD),
    tags=("pipeline", "sampling", "dedup", "leakage"),
)
def split_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-cluster-keyed train/eval split — the third leakage tier
    the existing splits cannot give: `split_train_eval` hashes the
    document (twins straddle), `split_group_holdout` hashes the crawl
    source (cross-source duplicates straddle).  Here the split key is
    the document's near-duplicate COMPONENT label, so a duplicate can
    never appear on both sides regardless of which domain re-hosted it
    — the decontamination rule of Lee et al. 2022 §6 applied at split
    time instead of scrub time.

    Components: exact-twin star edges (doc ↔ min-doc_id representative
    per content fingerprint, corpus-wide — linear in dups, never a
    clique) unioned with the near-dup pair list (the fenced Jaccard
    block shared with dedup_cluster_canonical), self-loops for every
    document so singletons label themselves, then CLUSTER_ITER rounds
    of min-label propagation — both engines run the identical rounds
    from the identical init, so labels agree even mid-convergence;
    tests/test_training_prep.py asserts the converged no-straddle
    invariant on the real corpus.

    Scale shape: the star construction is one fingerprint groupBy plus
    an output-sized join; propagation shuffles (node, label) pairs per
    round like graph_connected_components; at corpus scale the fenced
    O(n²) miner is replaced by the banded-LSH candidate list
    (dedup_minhash_lsh) with the same downstream plan.  The split
    projection is a codegen hash of the cluster label — co-location by
    construction, no second pass."""
    from splitserve_spark.functions.parity_hash import md5_hash60
    from splitserve_spark.operators.dedup import CLUSTER_ITER, _norm
    from splitserve_spark.operators.graph import (
        _persist_tracked,
        _release_prior,
    )

    ensure_parity_conf(spark)
    _release_prior()
    t = Tables(spark, sf_dir)
    fp_df = t.documents.select(
        "doc_id", F.md5(_norm(F.col("text")).cast("binary")).alias("fp")
    )
    reps = fp_df.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    estar = (
        fp_df.join(reps, "fp")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("doc_id").alias("a"), F.col("rep").alias("b"))
    )
    w = t.documents.filter(F.col("doc_id") < 150).select(
        "doc_id",
        F.array_distinct(F.split(_norm(F.col("text")), " ")).alias("toks"),
    )
    a = w.select(F.col("doc_id").alias("a"), F.col("toks").alias("t_a"))
    b = w.select(F.col("doc_id").alias("b"), F.col("toks").alias("t_b"))
    jac = F.size(F.array_intersect("t_a", "t_b")).cast("double") / F.size(
        F.array_union("t_a", "t_b")
    )
    pairs = a.join(b, F.col("a") < F.col("b")).filter(jac >= 0.6).select("a", "b")
    rev = lambda df: df.select(  # noqa: E731
        F.col("b").alias("a"), F.col("a").alias("b")
    )
    selfloops = t.documents.select(
        F.col("doc_id").alias("a"), F.col("doc_id").alias("b")
    )
    sym = _persist_tracked(
        estar.union(rev(estar)).union(pairs).union(rev(pairs))
        .union(selfloops).distinct()
    )
    labels = (
        sym.groupBy("a").agg(F.min("b").alias("label"))
        .withColumnRenamed("a", "node")
    )
    for _ in range(CLUSTER_ITER):
        labels = (
            sym.join(labels, F.col("b") == F.col("node"))
            .groupBy("a")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("a", "node")
        )
    split = F.when(
        md5_hash60(F.concat(F.lit("cl-"), F.col("label").cast("string")))
        % CLUSTER_EVAL_MOD
        == 0,
        "eval",
    ).otherwise("train")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").cast("bigint").alias("cluster_id"),
        split.alias("split"),
    ).orderBy("doc_id")
