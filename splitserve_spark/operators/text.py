"""Text-analysis operators for training-data pipelines (beyond-parity;
SURVEY.md §4.3 / build plan step 8).

Language-ID (stopword-marker heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and document fingerprinting over
the `documents` table.  Everything is built-in-function only (JVM-side,
codegen'd): at 100 TB these run as a single scan + narrow projections —
no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from splitserve_spark.functions.parity_hash import (
    md5_hash60,
    md5_hash60_sql,
)
from splitserve_spark.registry import register
from splitserve_spark.operators.run_cache import persist_tracked, release_prior
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables

#: Marker (stop)words per language for the heuristic classifier.  The
#: synthetic corpus is English-ish; real deployments swap these lists.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}

_STOPWORDS = LANG_MARKERS["en"]

#: BPE-ish tokenizer regex: letter runs, digit runs, or single symbols.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _words(col):
    return F.split(F.trim(col), " +")


def _word_ngrams_expr(n: int):
    """Array of word n-grams over the trim/space-split tokens of the
    ``text`` column (empty array for docs shorter than n words).

    The token array is let-bound via a 1-element transform() so each of
    the n element_at references hits the bound lambda variable instead
    of a re-inlined split(trim(text)) — without the binding,
    CollapseProject/ColumnPruning re-inline the split into every
    element_at, making gram construction O(len·n·split_cost) per doc
    (the same pathology and fix as operators/dedup.py:_shingles;
    measured ~10× on text_contamination and text_boilerplate at sf0.1:
    13.5 → 1.2 s and 6.1 → 0.6 s).  Built as ONE F.expr string for the
    same single-parse reason."""
    pos = ", ".join(
        "element_at(ws, i)" if k == 0 else f"element_at(ws, i + {k})"
        for k in range(n)
    )
    return F.expr(
        "element_at(transform(array(split(trim(text), ' +')), "
        f"ws -> CASE WHEN size(ws) >= {n} "
        f"THEN transform(sequence(1, size(ws) - {n - 1}), "
        f"i -> concat_ws(' ', {pos})) "
        "ELSE CAST(array() AS array<string>) END), 1)"
    )


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           length(text)                                  AS n_chars_obs,
           CAST(len(string_split_regex(trim(text), ' +')) AS INTEGER) AS n_words,
           CAST(len(list_distinct(string_split_regex(trim(text), ' +'))) AS INTEGER)
                                                         AS n_unique_words,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
                w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS INTEGER)
                                                         AS n_stopwords
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
    bench=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: char/word/unique-word/stopword
    counts in one narrow projection."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    w = _words(F.col("text"))
    stop = F.filter(w, lambda x: x.isin(*_STOPWORDS))
    return (
        t.documents.select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars_obs"),
            F.size(w).alias("n_words"),
            F.size(F.array_distinct(w)).alias("n_unique_words"),
            F.size(stop).alias("n_stopwords"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{TOKEN_RE}')))
                AS INTEGER) AS n_token_types
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "pipeline", "tokenize"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex tokenization (BPE-ish pre-tokenizer shape) + type counts.
    regexp_extract_all is JVM-side; the pattern avoids constructs where
    Java and RE2 dialects diverge."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    toks = F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)
    return (
        t.documents.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_token_types"),
        )
        .orderBy("doc_id")
    )


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split_regex(trim(text), ' +'), "
        f"w -> w IN ({markers})))"
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lang_score_sql("en")} AS s_en,
             {_lang_score_sql("de")} AS s_de,
             {_lang_score_sql("fr")} AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
                WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    ORDER BY doc_id
    """,
    tags=("text", "pipeline", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with a deterministic argmax tiebreak
    (en > de > fr).  A real system would use char-n-gram profiles; the
    pipeline shape — score columns + argmax — is identical."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    w = _words(F.col("text"))
    def marker_count(markers):
        # Unary lambda on purpose — a second parameter would be bound to
        # PySpark's element-index column, not a Python default.
        return F.size(F.filter(w, lambda x: x.isin(*markers)))

    scores = {lang: marker_count(m) for lang, m in LANG_MARKERS.items()}
    predicted = (
        F.when(
            (scores["en"] == 0) & (scores["de"] == 0) & (scores["fr"] == 0),
            "unknown",
        )
        .when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), "en")
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return (
        t.documents.select("doc_id", "lang", predicted.alias("predicted_lang"))
        .orderBy("doc_id")
    )


@register(
    "text_quality",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) AS n_words,
             CAST(len(list_filter(string_split_regex(trim(text), ' +'),
                  w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
                  AS DOUBLE) AS n_uniq
      FROM documents
    )
    SELECT doc_id,
           round(
             0.4 * least(n_words / 50.0, 1.0)
             + 0.3 * least(n_stop / greatest(n_words, 1.0) * 10.0, 1.0)
             + 0.3 * (n_uniq / greatest(n_words, 1.0)), 6) AS quality
    FROM f
    ORDER BY doc_id
    """,
    tags=("text", "pipeline", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation + stopword density +
    lexical diversity (the classic pre-training quality-filter triple)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    w = _words(F.col("text"))
    n_words = F.size(w).cast("double")
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).cast("double")
    n_uniq = F.size(F.array_distinct(w)).cast("double")
    quality = F.round(
        0.4 * F.least(n_words / 50.0, F.lit(1.0))
        + 0.3 * F.least(n_stop / F.greatest(n_words, F.lit(1.0)) * 10.0, F.lit(1.0))
        + 0.3 * (n_uniq / F.greatest(n_words, F.lit(1.0))),
        6,
    )
    return t.documents.select("doc_id", quality.alias("quality")).orderBy("doc_id")


@register(
    "text_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), ' +') AS ws
      FROM documents
    ), base AS (
      SELECT doc_id,
             round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
               AS dup_word_frac,
             list_transform(range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i + 1]) AS bgs
      FROM w
    ), cnt AS (
      SELECT doc_id, bg, count(*) AS c
      FROM (SELECT doc_id, unnest(bgs) AS bg FROM base) ex
      GROUP BY doc_id, bg
    ), top AS (
      SELECT doc_id, max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg
      FROM cnt GROUP BY doc_id
    )
    SELECT b.doc_id, b.dup_word_frac,
           round(COALESCE(CAST(t.top_bg AS DOUBLE) / t.n_bg, 0.0), 6)
             AS top_bigram_frac
    FROM base b LEFT JOIN top t USING (doc_id)
    ORDER BY b.doc_id
    """,
    tags=("text", "pipeline", "quality", "repetition"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-word fraction
    and most-frequent-bigram mass fraction per document.

    Scale shape: bigram construction is a JVM zip_with over two array
    slices (no Python, no shuffle); the per-(doc, bigram) count and the
    per-doc max/sum are both map-side-combinable hash aggregates keyed
    by doc_id, so at 100 TB this is scan + two combinable shuffles on
    the natural key.  Docs with <2 words have no bigrams and get
    top_bigram_frac = 0.0 via the left join.
    """
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    w = _words(F.col("text"))
    n = F.size(w)
    bigrams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    base = t.documents.select(
        "doc_id",
        F.round(
            1.0 - F.size(F.array_distinct(w)).cast("double") / n, 6
        ).alias("dup_word_frac"),
        bigrams.alias("bgs"),
    )
    top = (
        base.select("doc_id", F.explode("bgs").alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bg"), F.sum("count").alias("n_bg"))
    )
    return (
        base.select("doc_id", "dup_word_frac")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "dup_word_frac",
            F.round(
                F.coalesce(
                    F.col("top_bg").cast("double") / F.col("n_bg"), F.lit(0.0)
                ),
                6,
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


#: Benchmark-contamination fence: documents with doc_id < EVAL_MAX_ID
#: stand in for a held-out eval set.  Deterministic ground-truth fence,
#: same pattern as dedup_ngram_jaccard's doc_id<150 block.
EVAL_MAX_ID = 20
#: Word-n-gram order for the contamination overlap check.
CONTAM_N = 5


@register(
    "text_contamination",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), ' +') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= {CONTAM_N} THEN
               list_transform(range(1, len(ws) - {CONTAM_N - 2}),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      || ' ' || ws[i+3] || ' ' || ws[i+4])
             ELSE [] END AS gs
      FROM w
    ), eg AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(gs) AS g FROM g WHERE doc_id < {EVAL_MAX_ID}
      )
    ), cg AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id >= {EVAL_MAX_ID}
      )
    ), m AS (
      SELECT cg.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN eg.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM cg LEFT JOIN eg ON cg.g = eg.g
      GROUP BY cg.doc_id
    )
    SELECT d.doc_id,
           COALESCE(m.n_grams, CAST(0 AS BIGINT)) AS n_grams,
           COALESCE(m.n_hit, CAST(0 AS BIGINT)) AS n_hit,
           COALESCE(round(CAST(m.n_hit AS DOUBLE) / m.n_grams, 6), 0.0)
             AS contamination
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {EVAL_MAX_ID}) d
    LEFT JOIN m USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("text", "pipeline", "contamination"),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: fraction of each candidate doc's
    distinct word-{CONTAM_N}-grams that also occur in a held-out eval
    set (docs with doc_id < EVAL_MAX_ID).

    Scale shape: the eval-side n-gram set is tiny relative to the
    corpus, so it is broadcast — the per-candidate membership probe is
    a broadcast hash join with no corpus shuffle; the only shuffles are
    the per-doc distinct and the per-doc count, both keyed by doc_id
    and map-side-combinable.  This is the standard decontamination
    pre-step of a training-data pipeline (eval sets are O(MB), corpora
    O(100 TB)).
    """
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    g = t.documents.select(
        "doc_id", _word_ngrams_expr(CONTAM_N).alias("gs")
    )
    eval_g = (
        g.filter(F.col("doc_id") < EVAL_MAX_ID)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    # explode_outer keeps one (doc_id, NULL) row for gram-less docs, so
    # the zero-gram candidates survive the aggregation and the third
    # corpus scan that used to re-attach them (documents → doc_id →
    # left join) is gone (guide §2.4: 3 → 2 corpus passes; the eval
    # scan is row-group-pruned to doc_id < EVAL_MAX_ID).  count("g")
    # skips the NULL rows, so n_grams/n_hit are unchanged; the join's
    # NULL key never matches, so hit stays NULL for them.
    cand_g = (
        g.filter(F.col("doc_id") >= EVAL_MAX_ID)
        .select("doc_id", F.explode_outer("gs").alias("g"))
        .distinct()
    )
    m = (
        cand_g.join(
            F.broadcast(eval_g.withColumn("hit", F.lit(1))), "g", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("g").alias("n_grams"),
            F.sum(
                F.when(F.col("hit").isNotNull(), 1).otherwise(0)
            ).alias("n_hit"),
        )
    )
    return (
        m.select(
            "doc_id",
            "n_grams",
            "n_hit",
            # Guard the 0-gram division explicitly: n_grams = 0 gives
            # double NaN (not NULL) under IEEE division, which the old
            # coalesce path never saw because those docs joined as NULL.
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("n_hit").cast("double") / F.col("n_grams"), 6),
            ).otherwise(F.lit(0.0)).alias("contamination"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp,
           {md5_hash60_sql("regexp_replace(trim(lower(text)), ' +', ' ', 'g')")}
             AS fp60
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "pipeline", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    plus the 60-bit integer form used by the dedup operators."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), " +", " ")
    return (
        t.documents.select(
            "doc_id",
            F.md5(norm.cast("binary")).alias("fp"),
            md5_hash60(norm).alias("fp60"),
        )
        .orderBy("doc_id")
    )


#: Segment-rewrite geometry: SEG_LEN-word segments; a segment occurring
#: in at least SEG_MIN_DOCS distinct docs is corpus chrome and is cut.
SEG_LEN = 8
SEG_MIN_DOCS = 3


@register(
    "text_segment_dedup_rewrite",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), ' +') AS ws FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(
               range(0, CAST(ceil(len(ws) / {SEG_LEN}.0) AS INTEGER)),
               j -> array_to_string(
                 ws[j * {SEG_LEN} + 1 : (j + 1) * {SEG_LEN}], ' ')) AS segs
      FROM w
    ), e AS (
      SELECT doc_id,
             unnest(segs) AS seg,
             unnest(range(0, len(segs))) AS pos
      FROM g
    ), common AS (
      SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM e)
      GROUP BY seg HAVING count(*) >= {SEG_MIN_DOCS}
    ), kept AS (
      SELECT e.* FROM e ANTI JOIN common c ON e.seg = c.seg
    ), rebuilt AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(seg, ' ' ORDER BY pos)) AS cleaned_hash
      FROM kept GROUP BY doc_id
    ), sized AS (
      SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_segs FROM g
    )
    SELECT s.doc_id, s.n_segs,
           s.n_segs - COALESCE(r.n_kept, 0) AS n_removed,
           COALESCE(r.cleaned_hash, md5('')) AS cleaned_hash
    FROM sized s LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY s.doc_id
    """,
    tags=("text", "pipeline", "dedup", "rewrite"),
)
def text_segment_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style segment-level dedup as a TRANSFORM (the rewrite
    sibling of text_boilerplate's scoring): cut every {SEG_LEN}-word
    segment shared by ≥ {SEG_MIN_DOCS} docs (headers/footers/chrome in
    a real crawl), reassemble each document in original segment order,
    and report the cleaned-text hash + removal counts.

    Scale shape: segment doc-frequency is one map-side-combinable
    groupBy; the common-segment set is tiny and broadcasts back to the
    probe (same skeleton as text_boilerplate); the rebuild is one more
    shuffle on doc_id with array_sort fixing segment order — 3 shuffles
    total regardless of corpus size, and the corpus text never moves
    twice.  The exploded (doc, pos, seg) table feeds the df rollup AND
    the keep-probe, and the per-doc segment count is derived from it
    too (count of exploded rows ≡ size(segs)), so the corpus is
    tokenized exactly once (persisted for the run, run_cache contract);
    only a doc_id-projection scan remains for the empty-document
    universe."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    ws = _words(F.col("text"))
    n_segs_col = F.ceil(F.size(ws) / F.lit(float(SEG_LEN))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs_col - 1),
        lambda j: F.array_join(F.slice(ws, j * SEG_LEN + 1, SEG_LEN), " "),
    )
    release_prior()
    e = persist_tracked(
        t.documents.select("doc_id", F.posexplode(segs).alias("pos", "seg"))
    )
    common = (
        e.select("doc_id", "seg")
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= SEG_MIN_DOCS)
        .select("seg")
    )
    kept = e.join(F.broadcast(common), "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).cast("binary")
        ).alias("cleaned_hash"),
    )
    # Per-doc segment count from the cached explode (one row per
    # segment), NOT a third corpus scan re-running the tokenizer; the
    # cheap doc_id projection only restores zero-segment documents.
    seg_counts = e.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs")
    )
    sized = (
        t.documents.select("doc_id")
        .join(seg_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segs", F.lit(0).cast("bigint")).alias("n_segs"),
        )
    )
    return (
        sized.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            (F.col("n_segs") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
            F.coalesce("cleaned_hash", F.md5(F.lit("").cast("binary"))).alias(
                "cleaned_hash"
            ),
        )
        .orderBy("doc_id")
    )


#: Tokenizer vocabulary size and ids emitted per document.
VOCAB_SIZE = 512
IDS_PER_DOC = 12
OOV_ID = 0


@register(
    "text_tokenize_ids",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), ' +')) AS word,
             unnest(range(0, len(string_split_regex(trim(text), ' +'))))
               AS pos
      FROM documents
    ), vocab AS (
      SELECT word,
             CAST(row_number() OVER (ORDER BY count(*) DESC, word)
                  AS INTEGER) AS id
      FROM w GROUP BY word
      ORDER BY count(*) DESC, word LIMIT {VOCAB_SIZE}
    ), mapped AS (
      SELECT w.doc_id, w.pos, COALESCE(v.id, {OOV_ID}) AS id
      FROM w LEFT JOIN vocab v USING (word)
      WHERE w.pos < {IDS_PER_DOC}
    )
    SELECT doc_id,
           string_agg(id, ',' ORDER BY pos) AS ids,
           CAST(sum(CASE WHEN id = {OOV_ID} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov
    FROM mapped
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "pipeline", "tokenizer"),
)
def text_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word→id tokenization with a corpus-built vocabulary: the top
    {VOCAB_SIZE} words by frequency (deterministic count-then-word
    rank) become ids 1..V, everything else maps to OOV {OOV_ID}; each
    document emits its first {IDS_PER_DOC} token ids in order — the
    id-sequence handoff to a training shard writer.

    Scale shape: vocab construction is one map-side-combinable groupBy
    (the vocab is tiny by definition) and broadcasts back into the
    corpus-side probe; the per-doc reassembly shuffles on doc_id once
    with array_sort fixing token order — same skeleton as the segment
    rewrite."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    ws = _words(F.col("text"))
    w = t.documents.select(
        "doc_id", F.posexplode(ws).alias("pos", "word")
    )
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(VOCAB_SIZE)
        .select(
            "word",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("word")))
            .alias("id"),
        )
    )
    mapped = (
        w.filter(F.col("pos") < IDS_PER_DOC)
        .join(F.broadcast(vocab), "word", "left")
        .select(
            "doc_id", "pos", F.coalesce("id", F.lit(OOV_ID)).alias("id")
        )
    )
    return (
        mapped.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
                ",",
            ).alias("ids"),
            F.sum(F.when(F.col("id") == OOV_ID, 1).otherwise(0)).alias("n_oov"),
        )
        .orderBy("doc_id")
    )


# --- BM25 keyword search -------------------------------------------------

#: Fixed search query for the registered example (terms chosen from the
#: synthetic corpus vocabulary).  Real deployments parameterize this.
BM25_QUERY_TERMS = ("spark", "hash", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _bm25_oracle() -> str:
    """DuckDB oracle for text_bm25_search, generated from the same
    constants so query terms / k1 / b can never desynchronize."""
    tf_cols = ",\n               ".join(
        f"CAST(len(list_filter(ws, w -> w = '{t}')) AS DOUBLE) AS tf_{t}"
        for t in BM25_QUERY_TERMS
    )
    df_cols = ",\n               ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_QUERY_TERMS
    )
    score_terms = "\n             + ".join(
        f"ln((g.n_docs - g.df_{t} + 0.5) / (g.df_{t} + 0.5) + 1)"
        f" * d.tf_{t} * ({BM25_K1} + 1)"
        f" / (d.tf_{t} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl / g.avgdl))"
        for t in BM25_QUERY_TERMS
    )
    return f"""
    WITH docs AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) AS dl,
               {tf_cols}
        FROM (SELECT doc_id, text,
                     string_split_regex(trim(text), ' +') AS ws
              FROM documents)
    ), globals AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl,
               {df_cols}
        FROM docs
    )
    SELECT d.doc_id,
           round({score_terms}, 4) AS score
    FROM docs d CROSS JOIN globals g
    WHERE {" + ".join("d.tf_" + t for t in BM25_QUERY_TERMS)} > 0
    ORDER BY score DESC, d.doc_id
    LIMIT {BM25_TOP_K}
    """


@register(
    "text_bm25_search",
    bench=True,
    oracle=_bm25_oracle(),
    tags=("text", "pipeline"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: score every document against a fixed
    3-term query, return the top-20 by score.

    Scale design: because the query has a handful of terms, per-doc
    term frequencies are computed with `size(filter(words, ...))` —
    a narrow, codegen'd projection over the scan with NO explode and
    NO posting-list shuffle.  Corpus-level stats (N, avgdl, per-term
    document frequencies) reduce to a single row that Catalyst
    broadcasts back over the scan, so the whole search is one pass
    over the corpus plus a top-k.  At 100 TB with *ad-hoc* many-term
    queries you'd materialize an inverted index instead (explode →
    groupBy term); for fixed small queries this shape is strictly
    better — the corpus never shuffles.
    """
    ensure_parity_conf(spark)
    release_prior()
    t = Tables(spark, sf_dir)
    ws = _words(F.col("text"))

    def eq(term):
        # NB: the lambda must be unary — a 2-arg lambda would be given
        # (element, index) by the higher-order-function binder.
        return lambda w: w == term

    # Persisted: both the 1-row stats aggregate and the scored output
    # consume this projection — unpersisted, the tokenize/filter hot
    # loop runs over the corpus twice (run_cache.py contract).
    docs = persist_tracked(
        t.documents.select(
            "doc_id",
            F.size(ws).cast("double").alias("dl"),
            *[
                F.size(F.filter(ws, eq(term)))
                .cast("double")
                .alias(f"tf_{term}")
                for term in BM25_QUERY_TERMS
            ],
        )
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{term}") > 0, 1).otherwise(0)).alias(
                f"df_{term}"
            )
            for term in BM25_QUERY_TERMS
        ],
    )
    score = None
    for term in BM25_QUERY_TERMS:
        tf = F.col(f"tf_{term}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{term}") + 0.5)
            / (F.col(f"df_{term}") + 0.5)
            + 1
        )
        part = (
            idf
            * tf
            * (BM25_K1 + 1)
            / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        )
        score = part if score is None else score + part
    any_hit = sum(
        (F.col(f"tf_{term}") for term in BM25_QUERY_TERMS[1:]),
        F.col(f"tf_{BM25_QUERY_TERMS[0]}"),
    )
    return (
        docs.crossJoin(F.broadcast(stats))
        .filter(any_hit > 0)
        .select("doc_id", F.round(score, 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS w
        FROM documents
    ), freq AS (
        SELECT w, count(*) AS c FROM words GROUP BY w
    ), tot AS (
        SELECT sum(c) AS n FROM freq
    )
    SELECT words.doc_id,
           CAST(count(*) AS INTEGER) AS n_tokens,
           round(avg(-ln(freq.c / tot.n)), 6) AS avg_neg_logprob
    FROM words JOIN freq USING (w) CROSS JOIN tot
    GROUP BY words.doc_id
    ORDER BY words.doc_id
    """,
    tags=("text", "pipeline"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (the KenLM-perplexity proxy of
    CCNet-style filtering): per document, the mean negative log
    probability of its tokens under the corpus's own unigram
    distribution.  Low = templated/common text, high = rare-token
    noise; both tails get filtered in a real pretraining pipeline.

    Plan: one explode → groupBy(word) builds the LM (map-side
    combinable); the corpus explode re-joins it on word and
    re-aggregates per doc.  The LM side carries NO broadcast hint: on a
    100 TB web corpus the full distinct-token table is 10⁸–10⁹ rows
    (Heaps' law — typos, ids, URLs), so a forced broadcast would OOM
    executors; the planner/AQE broadcasts it when it measures small and
    falls back to a shuffled equi-join when it isn't (the PageRank
    de-hint playbook; selection rule `SparkStrategies.scala:116-120`).
    The 1-row total IS hint-broadcast — bounded by construction.  All
    JVM-side: no UDF, the log/avg run in whole-stage codegen."""
    ensure_parity_conf(spark)
    release_prior()
    t = Tables(spark, sf_dir)
    words = t.documents.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("w")
    )
    # freq (vocab-size) is persisted — its two consumers (the 1-row
    # total and the attach join) would otherwise each re-run the full
    # corpus explode + word aggregation.  words itself stays
    # unpersisted: the exploded token stream is ~10× the text and
    # cheap to recompute from the scan (recompute-vs-spill trade).
    freq = persist_tracked(words.groupBy("w").agg(F.count("*").alias("c")))
    tot = freq.agg(F.sum("c").cast("double").alias("n"))
    return (
        _attach_unigram_lm(words, freq, tot)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c") / F.col("n"))), 6
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


def _attach_unigram_lm(words: DataFrame, freq: DataFrame, tot: DataFrame) -> DataFrame:
    """Attach per-word LM frequency + the 1-row total to the exploded
    corpus.  The word-frequency side is deliberately NOT hint-broadcast
    (unbounded vocab at scale); only the single-row total is."""
    return words.join(freq, "w").crossJoin(F.broadcast(tot))


#: Keywords reported per document by TF-IDF extraction.
KEYWORDS_PER_DOC = 3


@register(
    "text_keyword_tfidf",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS w
        FROM documents
    ), tf AS (
        SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
    ), df AS (
        SELECT w, count(*) AS df FROM tf GROUP BY w
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.w,
               round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln(n.n_docs * 1.0 / df.df) DESC, tf.w
               ) AS rk
        FROM tf JOIN df USING (w) CROSS JOIN n
    )
    SELECT doc_id, rk AS rank, w AS keyword, tfidf
    FROM scored
    WHERE rk <= {KEYWORDS_PER_DOC}
    ORDER BY doc_id, rank
    """,
    tags=("text", "pipeline", "keywords"),
)
def text_keyword_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: the top-3 most characteristic terms
    per document — the classic corpus-statistics summarizer (and the
    feature layer under BM25, kept separate because here the OUTPUT is
    per-doc keywords, not per-query ranks).

    Plan: one explode → per-(doc, word) tf (map-side combinable), the
    df table joins back onto tf UNHINTED — the full document-frequency
    table is vocab-sized only in the Heaps'-law sense (10⁸–10⁹ distinct
    tokens on a 100 TB web corpus), so the planner/AQE decides between
    broadcast (small corpora) and a shuffled equi-join (at scale)
    instead of a forced multi-GB broadcast.  The top-3 cut is a
    WindowGroupLimit-prunable rank partitioned by doc_id.  Raw text is
    read once; nothing wider than (doc_id, word) ever shuffles.
    Ties broken by term so both engines emit identical keyword sets."""
    ensure_parity_conf(spark)
    release_prior()
    t = Tables(spark, sf_dir)
    words = t.documents.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("w")
    )
    # Persisted: tf feeds both the df rollup and the scoring join —
    # unpersisted, the explode + (doc, word) aggregation runs twice
    # over the corpus (run_cache.py contract).
    tf = persist_tracked(
        words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = t.documents.agg(F.count("*").alias("n_docs"))
    scored = _score_tfidf(tf, df, n_docs)
    wk = Window.partitionBy("doc_id").orderBy(F.col("raw").desc(), "w")
    return (
        scored.select(
            "doc_id",
            F.row_number().over(wk).alias("rank"),
            F.col("w").alias("keyword"),
            F.round("raw", 6).alias("tfidf"),
        )
        .filter(F.col("rank") <= KEYWORDS_PER_DOC)
        .orderBy("doc_id", "rank")
    )


def _score_tfidf(tf: DataFrame, df: DataFrame, n_docs: DataFrame) -> DataFrame:
    """tf·idf score per (doc, word).  The document-frequency side joins
    UNHINTED (unbounded vocab at scale — planner/AQE picks the join);
    only the 1-row corpus count is hint-broadcast."""
    return (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "w",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("raw"),
        )
    )


#: Overlapping-window chunking: CHUNK_SIZE-word windows that slide by
#: CHUNK_STRIDE (CHUNK_SIZE - CHUNK_STRIDE words of overlap) — the RAG
#: / pretraining context-window prep shape.
CHUNK_SIZE = 20
CHUNK_STRIDE = 15


@register(
    "text_chunk_overlap",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id, string_split_regex(trim(text), ' +') AS w
        FROM documents
    ), idx AS (
        SELECT doc_id, w,
               unnest(range(0, greatest(len(w) - {CHUNK_SIZE - CHUNK_STRIDE}, 1),
                            {CHUNK_STRIDE})) AS start
        FROM ws
    )
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           array_to_string(w[start + 1 : start + {CHUNK_SIZE}], ' ') AS chunk,
           CAST(len(w[start + 1 : start + {CHUNK_SIZE}]) AS INTEGER) AS n_words
    FROM idx
    ORDER BY doc_id, chunk_idx
    """,
    tags=("text", "pipeline", "chunking"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking, entirely in JVM built-ins —
    the fast-path twin of `udtf_chunk_text` (which does non-overlapping
    chunks through a Python UDTF): sequence() generates the window
    starts, slice() cuts each window, explode emits one row per chunk.
    No Python boundary, so at 100 TB this is whole-stage-codegen over
    the scan with output ~len/stride rows per doc — the discipline the
    module docstring preaches: reach for the UDTF only when built-ins
    can't express the expansion.

    Window starts step by {CHUNK_STRIDE} while windows span
    {CHUNK_SIZE} words, so consecutive chunks share
    {CHUNK_SIZE - CHUNK_STRIDE} words; the final start is the last one
    that still begins a new (possibly short) window."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    w = _words(F.col("text"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(w) - F.lit(CHUNK_SIZE - CHUNK_STRIDE + 1), F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    chunked = t.documents.select(
        "doc_id",
        w.alias("w"),
        F.explode(starts).alias("start"),
    )
    sl = F.slice(F.col("w"), F.col("start") + 1, CHUNK_SIZE)
    return (
        chunked.select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.array_join(sl, " ").alias("chunk"),
            F.size(sl).alias("n_words"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, source,
               unnest(string_split_regex(trim(text), ' +')) AS w
        FROM documents
    ), vocab AS (
        SELECT w FROM words
        GROUP BY w ORDER BY count(*) DESC, w LIMIT {VOCAB_SIZE}
    )
    SELECT source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           round(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS oov_rate
    FROM words LEFT JOIN vocab ON words.w = vocab.w
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "pipeline", "tokenize"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: the OOV rate per source against
    the corpus's own top-{VOCAB_SIZE} vocabulary — the go/no-go check
    before committing a tokenizer to a new data source (an OOV spike
    on one source means its text distribution diverges).

    Plan: one explode feeds BOTH the vocabulary rollup and the probe;
    the {VOCAB_SIZE}-row vocab broadcasts into a left join (same
    discipline as text_tokenize_ids), and the per-source rollup is
    map-side combinable.  At 100 TB the vocab is a fixed artifact —
    this query is one corpus scan."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    words = t.documents.select(
        "source", F.explode(_words(F.col("text"))).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(VOCAB_SIZE)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    oov = F.col("in_vocab").isNull().cast("int")
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            F.round(F.sum(oov) / F.count("*"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


@register(
    "text_length_profile",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(quantile_cont(n_chars, 0.5)  AS DOUBLE) AS p50_chars,
           CAST(quantile_cont(n_chars, 0.9)  AS DOUBLE) AS p90_chars,
           CAST(quantile_cont(n_chars, 0.99) AS DOUBLE) AS p99_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "pipeline", "profiling"),
)
def text_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length percentile profile (p50/p90/p99 +
    extremes) — the first table in every corpus intake report, and the
    input to truncation/packing budget decisions.

    Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`); one map-side-combinable groupBy.  At
    100 TB swap to percentile_approx for one-pass sketching — the
    stat_approx_quantile twin documents that trade."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    return (
        t.documents.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.percentile("n_chars", F.lit(0.5)).alias("p50_chars"),
            F.percentile("n_chars", F.lit(0.9)).alias("p90_chars"),
            F.percentile("n_chars", F.lit(0.99)).alias("p99_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


#: Collocations reported by the bigram miner.
NGRAM_TOP_K = 25


@register(
    "text_bigram_topk",
    oracle=f"""
    WITH ws AS (
        SELECT string_split_regex(trim(text), ' +') AS w FROM documents
    ), bigrams AS (
        SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS bg
        FROM ws WHERE len(w) >= 2
    )
    SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS n
    FROM bigrams
    GROUP BY w1, w2
    ORDER BY n DESC, w1, w2
    LIMIT {NGRAM_TOP_K}
    """,
    tags=("text", "pipeline", "collocations"),
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 bigram collocations — the n-gram statistics
    layer under phrase mining and the repetition/boilerplate
    detectors (which consume exactly this shape at n=3).

    Bigrams pair adjacent words with zip_with over two slices of the
    SAME split array — a narrow JVM projection, no self-join; the
    count rollup is map-side combinable and the top-k is a
    TakeOrdered, so nothing but (word-pair, count) rows ever shuffle."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    w = _words(F.col("text"))
    bigrams = (
        t.documents.select(w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("w"), 1, F.size("w") - 1),
                    F.slice(F.col("w"), 2, F.size("w") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
    )
    return (
        bigrams.select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(NGRAM_TOP_K)
    )


@register(
    "text_source_drift_jsd",
    oracle="""
    WITH words AS (
        SELECT source, unnest(string_split_regex(trim(text), ' +')) AS w
        FROM documents
    ), sw AS (
        SELECT source, w, count(*) AS c FROM words GROUP BY source, w
    ), stot AS (
        SELECT source, sum(c) AS n FROM sw GROUP BY source
    ), corpus AS (
        SELECT w, sum(c) AS c FROM sw GROUP BY w
    ), ctot AS (
        SELECT sum(c) AS n FROM corpus
    ), terms AS (
        SELECT sw.source,
               sw.c * 1.0 / stot.n          AS p,
               corpus.c * 1.0 / ctot.n      AS q
        FROM sw
        JOIN stot   ON sw.source = stot.source
        JOIN corpus ON sw.w = corpus.w
        CROSS JOIN ctot
    )
    SELECT source,
           round(sum(0.5 * p * ln(p / ((p + q) / 2))
                   + 0.5 * q * ln(q / ((p + q) / 2))), 6) AS jsd_observed
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "pipeline", "drift"),
)
def text_source_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per source, the Jensen-Shannon
    divergence between the source's word distribution and the whole
    corpus's — the alarm that fires when one ingest source starts
    sending different content (JSD is symmetric and bounded, so one
    threshold works for every source).

    Terms restrict to words the source actually emits (its support);
    the corpus-side tail contributes through the corpus half of each
    summand, so the observed statistic is exact over p's support and
    deterministic.  Plan: per-(source, word) counts are map-side
    combinable; the corpus-wide distribution joins back UNHINTED — the
    full distinct-token table is 10⁸–10⁹ rows on a 100 TB web corpus
    (Heaps' law), so a forced broadcast would OOM executors; the
    planner/AQE broadcasts it only when it measures small.  The final
    sum shuffles only O(|sources|) rows."""
    ensure_parity_conf(spark)
    release_prior()
    t = Tables(spark, sf_dir)
    words = t.documents.select(
        "source", F.explode(_words(F.col("text"))).alias("w")
    )
    # Persisted: sw has three consumers (per-source totals, corpus
    # distribution, final join) — unpersisted, the corpus explode +
    # aggregation runs three times (run_cache.py contract).
    sw = persist_tracked(
        words.groupBy("source", "w").agg(F.count("*").alias("c"))
    )
    stot = sw.groupBy("source").agg(F.sum("c").alias("n_s"))
    corpus = sw.groupBy("w").agg(F.sum("c").alias("c_all"))
    ctot = corpus.agg(F.sum("c_all").alias("n_all"))
    p = F.col("c") / F.col("n_s")
    q = F.col("c_all") / F.col("n_all")
    m = (p + q) / 2
    summand = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    return (
        _attach_corpus_dist(sw, stot, corpus, ctot)
        .groupBy("source")
        .agg(F.round(F.sum(summand), 6).alias("jsd_observed"))
        .orderBy("source")
    )


def _attach_corpus_dist(
    sw: DataFrame, stot: DataFrame, corpus: DataFrame, ctot: DataFrame
) -> DataFrame:
    """Join per-(source, word) counts with per-source totals, the
    corpus word distribution (UNHINTED — unbounded vocab at scale) and
    the 1-row corpus total (hint-broadcast, bounded)."""
    return (
        sw.join(stot, "source")
        .join(corpus, "w")
        .crossJoin(F.broadcast(ctot))
    )


#: Inverted-index demo: common-term threshold (fraction of corpus) and
#: the per-term posting-head length the index row carries inline.
IDX_MIN_DF_FRAC = 0.2
IDX_POSTINGS_HEAD = 20


@register(
    "text_inverted_index",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS w
        FROM documents
    ), tf AS (
        SELECT w, doc_id, count(*) AS tf FROM words GROUP BY 1, 2
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), p AS (
        SELECT w, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
               array_to_string(
                   (list(doc_id || ':' || tf ORDER BY doc_id))
                       [1:{IDX_POSTINGS_HEAD}], ' ') AS postings_head
        FROM tf GROUP BY w
    )
    SELECT w AS term, CAST(df AS BIGINT) AS df, total_tf, postings_head
    FROM p CROSS JOIN n
    WHERE df >= {IDX_MIN_DF_FRAC} * n_docs
    ORDER BY term
    """,
    tags=("text", "pipeline", "index"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index (posting-list) build — the materialization
    text_bm25_search's docstring promises for ad-hoc many-term queries
    at scale: per term, its document frequency, total term frequency,
    and the head of its doc_id-sorted posting list ('doc:tf' pairs).

    Output fences to terms with df ≥ {IDX_MIN_DF_FRAC} of the corpus
    (the high-df shard a query planner keeps hot; rare terms live in
    cold shards) and carries only the first {IDX_POSTINGS_HEAD}
    postings inline — a real index pages the tail, and an unbounded
    string column would be the stop-word scale bug.

    Plan: explode → (term, doc) tf → per-term rollup, both map-side
    combinable; the posting head is array_sort + slice over the
    collected list (no window), and the 1-row corpus count broadcasts
    for the relative-df fence.  Nothing wider than (term, doc, tf)
    ever shuffles."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    words = t.documents.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("w")
    )
    tf = words.groupBy("w", "doc_id").agg(F.count("*").alias("tf"))
    n_docs = t.documents.agg(F.count("*").alias("n_docs"))
    postings = F.array_join(
        F.slice(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                lambda s: F.concat(
                    s["doc_id"].cast("string"),
                    F.lit(":"),
                    s["tf"].cast("string"),
                ),
            ),
            1,
            IDX_POSTINGS_HEAD,
        ),
        " ",
    )
    p = tf.groupBy("w").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
        postings.alias("postings_head"),
    )
    return (
        p.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") >= IDX_MIN_DF_FRAC * F.col("n_docs"))
        .select(
            F.col("w").alias("term"), "df", "total_tf", "postings_head"
        )
        .orderBy("term")
    )


#: Gopher quality-rule thresholds (Rae et al. 2021, arXiv:2112.11446
#: table A1), re-calibrated to this corpus's ranges (words 10–100,
#: mean word length 3.5–5.7) so every rule discriminates instead of
#: passing or failing everything: 1896 of 5000 sf0.1 docs keep.
GOPHER_MIN_WORDS = 25
GOPHER_MAX_WORDS = 90
GOPHER_MIN_MWL = 3.8
GOPHER_MAX_MWL = 5.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_UNIQUE_RATIO = 0.40


@register(
    "text_gopher_filter",
    oracle=f"""
    WITH w AS (SELECT doc_id,
                      string_split_regex(trim(text), ' +') AS ws
               FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(ws) AS INTEGER) AS n_words,
                 round(length(array_to_string(ws, '')) * 1.0 / len(ws), 4)
                     AS mean_word_len,
                 CAST(len(list_filter(ws,
                      x -> x IN ('the', 'a', 'of', 'and', 'to')))
                      AS INTEGER) AS n_stopwords,
                 round(len(list_distinct(ws)) * 1.0 / len(ws), 4)
                     AS unique_ratio
          FROM w)
    SELECT doc_id, n_words, mean_word_len, n_stopwords, unique_ratio,
           CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AS BOOLEAN) AS ok_word_count,
           CAST(mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                AS BOOLEAN) AS ok_word_len,
           CAST(n_stopwords >= {GOPHER_MIN_STOPWORDS} AS BOOLEAN)
               AS ok_stopwords,
           CAST(unique_ratio >= {GOPHER_MIN_UNIQUE_RATIO} AS BOOLEAN)
               AS ok_unique,
           CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                AND n_stopwords >= {GOPHER_MIN_STOPWORDS}
                AND unique_ratio >= {GOPHER_MIN_UNIQUE_RATIO}
                AS BOOLEAN) AS keep
    FROM m ORDER BY doc_id
    """,
    tags=("text", "pipeline", "quality"),
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rule filter (Rae et al. 2021, the rule
    set MassiveText/FineWeb/Dolma all descend from): word-count
    bounds, mean-word-length bounds, minimum stopword count, and a
    repetition guard (unique-word ratio floor), each surfaced as an
    auditable per-rule flag plus the conjunctive keep decision —
    filter pipelines tune rules individually, so the flags ARE the
    product, not just the final boolean.

    Plan: one scan, one split, four narrow projections — no shuffle,
    no Python, no join; at 100 TB this runs at parquet-read speed and
    composes with pipeline_training_data's quality gate.  The ratio
    columns divide exact ints on both engines before the shared
    round(…, 4), so the hash is drift-free."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    ws = _words(F.col("text"))
    m = t.documents.select(
        "doc_id",
        F.size(ws).cast("int").alias("n_words"),
        F.round(
            F.length(F.array_join(ws, ""))
            / F.size(ws),
            4,
        ).alias("mean_word_len"),
        F.size(
            F.filter(ws, lambda x: x.isin(*_STOPWORDS))
        ).cast("int").alias("n_stopwords"),
        F.round(
            F.size(F.array_distinct(ws)) / F.size(ws), 4
        ).alias("unique_ratio"),
    )
    ok_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_wl = F.col("mean_word_len").between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
    ok_sw = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    ok_uq = F.col("unique_ratio") >= GOPHER_MIN_UNIQUE_RATIO
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "n_stopwords",
        "unique_ratio",
        ok_wc.alias("ok_word_count"),
        ok_wl.alias("ok_word_len"),
        ok_sw.alias("ok_stopwords"),
        ok_uq.alias("ok_unique"),
        (ok_wc & ok_wl & ok_sw & ok_uq).alias("keep"),
    ).orderBy("doc_id")
