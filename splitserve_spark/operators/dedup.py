"""Deduplication operators for training-data pipelines (beyond-parity).

Families over the `documents` table:
  * exact        — hash-groupBy on normalized text
  * MinHash+LSH  — shingle → 8-perm minhash signature → 4 banded buckets
                   → candidate join → exact Jaccard confirm
  * SimHash      — 16-bit sign-sum sketch + Hamming-distance pairing
  * n-gram Jaccard — exact pairwise on a bounded block (the brute-force
                   baseline the LSH path approximates)
  * cluster canonicalization — pair list → min-label propagation →
                   one canonical doc per near-dup component
  * incremental  — crawl-delta batch vs persisted fingerprint index

Scale design: every step is scan → narrow map → groupBy/join on
bounded keys.  The LSH candidate join is the only quadratic-risk step
and it is quadratic only within a (band, bucket) group — the standard
trade-off; band count / row width tune precision vs cost.  Hashes are
the md5-derived 60-bit family (functions/parity_hash.py) so DuckDB can
replay the exact computation as the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.functions.parity_hash import (
    HASH_P,
    MINHASH_PERMS,
    md5_hash60,
    md5_hash60_spark_sql,
    md5_hash60_sql,
    perm_hash_spark_sql,
    perm_hash_sql,
)
# Shared bounded-to-one-run persist tracker (run_cache.py holds the
# contract).  The LSH collapse persists its narrow membership table
# (doc_id, fp, rep — five consuming branches) and its single shingle
# pass (three consumers); without it, Catalyst re-derives both per
# branch (measured: 17 scans, zero exchange reuse).
from splitserve_spark.operators.run_cache import persist_tracked, release_prior
from splitserve_spark.registry import register
from splitserve_spark.tables import Tables

_NORM_SQL = "regexp_replace(trim(lower(text)), ' +', ' ', 'g')"

#: Spark-SQL spelling of _norm (no 'g' flag — Spark replaces all
#: matches by default); parses to the identical Catalyst expression.
_NORM_SPARK_SQL = "regexp_replace(trim(lower(text)), ' +', ' ')"

#: Shared oracle CTE: doc_id → distinct 3-word shingles (docs shorter
#: than 3 words contribute their whole normalized text as one shingle).
_SHINGLE_CTE = f"""
    docs AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    toks AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM docs),
    sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(w) >= 3
                    THEN list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                    ELSE [norm] END) AS shingles
      FROM toks
    )
"""

_SIG_COLS = ", ".join(
    f"min({perm_hash_sql(md5_hash60_sql('s'), a, b)}) AS m{i}"
    for i, (a, b) in enumerate(MINHASH_PERMS)
)

_SIG_CTE = f"""
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM ex GROUP BY doc_id)
"""

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {j} AS band, m{2 * j} * {HASH_P} + m{2 * j + 1} AS bucket FROM sig"
    for j in range(len(MINHASH_PERMS) // 2)
)


def _norm(col):
    return F.regexp_replace(F.trim(F.lower(col)), " +", " ")


def _shingles(spark, sf_dir, docs: DataFrame | None = None) -> DataFrame:
    """doc_id → array of distinct 3-word shingles (Spark side).

    ``docs`` (doc_id, text) overrides the full documents scan — the
    LSH pipeline passes its exact-duplicate representatives here so
    shingle/signature cost scales with UNIQUE content, not corpus size.

    The scan is repartitioned to the session's parallelism first: the
    shingle/hash work is CPU-bound and must not inherit the file
    layout's partitioning (a single small parquet file would otherwise
    run the whole pipeline on one core; at 100 TB, a few giant files
    would under-parallelize the same way)."""
    # The token array is let-bound via a 1-element transform() so every
    # reference inside the shingle expression hits the bound lambda
    # variable, not a re-inlined split(regexp_replace(...)).  Without
    # this, CollapseProject/ColumnPruning re-inline the split into all
    # ~3·|shingles| element_at calls — measured 10× slower.  (A plain
    # two-step select does NOT protect: the optimizer collapses it.)
    # Built as ONE F.expr string (single JVM-side parse) instead of
    # ~40 Column calls: each F.* call is a py4j round trip, and this
    # expression is constructed on every LSH-family invocation — the
    # parsed tree is plan-identical to the Column form modulo lambda
    # variable names (guide §7.3: driver/planning overhead).
    let_bound = F.expr(
        f"""element_at(transform(array(split({_NORM_SPARK_SQL}, ' ')),
          w -> array_distinct(CASE WHEN size(w) >= 3
            THEN transform(sequence(1, size(w) - 2),
                 i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
                                element_at(w, i + 2)))
            ELSE array(array_join(w, ' ')) END)), 1)"""
    )
    parallelism = spark.sparkContext.defaultParallelism
    base = Tables(spark, sf_dir).documents if docs is None else docs
    return (
        base.repartition(parallelism, "doc_id")
        .select("doc_id", let_bound.alias("shingles"))
    )


def _signatures(
    spark, sf_dir, docs: DataFrame | None = None, sh: DataFrame | None = None
) -> DataFrame:
    """doc_id → MinHash signature columns m0..m7.

    explode → hash → groupBy(min per permutation): the shuffle carries
    one row per (doc, shingle) and aggregates map-side first.  ``sh``
    supplies a precomputed (doc_id, shingles) table (the LSH pipeline
    shares one persisted shingle pass across its consumers)."""
    if sh is None:
        sh = _shingles(spark, sf_dir, docs)
    ex = sh.selectExpr("doc_id", "explode(shingles) AS s")
    # One F.expr per permutation (8 parses) instead of ~100 Column
    # round trips — plan-identical to min(perm_hash(md5_hash60(s)))
    # (same rationale and verification as the _shingles expr string).
    h_sql = md5_hash60_spark_sql("s")
    return ex.groupBy("doc_id").agg(
        *[
            F.expr(f"min({perm_hash_spark_sql(h_sql, a, b)})").alias(f"m{i}")
            for i, (a, b) in enumerate(MINHASH_PERMS)
        ]
    )


@register(
    "dedup_exact",
    oracle=f"""
    SELECT min(doc_id) AS canonical_id,
           count(*)    AS n_copies,
           fp
    FROM (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents)
    GROUP BY fp
    ORDER BY canonical_id
    """,
    tags=("dedup", "pipeline"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint,
    electing min(doc_id) as canonical.  One shuffle on the 128-bit
    fingerprint — uniformly distributed, no skew, scales linearly."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            "doc_id", F.md5(_norm(F.col("text")).cast("binary")).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("canonical_id", "n_copies", "fp")
        .orderBy("canonical_id")
    )


@register(
    "dedup_minhash_signature",
    oracle=f"""
    WITH {_SHINGLE_CTE}, {_SIG_CTE}
    SELECT doc_id, {", ".join(f"m{i}" for i in range(len(MINHASH_PERMS)))}
    FROM sig
    ORDER BY doc_id
    """,
    tags=("dedup", "pipeline", "minhash"),
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-permutation MinHash signature per document — the building
    block of LSH dedup, verified value-exact against the oracle."""
    return _signatures(spark, sf_dir).orderBy("doc_id")


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLE_CTE}, {_SIG_CTE},
    bands AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / len(list_distinct(sa.shingles || sb.shingles)) >= 0.3
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "pipeline", "minhash", "lsh"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: exact-duplicate collapse →
    signature → 4 bands of 2 → bucket self-join for candidates → exact
    Jaccard confirm ≥ 0.3 → expand pairs back through the twin groups.

    Scale: the front-end collapse (groupBy content fingerprint, keep
    min-doc_id representative) is what makes the banded stage survive a
    real web corpus.  Shingle/signature/confirm cost then scales with
    UNIQUE content, and — decisive at 100 TB — a boilerplate page with
    10⁷ exact copies is ONE node in the LSH graph instead of a 10⁷-deep
    bucket whose in-row k² expansion (and collect_list) would OOM a
    task.  The collapse is output-lossless, not an approximation:
    shingles, signatures and Jaccard are functions of the normalized
    text alone, so exact twins share every band bucket with jaccard
    exactly 1.0 (emitted directly from group membership, AQE-splittable
    equi-join on the fingerprint) and a cross-group member pair is a
    candidate iff its representative pair is, with the same jaccard
    (expanded by two membership equi-joins).  Candidate mining within
    the unique set stays collect_list + in-row k²: bucket groups over
    *distinct* texts are small by construction (that is the point of
    LSH; cf. MMDS ch.3)."""
    members, confirmed = _lsh_members_confirmed(spark, sf_dir)
    # Expand back to member pairs.  Twin pairs (same fingerprint) share
    # identical shingle sets — every band bucket matches and jaccard is
    # exactly 1.0, no confirm needed.  Cross-group pairs inherit their
    # representatives' jaccard; least/greatest restores the doc_a <
    # doc_b orientation (group membership does not follow rep order).
    # String-parsed expressions throughout (selectExpr / SQL filter
    # strings): one JVM parse replaces a py4j round trip per Column
    # call — the LSH build was measured ~1,700 round trips ≈ 0.9 s per
    # invocation (guide §7.3 driver overhead); trees are identical.
    x, y = members.alias("x"), members.alias("y")
    twins = (
        x.join(y, "fp")
        .filter("x.doc_id < y.doc_id")
        .selectExpr("x.doc_id AS doc_a", "y.doc_id AS doc_b", "1.0D AS jaccard")
    )
    cross = (
        confirmed.join(members.selectExpr("rep AS rep_a", "doc_id AS a"), "rep_a")
        .join(members.selectExpr("rep AS rep_b", "doc_id AS b"), "rep_b")
        .selectExpr("least(a, b) AS doc_a", "greatest(a, b) AS doc_b", "jaccard")
    )
    return twins.unionByName(cross).orderBy("doc_a", "doc_b")


def _lsh_members_confirmed(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash-LSH front end: exact-duplicate collapse →
    shingles → signatures → banded buckets → candidate mining → exact
    Jaccard confirm over the UNIQUE-content representatives.

    Returns ``(members, confirmed)``: the persisted (doc_id, fp, rep)
    membership table of the exact collapse, and the confirmed
    representative pairs (rep_a < rep_b, jaccard ≥ 0.3, rounded).
    dedup_minhash_lsh expands these to the full (quadratic-per-group)
    member-pair output — that IS its declared result; consumers that
    only need per-DOC decisions (pipeline_training_data's loser set)
    derive them linearly from membership instead of materializing the
    pair expansion."""
    release_prior()
    t = Tables(spark, sf_dir)
    # selectExpr / SQL-string predicates below parse to the identical
    # Catalyst trees as the previous Column-by-Column construction but
    # cost one py4j round trip each instead of one per F.* call — this
    # build path runs on every LSH-family invocation and was measured
    # py4j-bound (guide §7.3 driver overhead).
    fp_df = t.documents.selectExpr(
        "doc_id", f"md5(CAST({_NORM_SPARK_SQL} AS BINARY)) AS fp"
    )
    reps = fp_df.groupBy("fp").agg(F.expr("min(doc_id) AS rep"))
    # groupBy+join, NOT a partitionBy(fp) window: map-side partial
    # aggregation keeps a 10⁷-copy hot fingerprint from concentrating
    # its rows in one window task; AQE splits the skewed join side.
    members = persist_tracked(fp_df.join(reps, "fp"))
    uniq_docs = t.documents.join(
        members.filter("doc_id = rep").select("doc_id"),
        "doc_id",
        "left_semi",
    ).select("doc_id", "text")
    # One shingle pass, persisted: the signature explode and BOTH
    # confirm-join sides read it (3 consumers; unpersisted, Catalyst
    # would run the tokenize/shingle hot loop three times).  Spark's
    # default MEMORY_AND_DISK level spills rather than OOMs when the
    # unique-text shingle table outgrows executor memory.
    sh = persist_tracked(_shingles(spark, sf_dir, uniq_docs))
    sig = _signatures(spark, sf_dir, sh=sh)
    n_bands = len(MINHASH_PERMS) // 2
    # One (band, bucket) struct array exploded in a single pass — NOT a
    # per-band unionAll, which would re-run the whole signature job once
    # per band (4× the explode/hash/groupBy cost).
    band_structs = ", ".join(
        f"named_struct('band', {j}, 'bucket', m{2 * j} * {HASH_P} + m{2 * j + 1})"
        for j in range(n_bands)
    )
    bands = sig.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bb"
    ).selectExpr("doc_id", "bb.band AS band", "bb.bucket AS bucket")
    # Candidate pairs per bucket via collect_list + in-memory pair
    # expansion: one shuffle on (band, bucket) replaces a bands⋈bands
    # self-join (which would shuffle AND recompute signatures twice).
    # Bucket groups are small by construction (that is the point of
    # LSH); the k² expansion happens inside a row, never across rows.
    doc_pairs = (
        "filter(flatten(transform(ds, x -> transform(ds, y -> "
        "named_struct('doc_a', x, 'doc_b', y)))), p -> p.doc_a < p.doc_b)"
    )
    cand = (
        bands.groupBy("band", "bucket")
        .agg(F.expr("collect_list(doc_id) AS ds"))
        .filter("size(ds) > 1")
        .selectExpr(f"explode({doc_pairs}) AS p")
        .selectExpr("p.doc_a AS doc_a", "p.doc_b AS doc_b")
        .distinct()
    )
    sa = sh.selectExpr("doc_id AS doc_a", "shingles AS sh_a")
    sb = sh.selectExpr("doc_id AS doc_b", "shingles AS sh_b")
    confirmed = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.expr(
                "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
                " / size(array_union(sh_a, sh_b))"
            ),
        )
        .filter("jaccard >= 0.3D")
        .selectExpr("doc_a AS rep_a", "doc_b AS rep_b", "round(jaccard, 6) AS jaccard")
    )
    return members, confirmed


_N_SIMHASH_BITS = 16


def _simhash_bits_sql() -> str:
    h = md5_hash60_sql("tok")
    terms = []
    for j in range(_N_SIMHASH_BITS):
        terms.append(
            f"(CASE WHEN 2 * len(list_filter(list_transform(toks, tok -> {h}), "
            f"hv -> (hv >> {j}) & 1 = 1)) > len(toks) THEN 1::BIGINT << {j} "
            f"ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_distinct(string_split({_NORM_SQL}, ' ')) AS toks
      FROM documents
    )
    SELECT doc_id, {_simhash_bits_sql()} AS simhash
    FROM base
    ORDER BY doc_id
    """,
    tags=("dedup", "pipeline", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: per bit, majority vote of token-hash bits over the
    document's distinct tokens.  Identical texts → identical sketch;
    near-identical → small Hamming distance (paired in tests)."""
    t = Tables(spark, sf_dir)
    # The token-hash array is let-bound via a 1-element transform() so
    # all 16 bit-majority terms read the SAME array — the previous
    # Column form inlined the split → array_distinct → md5-transform
    # chain into every bit term, evaluating the full token-hash array
    # 16× per document (same pathology and fix as _shingles above;
    # size(hs) ≡ size(toks) since transform preserves length).  One
    # F.expr parse also replaces ~100 py4j round trips.
    h_tok = md5_hash60_spark_sql("tok")
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * size(filter(hs, hv -> (hv & {1 << j}) != 0))"
        f" > size(hs) THEN CAST({1 << j} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for j in range(_N_SIMHASH_BITS)
    )
    sim_expr = F.expr(
        "element_at(transform(array(transform(array_distinct("
        f"split({_NORM_SPARK_SQL}, ' ')), tok -> {h_tok})), "
        f"hs -> {bit_terms}), 1)"
    )
    return (
        t.documents.select("doc_id", sim_expr.alias("simhash"))
        .orderBy("doc_id")
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_distinct(string_split(regexp_replace(trim(lower(text)),
                           ' +', ' ', 'g'), ' ')) AS toks
      FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
    FROM w a JOIN w b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(a.toks || b.toks)) >= 0.6
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "pipeline", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise token-set Jaccard on a bounded block (doc_id<150)
    — the brute-force ground truth the LSH pipeline approximates.  The
    O(n²) join is intentionally fenced to a fixed block; the scale path
    is dedup_minhash_lsh."""
    t = Tables(spark, sf_dir)
    w = t.documents.filter(F.col("doc_id") < 150).select(
        "doc_id",
        F.array_distinct(F.split(_norm(F.col("text")), " ")).alias("toks"),
    )
    a = w.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("t_a"))
    b = w.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("t_b"))
    jac = F.size(F.array_intersect("t_a", "t_b")).cast("double") / F.size(
        F.array_union("t_a", "t_b")
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


#: Min-label propagation iterations for near-dup cluster resolution.
#: Text near-dup graphs are near-cliques (if a~b and b~c, a~c is very
#: likely), so 4 hops close any realistic cluster; the FIXED count makes
#: the Spark loop and the recursive-CTE oracle bitwise comparable even
#: on adversarial chains (both report the same 4-hop labels).
CLUSTER_ITER = 4


@register(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE
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
      SELECT a, b FROM p
      UNION SELECT b, a FROM p
      UNION SELECT a, a FROM p
      UNION SELECT b, b FROM p
    ),
    lab AS (
      SELECT 0 AS iter, a AS node, min(b) AS label FROM sym GROUP BY a
      UNION ALL
      SELECT l.iter + 1, s.a AS node, min(l.label) AS label
      FROM lab l JOIN sym s ON s.b = l.node
      WHERE l.iter < {CLUSTER_ITER}
      GROUP BY l.iter + 1, s.a
    )
    SELECT node AS doc_id, label AS canonical_id,
           CAST(CASE WHEN node = label THEN 1 ELSE 0 END AS INTEGER)
             AS is_canonical
    FROM lab WHERE iter = {CLUSTER_ITER}
    ORDER BY doc_id
    """,
    tags=("dedup", "pipeline", "graph"),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution — the step between pair mining and
    survivor selection that pairwise keep-first misses: a~b and b~c
    must collapse to ONE canonical document even when a~c was never
    emitted as a pair.  Pairs (exact Jaccard >= 0.6 on the fenced
    doc_id<150 block, same ground truth as dedup_ngram_jaccard) are
    symmetrized and resolved to components by {CLUSTER_ITER} rounds of
    min-label propagation; each document in any cluster reports its
    canonical (minimum) doc_id.  Survivors = is_canonical docs plus
    every doc absent from this output.

    Scale shape: identical to graph_connected_components — per round
    one join + one min-agg on the symmetrized pair list, shuffling
    (node, label) pairs only; at corpus scale the pair list comes from
    the banded-LSH candidate join (dedup_minhash_lsh), not the fenced
    O(n²) block."""
    release_prior()
    t = Tables(spark, sf_dir)
    w = t.documents.filter(F.col("doc_id") < 150).select(
        "doc_id",
        F.array_distinct(F.split(_norm(F.col("text")), " ")).alias("toks"),
    )
    a = w.select(F.col("doc_id").alias("a"), F.col("toks").alias("t_a"))
    b = w.select(F.col("doc_id").alias("b"), F.col("toks").alias("t_b"))
    jac = F.size(F.array_intersect("t_a", "t_b")).cast("double") / F.size(
        F.array_union("t_a", "t_b")
    )
    pairs = (
        a.join(b, F.col("a") < F.col("b"))
        .filter(jac >= 0.6)
        .select("a", "b")
    )
    sym = persist_tracked(
        pairs.select("a", "b")
        .union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .union(pairs.select("a", F.col("a").alias("b")))
        .union(pairs.select(F.col("b").alias("a"), F.col("b").alias("b")))
        .distinct()
    )
    labels = sym.groupBy("a").agg(F.min("b").alias("label")).withColumnRenamed("a", "node")
    for _ in range(CLUSTER_ITER):
        labels = (
            sym.join(labels, F.col("b") == F.col("node"))
            .groupBy("a")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("a", "node")
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        F.when(F.col("node") == F.col("label"), 1).otherwise(0).cast("int")
        .alias("is_canonical"),
    ).orderBy("doc_id")


#: Corpus/batch fence for incremental dedup: docs below are the
#: already-ingested corpus, docs at/above are the incoming batch.
INCR_FENCE = 250


@register(
    "dedup_incremental",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), ' +'))), ' ')) AS fp
      FROM documents
    ),
    ex AS (SELECT DISTINCT fp FROM f WHERE doc_id < {INCR_FENCE}),
    inc AS (SELECT doc_id, fp FROM f WHERE doc_id >= {INCR_FENCE}),
    fi AS (SELECT fp, min(doc_id) AS first_id FROM inc GROUP BY fp)
    SELECT i.doc_id,
           CASE WHEN ex.fp IS NOT NULL THEN 'dup_of_corpus'
                WHEN i.doc_id <> fi.first_id THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM inc i LEFT JOIN ex ON i.fp = ex.fp
    JOIN fi ON i.fp = fi.fp
    ORDER BY i.doc_id
    """,
    tags=("dedup", "pipeline", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (crawl-delta) dedup — the production shape: a new
    batch is deduplicated against the ALREADY-INGESTED corpus index and
    against itself, without rescanning corpus text.  Fingerprint =
    md5 of the sorted vocabulary set (bag-of-words), which collapses
    word-order shuffles of the same content; each incoming doc is
    labeled dup_of_corpus / dup_in_batch / new.

    Scale shape: the corpus contributes only its fingerprint column
    (the persisted dedup index, O(corpus) keys but narrow); the batch
    shuffles once on fp for both the index anti-probe and the
    first-in-batch window.  Corpus text is never touched."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    fp = F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split(_norm(F.col("text")), " ")))
        ).cast("binary")
    )
    f = t.documents.select("doc_id", fp.alias("fp"))
    existing = f.filter(F.col("doc_id") < INCR_FENCE).select("fp").distinct()
    incoming = f.filter(F.col("doc_id") >= INCR_FENCE)
    first_in_batch = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        incoming.join(
            existing.withColumn("in_corpus", F.lit(1)), "fp", "left"
        )
        .withColumn("first_id", first_in_batch)
        .select(
            "doc_id",
            F.when(F.col("in_corpus").isNotNull(), "dup_of_corpus")
            .when(F.col("doc_id") != F.col("first_id"), "dup_in_batch")
            .otherwise("new")
            .alias("status"),
        )
        .orderBy("doc_id")
    )


#: Containment threshold: fraction of A's tokens that appear in B.
CONTAINMENT_TAU = 0.8


@register(
    "dedup_containment",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_distinct(string_split(regexp_replace(trim(lower(text)),
                           ' +', ' ', 'g'), ' ')) AS toks
      FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(a.toks), 6) AS containment
    FROM w a JOIN w b ON a.doc_id != b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(a.toks) >= {CONTAINMENT_TAU}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "pipeline", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set CONTAINMENT C(A,B) = |A∩B| / |A| on the same fenced
    block as the Jaccard ground truth — the asymmetric near-dup
    measure that catches quotes and subset documents, which symmetric
    Jaccard misses (a short doc fully quoted inside a long one has
    high containment but low Jaccard).  Both directions are emitted
    because C(A,B) ≠ C(B,A).

    The O(n²) join is intentionally fenced (doc_id < 150); at scale
    the candidate pairs come from the MinHash-LSH index and only
    candidates get the exact containment confirm — the same
    mine-then-confirm discipline as dedup_minhash_lsh."""
    t = Tables(spark, sf_dir)
    w = t.documents.filter(F.col("doc_id") < 150).select(
        "doc_id",
        F.array_distinct(F.split(_norm(F.col("text")), " ")).alias("toks"),
    )
    a = w.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("t_a"))
    b = w.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("t_b"))
    containment = F.size(F.array_intersect("t_a", "t_b")).cast(
        "double"
    ) / F.size("t_a")
    return (
        a.join(b, F.col("doc_a") != F.col("doc_b"))
        .withColumn("containment", containment)
        .filter(F.col("containment") >= CONTAINMENT_TAU)
        .select(
            "doc_a", "doc_b", F.round("containment", 6).alias("containment")
        )
        .orderBy("doc_a", "doc_b")
    )


#: URL-canonicalization page fence: doc pages collide modulo this, so
#: several raw URLs canonicalize to one page per source.
URL_PAGES = 50

#: Raw-URL construction, shared verbatim (string template) between the
#: Spark query and the DuckDB oracle so both canonicalize the SAME
#: synthetic crawl frontier.  Casing, a default port, a tracking param
#: and a fragment vary per doc_id; only (source, page) survives
#: canonicalization.
_RAW_URL_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END"
    " || source || '.example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END"
    " || '/articles/' || CAST(doc_id % {pages} AS STRING)"
    " || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END"
    " || '?utm_source=feed' || CAST(doc_id AS STRING)"
    " || '&id=' || CAST(doc_id % {pages} AS STRING)"
    " || '#frag' || CAST(doc_id AS STRING)"
).format(pages=URL_PAGES)


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
    ),
    canon AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) ||
             rtrim(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/') ||
             '?' || regexp_replace(
               regexp_extract(url, '\\?([^#]*)', 1),
               'utm_[^&]*&?', '', 'g') AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM canon GROUP BY 1 ORDER BY 1
    """,
    tags=("dedup", "llm-pipeline", "url"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first pass of every crawl
    pipeline (CCNet/RefinedWeb drop ~30-50% of fetches as URL dups
    before touching content): lowercase scheme+host, drop the default
    port, strip the trailing slash, delete utm_* tracking params and
    the fragment, then group by the canonical URL keeping the earliest
    doc_id as the cluster representative.

    Raw URLs are synthesized deterministically from (source, doc_id)
    by a template shared verbatim with the oracle, so both engines
    canonicalize an identical frontier; parsing uses Spark's built-in
    parse_url (JVM, codegen — reference `stringExpressions.scala`
    ParseUrl) rather than re-deriving fields from the template —
    the oracle extracts the same pieces with regexes instead, so the
    two engines agree only if both parse correctly.

    Scale notes: narrow projection → one exact-key groupBy; no joins,
    no windows, no Python.  At 100 TB this is the cheapest dedup tier
    (shuffle on canonical_url, combiner-friendly min/count)."""
    t = Tables(spark, sf_dir)
    raw = t.documents.select(
        "doc_id", F.expr(_RAW_URL_SQL).alias("url")
    )
    host = F.lower(F.parse_url("url", F.lit("HOST")))
    path = F.rtrim(F.parse_url("url", F.lit("PATH")), F.lit("/"))
    query = F.regexp_replace(
        F.parse_url("url", F.lit("QUERY")), r"utm_[^&]*&?", ""
    )
    canon = raw.select(
        "doc_id",
        F.concat(host, path, F.lit("?"), query).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .orderBy("canonical_url")
    )


#: Token-window width for substring-level dedup.  The published
#: technique (Lee et al. 2022, "Deduplicating Training Data Makes
#: Language Models Better") uses 50-token windows over BPE tokens; the
#: synthetic corpus averages ~40 words per doc, so 8 keeps the window
#: meaningfully sub-document while still spanning real phrase overlap.
SUBSTR_WIN = 8


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH docs AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    toks AS (SELECT doc_id, string_split(norm, ' ') AS w FROM docs),
    wins AS (
      SELECT doc_id, len(w) AS tok_count, i AS pos,
             {md5_hash60_sql(f"array_to_string(w[i:i+{SUBSTR_WIN}-1], ' ')")} AS h
      FROM toks,
           unnest(CASE WHEN len(w) >= {SUBSTR_WIN}
                       THEN range(1, len(w) - {SUBSTR_WIN} + 2)
                       ELSE [] END) AS t(i)
    ),
    dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
    hits AS (
      SELECT doc_id, tok_count, pos FROM wins
      WHERE h IN (SELECT h FROM dup)
    ),
    isl AS (
      SELECT doc_id, tok_count, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {SUBSTR_WIN} - 1
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ),
    isl2 AS (
      SELECT doc_id, tok_count, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, max(tok_count) AS tok_count,
             min(pos) AS s, max(pos) + {SUBSTR_WIN} - 1 AS e
      FROM isl2 GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)        AS n_spans,
           CAST(sum(e - s + 1) AS BIGINT)  AS dup_tokens,
           CAST(max(tok_count) AS BIGINT)  AS tok_count,
           CAST(sum(e - s + 1) AS DOUBLE) / CAST(max(tok_count) AS DOUBLE)
                                           AS dup_frac
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("dedup", "llm-pipeline", "substring"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022 ExactSubstr, the
    suffix-array technique, re-expressed Spark-first): every
    SUBSTR_WIN-token window is fingerprinted; a window whose
    fingerprint occurs ≥2 times anywhere in the corpus (cross-doc or
    intra-doc) is duplicated; per document, overlapping duplicated
    windows merge into maximal spans.  Output per affected doc:
    span count, duplicated-token total, and duplicated fraction —
    exactly the removal plan ExactSubstr derives from its suffix
    array, without materializing one.

    Spark-first shape instead of a distributed suffix array:
      scan → window fingerprints (one narrow higher-order projection,
      no Python) → groupBy(h) with map-side partial counts → the
      duplicated-hash set (tiny on clean corpora) → left-semi join
      back → per-doc interval merge as an array fold.
    The interval merge deliberately avoids a partitionBy(doc_id)
    row-window: positions collapse to one sorted array per doc
    (bounded by document length, never by corpus size) and a single
    F.aggregate fold emits (n_spans, dup_tokens) — no second sort, no
    per-row window state.

    Scale notes for 100 TB: the heavy shuffle is the fingerprint
    count, and it ships (h, partial-count) pairs after map-side
    combine — the full (doc, pos) stream never shuffles by h.  The
    probe side reuses the persisted window table (one scan of
    documents in the whole plan).  The dup-hash set is
    output-sized (boilerplate only), so AQE turns the semi join into
    a broadcast on clean corpora and falls back to a shuffled semi
    join gracefully when a boilerplate-heavy crawl inflates it.  A
    hot fingerprint (10⁷-copy boilerplate window) lands in ONE
    groupBy cell (combiner-absorbed), not a window task."""
    release_prior()
    K = SUBSTR_WIN
    t = Tables(spark, sf_dir)
    parallelism = spark.sparkContext.defaultParallelism

    # Let-bound token array (same CollapseProject hazard as _shingles:
    # without the 1-element transform trick the split() re-inlines into
    # every slice/size reference).
    def win_struct(w):
        return F.struct(
            F.size(w).cast("long").alias("tok_count"),
            F.when(
                F.size(w) >= K,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - K + 1),
                    lambda i: F.array_join(F.slice(w, i, K), " "),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("wins"),
        )

    base = (
        t.documents.repartition(parallelism, "doc_id")
        .select(
            "doc_id",
            F.element_at(
                F.transform(
                    F.array(F.split(_norm(F.col("text")), " ")), win_struct
                ),
                1,
            ).alias("st"),
        )
    )
    wins = persist_tracked(
        base.select(
            "doc_id",
            F.col("st.tok_count").alias("tok_count"),
            F.posexplode(F.col("st.wins")).alias("pos0", "win"),
        ).select(
            "doc_id",
            "tok_count",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            md5_hash60(F.col("win")).alias("h"),
        )
    )
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("h")
    )
    hits = wins.join(dup, "h", "left_semi")
    per_doc = hits.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("ps"),
        F.max("tok_count").alias("tok_count"),
    )

    # Interval-merge fold: acc = (n_spans, dup_tokens, cur_start,
    # cur_end); a position p extends the open span iff p <= cur_end
    # (shares ≥1 token), else closes it and opens [p, p+K-1].
    def _merge(acc, p):
        closed = F.struct(
            (acc["n_spans"] + 1).alias("n_spans"),
            (acc["dup"] + acc["ce"] - acc["cs"] + 1).alias("dup"),
            p.alias("cs"),
            (p + F.lit(K - 1)).alias("ce"),
        )
        extended = F.struct(
            acc["n_spans"].alias("n_spans"),
            acc["dup"].alias("dup"),
            acc["cs"].alias("cs"),
            F.greatest(acc["ce"], p + F.lit(K - 1)).alias("ce"),
        )
        opened = F.struct(
            acc["n_spans"].alias("n_spans"),
            acc["dup"].alias("dup"),
            p.alias("cs"),
            (p + F.lit(K - 1)).alias("ce"),
        )
        return (
            F.when(acc["ce"] < 0, opened)
            .when(p <= acc["ce"], extended)
            .otherwise(closed)
        )

    init = F.struct(
        F.lit(0).cast("long").alias("n_spans"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(-1).cast("long").alias("cs"),
        F.lit(-1).cast("long").alias("ce"),
    )
    folded = F.aggregate(
        F.col("ps"),
        init,
        _merge,
        lambda acc: F.struct(
            (acc["n_spans"] + 1).alias("n_spans"),
            (acc["dup"] + acc["ce"] - acc["cs"] + 1).alias("dup"),
        ),
    )
    return (
        per_doc.select(
            "doc_id",
            folded["n_spans"].alias("n_spans"),
            folded["dup"].alias("dup_tokens"),
            "tok_count",
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_tokens",
            "tok_count",
            (F.col("dup_tokens") / F.col("tok_count")).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )
