"""End-to-end training-data pipeline: the beyond-parity operators
composed the way a 100 TB corpus-preparation job runs them.

Stages (all one DataFrame program — Catalyst sees the whole plan):
  1. quality gate   — length + word-count floors (text ops)
  2. exact dedup    — keep min(doc_id) per normalized-text fingerprint
  3. near-dup prune — MinHash-LSH candidate pairs with Jaccard ≥ 0.3;
                      drop the higher doc_id of each confirmed pair
  4. output stats   — surviving docs with token counts, ordered

Every stage is shuffle-bounded (fingerprint groupBy, banded LSH join,
one anti join) and the oracle replays the identical computation in
DuckDB, so the whole pipeline — not just its operators — is
value-verified.  This is the composition contract: operators built in
dedup.py / text.py chain without materialization barriers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.operators.dedup import (
    _BANDS_SQL,
    _NORM_SPARK_SQL,
    _NORM_SQL,
    _SHINGLE_CTE,
    _SIG_CTE,
    _lsh_members_confirmed,
)
from splitserve_spark.registry import register
from splitserve_spark.tables import Tables

MIN_CHARS = 120
MIN_WORDS = 15
JACCARD = 0.3


@register(
    "pipeline_training_data",
    oracle=f"""
    WITH {_SHINGLE_CTE}, {_SIG_CTE},
    bands AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    neardup_losers AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM cand
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / len(list_distinct(sa.shingles || sb.shingles)) >= {JACCARD}
    ),
    quality AS (
      SELECT doc_id, text
      FROM documents
      WHERE length(text) >= {MIN_CHARS}
        AND len(string_split_regex(trim(text), ' +')) >= {MIN_WORDS}
    ),
    exact_canon AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM quality
            -- md5 over the same normalized text the Spark side hashes
           ) q
      GROUP BY fp
    )
    SELECT q.doc_id,
           length(q.text) AS n_chars_obs,
           CAST(len(string_split_regex(trim(q.text), ' +')) AS INTEGER) AS n_words
    FROM quality q
    JOIN exact_canon c ON q.doc_id = c.doc_id
    WHERE q.doc_id NOT IN (SELECT doc_id FROM neardup_losers)
    ORDER BY q.doc_id
    """,
    tags=("pipeline", "dedup", "text", "composition"),
    bench=True,
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-prep pipeline (quality → exact dedup →
    LSH near-dup prune → stats).  Near-dup losers come from the SAME
    LSH front end (_lsh_members_confirmed) users run standalone via
    dedup_minhash_lsh — composition, not re-implementation.

    The loser set is derived LINEARLY from the collapse membership
    table instead of expanding the full member-pair list and taking
    distinct doc_b (every confirmed pair's jaccard already ≥ 0.3, so
    the old jaccard filter was a no-op):
      * twin losers   — any doc that is not its fingerprint group's
        min-id representative (doc_id ≠ rep);
      * cross losers  — for a confirmed rep pair (rep_a < rep_b, both
        group minima): max(a, b) over a ∈ grp(rep_a), b ∈ grp(rep_b)
        is every member of grp(rep_b) (all exceed rep_a) plus the
        grp(rep_a) members above rep_b.
    Same set, but O(|members|) rows instead of O(Σ|A|·|B|) — at corpus
    scale a 10⁷-copy boilerplate page contributes 10⁷ loser rows here
    versus ~10¹⁴ expanded twin pairs (optimization guide §1.2: fix the
    distributed algorithm first; the pair expansion is
    dedup_minhash_lsh's declared OUTPUT, but this pipeline only ever
    consumed the per-doc decision)."""
    t = Tables(spark, sf_dir)
    # String-parsed expressions (selectExpr / SQL predicate strings)
    # parse to the identical trees as the Column forms in one py4j
    # round trip each — this builder runs per invocation and shares
    # the LSH front end's py4j-bound build path (guide §7.3).
    quality = t.documents.filter(
        f"length(text) >= {MIN_CHARS} AND size(split(trim(text), ' +')) >= {MIN_WORDS}"
    ).select("doc_id", "text")

    # The exact-dedup canonical election carries the canonical doc's
    # output stats through the aggregate (min_by on the unique doc_id
    # ordering key) instead of electing ids and semi-joining back into
    # a SECOND quality scan: one documents scan, and no exchange ever
    # carries text (guide §2.3/§2.4 — the old join-back shuffled every
    # surviving (doc_id, text) row at corpus scale).
    canon_stats = (
        quality.selectExpr(
            "doc_id",
            f"md5(CAST({_NORM_SPARK_SQL} AS BINARY)) AS fp",
            "CAST(length(text) AS BIGINT) AS n_chars_obs",
            "size(split(trim(text), ' +')) AS n_words",
        )
        .groupBy("fp")
        .agg(
            F.expr("min(doc_id) AS doc_id"),
            F.expr("min_by(n_chars_obs, doc_id) AS n_chars_obs"),
            F.expr("min_by(n_words, doc_id) AS n_words"),
        )
    )

    members, confirmed = _lsh_members_confirmed(spark, sf_dir)
    twin_losers = members.filter("doc_id != rep").selectExpr("doc_id AS loser_id")
    # Both cross cases are "members of grp above a threshold": grp(rep_b)
    # members all exceed rep_a, grp(rep_a) members must exceed rep_b —
    # one (grp, thr) table over the confirmed pair set, one join.  Built
    # with a single explode (NOT a two-branch union, which would run the
    # unpersisted confirm subtree twice).
    thresholds = confirmed.selectExpr(
        "explode(array(named_struct('grp', rep_b, 'thr', rep_a),"
        " named_struct('grp', rep_a, 'thr', rep_b))) AS gt"
    ).selectExpr("gt.grp", "gt.thr")
    cross_losers = (
        members.join(thresholds, F.expr("rep = grp"))
        .filter("doc_id > thr")
        .selectExpr("doc_id AS loser_id")
    )
    # No distinct() on the loser side: a left-anti join is insensitive
    # to right-side duplicates (the build side dedups implicitly), so
    # the distinct's exchange + aggregate were pure overhead (§2.4).
    losers = twin_losers.unionByName(cross_losers)

    return (
        canon_stats
        .join(losers, F.expr("doc_id = loser_id"), "left_anti")
        .select("doc_id", "n_chars_obs", "n_words")
        .orderBy("doc_id")
    )
