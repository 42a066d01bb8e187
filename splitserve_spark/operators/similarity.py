"""Vector similarity search over the `embeddings` table (beyond-parity).

Tiers:
  * brute-force cosine top-k  — the exactness baseline (oracle-checked)
  * threshold pair mining     — embedding-cosine near-dup detection
    (+ keep-first dedup, exact and LSH-candidate forms)
  * LSH-bucketed / IVF ANN    — the scale paths (recall-tested
    against brute force)
  * int8 scalar quantization  — the compression step for
    billion-vector indexes (oracle-checked)

Scale design: query vectors are broadcast (they are the small side by
construction); every per-row distance/cosine hot path runs as an
Arrow-vectorized pandas kernel that reproduces the JVM
zip_with+aggregate fold bit-exactly (_sig_kernel for LSH signatures,
_arrow_l2sq/_arrow_cosine for IVF/PQ assignment and candidate
reranks — interpreted HOFs are CodegenFallback, measured ~9× slower);
the JVM fold forms (_dot/_cosine) remain for bounded cold paths and as
the regression twins the kernels are pinned against.  Argmin
assignment (nearest centroid / codebook entry) aggregates with
min_by over a (dist, id) struct — partial-aggregatable map-side, so
assignment needs NO shuffle-and-window; ties break on the id exactly
like the row_number form it replaces.  Brute-force top-k
(sim_cosine_topk) collects the query vectors on the driver and keeps a
running top-k per query inside one partition-local mapInArrow pass
over the corpus (no join: each vector crosses into Python once); the
rank-window + filter then merges the partitions' k-row candidate
lists into the exact global rank.  The probe-based variants (IVF, PQ,
LSH) rank with the rank-window + filter shape alone, which Spark
executes with WindowGroupLimit pushdown (partial top-k before the
shuffle).  The LSH variants trade the all-pairs scan for equi-joins on
sign-bit signatures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType
from pyspark.sql.window import Window

from splitserve_spark.registry import register
from splitserve_spark.operators.run_cache import persist_tracked, release_prior
from splitserve_spark.tables import Tables

#: Number of probe vectors (lowest vec_ids double as the query set).
N_QUERIES = 5
TOP_K = 5
#: Embedding dimensionality of the corpus (TESTDATA.md: fixed array<float>).
EMB_DIM = 64


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _sig_kernel(planes, n_bits: int):
    """Arrow-vectorized sign-bit signatures: a scalar pandas UDF that
    maps an embedding (array<double>) to its per-table LSH buckets
    (array<long>, one element per table).

    BIT-EXACT to the JVM fold it replaces (and to the DuckDB oracle's
    index-order sum): the dot products accumulate via an explicit
    per-dimension accumulator — the same left-to-right IEEE addition
    sequence as F.aggregate(zip_with(...), 0.0, acc + v) — so every
    sign bit, bucket and downstream candidate set is unchanged.  Replaces an
    interpreted higher-order-function tree of T·B literal dot products
    (HOFs are CodegenFallback; measured 9× slower) with one Arrow
    batch kernel — the 10-100× pandas-UDF rule the module docstrings
    promise, applied to the signature hot path."""
    mat_p = np.array(planes, dtype=np.float64).reshape(-1, EMB_DIM)
    n_tables = mat_p.shape[0] // n_bits
    weights = (1 << (n_bits - 1 - np.arange(n_bits))).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(col: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        n = len(mat)
        # Left-to-right fold along the dimension axis via an explicit
        # (rows, T·B) accumulator.  BIT-EXACT to the cumsum form it
        # replaces: the additions happen in the same dimension order,
        # and the only representable difference — 0.0 + x turning a
        # -0.0 partial sum into +0.0 — cannot flip the >= 0 sign test
        # or any later nonzero addition.  The cumsum form materialized
        # (rows, T·B, dim) float64 intermediates (~40 MB per 1024-row
        # chunk, twice per chunk); those allocations made the signature
        # stage bimodal — measured 0.6 s vs 20 s for the SAME input on
        # an idle host (allocator/page-fault stalls).  The accumulator
        # peaks at rows × T·B × 8 bytes (~3 MB for 5k rows).
        dots = np.zeros((n, mat_p.shape[0]), dtype=np.float64)
        for d in range(mat_p.shape[1]):
            dots += mat[:, d, None] * mat_p[None, :, d]
        bits = (dots >= 0).astype(np.int64).reshape(n, n_tables, n_bits)
        res = (bits * weights).sum(axis=2)
        return pd.Series(list(res))

    return buckets


def _stack(col: pd.Series) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


@F.pandas_udf(DoubleType())
def _arrow_l2sq(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow twin of the _l2sq JVM fold: squared L2 distance between
    two array<double> columns.  BIT-EXACT to
    F.aggregate(zip_with(a, b, (x,y) -> (x-y)²), 0.0, acc + d): the
    explicit per-dimension accumulator performs the identical
    left-to-right IEEE additions from the same 0.0 seed, so every
    downstream argmin/tie-break is unchanged — same recipe, and same
    regression-test pattern, as _sig_kernel.  (Replaced the cumsum
    form for the same allocator-stall reason as _sig_kernel: no
    (rows × dim) float64 intermediate per batch.)"""
    if not len(a):
        return pd.Series(np.empty(0, dtype=np.float64))
    ma, mb = _stack(a), _stack(b)
    acc = np.zeros(ma.shape[0], dtype=np.float64)
    for d in range(ma.shape[1]):
        acc += (ma[:, d] - mb[:, d]) ** 2
    return pd.Series(acc)


@F.pandas_udf(DoubleType())
def _arrow_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow twin of _cosine: dot/(‖a‖·‖b‖) with every fold as an
    explicit left-to-right per-dimension accumulation from 0.0 —
    bit-exact to the JVM form (elementwise multiply, divide and sqrt
    are single IEEE ops on both sides); allocation-light like
    _sig_kernel/_arrow_l2sq."""
    if not len(a):
        return pd.Series(np.empty(0, dtype=np.float64))
    ma, mb = _stack(a), _stack(b)
    n = ma.shape[0]
    dot = np.zeros(n, dtype=np.float64)
    na = np.zeros(n, dtype=np.float64)
    nb = np.zeros(n, dtype=np.float64)
    for d in range(ma.shape[1]):
        dot += ma[:, d] * mb[:, d]
        na += ma[:, d] * ma[:, d]
        nb += mb[:, d] * mb[:, d]
    return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))


def _fixed_dim_matrix(arr, dim: int) -> np.ndarray:
    """A list array whose every row holds `dim` numbers (a fixed-dim
    embedding column) as an `(n, dim)` float64 matrix, with no per-row
    Python.  `flatten()` honours the array's offset, so a sliced batch
    yields its own rows; float32 elements widen to float64 exactly.
    Raises on a null or wrong-length row (and, via `to_numpy`, on a
    null element)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lengths_ok = pc.all(pc.equal(arr.value_lengths(), dim), min_count=0)
    if arr.null_count or not lengths_ok.as_py():
        raise ValueError(f"expected non-null lists of length {dim}")
    flat = arr.flatten().to_numpy()
    return flat.astype(np.float64, copy=False).reshape(len(arr), dim)


def _cosine_topk_kernel(q_ids: np.ndarray, q_mat: np.ndarray, k: int):
    """mapInArrow body for exact cosine top-k: over `(vec_id,
    embedding)` batches, keep a running top-`k` per query row of
    `q_mat` and emit it once, at most k rows per query per partition.

    Cosines use _arrow_cosine's sequential per-dimension folds (query ×
    vector dot, then dot / (‖q‖·‖v‖)), so every value is bit-identical
    to the pair-join form.  Order is Spark's `cosine DESC,
    neighbor_id`: NaN (a zero vector) ranks greatest, ties break on the
    lower id.  A query's own id is excluded.  State is the k survivors
    per query plus one batch, never the partition."""
    nq, dim = q_mat.shape
    q_sq = np.zeros(nq, dtype=np.float64)
    for d in range(dim):
        q_sq += q_mat[:, d] * q_mat[:, d]
    q_norm = np.sqrt(q_sq)

    def topk(batches):
        if not nq:
            return
        best_ids = [np.empty(0, dtype=np.int64)] * nq
        best_cos = [np.empty(0, dtype=np.float64)] * nq
        for batch in batches:
            ids = batch.column("vec_id").to_numpy()
            mat = _fixed_dim_matrix(batch.column("embedding"), dim)
            dots = np.zeros((nq, len(ids)), dtype=np.float64)
            sq = np.zeros(len(ids), dtype=np.float64)
            for d in range(dim):
                dots += q_mat[:, d, None] * mat[None, :, d]
                sq += mat[:, d] * mat[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (q_norm[:, None] * np.sqrt(sq)[None, :])
            for i in range(nq):
                keep = ids != q_ids[i]
                c_ids = np.concatenate([best_ids[i], ids[keep]])
                c_cos = np.concatenate([best_cos[i], cos[i, keep]])
                nan = np.isnan(c_cos)
                order = np.lexsort((c_ids, np.where(nan, 0.0, -c_cos), ~nan))[:k]
                best_ids[i], best_cos[i] = c_ids[order], c_cos[order]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(q_ids, [len(b) for b in best_ids])),
                pa.array(np.concatenate(best_ids)),
                pa.array(np.concatenate(best_cos)),
            ],
            names=["query_id", "neighbor_id", "cosine"],
        )

    return topk


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, e.v) AS cosine,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS rn
      FROM q CROSS JOIN e
      WHERE q.query_id <> e.vec_id
    )
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
           CAST(rn AS INTEGER) AS rank
    FROM scored
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rank
    """,
    tags=("similarity", "pipeline", "ann"),
    bench=True,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: exact — the baseline sim_lsh_ann is
    measured against.

    The N_QUERIES query vectors are collected on the driver (the
    Lloyd-pull pattern of sim_ivf_ann) and closed over one mapInArrow
    pass of _cosine_topk_kernel over the corpus: each partition keeps
    a running top-k per query and emits at most k rows per query, so
    no query × corpus pair row is ever built.  The rank window over
    those ≤ partitions·N_QUERIES·k candidates gives the exact global
    rank (REPOSE-style partition-local top-k, then a global merge), and
    the bounded result is sorted in one partition, not range-shuffled."""
    t = Tables(spark, sf_dir)
    corpus = t.embeddings.select("vec_id", "embedding")
    q = corpus.filter(F.col("vec_id") < N_QUERIES).toArrow()
    kernel = _cosine_topk_kernel(
        q.column("vec_id").to_numpy(),
        _fixed_dim_matrix(q.column("embedding"), EMB_DIM),
        TOP_K,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        corpus.mapInArrow(
            kernel, schema="query_id bigint, neighbor_id bigint, cosine double"
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
        # At most N_QUERIES·TOP_K rows: one partition sorts them, with
        # no range-sampling job and no range shuffle.
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


#: Near-dup threshold for the synthetic embeddings: random vectors
#: concentrate cosine near 0 (q99.9 ≈ 0.37, max ≈ 0.47 in the fenced
#: block at every SF), so a "real-corpus" 0.8 threshold selects ZERO
#: pairs and the query is vacuous.  0.35 keeps the same top-0.1%-of-
#: pairs meaning a 0.8 threshold has on clustered real embeddings.
NEAR_DUP_TAU = 0.35


@register(
    "sim_cosine_pairs",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) > {NEAR_DUP_TAU}
    ORDER BY id_a, id_b
    """,
    tags=("similarity", "pipeline", "dedup"),
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above NEAR_DUP_TAU on a
    bounded block — the semantic-dedup primitive.  The fenced O(n²)
    block is the ground-truth twin of the LSH path (same pattern as
    dedup_ngram_jaccard)."""
    t = Tables(spark, sf_dir)
    e = t.embeddings.filter(F.col("vec_id") < 300).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("v_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _arrow_cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cosine") > NEAR_DUP_TAU)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300
    ),
    p AS (
      SELECT b.vec_id AS dup_id, a.vec_id AS earlier_id,
             list_cosine_similarity(a.v, b.v) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {NEAR_DUP_TAU}
    )
    SELECT dup_id,
           min(earlier_id) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_near,
           round(max(cos), 6) AS max_cos
    FROM p GROUP BY dup_id ORDER BY dup_id
    """,
    tags=("similarity", "pipeline", "dedup"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup (SemDeDup-style keep-first): a vector
    is dropped iff some earlier (smaller-id) vector is within cosine
    NEAR_DUP_TAU; output one row per dropped vector with its keeper
    (smallest qualifying earlier id).  Survivors are the fenced block
    minus dup_ids — an anti-join in the consuming pipeline.

    Scale path: at corpus scale the fenced O(n²) pair generation is
    replaced by LSH-bucketed candidates (sim_lsh_ann's signature
    equi-join) feeding this same keep-first aggregation; one shuffle on
    dup_id either way."""
    t = Tables(spark, sf_dir)
    e = t.embeddings.filter(F.col("vec_id") < 300).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    a = e.select(F.col("vec_id").alias("earlier_id"), F.col("v").alias("v_a"))
    b = e.select(F.col("vec_id").alias("dup_id"), F.col("v").alias("v_b"))
    return (
        a.join(b, F.col("earlier_id") < F.col("dup_id"))
        .withColumn("cos", _arrow_cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= NEAR_DUP_TAU)
        .groupBy("dup_id")
        .agg(
            F.min("earlier_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_near"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
        .orderBy("dup_id")
    )


#: LSH parameters for PAIR MINING (dedup): fewer bits / more tables
#: than the ANN index because near-dup thresholds (cosine ≥ 0.35 here)
#: sit at much wider angles than top-k neighbors.  Calibrated on the
#: synthetic embeddings (worst case — no cluster structure): B=6, L=32
#: gives ~0.88 dup-recall at a ~0.56 candidate fraction on the fenced
#: block; clustered real corpora see far higher recall at far lower
#: candidate fractions.
DEDUP_LSH_TABLES = 32
DEDUP_LSH_BITS = 6


def _dedup_hyperplanes(dim: int) -> list[list[list[float]]]:
    """Deterministic Rademacher (±1) planes via md5 parity — same
    construction as the ANN index (_hyperplanes), salted 'dd:' so the
    two indexes stay independent, and reproducible inside DuckDB for
    the value-checking oracle."""
    import hashlib

    def sign(t: int, b: int, d: int) -> float:
        h = int(hashlib.md5(f"dd:{t}:{b}:{d}".encode()).hexdigest()[:15], 16)
        return 1.0 if h % 2 == 1 else -1.0

    return [
        [[sign(t, b, d) for d in range(dim)] for b in range(DEDUP_LSH_BITS)]
        for t in range(DEDUP_LSH_TABLES)
    ]


def _dedup_lsh_oracle() -> str:
    """DuckDB replica of dedup_embedding_lsh: identical signatures
    (md5-parity Rademacher planes, salt 'dd:'), identical bucket-join
    candidate mining, identical exact-cosine confirm + keep-first
    aggregation."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < {DEDUP_LSH_MAX_ID}),
    planes AS (
      SELECT t.t, b.b, d.d,
             CASE WHEN ('0x' || substr(md5('dd:' || t.t::VARCHAR || ':' ||
                        b.b::VARCHAR || ':' || d.d::VARCHAR), 1, 15))::BIGINT
                       % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS s
      FROM range(0, {DEDUP_LSH_TABLES}) t(t)
      CROSS JOIN range(0, {DEDUP_LSH_BITS}) b(b)
      CROSS JOIN range(0, {EMB_DIM}) d(d)
    ),
    sigs AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN dot >= 0
                           THEN (1 << ({DEDUP_LSH_BITS} - 1 - b))
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM (
        SELECT e.vec_id, p.t, p.b, sum(p.s * e.v[p.d + 1]) AS dot
        FROM e CROSS JOIN planes p
        GROUP BY 1, 2, 3) c
      GROUP BY vec_id, t
    ),
    cands AS (
      SELECT DISTINCT a.vec_id AS earlier_id, b.vec_id AS dup_id
      FROM sigs a JOIN sigs b ON a.t = b.t AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    ),
    confirmed AS (
      SELECT c.earlier_id, c.dup_id,
             list_cosine_similarity(ea.v, eb.v) AS cos
      FROM cands c
      JOIN e ea ON ea.vec_id = c.earlier_id
      JOIN e eb ON eb.vec_id = c.dup_id
      WHERE list_cosine_similarity(ea.v, eb.v) >= {NEAR_DUP_TAU}
    )
    SELECT dup_id, min(earlier_id) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_near,
           round(max(cos), 6) AS max_cos
    FROM confirmed
    GROUP BY dup_id
    ORDER BY dup_id
    """


#: Fence for the dedup demo block (matches dedup_embedding_cosine's
#: pair-mining scale notes).
DEDUP_LSH_MAX_ID = 300


@register(
    "dedup_embedding_lsh",
    oracle=_dedup_lsh_oracle(),
    tags=("similarity", "pipeline", "dedup", "lsh"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-candidate form of embedding near-dedup — the scale path that
    `dedup_embedding_cosine`'s docstring promises.  Same keep-first
    output contract (dup_id, keeper_id, n_near, max_cos), but candidate
    pairs come from a bucketed signature equi-join instead of the
    fenced O(n²) cross product:

      1. per vector, L sign-bit signatures → (vec_id, tbl, bucket)
         rows, computed in the scan projection by the Arrow-vectorized
         signature kernel (_sig_kernel — bit-exact to the JVM fold);
      2. candidates = self-equi-join on (tbl, bucket) with
         earlier_id < dup_id, deduplicated on the id pair BEFORE
         vectors are re-attached (distinct on two longs, not arrays);
      3. exact cosine confirm ≥ NEAR_DUP_TAU, then the identical
         keep-first aggregation (one shuffle on dup_id).

    At 100 TB stage 2's join shuffles only (tbl, bucket, id) triples —
    ~L rows per vector — and bucket-local pair expansion replaces the
    all-pairs pass; n_near/keeper_id reflect FOUND pairs (recall < 1
    on adversarially-random data; see tests/test_similarity_multimodal.py).
    The planes are md5-parity Rademacher vectors, so the whole
    mine→confirm→keep-first pipeline is value-checked against a SQL
    replica (upgraded from the former rows-only check)."""
    t = Tables(spark, sf_dir)
    # Consumed by the signature index and by both vector re-attach
    # sides of the confirm join — persist so the corpus is scanned
    # and decoded once, not three times (run_cache contract).
    release_prior()
    e = persist_tracked(
        t.embeddings.filter(F.col("vec_id") < DEDUP_LSH_MAX_ID).select(
            "vec_id", _as_double("embedding").alias("v")
        )
    )
    buckets = _sig_kernel(_dedup_hyperplanes(EMB_DIM), DEDUP_LSH_BITS)
    idx = e.select(
        "vec_id", buckets("v").alias("bks")
    ).select("vec_id", F.posexplode("bks").alias("tbl", "bucket"))

    a = idx.select(F.col("vec_id").alias("earlier_id"), "tbl", "bucket")
    b = idx.select(F.col("vec_id").alias("dup_id"), "tbl", "bucket")
    candidates = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("earlier_id") < F.col("dup_id"))
        .select("earlier_id", "dup_id")
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("earlier_id"), F.col("v").alias("v_a"))
    vb = e.select(F.col("vec_id").alias("dup_id"), F.col("v").alias("v_b"))
    return (
        candidates.join(va, "earlier_id")
        .join(vb, "dup_id")
        .withColumn("cos", _arrow_cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= NEAR_DUP_TAU)
        .groupBy("dup_id")
        .agg(
            F.min("earlier_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_near"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
        .orderBy("dup_id")
    )


#: LSH layout: L independent tables of B sign-bits each + 1-bit
#: multiprobe.  Candidate fraction ≈ L·(B+1)/2^B of the corpus; recall
#: rises with L.  Synthetic random embeddings are ANN's worst case (no
#: cluster structure) — real corpora see far higher recall at the same
#: cost.
N_TABLES = 8
N_BITS = 10


def _hyperplanes(dim: int) -> list[list[list[float]]]:
    """Deterministic Rademacher (±1) hyperplanes, shape (L, B, dim):
    component sign = parity of the md5-derived 60-bit hash of
    "t:b:d" — the same digest DuckDB computes, so the oracle can
    reproduce every signature without shipping 5120 float literals.
    Sign-random-projection with ±1 components is a standard cosine-LSH
    family (the projection direction is still uniform over the
    hypercube diagonals)."""
    import hashlib

    def sign(t: int, b: int, d: int) -> float:
        h = int(hashlib.md5(f"{t}:{b}:{d}".encode()).hexdigest()[:15], 16)
        return 1.0 if h % 2 == 1 else -1.0

    return [
        [[sign(t, b, d) for d in range(dim)] for b in range(N_BITS)]
        for t in range(N_TABLES)
    ]


def _lsh_ann_oracle() -> str:
    """DuckDB replica of sim_lsh_ann: identical Rademacher signatures
    (md5 parity), identical probe set (exact bucket + every 1-bit
    flip), exact cosine re-rank, ties to the lower neighbor_id."""
    bit_weight = f"(1 << ({N_BITS} - 1 - p.b))"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes AS (
      SELECT t.t, b.b, d.d,
             CASE WHEN ('0x' || substr(md5(t.t::VARCHAR || ':' ||
                        b.b::VARCHAR || ':' || d.d::VARCHAR), 1, 15))::BIGINT
                       % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS s
      FROM range(0, {N_TABLES}) t(t)
      CROSS JOIN range(0, {N_BITS}) b(b)
      CROSS JOIN range(0, {EMB_DIM}) d(d)
    ),
    sigs AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN dot >= 0 THEN {bit_weight.replace('p.b', 'b')}
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM (
        SELECT e.vec_id, p.t, p.b, sum(p.s * e.v[p.d + 1]) AS dot
        FROM e CROSS JOIN planes p
        GROUP BY 1, 2, 3) c
      GROUP BY vec_id, t
    ),
    probes AS (
      SELECT s.vec_id AS query_id, s.t,
             CASE WHEN f.j < 0 THEN s.bucket
                  ELSE xor(s.bucket, 1 << f.j) END AS bucket
      FROM sigs s CROSS JOIN range(-1, {N_BITS}) f(j)
      WHERE s.vec_id < {N_QUERIES}
    ),
    cands AS (
      SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
      FROM probes p JOIN sigs s ON p.t = s.t AND p.bucket = s.bucket
      WHERE s.vec_id != p.query_id
    ),
    ranked AS (
      SELECT c.query_id, c.neighbor_id,
             list_cosine_similarity(q.v, n.v) AS cosine,
             row_number() OVER (
               PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.v, n.v) DESC, c.neighbor_id
             ) AS rank
      FROM cands c
      JOIN e q ON q.vec_id = c.query_id
      JOIN e n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@register("sim_lsh_ann", oracle=_lsh_ann_oracle(),
          tags=("similarity", "pipeline", "ann", "lsh"))
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: per table, a B-bit sign signature;
    candidates = vectors sharing any table's (possibly 1-bit-flipped)
    bucket with the query; exact cosine re-rank inside candidates.

    At 100 TB signatures are computed in the scan projection by one
    Arrow-vectorized kernel (see _sig_kernel — bit-exact to the JVM
    fold it replaced, 9× faster) and candidate generation is an
    equi-join on (table, bucket) — no all-pairs pass.  The hyperplanes
    are md5-parity Rademacher vectors (same digests on both engines),
    so the WHOLE pipeline — signatures, multiprobe buckets, candidate
    set, re-rank — is value-checked against a SQL replica (the r6
    'upgrade rows-only entries' task) instead of the former rows-only
    count; recall vs sim_cosine_topk stays property-tested."""
    t = Tables(spark, sf_dir)
    buckets = _sig_kernel(_hyperplanes(EMB_DIM), N_BITS)

    base = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    sigs = base.select("vec_id", "v", buckets("v").alias("bks"))
    # Id-only (vec_id, table, bucket) index: the candidate join and the
    # candidate distinct move 24-byte key rows, not embedding payloads
    # (guide §8 — decide with small rows, attach the heavy bytes once).
    # The previous form replicated each vector N_TABLES× through the
    # bucket join and hashed full double[] arrays in the distinct.
    e = sigs.select("vec_id", F.posexplode("bks").alias("tbl", "bucket"))

    # Probes: per table, exact bucket + all 1-bit flips (ids only).
    probes = (
        sigs.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode("bks").alias("tbl", "qb"),
        )
        .select(
            "query_id",
            "tbl",
            F.explode(
                F.array(
                    F.col("qb"),
                    *[F.col("qb").bitwiseXOR(F.lit(1 << j)) for j in range(N_BITS)],
                )
            ).alias("bucket"),
        )
    )
    cand = (
        e.join(F.broadcast(probes), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    # Vectors attached AFTER the id-level dedup: one narrow fetch per
    # side (broadcastable query side; equi-join on vec_id at scale).
    qv = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    nv = base.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _arrow_cosine(F.col("qv"), F.col("nv")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


#: IVF layout: C coarse cells, queries probe the P nearest centroids.
N_CELLS = 16
N_PROBE = 4


def _ivf_ann_oracle() -> str:
    """DuckDB replica of sim_ivf_ann: same deterministic one-step
    Lloyd quantizer (init = C lowest vec_ids, argmin ties to the lower
    cell id), same P-probe selection, same exact cosine re-rank."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    i0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {N_CELLS}),
    a0 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, i.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, i.cv), i.cid) AS rn
        FROM e CROSS JOIN i0 i) s
      WHERE rn = 1),
    m0 AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT cid, pos, avg(x) AS m FROM (
          SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
          FROM a0) u
        GROUP BY cid, pos) g
      GROUP BY cid),
    cells AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        FROM e CROSS JOIN m0 c) s
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_distance(q.qv, c.cv), c.cid) AS rn
        FROM q CROSS JOIN m0 c) s
      WHERE rn <= {N_PROBE}),
    ranked AS (
      SELECT p.query_id, cells.vec_id AS neighbor_id,
             list_cosine_similarity(p.qv, cells.v) AS cosine,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(p.qv, cells.v) DESC,
                        cells.vec_id) AS rank
      FROM cells JOIN probes p ON cells.cid = p.cid
      WHERE cells.vec_id != p.query_id)
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@register("sim_ivf_ann", oracle=_ivf_ann_oracle(),
          tags=("similarity", "pipeline", "ann", "ivf"))
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse k-means quantizer partitions
    vectors into C cells; each query probes its P nearest centroids and
    exact-reranks only those cells' vectors (~P/C of the corpus).

    The quantizer is one deterministic Lloyd step from a fixed seed
    (init = the C lowest vec_ids): the C centroids (bounded by
    N_CELLS — the Lloyd-pull pattern, as in ml_kmeans_lloyd) are
    collected and baked into one Arrow argmin kernel
    (_pq_code_kernel), so both assignment passes are scan→project
    with NO join and NO shuffle — bit-exact to the broadcast-join
    argmin they replace (cumsum⇔fold identity + first-minimum ==
    lower-cid tie-break, see the kernel docstring); the update
    re-averages per component via posexplode → groupBy(cell, pos).
    At 100 TB the cell index is a partitioned table keyed by cell_id,
    so a probe reads P/C of the data — the classic FAISS layout, with
    the trained quantizer shipped to executors exactly as FAISS ships
    it to query nodes.
    Deterministic end-to-end (argmin/probe/rank ties all break on
    ids), so it is value-checked against a SQL replica of the full
    quantize→probe→re-rank pipeline (the r6 'upgrade rows-only
    entries' task); recall vs sim_cosine_topk stays
    property-tested."""
    t = Tables(spark, sf_dir)
    # Three consumers (init collect, centroid-update collect, final
    # assignment) = three corpus scans without a persist; one
    # materialization serves all (run_cache contract — released on
    # the next tracked operator's entry).
    release_prior()
    base = persist_tracked(
        t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    )

    def _nearest(cent_mat):
        """Assign each vector its argmin-distance centroid with ONE
        Arrow kernel pass over the raw vectors — the quantizer matrix
        (C·EMB_DIM doubles, bounded by N_CELLS: the Lloyd-pull
        pattern) lives in the kernel closure, so assignment is
        scan→project with no join and no shuffle.  _pq_code_kernel
        with a single subspace spanning the full vector; argmin's
        first-minimum rule IS the lower-cid tie-break."""
        cid = F.get(_pq_code_kernel(cent_mat)("v"), 0).alias("cid")
        return base.select("vec_id", "v", cid)

    # --- one Lloyd step from deterministic init ---------------------
    init_rows = sorted(
        base.filter(F.col("vec_id") < N_CELLS).collect(),
        key=lambda r: r["vec_id"],
    )
    init_mat = np.array(
        [r["v"] for r in init_rows], dtype=np.float64
    ).reshape(1, N_CELLS, EMB_DIM)
    assign0 = _nearest(init_mat)
    centroids = (
        assign0.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.transform("pm", lambda s: s["m"]).alias("cv"))
    )
    cent_rows = centroids.collect()
    # Complete by construction: init vector c assigns to cell c at
    # distance 0, so every cell has ≥1 member.
    assert len(cent_rows) == N_CELLS, f"incomplete centroids: {len(cent_rows)}"
    cent_mat = np.zeros((1, N_CELLS, EMB_DIM), dtype=np.float64)
    for r in cent_rows:
        cent_mat[0, r["cid"]] = r["cv"]
    # --- final assignment + inverted lists --------------------------
    cells = _nearest(cent_mat)
    # --- query probes: P nearest centroids per query (top-P needs a
    # rank, but only over N_QUERIES·C broadcast-joined rows) ---------
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("dist", _arrow_l2sq(F.col("qv"), F.col("cv")))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("query_id").orderBy("dist", "cid")),
        )
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "qv", "cid")
    )
    # --- exact rerank inside probed cells ---------------------------
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _arrow_cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "sim_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
             AS l2_norm,
           round(list_aggregate(embedding::DOUBLE[], 'sum'), 6) AS comp_sum,
           CAST(len(embedding) AS INTEGER) AS dim,
           label
    FROM embeddings
    WHERE vec_id < 200
    ORDER BY vec_id
    """,
    tags=("similarity", "pipeline"),
)
def sim_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector norms/sums/dims — the sanity projection for embedding
    columns (array<float> treated as first-class typed data)."""
    t = Tables(spark, sf_dir)
    v = _as_double(F.col("embedding"))
    return (
        t.embeddings.filter(F.col("vec_id") < 200)
        .select(
            "vec_id",
            F.round(F.sqrt(_dot(v, v)), 6).alias("l2_norm"),
            F.round(
                F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 6
            ).alias("comp_sum"),
            F.size("embedding").alias("dim"),
            "label",
        )
        .orderBy("vec_id")
    )


@register(
    "sim_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500
    ), s AS (
      SELECT vec_id, v, list_min(v) AS vmin,
             (list_max(v) - list_min(v)) / 255.0 AS scale
      FROM e
    ), r AS (
      SELECT vec_id, vmin, scale,
             CASE WHEN scale = 0 THEN v
                  ELSE list_transform(
                    v, x -> vmin + floor((x - vmin) / scale + 0.5) * scale)
             END AS recon,
             v
      FROM s
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           round(list_sum(list_transform(range(1, len(v) + 1),
                 i -> (v[i] - recon[i]) * (v[i] - recon[i]))) / len(v), 8)
             AS mse,
           round(list_max(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - recon[i]))), 6)
             AS max_abs_err
    FROM r
    ORDER BY vec_id
    """,
    tags=("similarity", "pipeline", "quantization"),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the
    compression step that makes billion-vector ANN indexes fit in
    memory (4x smaller than float32, 8x than float64): per vector,
    min/max affine scale to 256 levels, with reconstruction-error
    diagnostics (MSE, max abs error) that a pipeline monitors to
    decide quantization level.

    Everything is JVM higher-order functions over the array column —
    no Python, no shuffle; the quantized codes would be written in the
    scan projection at corpus scale.  floor(x + 0.5) is used instead of
    round() in BOTH engines so half-way semantics cannot drift."""
    t = Tables(spark, sf_dir)
    e = t.embeddings.filter(F.col("vec_id") < 500).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    s = e.select(
        "vec_id",
        "v",
        F.array_min("v").alias("vmin"),
        ((F.array_max("v") - F.array_min("v")) / 255.0).alias("scale"),
    )
    # scale == 0 (constant vector) would make (x - vmin)/scale a 0/0 NaN;
    # the quantization is lossless there, so recon = v exactly (mirrored
    # in the oracle's CASE).
    recon = F.when(F.col("scale") == 0, F.col("v")).otherwise(
        F.transform(
            "v",
            lambda x: F.col("vmin")
            + F.floor((x - F.col("vmin")) / F.col("scale") + 0.5)
            * F.col("scale"),
        )
    )
    r = s.withColumn("recon", recon)
    sq = F.zip_with("v", "recon", lambda a, b: (a - b) * (a - b))
    ae = F.zip_with("v", "recon", lambda a, b: F.abs(a - b))
    return r.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(
            F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) / F.size("v"), 8
        ).alias("mse"),
        F.round(F.array_max(ae), 6).alias("max_abs_err"),
    ).orderBy("vec_id")


@register(
    "sim_label_centroid_drift",
    oracle="""
    WITH e AS (
      SELECT label,
             unnest(range(0, len(embedding))) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), per AS (
      SELECT label, idx, round(avg(v), 6) AS m FROM e GROUP BY label, idx
    ), g AS (
      SELECT idx, round(avg(v), 6) AS gm FROM e GROUP BY idx
    ), n AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
      FROM embeddings GROUP BY label
    )
    SELECT p.label, n.n_vecs,
           round(sum(p.m * g.gm)
                 / (sqrt(sum(p.m * p.m)) * sqrt(sum(g.gm * g.gm))), 6)
             AS centroid_cosine
    FROM per p JOIN g USING (idx) JOIN n ON n.label = p.label
    GROUP BY p.label, n.n_vecs
    ORDER BY p.label
    """,
    tags=("similarity", "pipeline", "diagnostics"),
)
def sim_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster embedding drift diagnostics: each label's centroid
    vs the global corpus centroid (cosine) — the monitoring query that
    catches a source/cluster whose embedding distribution shifted after
    a model or crawl update.

    Scale shape: posexplode fans each vector into (label, idx, v) rows
    — dim×N, but the per-(label, idx) mean is one map-side-combinable
    groupBy and everything downstream is centroid-sized (labels × dim).
    Means are rounded to 6 dp BEFORE the cosine on both engines, so the
    float reduction order inside avg() can never leak into the hash.

    ONE corpus scan: the per-label means, the global mean, and the
    per-label vector counts all come out of a single GROUPING SETS
    ((label, idx), (idx)) aggregate (§2.4 machinery) — the naive
    three-groupBy composition re-scanned and re-exploded the corpus
    once per branch.  The per-(label, idx) row count IS the label's
    vector count (every vector emits one row per component), read off
    at idx = 0.  The aggregate itself ((labels+1)×dim rows) is
    persisted for the run: Catalyst pushes each branch's grouping-id
    filter into the Expand, so WITHOUT the persist the three branches
    compile to three different (un-reusable) aggregates and the
    corpus is scanned three times anyway — the cache pins the
    single-scan contract (run_cache: released on the next tracked
    operator's entry)."""
    t = Tables(spark, sf_dir)
    release_prior()
    # posexplode_OUTER: a degenerate row (empty/null embedding) still
    # emits one (label, null, null) row, so the per-label vector count
    # below matches the oracle's plain count(*) over embeddings even if
    # such a row ever appears (r8 ADVICE — plain posexplode silently
    # dropped them from n_vecs).  Null-idx rows carry no v and never
    # join per/g (null != anything), so the cosine is unaffected.
    e = t.embeddings.select(
        "label", F.posexplode_outer(_as_double("embedding")).alias("idx", "v")
    )
    ga = persist_tracked(
        e.groupingSets(
            [[F.col("label"), F.col("idx")], [F.col("idx")]],
            F.col("label"), F.col("idx"),
        )
        .agg(
            F.round(F.avg("v"), 6).alias("m"),
            F.count(F.lit(1)).alias("cnt"),
            F.grouping_id().alias("gid"),
        )
    )
    per = ga.filter(F.col("gid") == 0).select("label", "idx", "m")
    g = ga.filter(F.col("gid") == 2).select("idx", F.col("m").alias("gm"))
    # Every vector emits exactly one row with idx = 0 (non-degenerate)
    # or idx IS NULL (degenerate, via posexplode_outer), so counting
    # that slice per label IS the label's total vector count.
    n = (
        ga.filter(
            (F.col("gid") == 0)
            & ((F.col("idx") == 0) | F.col("idx").isNull())
        )
        .groupBy("label")
        .agg(F.sum("cnt").alias("n_vecs"))
    )
    return (
        per.join(g, "idx")
        .groupBy("label")
        .agg(
            F.round(
                F.sum(F.col("m") * F.col("gm"))
                / (
                    F.sqrt(F.sum(F.col("m") * F.col("m")))
                    * F.sqrt(F.sum(F.col("gm") * F.col("gm")))
                ),
                6,
            ).alias("centroid_cosine")
        )
        .join(n, "label")
        .select("label", "n_vecs", "centroid_cosine")
        .orderBy("label")
    )


# --- Product-quantization ANN -------------------------------------------

#: PQ layout: the 64-dim vector splits into M subspaces of SUBDIM dims;
#: each subspace gets a K-entry codebook, so a vector compresses to
#: M log2(K)-bit codes (64 floats → 8 nibbles here).  Queries score
#: candidates with an ADC (asymmetric distance computation) lookup
#: table — M·K precomputed subdistances per query — and exact-rerank
#: only the best RERANK candidates.
PQ_M = 8
PQ_SUBDIM = 8
PQ_K = 16
PQ_RERANK = 100


def _pq_code_kernel(cb_matrix: np.ndarray):
    """PQ encoder: one Arrow kernel pass mapping a full vector
    (array<double>, M·SUBDIM) to its M codebook codes (array<int>).
    The quantizer matrix (M, K, SUBDIM) lives in the closure — the
    bounded Lloyd-pull pattern — so encoding is scan→project with no
    join and no shuffle.  BIT-EXACT to the broadcast-join argmin it
    replaces: per-entry distances accumulate sequentially along the
    subdimension axis (the sequential-fold identity, see _arrow_l2sq)
    and np.argmin's first-minimum rule IS the lower-code tie-break,
    because codebook entries are indexed by code 0..K-1."""
    mat = np.ascontiguousarray(cb_matrix, dtype=np.float64)
    n_sub, _, subdim = mat.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def codes_of(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        x = _stack(v).reshape(-1, n_sub, subdim)
        n = len(x)
        # Explicit per-subdimension accumulator — the same sequential
        # IEEE fold as the 4-D cumsum it replaces (see _sig_kernel);
        # peak extra memory is the (rows, M, K) dist block instead of
        # (rows, M, K, SUBDIM) product + cumsum copies.
        dist = np.zeros((n, n_sub, mat.shape[1]), dtype=np.float64)
        for s in range(subdim):
            dist += (x[:, :, None, s] - mat[None, :, :, s]) ** 2
        return pd.Series(list(np.argmin(dist, axis=2).astype(np.int32)))

    return codes_of


def _pq_ann_oracle() -> str:
    """DuckDB replica of sim_pq_ann: per-subspace one-step Lloyd
    codebooks, encode, ADC lookup, top-RERANK cut, exact cosine
    rerank.  Distances are SQUARED on both engines (matching Spark's
    _l2sq fold; sqrt could collapse adjacent doubles and flip a
    tie-break), and every ordering carries an id tiebreak."""
    l2sq = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )

    def d2(a, b, d=PQ_SUBDIM):
        return l2sq.format(a=a, b=b, d=d)

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (
      SELECT vec_id, m.m,
             v[m.m * {PQ_SUBDIM} + 1 : m.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
      FROM e CROSS JOIN range(0, {PQ_M}) m(m)
    ),
    init AS (SELECT m, CAST(vec_id AS INTEGER) AS code, sv AS cv
             FROM sub WHERE vec_id < {PQ_K}),
    a0 AS (
      SELECT vec_id, m, sv, code FROM (
        SELECT s.vec_id, s.m, s.sv, i.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {d2('s.sv', 'i.cv')}, i.code) AS rn
        FROM sub s JOIN init i ON s.m = i.m) t
      WHERE rn = 1),
    cb AS (
      SELECT m, code, list(c ORDER BY pos) AS cv FROM (
        SELECT m, code, pos, avg(x) AS c FROM (
          SELECT m, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
          FROM a0) u
        GROUP BY m, code, pos) g
      GROUP BY m, code),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {d2('s.sv', 'c.cv')}, c.code) AS rn
        FROM sub s JOIN cb c ON s.m = c.m) t
      WHERE rn = 1),
    lut AS (
      SELECT q.vec_id AS query_id, q.m, c.code,
             {d2('q.sv', 'c.cv')} AS subdist
      FROM sub q JOIN cb c ON q.m = c.m
      WHERE q.vec_id < {N_QUERIES}),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT l.query_id, c.vec_id, sum(l.subdist) AS adc_dist,
               row_number() OVER (PARTITION BY l.query_id
                 ORDER BY sum(l.subdist), c.vec_id) AS rn
        FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
        WHERE l.query_id != c.vec_id
        GROUP BY l.query_id, c.vec_id) t
      WHERE rn <= {PQ_RERANK}),
    ranked AS (
      SELECT cand.query_id, cand.vec_id AS neighbor_id,
             list_cosine_similarity(q.v, n.v) AS cosine,
             row_number() OVER (
               PARTITION BY cand.query_id
               ORDER BY list_cosine_similarity(q.v, n.v) DESC,
                        cand.vec_id) AS rank
      FROM cand
      JOIN e q ON q.vec_id = cand.query_id
      JOIN e n ON n.vec_id = cand.vec_id)
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@register("sim_pq_ann", oracle=_pq_ann_oracle(),
          tags=("similarity", "pipeline", "ann", "pq"))
def sim_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS IndexPQ layout as DataFrame
    joins): per-subspace codebooks from one deterministic Lloyd step,
    vectors encoded to M codes, queries scored via an ADC lookup table,
    exact cosine rerank of the top-RERANK.

    Scale design: the encoded corpus is M tiny int columns (a 32×
    compression of the vector column) — at 100 TB the ADC scan reads
    ONLY codes, never raw vectors; the per-query LUT is M·K doubles,
    broadcast; raw vectors re-attach for the RERANK rows alone via an
    equi-join on vec_id.  Both encode passes run as ONE Arrow argmin
    kernel over the raw vectors (_pq_code_kernel) with the bounded
    M·K-entry quantizer collected into the closure — the Lloyd-pull
    pattern — so encoding needs no join and no per-(vec, subspace)
    shuffle, bit-exact to the broadcast-join+argmin form it replaces
    (was 46 of PQ's 54 s at the 32× smoke corpus); the codebook
    update stays a map-side-combinable (subspace, code, pos)
    re-average.  Approximate → recall-tested against sim_cosine_topk
    in tests."""
    t = Tables(spark, sf_dir)
    # The raw-vector projection feeds five consumers (init collect,
    # codebook training, final encode, the query set, and the rerank
    # re-attach) and two of them EXECUTE eagerly (the collects) —
    # without a persist that is five full corpus scans (+decodes).
    # One materialization serves all of them; released on the next
    # tracked operator's entry (run_cache contract).
    release_prior()
    base = persist_tracked(
        t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    )

    # Every vector → M subvectors (m, sv).
    sub = base.select(
        "vec_id",
        F.inline(
            F.array(*[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                )
                for m in range(PQ_M)
            ])
        ),
    )

    # --- codebooks: one Lloyd step from deterministic init ----------
    # The quantizer (M·K·SUBDIM doubles — bounded by spec constants,
    # 128 entries here) is pulled to the driver and baked into one
    # Arrow kernel, exactly like ml_kmeans_lloyd's centroid pulls:
    # encoding then needs NO join, NO per-(vec,subspace) shuffle —
    # a single kernel pass computes all M argmins per vector.  This
    # replaced a 16×-fan-out broadcast join + min_by groupBy that was
    # 46 of PQ's 54 seconds at the 32× smoke corpus.
    init_rows = sorted(
        base.filter(F.col("vec_id") < PQ_K).collect(),
        key=lambda r: r["vec_id"],
    )
    init_mat = np.array(
        [r["v"] for r in init_rows], dtype=np.float64
    ).reshape(PQ_K, PQ_M, PQ_SUBDIM).transpose(1, 0, 2)  # (M, K, SUBDIM)

    assign0 = base.withColumn("codes", _pq_code_kernel(init_mat)("v"))
    codebook = (
        assign0.select("codes", F.posexplode("v").alias("pos", "x"))
        .select(
            (F.col("pos") / PQ_SUBDIM).cast("int").alias("m"),
            F.get("codes", (F.col("pos") / PQ_SUBDIM).cast("int")).alias("code"),
            (F.col("pos") % PQ_SUBDIM).alias("pos"),
            "x",
        )
        .groupBy("m", "code", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("m", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("m", "code", F.transform("pc", lambda s: s["c"]).alias("cv"))
    )

    # --- encode: nearest trained codebook entry, again one kernel
    # pass over the raw vectors; (vec_id, m, code) long form feeds the
    # ADC equi-join (posexplode's 0-based position IS the subspace).
    cb_rows = codebook.collect()
    # Every code has ≥1 member (init vector k encodes to code k at
    # distance 0), so the trained book is always complete — a missing
    # entry would silently leave a zero vector in the matrix.
    assert len(cb_rows) == PQ_M * PQ_K, f"incomplete codebook: {len(cb_rows)}"
    cb_mat = np.zeros((PQ_M, PQ_K, PQ_SUBDIM), dtype=np.float64)
    for r in cb_rows:
        cb_mat[r["m"], r["code"]] = r["cv"]
    codes = (
        base.withColumn("codes", _pq_code_kernel(cb_mat)("v"))
        .select("vec_id", F.posexplode("codes").alias("m", "code"))
    )

    # --- per-query ADC lookup table (M·K subdistances, broadcast) ---
    qsub = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qsv")
    )
    lut = (
        qsub.join(F.broadcast(codebook), "m")
        .select(
            "query_id", "m", "code",
            _arrow_l2sq(F.col("qsv"), F.col("cv")).alias("subdist"),
        )
    )

    # --- ADC scan over codes only; keep best RERANK per query -------
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    cand = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("subdist").alias("adc_dist"))
        .withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= PQ_RERANK)
        .select("query_id", "vec_id")
    )

    # --- exact cosine rerank of the candidates ----------------------
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        cand.join(base, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _arrow_cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


# --- Dimension-truncation (matryoshka) diagnostics ------------------------

#: Prefix length for the truncated-embedding ranking comparison.
TRUNC_DIM = 16


@register(
    "sim_truncation_recall",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < {N_QUERIES}
    ), full_rank AS (
        SELECT q.query_id, b.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv, b.v)
                            / (sqrt(list_dot_product(q.qv, q.qv))
                               * sqrt(list_dot_product(b.v, b.v))) DESC,
                            b.vec_id
               ) AS rk
        FROM q JOIN base b ON b.vec_id != q.query_id
    ), trunc_rank AS (
        SELECT q.query_id, b.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv[1:{TRUNC_DIM}], b.v[1:{TRUNC_DIM}])
                            / (sqrt(list_dot_product(q.qv[1:{TRUNC_DIM}],
                                                     q.qv[1:{TRUNC_DIM}]))
                               * sqrt(list_dot_product(b.v[1:{TRUNC_DIM}],
                                                       b.v[1:{TRUNC_DIM}]))) DESC,
                            b.vec_id
               ) AS rk
        FROM q JOIN base b ON b.vec_id != q.query_id
    )
    SELECT f.query_id,
           CAST(count(*) AS INTEGER) AS n_overlap
    FROM full_rank f JOIN trunc_rank t
      ON f.query_id = t.query_id AND f.vec_id = t.vec_id
    WHERE f.rk <= {TOP_K} AND t.rk <= {TOP_K}
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
    tags=("similarity", "pipeline", "diagnostics"),
)
def sim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation diagnostic: how many of
    each query's full-dimension top-k neighbors survive when ranking
    with only the first {TRUNC_DIM} of 64 dimensions — the
    retrieval-quality measurement behind serving truncated embeddings
    (MRL).  Output is the per-query overlap@k count, an exact integer.

    Both rankings reuse the brute-force top-k shape: query set
    broadcasts, per-query rank is a WindowGroupLimit-prunable
    row_number.  The truncated pass reads the SAME vector column and
    slices in-expression — no second embedding table, which is the
    point: at 100 TB you evaluate truncation candidates without
    re-materializing the corpus."""
    t = Tables(spark, sf_dir)
    # Both ranking passes and the query-set broadcast read the same
    # raw-vector projection — persist it so the corpus is scanned and
    # decoded once (run_cache contract).  The two passes stay separate
    # window branches (NOT one shared exchange): each keeps its own
    # partial WindowGroupLimit on its own order key, which prunes
    # below the shuffle — a shared exchange would forfeit that.
    release_prior()
    base = persist_tracked(
        t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    def ranked(vec_expr_q, vec_expr_b):
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), "vec_id"
        )
        return (
            base.join(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                _cosine(vec_expr_q, vec_expr_b).alias("cosine"),
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select("query_id", "vec_id")
        )

    full = ranked(F.col("qv"), F.col("v"))
    trunc = ranked(
        F.slice(F.col("qv"), 1, TRUNC_DIM),
        F.slice(F.col("v"), 1, TRUNC_DIM),
    )
    return (
        full.join(trunc, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("int").alias("n_overlap"))
        .orderBy("query_id")
    )


@register(
    "sim_centroid_classifier",
    oracle="""
    WITH comps AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings
    ), centroids AS (
        SELECT label AS c_label, pos, avg(x) AS c
        FROM comps GROUP BY label, pos
    ), dists AS (
        SELECT comps.vec_id, comps.label, centroids.c_label,
               sum((comps.x - centroids.c) * (comps.x - centroids.c)) AS d2
        FROM comps JOIN centroids ON comps.pos = centroids.pos
        GROUP BY comps.vec_id, comps.label, centroids.c_label
    ), assigned AS (
        SELECT vec_id, label, c_label AS predicted
        FROM dists
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY d2, c_label
        ) = 1
    )
    SELECT label,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN predicted = label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN predicted = label THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS accuracy
    FROM assigned
    GROUP BY label
    ORDER BY label
    """,
    tags=("similarity", "pipeline", "ml-eval"),
)
def sim_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification eval (Rocchio): per-label
    centroids from the labeled embeddings, every vector re-assigned to
    its nearest centroid, per-label accuracy reported — the standard
    embedding-quality probe (random synthetic vectors sit near chance;
    clustered real embeddings score high, and a DROP in this metric is
    the regression alarm in an embedding pipeline).

    Plan: centroid update reuses the IVF posexplode → groupBy(label,
    pos) shape; assignment is a broadcast argmin over the K=10
    centroid rows via min_by on the (distance, label) struct — no
    window, map-side combinable; the confusion rollup is O(K).  The
    oracle replays it with generate_subscripts/unnest (DuckDB lacks
    WITH ORDINALITY)."""
    t = Tables(spark, sf_dir)
    base = t.embeddings.select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    centroids = (
        base.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy(F.col("label").alias("c_label"), F.col("pos"))
        .agg(F.avg("x").alias("c"))
        .groupBy("c_label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("c_label", F.transform("pc", lambda s: s["c"]).alias("cv"))
    )

    def _l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    assigned = (
        base.join(F.broadcast(centroids))
        .select(
            "vec_id",
            "label",
            "c_label",
            _l2sq(F.col("v"), F.col("cv")).alias("d2"),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.min_by(
                F.col("c_label"), F.struct(F.col("d2"), F.col("c_label"))
            ).alias("predicted")
        )
    )
    correct = (F.col("predicted") == F.col("label")).cast("int")
    return (
        assigned.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(correct).cast("bigint").alias("n_correct"),
            F.round(F.sum(correct) / F.count("*"), 6).alias("accuracy"),
        )
        .orderBy("label")
    )


#: SemDeDup knobs: fenced corpus block, seed-centroid count, and the
#: within-cluster duplicate threshold (same corpus-calibrated scale as
#: NEAR_DUP_TAU; see that constant's note).
SEM_N = 2048
SEM_K = 32
SEM_TAU = 0.35


def _seed_assign_kernel(seed_mat: list, n_seeds: int):
    """Arrow-vectorized nearest-seed assignment: embedding → cluster id
    (the argmax-cosine seed).  BIT-EXACT to DuckDB's
    ``row_number() OVER (ORDER BY list_cosine_similarity(v, sv) DESC,
    seed_id) = 1``: each cosine accumulates sequentially along the
    dimension axis (the oracle's fold order), and np.argmax
    returns the FIRST maximum — the min-seed-id tie-break — because
    the seed matrix is built in ascending seed_id order."""
    mat_s = np.array(seed_mat, dtype=np.float64).reshape(n_seeds, EMB_DIM)
    s_sq = np.zeros(n_seeds, dtype=np.float64)
    for d in range(EMB_DIM):
        s_sq += mat_s[:, d] * mat_s[:, d]
    s_norm = np.sqrt(s_sq)

    @F.pandas_udf(IntegerType())
    def assign(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series(np.empty(0, dtype=np.int32))
        mat = _stack(col)
        n = len(mat)
        # Explicit per-dimension accumulators — the same sequential
        # IEEE fold as the cumsum form they replace, without the
        # (rows, seeds, dim) product/cumsum intermediates (see
        # _sig_kernel for the measured allocator-stall motivation).
        dots = np.zeros((n, mat_s.shape[0]), dtype=np.float64)
        v_sq = np.zeros(n, dtype=np.float64)
        for d in range(EMB_DIM):
            dots += mat[:, d, None] * mat_s[None, :, d]
            v_sq += mat[:, d] * mat[:, d]
        cos = dots / (np.sqrt(v_sq)[:, None] * s_norm[None, :])
        return pd.Series(np.argmax(cos, axis=1).astype(np.int32))

    return assign


@register(
    "sim_semantic_dedup",
    bench=True,
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < {SEM_N}),
    seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e
              WHERE vec_id < {SEM_K}),
    assign AS (
      SELECT vec_id, v, seed_id,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_cosine_similarity(v, sv) DESC, seed_id) AS rn
      FROM e CROSS JOIN seeds
    ),
    cl AS (SELECT vec_id, v, CAST(seed_id AS INTEGER) AS cluster_id
           FROM assign WHERE rn = 1),
    p AS (
      SELECT b.vec_id AS dup_id, b.cluster_id,
             a.vec_id AS earlier_id,
             list_cosine_similarity(a.v, b.v) AS cos
      FROM cl a JOIN cl b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {SEM_TAU}
    )
    SELECT dup_id, cluster_id,
           min(earlier_id) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_near,
           round(max(cos), 6) AS max_cos
    FROM p GROUP BY dup_id, cluster_id ORDER BY dup_id
    """,
    tags=("similarity", "pipeline", "dedup"),
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then mark near-duplicates ONLY within each
    cluster — the trick that turns O(n²) semantic dedup into
    O(K · (n/K)²) with n/K held constant by scaling K with the corpus.
    Clusters come from a fixed seed codebook (lowest SEM_K vec_ids —
    deterministic, shared with the oracle); membership is the argmax
    cosine seed; within a cluster the keep-first rule drops the higher
    vec_id of any pair with cosine ≥ SEM_TAU (the paper keeps one
    representative per ε-ball; min-id is the deterministic stand-in).

    Plan: assignment is ONE scan with the seed matrix closed over an
    Arrow kernel (bounded SEM_K·EMB_DIM broadcast, the PQ-codebook
    pattern — no join, no shuffle); the pair stage is ONE exchange on
    cluster_id into a cluster-local Arrow kernel (applyInPandas) that
    mines + aggregates the within-cluster pairs in NumPy.  Each vector
    crosses the Python boundary once — the previous equi-join shipped
    BOTH full vectors of every candidate pair through ArrowEvalPython,
    O(pairs·dim) bytes vs this shape's O(n·dim) (optimization guide
    §4.2/§8: move the payload once, decide vectorized).  Cosines fold
    via the same sequential per-dimension fold as _arrow_cosine, so every value
    is bit-identical to the pair-join form (regression-pinned by
    tests/test_similarity_multimodal.py).  Per-cluster work is bounded
    by the K-schedule (K ∝ n keeps clusters at ~10⁴ vectors) and the
    kernel chunks its pairwise block to a fixed-size intermediate, so
    task memory stays flat at 100 TB.  Beyond-reference (LLM-pipeline
    mandate); cluster-scoped twin of dedup_embedding_cosine."""
    t = Tables(spark, sf_dir)
    e = t.embeddings.filter(F.col("vec_id") < SEM_N).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    seed_rows = (
        e.filter(F.col("vec_id") < SEM_K).orderBy("vec_id").collect()
    )
    kernel = _seed_assign_kernel(
        [x for r in seed_rows for x in r["v"]], len(seed_rows)
    )
    cl = e.select("vec_id", "v", kernel("v").alias("cluster_id"))

    def cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "dup_id": pd.Series(dtype="int64"),
                "cluster_id": pd.Series(dtype="int32"),
                "keeper_id": pd.Series(dtype="int64"),
                "n_near": pd.Series(dtype="int64"),
                "max_cos": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = _stack(pdf["v"])
        n, dim = mat.shape
        # ‖v‖ via the same sequential fold as _arrow_cosine; computed
        # once per vector (identical IEEE ops → identical doubles).
        sq = np.zeros(n, dtype=np.float64)
        for d in range(dim):
            sq += mat[:, d] * mat[:, d]
        norms = np.sqrt(sq)
        cnt = np.zeros(n, dtype=np.int64)
        keeper = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        maxcos = np.full(n, -np.inf, dtype=np.float64)
        # Pairwise dots via an explicit per-dimension accumulator — the
        # same left-to-right IEEE fold as the cumsum it replaces (see
        # _sig_kernel for the allocator-stall motivation; the (chunk,
        # n, dim) product + cumsum intermediates are gone, peak extra
        # memory is the (chunk, n) dots block).
        chunk = max(1, (16 << 20) // (n * dim * 8))
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            dots = np.zeros((hi - lo, n), dtype=np.float64)
            for d in range(dim):
                dots += mat[lo:hi, d, None] * mat[None, :, d]
            cos = dots / (norms[lo:hi, None] * norms[None, :])
            # Row index i = earlier side, column j = dup side; sorted
            # by vec_id, so index order IS id order.
            mask = (cos >= SEM_TAU) & (
                np.arange(lo, hi)[:, None] < np.arange(n)[None, :]
            )
            cnt += mask.sum(axis=0)
            maxcos = np.maximum(
                maxcos, np.where(mask, cos, -np.inf).max(axis=0)
            )
            keeper = np.minimum(
                keeper,
                np.where(
                    mask, ids[lo:hi, None], np.iinfo(np.int64).max
                ).min(axis=0),
            )
        sel = cnt > 0
        if not sel.any():
            return empty
        return pd.DataFrame(
            {
                "dup_id": ids[sel],
                "cluster_id": np.full(
                    int(sel.sum()),
                    np.int32(pdf["cluster_id"].iloc[0]),
                    dtype=np.int32,
                ),
                "keeper_id": keeper[sel],
                "n_near": cnt[sel],
                "max_cos": maxcos[sel],
            }
        )

    mined = cl.groupBy("cluster_id").applyInPandas(
        cluster_dups,
        schema=(
            "dup_id bigint, cluster_id int, keeper_id bigint, "
            "n_near bigint, max_cos double"
        ),
    )
    return (
        mined.select(
            "dup_id",
            "cluster_id",
            "keeper_id",
            "n_near",
            F.round("max_cos", 6).alias("max_cos"),
        )
        .orderBy("dup_id")
    )


#: Radius (range) search threshold: every corpus vector with cosine ≥
#: SIM_RADIUS to a query is a hit (66 hits over the 5 queries at
#: sf0.1 — non-degenerate, not all-pairs).
SIM_RADIUS = 0.3


@register(
    "sim_range_search",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id < {N_QUERIES})
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qv, e.v), 6) AS cosine
    FROM q CROSS JOIN e
    WHERE q.query_id <> e.vec_id
      AND list_cosine_similarity(q.qv, e.v) >= {SIM_RADIUS}
    ORDER BY query_id, neighbor_id
    """,
    tags=("similarity", "ann"),
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: all corpus vectors within a cosine
    radius of each query — the OTHER standard vector-index query shape
    (top-k's dual; Milvus/FAISS range_search).  Unlike top-k there is
    no rank window at all: broadcast the bounded query set, one scan,
    a scalar threshold filter — fully map-side, zero shuffle until the
    final order.  At 100 TB this is the cheapest similarity query in
    the module; the same LSH/IVF bucketing as sim_lsh_ann prunes the
    scan when the radius is tight."""
    t = Tables(spark, sf_dir)
    e = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return (
        e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .withColumn("cosine", _arrow_cosine(F.col("qv"), F.col("v")))
        .filter(F.col("cosine") >= SIM_RADIUS)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("query_id", "neighbor_id")
    )
