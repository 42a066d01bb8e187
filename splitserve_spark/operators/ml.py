"""ML workload parity: K-means and Pi (SURVEY.md §2.13/§6).

Reference: MLlib KMeans (`mllib/.../clustering/KMeans.scala:43`,
k-means‖ init at `run:208`) → pyspark.ml.clustering.KMeans; SparkPi
(`examples/src/main/python/pi.py`) → a deterministic quasi-Monte-Carlo
over spark.range.

Two K-means forms: the pyspark.ml estimator (the production path) and a
pure-DataFrame Lloyd iteration (deterministic, verified against a numpy
reference in tests — it demonstrates the iterative-aggregation shape
shared with PageRank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.functions.parity_hash import md5_hash60, md5_hash60_sql
from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables

K = 8
LLOYD_ITER = 3
#: Band for the ml_kmeans estimator-vs-Lloyd-twin invariant:
#: trainingCost ≤ LLOYD_BAND × twin inertia.  Purely empirical
#: (k-means|| vs fixed-init Lloyd has no bounded relation) — measured
#: margins: sf0.001 cost/inertia ≈ 1.005, sf0.01/0.1 well under 1.0.
#: If a Spark upgrade or new SF flips the boolean, RE-MEASURE both
#: numbers and widen here with the new margin noted, don't delete the
#: invariant.
LLOYD_BAND = 1.02


def _lloyd_centroids(spark, sf_dir) -> list[list[float]]:
    """Deterministic init: the K lowest-vec_id embeddings."""
    t = Tables(spark, sf_dir)
    rows = (
        t.embeddings.filter(F.col("vec_id") < K)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    return [r.v for r in rows]


#: sf_dir → final post-loop centroids.  The Lloyd driver loop is a
#: deterministic function of the on-disk embeddings alone (fixed init,
#: fixed iteration count, order-independent per-dimension means), so
#: its output memoizes per sf_dir across sessions — ml_kmeans reuses
#: the twin's centroids without re-running the LLOYD_ITER collect
#: rounds (r8 ADVICE: it previously re-trained the whole twin inside
#: its own invocation, doubling cost every run).
_LLOYD_FINAL_MEMO: dict[str, list[list[float]]] = {}


def _lloyd_final_centroids(spark, sf_dir) -> list[list[float]]:
    """The centroids after LLOYD_ITER rounds (memoized per sf_dir)."""
    cached = _LLOYD_FINAL_MEMO.get(sf_dir)
    if cached is not None:
        return cached
    t = Tables(spark, sf_dir)
    data = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = _lloyd_centroids(spark, sf_dir)
    for _ in range(LLOYD_ITER):
        d2 = F.array(*[_dist2(F.col("v"), c) for c in centroids])
        assigned = data.withColumn(
            "cluster", F.array_position(d2, F.array_min(d2)) - 1
        )
        # Per-dimension mean via posexplode: shuffle K·dim cells only.
        sums = (
            assigned.select(
                "cluster", F.posexplode("v").alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", (F.col("s") / F.col("n")).alias("m")))
                ).alias("dims")
            )
            .select("cluster", F.col("dims.m").alias("centroid"))
        )
        new_centroids = {r.cluster: r.centroid for r in sums.collect()}
        centroids = [
            new_centroids.get(i, centroids[i]) for i in range(K)
        ]
    _LLOYD_FINAL_MEMO[sf_dir] = centroids
    return centroids


def _dist2(v, c: list[float]):
    """Squared L2 distance between an array column and a fixed centroid
    (JVM higher-order fold — sequential, so bit-stable per row)."""
    carr = F.array(*[F.lit(float(x)) for x in c])
    return F.aggregate(
        F.zip_with(v, carr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lloyd_oracle(iters: int) -> str:
    """DuckDB oracle for ml_kmeans_lloyd: the same fixed-init Lloyd
    iteration unrolled `iters` times as chained CTEs (assign by
    distance with ties to the lower cell id → per-dimension centroid
    means → COALESCE keeps a previous centroid if its cell empties,
    mirroring the Spark driver loop's dict.get fallback)."""
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {K})",
    ]
    for it in range(iters):
        parts.append(f"""a{it} AS (
          SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
            FROM e CROSS JOIN c{it} c) s
          WHERE rn = 1)""")
        parts.append(f"""m{it} AS (
          SELECT cid, list(m ORDER BY pos) AS cv FROM (
            SELECT cid, pos, avg(x) AS m FROM (
              SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
              FROM a{it}) u
            GROUP BY cid, pos) g
          GROUP BY cid)""")
        parts.append(f"""c{it + 1} AS (
          SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
          FROM c{it} p LEFT JOIN m{it} n ON p.cid = n.cid)""")
    return f"""
    WITH {",".join(parts)}
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster, round(dist, 6) AS dist
    FROM (
      SELECT e.vec_id, c.cid, list_distance(e.v, c.cv) AS dist,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
      FROM e CROSS JOIN c{iters} c) s
    WHERE rn = 1
    ORDER BY vec_id
    """


@register(
    "ml_kmeans_lloyd",
    oracle=_lloyd_oracle(LLOYD_ITER),
    tags=("ml", "workload", "iterative"),
)
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-DataFrame Lloyd's algorithm, fixed init (first K vectors),
    LLOYD_ITER iterations.  Per iteration: one broadcast of K centroids
    + one groupBy over assignments — per-dimension sums via posexplode,
    so the shuffle carries K·dim cells, not raw vectors.  Deterministic
    (argmin ties go to the lowest cell id on both engines), so it is
    value-checked against an unrolled-CTE SQL replica of the whole
    iteration (the r6 'upgrade rows-only entries' task) in addition to
    the numpy reference in tests.  The driver loop itself lives in
    _lloyd_final_centroids, memoized per sf_dir (deterministic in the
    input data alone) so ml_kmeans's twin check shares it instead of
    re-training."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    data = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = _lloyd_final_centroids(spark, sf_dir)
    d2 = F.array(*[_dist2(F.col("v"), c) for c in centroids])
    return (
        data.select(
            "vec_id",
            (F.array_position(d2, F.array_min(d2)) - 1).alias("cluster"),
            F.round(F.sqrt(F.array_min(d2)), 6).alias("dist"),
        )
        .orderBy("vec_id")
    )


def _ml_kmeans_oracle() -> str:
    """Value-bearing oracle for the pyspark.ml KMeans run.  Cluster
    labels/centroids of the k-means|| estimator are implementation-
    specific, so the CHECKED values are label-invariant: the exact
    vector count, the deterministic Lloyd-twin inertia (the unrolled
    fixed-init iteration ml_kmeans_lloyd already value-checks; its 6dp
    per-point distances square-and-sum EXACTLY as decimals, so both
    engines produce the identical double), and the invariant that the
    estimator's trainingCost lands within 2% of the naive fixed-init
    3-iter Lloyd baseline or better (the twin's final assignment is a
    post-update half-step, so it can edge out the estimator by a few
    tenths of a percent — measured 468.79 vs 466.24 at sf0.001) — a
    quality claim a rows-only check could never make."""
    inner = _lloyd_oracle(LLOYD_ITER)
    return f"""
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CAST(dist AS DECIMAL(12,6))
                    * CAST(dist AS DECIMAL(12,6))) AS DOUBLE)
             AS lloyd_inertia,
           TRUE AS ml_within_2pct_of_lloyd,
           TRUE AS n_clusters_ok
    FROM ({inner}) lloyd
    """


@register("ml_kmeans", oracle=_ml_kmeans_oracle(), tags=("ml", "workload"))
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml KMeans over the embeddings table (seeded k-means||
    init, 10 iterations — the production path, reference
    `mllib/.../clustering/KMeans.scala:43`).  Upgraded from rows-only
    to value-checked (r7 verdict task 6): labels are implementation-
    specific, so the output emits label-INVARIANT values — n_vectors
    (exact), the Lloyd-twin inertia (exact decimal sum of the twin's
    6dp distances, byte-identical in DuckDB), and two invariants
    computed from the real fit: trainingCost ≤ 1.02× the fixed-init
    Lloyd baseline's inertia (k-means|| + 10 iters stays within 2% of
    the naive baseline on its own objective; the baseline's final
    assignment is a post-update half-step, so exact dominance is not
    guaranteed — measured 0.5% the other way at sf0.001) and 1 ≤
    #clusters ≤ K.  The 1-row × 1-row crossJoin broadcasts (BNLJ) —
    never a data cartesian."""
    ensure_parity_conf(spark)
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    t = Tables(spark, sf_dir)
    data = t.embeddings.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=K, seed=42, maxIter=10).fit(data)
    cost = float(model.summary.trainingCost)
    stats = model.transform(data).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.count_distinct("prediction").alias("nc"),
    )
    # Twin inertia from the MEMOIZED final Lloyd centroids (r8 ADVICE:
    # previously this re-ran the entire Lloyd driver loop per
    # invocation) — one assignment pass over the corpus, same 6dp
    # rounding as ml_kmeans_lloyd's output, so the decimal sum is
    # byte-identical to summing the twin's dist column.
    base = Tables(spark, sf_dir).embeddings.select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    d2 = F.array(*[
        _dist2(F.col("v"), c)
        for c in _lloyd_final_centroids(spark, sf_dir)
    ])
    d = F.round(F.sqrt(F.array_min(d2)), 6).cast("decimal(12,6)")
    lloyd_inertia = base.agg(
        F.sum(d * d).cast("double").alias("lloyd_inertia")
    )
    return stats.crossJoin(lloyd_inertia).select(
        "n_vectors",
        "lloyd_inertia",
        (F.lit(cost) <= F.col("lloyd_inertia") * LLOYD_BAND).alias(
            "ml_within_2pct_of_lloyd"
        ),
        ((F.col("nc") >= 1) & (F.col("nc") <= K)).alias("n_clusters_ok"),
    )



_PI_N = 100_000


@register(
    "workload_pi",
    oracle=f"""
    WITH pts AS (
      SELECT i,
             ({md5_hash60_sql("'x' || CAST(i AS VARCHAR)")} % 1000000) / 1000000.0 AS x,
             ({md5_hash60_sql("'y' || CAST(i AS VARCHAR)")} % 1000000) / 1000000.0 AS y
      FROM range(0, {_PI_N}) t(i)
    )
    SELECT round(4.0 * sum(CASE WHEN x*x + y*y < 1.0 THEN 1 ELSE 0 END)
                 / count(*), 6) AS pi_estimate
    FROM pts
    """,
    tags=("workload",),
)
def workload_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SparkPi as deterministic quasi-Monte-Carlo: hash-derived points
    instead of rand() so the estimate is partitioning-independent and
    oracle-checkable.  No input scan — spark.range generates splits."""
    ensure_parity_conf(spark)
    ids = spark.range(0, _PI_N)
    x = (md5_hash60(F.concat(F.lit("x"), F.col("id").cast("string"))) % 1_000_000) / 1_000_000.0
    y = (md5_hash60(F.concat(F.lit("y"), F.col("id").cast("string"))) % 1_000_000) / 1_000_000.0
    return ids.select(
        F.round(
            4.0 * F.sum(F.when(x * x + y * y < 1.0, 1).otherwise(0)) / F.count(F.lit(1)),
            6,
        ).alias("pi_estimate")
    )


#: One-step Lloyd block: vectors and K for the oracle-checked variant.
ONESTEP_MAX_ID = 400
ONESTEP_K = 8


@register(
    "ml_kmeans_onestep",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < {ONESTEP_MAX_ID}
    ),
    init AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {ONESTEP_K}),
    a0 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, i.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, i.cv), i.cid) AS rn
        FROM e CROSS JOIN init i) s
      WHERE rn = 1
    ),
    cells AS (
      SELECT cid, pos, avg(x) AS m FROM (
        SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a0) u
      GROUP BY cid, pos
    ),
    cv1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM cells GROUP BY cid),
    a1 AS (
      SELECT vec_id, cid, dist FROM (
        SELECT e.vec_id, c.cid, list_distance(e.v, c.cv) AS dist,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        FROM e CROSS JOIN cv1 c) s
      WHERE rn = 1
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cell, round(dist, 6) AS dist
    FROM a1 ORDER BY vec_id
    """,
    tags=("ml", "workload"),
)
def ml_kmeans_onestep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd step, fully distributed and value-exact
    against a SQL oracle — the hash-verified core of the k-means
    workload (the iterated variants ml_kmeans / ml_kmeans_lloyd are
    recall/invariant-tested; this pins the arithmetic cross-engine).

    Init = the first {ONESTEP_K} vectors; assign (argmin L2, ties to
    the lower cell id) → per-dimension centroid means via posexplode
    (the shuffle carries K·dim cells, never raw vectors) → reassign.
    Every init cell is non-empty by construction (each seed vector is
    at distance 0 from its own cell), so no empty-cell branch is
    needed."""
    ensure_parity_conf(spark)
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    e = t.embeddings.filter(F.col("vec_id") < ONESTEP_MAX_ID).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def l2(a, b):
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
        )

    init = e.filter(F.col("vec_id") < ONESTEP_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    by_vec = Window.partitionBy("vec_id").orderBy("dist", "cid")
    a0 = (
        e.join(F.broadcast(init))
        .withColumn("dist", l2(F.col("v"), F.col("cv")))
        .withColumn("rn", F.row_number().over(by_vec))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cid")
    )
    cv1 = (
        a0.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.transform("pm", lambda s: s["m"]).alias("cv"))
    )
    return (
        e.join(F.broadcast(cv1))
        .withColumn("dist", l2(F.col("v"), F.col("cv")))
        .withColumn("rn", F.row_number().over(by_vec))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cell"),
            F.round("dist", 6).alias("dist"),
        )
        .orderBy("vec_id")
    )
