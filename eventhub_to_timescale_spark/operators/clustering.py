"""Distributed k-means topic clustering over the embedding corpus —
the operator a training-data pipeline uses for diversity analysis,
cluster-balanced sampling, and domain discovery (extension beyond the
reference surface; the reference has no vector ops at all).

Unlike ``similarity.train_ivf_centroids`` (which Lloyd-iterates a
BOUNDED DRIVER SAMPLE in numpy to mint IVF cell centroids), this is
the full distributed trainer: every Lloyd iteration is a DataFrame
aggregation over the ENTIRE corpus — assignment is a pure-JVM
expression against broadcast centroid literals, the re-estimation is
one map-side-combinable groupBy with ``dim`` integer sums, and the
only driver traffic per iteration is the k×dim centroid matrix
(bounded scalars, the same driver-sync Spark MLlib's own KMeans
performs between iterations).

Cross-engine exactness: float k-means is NOT reproducible across
engines (per-cluster mean = a non-associative double sum whose value
depends on accumulation order; a 1-ulp centroid wobble can flip a
boundary point's assignment and cascade).  So the whole algorithm
runs in FIXED-POINT INTEGER arithmetic: components quantize to
``round(x * scale)`` BIGINT once up front, distances are exact
integer sums of squares (|v| ≤ ~1.2e6 at scale=1e6 → Σ over 64 dims
≤ ~1e14, far inside int64), and the new centroid is the exact
integer FLOOR of the per-dim mean — ``(s - pmod(s, n)) / n`` — which
both engines (and Python's ``//``) compute identically.  Ties in the
assignment argmin break to the lowest cluster id in both engines.
Empty clusters keep their previous centroid (both engines).

100 TB posture: per iteration, one full scan + one exchange carrying
k×dim partial sums per map task (map-side combine collapses each
task to ≤k rows); assignment is whole-stage-codegen'd expression
math — no UDF, no cartesian, no per-row Python.  The quantized
vector frame is re-derived per iteration rather than cached: at
corpus scale a cache would not fit executor memory, and the scan is
the cheap part of the stage.  Driver state is k×dim ints per
iteration regardless of corpus size.  The 2^53 headroom note: at
~1e12 rows per cluster the int64 per-dim sums still hold (1.2e6 ×
1e12 ≈ 1e18 < 9.2e18), and the floor-div is integer-exact at any
magnitude.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _quantized(embeddings: DataFrame, scale: int) -> DataFrame:
    iv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(float(scale))).cast("long"),
    )
    return embeddings.select("vec_id", iv.alias("iv"))


def _dist2(iv: Column, centroid: list[int]) -> Column:
    """Exact integer squared L2 distance to a centroid literal."""
    cvec = F.array(*[F.lit(int(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(iv, cvec, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign(quant: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(vec_id, cluster): argmin cluster per vector, ties to the
    lowest cluster id via lexicographic struct-min."""
    candidates = F.array(
        *[
            F.struct(
                _dist2(F.col("iv"), c).alias("d"),
                F.lit(ci).alias("c"),
            )
            for ci, c in enumerate(centroids)
        ]
    )
    return quant.select(
        "vec_id",
        "iv",
        F.array_min(candidates).getField("c").alias("cluster"),
    )


def _assign_vectorized(
    quant: DataFrame, centroids: list[list[int]]
) -> DataFrame:
    """Arrow-batched exact-integer argmin assignment — the large-k
    path.  ``_assign``'s k×dim literal expression tree is the right
    plan for small k (pure JVM, no Python), but it grows linearly in
    k and stops being codegen-friendly past a few dozen clusters
    (same trade-off as similarity.py:_cell_id_udf).  This variant
    ships the k×dim int matrix in the UDF closure and evaluates
    argmin(c·c − 2 x·c) per Arrow batch in int64 numpy — every value
    is exact (|dot| ≤ 9.3e13 < 2^63) and np.argmin's first-minimum
    tie rule equals _assign's lowest-cluster struct-min, so the two
    paths are BIT-IDENTICAL (pinned by tests/test_clustering.py).
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    c = np.array(centroids, dtype=np.int64)  # (k, dim)
    c_sq = (c * c).sum(axis=1)  # (k,)

    def assign(vecs):
        import pandas as pd

        x = np.array(vecs.tolist(), dtype=np.int64)  # (n, dim)
        if len(x) == 0:
            return pd.Series([], dtype="int32")
        d = c_sq[None, :] - 2 * (x @ c.T)  # exact int64
        return pd.Series(d.argmin(axis=1).astype("int32"))

    udf = pandas_udf(assign, "int")
    return quant.select("vec_id", "iv", udf("iv").alias("cluster"))


def kmeans_fixed_point(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    scale: int = 10**6,
) -> DataFrame:
    """Lloyd's k-means over ``embeddings(vec_id, embedding)`` in exact
    fixed-point arithmetic.  Init = the ``k`` lowest-vec_id vectors
    (cluster i ← i-th lowest; no RNG).  Runs ``iters`` full
    assign-and-re-estimate passes, then returns the FINAL assignment.

    → (vec_id, cluster), ordered by vec_id.
    """
    quant = _quantized(embeddings, scale)
    centroids = _fit_centroids(quant, k, iters, dim)
    return _assign(quant, centroids).select("vec_id", "cluster").orderBy("vec_id")


def _fit_centroids(
    quant: DataFrame, k: int, iters: int, dim: int,
    vectorized: bool = False,
) -> list[list[int]]:
    """The Lloyd loop: deterministic lowest-vec_id init, ``iters``
    exact-integer assign/re-estimate passes → final centroid matrix
    (k×dim ints on the driver — bounded regardless of corpus size)."""
    seed_rows = (
        quant.orderBy("vec_id").limit(k).select("iv").collect()
    )  # bounded: k rows of dim ints — the deterministic init
    centroids = [list(r["iv"]) for r in seed_rows]
    assign_fn = _assign_vectorized if vectorized else _assign
    for _ in range(iters):
        assigned = assign_fn(quant, centroids)
        stats = (
            assigned.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("iv", d + 1)).alias(f"s{d}")
                    for d in range(dim)
                ],
            )
            .collect()
        )  # bounded: ≤k rows of dim+1 ints per iteration
        by_cluster = {r["cluster"]: r for r in stats}
        centroids = [
            (
                [by_cluster[ci][f"s{d}"] // by_cluster[ci]["n"] for d in range(dim)]
                if ci in by_cluster
                else old  # empty cluster keeps its previous centroid
            )
            for ci, old in enumerate(centroids)
        ]
    return centroids


def semantic_dedup_keep(
    embeddings: DataFrame,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.8,
    dim: int = 64,
    scale: int = 10**6,
    vectorized_assign: bool | None = None,
    target_cluster_size: int = 64,
    persist: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus with the exact
    fixed-point k-means above, compare pairs ONLY within a cluster,
    and drop every vector whose cosine to a lower-id cluster-mate is
    ≥ ``threshold`` (keep-first policy — deterministic, no RNG).

    → (vec_id, cluster) of the SURVIVORS, ordered by vec_id.

    Cross-engine exactness: cosine is computed on the quantized
    integer components, so dot and the two squared norms are EXACT
    int64 sums (|v| ≤ 1.2e6 at scale=1e6 → each term ≤ 1.44e12, a
    64-dim sum ≤ 9.3e13 — inside both int64 and the 2^53 double
    mantissa).  The only float ops are one multiply, one sqrt and one
    divide on exactly-representable integers — each correctly rounded
    IEEE-754 in both engines, so the cosine is bit-identical and the
    ``≥ threshold`` cut cannot flip across engines.

    100 TB posture: the pair generator is an EQUI-JOIN on cluster id
    (never an all-pairs cartesian); the within-cluster quadratic is
    the algorithm's contract, bounded by running k ∝ corpus size so
    the expected cluster stays constant-sized (the paper's own regime
    — 50k clusters for LAION-440M).  Per-row norms are computed once
    before the join, the survivors come from one ANTI-JOIN, and
    nothing but (vec_id, iv, nsq, cluster) crosses the exchange.

    DEFAULTS ARE THE SCALE-SAFE REGIME (r8 verdict #1: a fixed k makes
    candidate pairs Θ(N²/k) — the registry's one >1 sf1 exponent):

    - ``k=None`` sizes the clustering to the corpus,
      ``k = max(8, n // target_cluster_size)`` (one bounded count()
      up front), so expected cluster size — and with it per-row pair
      fan-out — stays constant as N grows (measured at sf1: exponent
      1.17 at fixed k=8 → 0.80 in the k∝N regime).  Pass an
      explicit ``k`` only when a FIXED clustering is the point (the
      stable-oracle gate entry does).
    - ``vectorized_assign=None`` auto-selects: the pure-JVM expression
      argmin up to k=16 (codegen-friendly literal tree), the exact-
      int64 Arrow/numpy argmin above (the literal tree grows linearly
      in k, falls out of codegen, and as a CodegenFallback
      higher-order-function chain is evaluated INTERPRETED with
      per-row array allocation — r15 profiling measured the k=31
      tree at ~2.4 s per evaluation over 2 000 rows where the numpy
      argmin is milliseconds; both paths are bit-identical — pinned
      by tests/test_clustering.py).
    - ``persist=True`` caches the assigned frame: the final plan
      consumes it THREE times (both sides of the within-cluster pair
      join and the survivor anti-join), and without the cache each
      consumer re-scans the corpus and re-evaluates the assignment —
      at bench scale the dominant cost, re-paid per consumer (guide
      §2.4/§5: one evaluation, three readers).  A 100 TB run keeps
      the same boundary with an explicit DISK_ONLY level; the caller
      owns release (the same contract as minhash_keep_first).
    """
    quant = _quantized(embeddings, scale)
    if k is None:
        # bounded driver scalar: corpus row count → k ∝ N (the
        # Abbas-et-al. regime; constant expected cluster size)
        n_vecs = quant.count()
        k = max(8, n_vecs // target_cluster_size)
    if vectorized_assign is None:
        vectorized_assign = k > 16
    centroids = _fit_centroids(quant, k, iters, dim, vectorized_assign)
    nsq = F.aggregate(
        F.zip_with("iv", "iv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    assign_fn = _assign_vectorized if vectorized_assign else _assign
    assigned = assign_fn(quant, centroids).withColumn("nsq", nsq)
    if persist:
        # three consumers below — without this boundary each one
        # re-scans the source and re-runs the assignment
        assigned = assigned.persist()
    a = assigned.select(
        F.col("vec_id").alias("a_id"),
        F.col("cluster").alias("a_cl"),
        F.col("iv").alias("a_iv"),
        F.col("nsq").alias("a_nsq"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster").alias("b_cl"),
        F.col("iv").alias("b_iv"),
        F.col("nsq").alias("b_nsq"),
    )
    dot = F.aggregate(
        F.zip_with("a_iv", "b_iv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("a_nsq").cast("double") * F.col("b_nsq").cast("double")
    )
    dropped = (
        a.join(b, (F.col("a_cl") == F.col("b_cl")) & (F.col("a_id") < F.col("b_id")))
        .withColumn("dot", dot)
        .filter((F.col("dot") > 0) & (cos >= F.lit(threshold)))
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "cluster")
        .orderBy("vec_id")
    )


def kmeans_balanced_sample(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    per_cluster: int = 20,
    dim: int = 64,
    scale: int = 10**6,
) -> DataFrame:
    """Cluster-balanced corpus sample: run ``kmeans_fixed_point``,
    then keep the ``per_cluster`` lowest-vec_id members of every
    cluster — the diversity-preserving downsample a pre-training
    mix uses to stop one dominant mode from swamping the batch.

    → (vec_id, cluster), ordered by vec_id.

    100 TB posture: the per-cluster quota is a rank-k window that
    Spark 4 plans as WindowGroupLimit — the limit applies MAP-SIDE
    before the exchange (same pinned shape as
    ``sampling.sample_source_quota``), so the shuffle carries at most
    k×per_cluster candidate rows per map task, not the corpus.
    """
    from pyspark.sql.window import Window

    assigned = kmeans_fixed_point(embeddings, k, iters, dim, scale)
    w = Window.partitionBy("cluster").orderBy("vec_id")
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_cluster)
        .select("vec_id", "cluster")
        .orderBy("vec_id")
    )


def _oracle_cte_chain(
    k: int, iters: int, scale: int, table: str = "embeddings"
) -> str:
    """Shared CTE chain: quantize → init → iterate (assign, means)
    ``iters`` times → final assignment ``a_final``.  ``table`` may be
    a CTE name so the chain composes into larger pipelines."""
    parts = [
        f"""iv AS (
  -- parallel UNNESTs zip in DuckDB: dim index alongside component
  SELECT vec_id,
         UNNEST(generate_series(1, len(embedding))) AS dim,
         CAST(round(CAST(UNNEST(embedding) AS DOUBLE) * {scale}.0)
              AS BIGINT) AS v
  FROM {table}
)""",
        f"""seed AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM {table} ORDER BY vec_id LIMIT {k}
)""",
        """c0 AS (
  SELECT seed.cluster, iv.dim, CAST(iv.v AS BIGINT) AS cv
  FROM seed JOIN iv ON seed.vec_id = iv.vec_id
)""",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT iv.vec_id, {prev}.cluster,
           row_number() OVER (
             PARTITION BY iv.vec_id
             ORDER BY SUM((iv.v - {prev}.cv) * (iv.v - {prev}.cv)),
                      {prev}.cluster) AS rn
    FROM iv JOIN {prev} ON iv.dim = {prev}.dim
    GROUP BY iv.vec_id, {prev}.cluster
  ) WHERE rn = 1
)"""
        )
        # exact integer floor-mean; empty clusters keep the previous
        # centroid via the LEFT JOIN fallback
        parts.append(
            f"""m{i} AS (
  SELECT a{i}.cluster, iv.dim,
         CAST((SUM(iv.v) - ((SUM(iv.v) % COUNT(*) + COUNT(*)) % COUNT(*)))
              // COUNT(*) AS BIGINT) AS cv
  FROM a{i} JOIN iv ON a{i}.vec_id = iv.vec_id
  GROUP BY a{i}.cluster, iv.dim
)"""
        )
        parts.append(
            f"""c{i} AS (
  SELECT {prev}.cluster, {prev}.dim,
         COALESCE(m{i}.cv, {prev}.cv) AS cv
  FROM {prev} LEFT JOIN m{i}
    ON {prev}.cluster = m{i}.cluster AND {prev}.dim = m{i}.dim
)"""
        )
        prev = f"c{i}"
    parts.append(
        f"""a_final AS (
  SELECT vec_id, cluster FROM (
    SELECT iv.vec_id, {prev}.cluster,
           row_number() OVER (
             PARTITION BY iv.vec_id
             ORDER BY SUM((iv.v - {prev}.cv) * (iv.v - {prev}.cv)),
                      {prev}.cluster) AS rn
    FROM iv JOIN {prev} ON iv.dim = {prev}.dim
    GROUP BY iv.vec_id, {prev}.cluster
  ) WHERE rn = 1
)"""
    )
    return "WITH " + ",\n".join(parts)


def kmeans_oracle_sql(k: int = 8, iters: int = 2, scale: int = 10**6) -> str:
    """DuckDB rendering of ``kmeans_fixed_point`` — the Lloyd loop
    unrolled into one CTE chain in the same exact integer
    arithmetic."""
    return (
        _oracle_cte_chain(k, iters, scale)
        + "\nSELECT vec_id, cluster FROM a_final ORDER BY vec_id"
    )


def kmeans_balanced_oracle_sql(
    k: int = 8,
    iters: int = 2,
    per_cluster: int = 20,
    scale: int = 10**6,
) -> str:
    """DuckDB rendering of ``kmeans_balanced_sample``."""
    return (
        _oracle_cte_chain(k, iters, scale)
        + f"""
SELECT vec_id, cluster FROM (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
  FROM a_final
) WHERE rn <= {per_cluster}
ORDER BY vec_id
"""
    )


__all__ = [
    "kmeans_fixed_point",
    "kmeans_balanced_sample",
    "kmeans_oracle_sql",
    "kmeans_balanced_oracle_sql",
]


def semantic_dedup_oracle_sql(
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.8,
    scale: int = 10**6,
    table: str = "embeddings",
) -> str:
    """DuckDB rendering of ``semantic_dedup_keep`` — the same CTE
    chain as the k-means oracle, then within-cluster pairs with the
    identical exact-integer dot/norm cosine and keep-first anti-join."""
    return (
        _oracle_cte_chain(k, iters, scale, table)
        + f""",
nsq AS (
  SELECT vec_id, SUM(v * v) AS nsq FROM iv GROUP BY vec_id
),
pairs AS (
  SELECT ia.vec_id AS a_id, ib.vec_id AS b_id, SUM(ia.v * ib.v) AS dot
  FROM a_final fa
  JOIN a_final fb ON fa.cluster = fb.cluster AND fa.vec_id < fb.vec_id
  JOIN iv ia ON ia.vec_id = fa.vec_id
  JOIN iv ib ON ib.vec_id = fb.vec_id AND ib.dim = ia.dim
  GROUP BY ia.vec_id, ib.vec_id
),
dropped AS (
  SELECT DISTINCT p.b_id AS vec_id
  FROM pairs p
  JOIN nsq na ON na.vec_id = p.a_id
  JOIN nsq nb ON nb.vec_id = p.b_id
  WHERE p.dot > 0
    AND CAST(p.dot AS DOUBLE)
        / sqrt(CAST(na.nsq AS DOUBLE) * CAST(nb.nsq AS DOUBLE))
        >= {threshold!r}
)
SELECT f.vec_id, f.cluster FROM a_final f
LEFT JOIN dropped d ON f.vec_id = d.vec_id
WHERE d.vec_id IS NULL
ORDER BY f.vec_id"""
    )
