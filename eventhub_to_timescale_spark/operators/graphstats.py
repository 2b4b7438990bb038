"""Near-dup graph diagnostics: exact triangle count and global
clustering coefficient over a pair frame — the corpus-health metric
beside connected components (cluster membership) and PageRank
(canonical-doc centrality): a high clustering coefficient says the
near-dup relation is locally transitive (template families, mirrored
sites), a low one says pairs are scattered accidents — which changes
whether keep-first survivors are safe or split real content.

Algorithm: the degree-oriented edge-join of Suri & Vassilvitskii 2011
("Counting Triangles and the Curse of the Last Reducer", WWW) — every
undirected edge is oriented from its LOWER-degree endpoint to the
higher (ties by id), wedges are generated only at the low-degree
vertex, and a wedge is a triangle iff its closing pair is an oriented
edge.  Each triangle is counted exactly once, and the per-vertex wedge
fan-out is bounded by the vertex's ORIENTED out-degree ≤ O(√|E|) on
any graph (the arboricity bound) — the hot-vertex quadratic blow-up
of the naive neighbor-join cannot happen.

100 TB posture: two equi-joins + bounded aggregations on the PAIR
graph only (corpus size never enters); degrees are one
map-side-combinable groupBy; wedge and closure joins key on vertex /
edge ids.  Output is a single diagnostics row.

No reference analog (extension family beside pagerank.py/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def graph_triangle_stats(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    persist_graph: bool = True,
) -> DataFrame:
    """→ one row (n_nodes, n_edges, n_wedges, n_triangles,
    clustering_coeff): exact triangle count via degree-oriented wedge
    join; global clustering coefficient = 3·triangles / wedges
    (0.0 when the graph has no wedges), rounded to 6 dp.

    ``pairs`` rows are undirected candidate edges; duplicates and
    self-loops are removed before counting.

    ``persist_graph`` (default on, caller-releases contract like
    pagerank's) caches the canonical edge, degree AND oriented-edge
    frames: edges feed three consumers (degrees, orientation, the
    closure probe), degrees feed three more, and the oriented frame
    is BOTH sides of the wedge self-join — without the cache every
    consumer re-executes the whole upstream pair-generation plan
    (e.g. the MinHash banding join), measured 8 s → sub-second at
    sf0.1, and each action re-ran the orientation join twice (once
    per wedge side).  All three frames are pair-graph-sized, never
    corpus-sized.

    n_nodes / n_edges / n_wedges all come out of ONE aggregation pass
    over the degree frame (r16): n_edges = Σdeg/2 exactly (every edge
    contributes to both endpoint degrees), so the former separate
    edge-count subtree is gone.  On an empty graph Σdeg/2 is
    coalesced to 0 to keep the former COUNT(*) semantics, while
    n_wedges stays NULL exactly as the SUM aggregate (and the DuckDB
    oracle) always produced.
    """
    edges = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    if persist_graph:
        # stage boundary rather than persist (r16, same rationale as
        # near_dedup_components over the SAME upstream): a lazy persist
        # keeps the full pair-generation subplan (e.g. the MinHash
        # banding join) in the logical plan of every consumer, so
        # Catalyst re-analyzes a thousand-line tree per action even
        # though execution reads cache.  The boundary leaf cuts both
        # the re-planning and the in-plan subtree replication.
        from eventhub_to_timescale_spark.operators.boundary import (
            stage_boundary,
        )

        edges = stage_boundary(edges)
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    if persist_graph:
        deg = deg.persist()
    # orient each edge from the lower-degree endpoint (ties by id)
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(
                F.struct(F.col("v").alias("s"), F.col("u").alias("t"))
            )
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    )
    if persist_graph:
        # both wedge sides read this frame — without the cache the
        # orientation join (edges ⨝ deg ⨝ deg) runs twice per action
        oriented = oriented.persist()
    # wedges at the low-degree vertex: (s; t1 < t2)
    w1 = oriented.select(F.col("s"), F.col("t").alias("t1"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("t2"))
    wedges = w1.join(w2, "s").filter(F.col("t1") < F.col("t2"))
    # a wedge closes iff (t1, t2) is an (undirected) edge — probe the
    # canonical u<v edge set
    closed = wedges.join(
        edges,
        (F.col("t1") == F.col("u")) & (F.col("t2") == F.col("v")),
        "left_semi",
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n")).select("n")
    # ONE pass over the degree frame yields all three graph totals:
    # n_nodes = |deg|, n_edges = Σdeg/2 (each edge is counted at both
    # endpoints — coalesced to 0 on an empty graph, matching the old
    # COUNT(*) subtree), and the UNORIENTED wedge count
    # Σ deg·(deg−1)/2 (every unordered neighbor pair; NULL on an
    # empty graph, exactly as the bare SUM always was).
    totals = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # integer `div` (bigint in, bigint out): exact past 2^53,
        # like the oracle's `//`
        F.expr("coalesce(sum(deg), 0) div 2").alias("n_edges"),
        F.expr("sum(deg * (deg - 1)) div 2").alias("n_wedges"),
    )
    return (
        totals
        .crossJoin(
            F.broadcast(n_tri.select(F.col("n").alias("n_triangles")))
        )
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3) * F.col("n_triangles") / F.col("n_wedges"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def graph_triangle_stats_oracle_sql(pairs_sql: str) -> str:
    """DuckDB rendering of ``graph_triangle_stats`` over a pair-frame
    subquery (columns doc_a, doc_b) — same canonicalization, same
    degree orientation, same wedge/closure joins, same single
    division+round."""
    return f"""
WITH pairs AS ({pairs_sql}),
edges AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM pairs WHERE doc_a <> doc_b
),
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS x FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY x
),
oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM edges e
  JOIN deg du ON du.x = e.u
  JOIN deg dv ON dv.x = e.v
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM oriented w1
  JOIN oriented w2 ON w1.s = w2.s AND w1.t < w2.t
  JOIN edges c ON c.u = w1.t AND c.v = w2.t
),
tots AS (
  SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
         CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
         CAST((SELECT SUM(deg * (deg - 1)) // 2 FROM deg) AS BIGINT)
             AS n_wedges
)
SELECT t.n_nodes, t.n_edges, t.n_wedges, tri.n_triangles,
       CASE WHEN t.n_wedges > 0
            THEN round(3.0 * tri.n_triangles / t.n_wedges, 6)
            ELSE 0.0 END AS clustering_coeff
FROM tots t CROSS JOIN tri
"""


__all__ = ["graph_triangle_stats", "graph_triangle_stats_oracle_sql"]
