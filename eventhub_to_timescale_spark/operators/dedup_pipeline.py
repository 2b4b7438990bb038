"""The full corpus-dedup pipeline as ONE composed Spark plan:

    substring spans → span removal → MinHash keep-first → SemDeDup

i.e. the Lee et al. 2022 (arXiv:2107.06499) substring-dedup chain
feeding the Abbas et al. 2023 (arXiv:2303.09540) semantic stage —
the order a production training-data run applies them: cut exact
cross-document boilerplate first (it poisons shingle sets), then drop
lexical near-duplicates, then drop semantic duplicates of what
remains.  Each stage exists (and is oracled) standalone in
``substrdup`` / ``dedup`` / ``clustering``; this module witnesses
their COMPOSITION — column contracts between stages and no accidental
recomputation — as a single queryable operator (extension beyond the
reference surface; the reference has no corpus operators at all).

100 TB posture: the corpus is scanned ONCE into the span-removal
stage; the cleaned corpus is persisted at the stage boundary because
three consumers read it (the banded-signature subplan, the survivor
anti-join, and the final output join) — without the persist each
consumer would re-run the whole span-removal subplan.  The MinHash
stage inherits ``persist_banded`` (one shingle+signature pass for the
band self-join's two sides), the survivor frame is persisted for its
two consumers (embedding semi-join + final join), and the semantic
stage compares pairs only within k-means clusters (k ∝ N by default;
the caller may pin k for a stable oracle).  Caches follow the
caller-releases contract shared by every persist-using operator here
(scripts/check_parity.py clears between queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_full_pipeline(
    docs: DataFrame,
    embeddings: DataFrame,
    window: int = 48,
    stride: int = 16,
    min_docs: int = 2,
    num_hashes: int = 12,
    bands: int = 6,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.8,
    dim: int = 64,
    persist_stages: bool = True,
) -> DataFrame:
    """→ (doc_id, cluster, removed_chars): the documents surviving all
    three dedup stages, with the semantic cluster they landed in and
    how many boilerplate characters stage 1 cut from them.

    Stage contracts:
    1. ``remove_repeated_spans(docs)`` → (doc_id, clean_text,
       removed_chars) — every doc survives this stage (text shrinks,
       rows don't).
    2. ``minhash_lsh_pairs`` over the CLEANED text + keep-first
       anti-join — lexical near-dups of the cleaned corpus drop.
    3. ``semantic_dedup_keep`` over the embeddings of stage-2
       survivors (vec_id == doc_id in the corpus contract) — semantic
       dups of what remains drop.
    """
    from eventhub_to_timescale_spark.operators.clustering import (
        semantic_dedup_keep,
    )
    from eventhub_to_timescale_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dedup_filter,
    )
    from eventhub_to_timescale_spark.operators.boundary import (
        stage_boundary,
    )
    from eventhub_to_timescale_spark.operators.substrdup import (
        remove_repeated_spans,
    )

    clean = remove_repeated_spans(
        docs, window, stride, min_docs, order=False
    )
    if persist_stages:
        # three consumers below — the boundary that keeps the
        # span-removal subplan from running three times.  r15: an eager
        # localCheckpoint rather than persist, for the same reason as
        # curation_pipeline._build_stages — persist caches the data
        # but leaves the full logical tree under every consumer, and
        # Catalyst/AQE re-optimized the multiplied-out chain on every
        # execution (guide §3.3/§5); the checkpoint hands downstream
        # plans a leaf.  Deployment scale would use a reliable
        # checkpoint/staged table — the lineage cut is the point; the
        # mechanism is session-selectable (operators/boundary.py).
        clean = stage_boundary(clean)
    cleaned = clean.select(
        "doc_id", F.col("clean_text").alias("text")
    )
    pairs = minhash_lsh_pairs(
        cleaned,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
        persist_banded=persist_stages,
    )
    surv = near_dedup_filter(clean, pairs)
    if persist_stages:
        # two consumers: the embedding semi-join and the final join
        # (stage boundary — see the clean boundary above)
        surv = stage_boundary(surv)
    emb_surv = embeddings.join(
        surv.select(F.col("doc_id").alias("vec_id")),
        "vec_id",
        "left_semi",
    )
    sem = semantic_dedup_keep(
        emb_surv,
        k=k,
        iters=iters,
        threshold=threshold,
        dim=dim,
        # persist_stages=False is the fully-lazy oracle-comparison
        # form (test_plan_pins_r9) — the semantic stage's internal
        # assignment cache must follow the same switch
        persist=persist_stages,
    ).withColumnRenamed("vec_id", "doc_id")
    return (
        surv.join(sem, "doc_id")
        .select("doc_id", "cluster", "removed_chars")
        .orderBy("doc_id")
    )


def dedup_full_pipeline_oracle_sql(
    window: int = 48,
    stride: int = 16,
    min_docs: int = 2,
    num_hashes: int = 12,
    bands: int = 6,
    jaccard_threshold: float = 0.5,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.8,
    scale: int = 10**6,
    table: str = "documents",
    emb_table: str = "embeddings",
) -> str:
    """DuckDB rendering of ``dedup_full_pipeline`` — the three
    standalone stage oracles composed through CTEs (each stage's own
    WITH chain nests inside its CTE; DuckDB scopes the inner names).
    Requires an explicit ``k`` (the oracle unrolls the Lloyd loop)."""
    from eventhub_to_timescale_spark.oracles import dedup_minhash_oracle
    from eventhub_to_timescale_spark.operators.clustering import (
        semantic_dedup_oracle_sql,
    )
    from eventhub_to_timescale_spark.operators.substrdup import (
        remove_repeated_spans_oracle_sql,
    )

    clean = remove_repeated_spans_oracle_sql(
        window, stride, min_docs, table=table
    )
    mh = dedup_minhash_oracle(
        num_hashes,
        bands,
        jaccard_threshold,
        table="clean",
        text_expr="clean_text",
    )
    sem = semantic_dedup_oracle_sql(
        k, iters, threshold, scale, table="emb_surv"
    )
    # AS MATERIALIZED: DuckDB inlines CTEs by default, and the
    # semantic chain references its quantized frame once per unrolled
    # Lloyd step — without materialization every reference re-runs
    # the whole upstream minhash + span-removal stages (measured 215 s
    # vs ~13 s at sf0.001).  Matches the Spark side's persist
    # boundaries stage-for-stage.
    return f"""
WITH clean AS MATERIALIZED ({clean}),
mh AS MATERIALIZED ({mh}),
surv AS MATERIALIZED (
  SELECT c.* FROM clean c
  WHERE c.doc_id NOT IN (SELECT doc_b FROM mh)
),
emb_surv AS MATERIALIZED (
  SELECT e.* FROM {emb_table} e JOIN surv s ON e.vec_id = s.doc_id
),
sem AS ({sem})
SELECT s.doc_id, sem.cluster, s.removed_chars
FROM surv s JOIN sem ON sem.vec_id = s.doc_id
ORDER BY s.doc_id
"""


__all__ = ["dedup_full_pipeline", "dedup_full_pipeline_oracle_sql"]
