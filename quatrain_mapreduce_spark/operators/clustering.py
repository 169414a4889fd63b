"""Embedding-space clustering + semantic deduplication.

Engine extension (no reference analogue — the reference's dedup ceiling is
exact key equality via DISTINCT, QL/parse/SemanticAnalyzer.java:747). This
module is the SemDeDup pattern (Abbas et al. 2023, arXiv:2303.09540):
partition the embedding space with a coarse clustering so that near-duplicate
detection — quadratic in general — only ever runs within a cluster, then drop
all but one representative of every semantically-near pair.

Scale shape (the whole point of the pattern at 100 TB):

- the cluster assignment is a broadcast of k centroid rows against a streamed
  corpus scan, collapsed to one row per vector map-side (``max_by`` argmax
  before any shuffle) — cost O(N·k) flops, one shuffle of N rows;
- the pairwise cosine verification self-joins *within cluster_id only*, so
  the quadratic term is bounded by the largest cluster, not the corpus. At
  scale k ≈ N / target_cluster_size keeps the per-cluster Gram bounded, and
  a degenerate cluster can be capped exactly like the LSH pipelines cap
  ``max_bucket``;
- per-pair math stays in sequential JVM folds, not a BLAS Gram matrix: a
  different summation order can flip a pair within an ulp of tau against
  the DuckDB oracle;
- the keep/drop rule is deterministic (min-id representative survives), so
  the operator is idempotent and engine-comparable — the registered query is
  FULLY oracle-checked against DuckDB, including kept-set membership.

Unlike ``similarity.ivf_build`` (whose centroids are Lloyd-refined floats
materialized driver-side as index metadata), the quantizer here is
*data-derived rows* — the k corpus vectors with the smallest ids — so both
engines can reconstruct the exact same clustering from the table alone, with
no float constants crossing an engine boundary. All per-pair math is the same
sequential-fold double arithmetic as operators/similarity (bit-identical
across engines for identical expression trees).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from quatrain_mapreduce_spark.operators.similarity import _assign, _dot, _norm


def assign_to_row_centroids(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Assign every vector to its max-cosine centroid row (the ANN family's
    ``similarity._assign``).

    ``centroids`` is (cluster_id, c_vec) — a SMALL lazy frame (k rows), so
    it is broadcast: the N×k expansion collapses to one row per vector
    before the shuffle via ``max_by`` (ties broken toward the lowest
    cluster_id, so assignment is total and deterministic). Returns (id_col,
    vec, cluster_id).

    r13 note (measured, kept): a scan-local literal-centroid argmax fold —
    the §12/§13 shape that paid off for IVF/PQ — was built and quiet-A/B'd
    here three ways (aggregate fold, norm-hoisted fold, array_max over
    struct(s, -cid)); every variant measured 0.25-0.35 s SLOWER than this
    crossJoin at sf0.1 (best fold min 1.25 s vs 0.92 s) because with k=8
    the groupBy collapse is map-side and cheap while the interpreted
    per-element HOF scoring is not. The SortAggregate this plans into is
    the map-side pre-collapse (cdc_apply class).
    """
    c = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec"))
    return _assign(c, id_col, "vec", centroids, "cluster_id", "cos")


def min_id_centroids(df: DataFrame, id_col: str, vec_col: str, k: int) -> DataFrame:
    """The k corpus vectors with the smallest ids, as (cluster_id, c_vec).

    A deterministic, data-derived coarse quantizer: both engines (and any
    rerun) reconstruct the identical clustering from the table alone. In a
    production pipeline the centroids would come from a trained quantizer —
    the assignment/dedup plumbing downstream is unchanged.
    """
    return (
        df.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col).cast("int").alias("cluster_id"),
            F.col(vec_col).cast("array<double>").alias("c_vec"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    tau: float = 0.99,
) -> DataFrame:
    """SemDeDup: cluster, then drop every vector that has a semantically-near
    (cosine ≥ tau) neighbor with a smaller id in the SAME cluster.

    Returns (id_col, cluster_id, kept): ``kept`` = 1 for the surviving
    min-id representatives, 0 for dropped near-duplicates. The within-cluster
    rule means a near-pair straddling a cluster boundary survives — that is
    the deliberate recall/cost trade of the pattern (raise k for cost, lower
    it for recall; cross-boundary pairs are what `embedding_neardup_pairs`'
    banded blocking catches instead).
    """
    from pyspark.storagelevel import StorageLevel

    cents = min_id_centroids(df, id_col, vec_col, k)
    # norms precomputed ONCE per row: the pairwise verify below evaluates
    # cos as dot/(nrm_a*nrm_b) — the exact expression shape of the oracle —
    # but without re-aggregating both self-dot-products for every pair
    # (cosine() per pair does 3 array folds; this does 1). Persisted at the
    # branch point: the a-side, b-side and final-join consumers would
    # otherwise each re-run the assignment cross join.
    assigned = (
        assign_to_row_centroids(df, cents, id_col, vec_col)
        .withColumn("nrm", _norm(F.col("vec")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    a = assigned.select(
        F.col("cluster_id"), F.col(id_col).alias("a_id"),
        F.col("vec").alias("a_vec"), F.col("nrm").alias("a_nrm"),
    )
    b = assigned.select(
        F.col("cluster_id"), F.col(id_col).alias("b_id"),
        F.col("vec").alias("b_vec"), F.col("nrm").alias("b_nrm"),
    )
    redundant = (
        a.join(b, "cluster_id")
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            # norm clamp, as in similarity.cosine: a zero-norm vector
            # must score 0.0 (kept), not DIVIDE_BY_ZERO under ANSI /
            # NaN >= tau (dropped)
            _dot(F.col("a_vec"), F.col("b_vec"))
            / F.greatest(F.col("a_nrm") * F.col("b_nrm"), F.lit(1e-300))
            >= F.lit(float(tau))
        )
        .select(F.col("b_id").alias("r_id"))
        .distinct()
    )
    return (
        assigned.join(redundant, assigned[id_col] == F.col("r_id"), "left")
        .select(
            F.col(id_col),
            "cluster_id",
            F.when(F.col("r_id").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
        )
    )


def semantic_dedup_cluster_stats(dedup: DataFrame, id_col: str) -> DataFrame:
    """Per-cluster acceptance summary of a ``semantic_dedup`` frame:
    (cluster_id, n_vectors, n_kept, kept_id_sum) — the id-sum makes the
    kept-set MEMBERSHIP oracle-checkable, not just the rates."""
    return dedup.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        F.sum("kept").alias("n_kept"),
        F.sum(F.col("kept") * F.col(id_col)).alias("kept_id_sum"),
    )

