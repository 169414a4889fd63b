"""Connected components over near-duplicate pair graphs.

The canonical last step of fuzzy deduplication at corpus scale: pairwise
near-dup relations (from MinHash-LSH / SimHash / n-gram Jaccard) are not
transitive, so production pipelines (C4/RefinedWeb-style) contract the pair
graph into components and keep one canonical document per component. The
reference engine has no analogue (its dedup ceiling is DISTINCT /
group-by-key — SemanticAnalyzer.java:747); this is an engine extension.

Algorithm: alternating large-star / small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014) — O(log²) rounds
regardless of graph diameter, every round two shuffles (a groupBy-min and a
join), no driver-side graph state. The rounds run through the graph tier's
superstep kernel (operators/graph.py ``_supersteps``) in fixpoint mode: each
round is one eager checkpoint job that cuts the lineage (an iterative
self-join otherwise compounds the plan exponentially and re-executes prior
rounds on every action) and fingerprints the edge set on the way through
(count + sum of xxhash64(u, v)); the contraction stops when two
consecutive edge sets fingerprint equal, and RAISES if the round cap comes
first — a capped contraction is a wrong labeling, not a partial one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.graph import _supersteps


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every larger neighbor of u to u's minimum neighborhood node:
    emit (v, m(u)) for v in Γ(u), v > u, where m(u) = min(Γ(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn")) \
        .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint and connect all smaller
    neighbors (and u itself) to the minimum: for each u, m = min(N(u) ∪ {u})
    over neighbors N(u) < u; emit (v, m) for v in N(u) ∪ {u}, v ≠ m."""
    oriented = edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = oriented.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfs = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.union(selfs).where(F.col("u") != F.col("v")).distinct()


def _star_round(edges: DataFrame, _: int) -> DataFrame:
    """One contraction round: large-star, then small-star."""
    return _small_star(_large_star(edges))


def connected_components(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Component labels for an undirected edge list.

    Returns (node, root) for every node appearing in ``edges``, where root is
    the minimum node id of its connected component (roots label themselves).
    Self-loops contribute no connectivity but their nodes ARE labeled (as
    their own roots) — dropping them broke the "every node" contract for
    nodes appearing only in self-loop edges (review finding). The input
    need not be deduplicated or symmetric.

    The 25-round cap is a safety bound only — star contraction converges
    in O(log² n) alternations (near-dup graphs: almost always ≤ 4).
    """
    from pyspark.sql.types import NumericType

    # normalize BOTH endpoints to one comparable type, but never force
    # long: string/uuid/md5 doc ids flow fine through every pair
    # generator (min/least/< are total on strings), and a long cast on
    # them aborts under ANSI — or NULL-collapses the whole graph with
    # ANSI off. For string ids "minimum node id" means lexicographic min.
    numeric = all(
        isinstance(edges.schema[c].dataType, NumericType) for c in (src, dst)
    )
    tgt = "long" if numeric else "string"
    raw = edges.select(
        F.col(src).cast(tgt).alias("u"), F.col(dst).cast(tgt).alias("v")
    )
    # nodes seen ONLY in self-loops still need a label row below
    loop_only = (
        raw.where(F.col("u") == F.col("v")).select("u").distinct()
    )
    e = _supersteps(
        raw.where(F.col("u") != F.col("v")).distinct(), _star_round, 25, fixpoint=True
    )
    # converged: e is a star set oriented (node > root); roots label themselves
    roots = e.select(F.col("v").alias("u"), F.col("v")).distinct()
    labeled = e.union(roots)
    # self-loop-only nodes are their own components; nodes also in real
    # edges are already labeled — anti-join keeps the contract total
    singles = (
        loop_only.join(labeled.select("u"), "u", "left_anti")
        .select(F.col("u"), F.col("u").alias("v"))
    )
    return (
        labeled.union(singles).distinct()
        .select(F.col("u").alias("node"), F.col("v").alias("root"))
    )


def keep_best_per_component(
    scored: DataFrame, comp: DataFrame,
    id_col: str = "doc_id", root_col: str = "root_id", score_col: str = "q",
) -> DataFrame:
    """Canonical-document selection: one kept row per near-dup component —
    the member with the highest ``score_col`` (deterministic id tie-break)
    — plus every singleton (docs absent from ``comp``) labeled as its own
    root.

    Scale shape: the argmax window runs ONLY over component members (a
    frame proportional to the duplicated subset, not the corpus); the
    corpus-sized work is a single anti-join against the far smaller
    component map. No corpus-wide window, no self-join.
    """
    from pyspark.sql import Window

    members = scored.join(comp, id_col)
    w = Window.partitionBy(root_col).orderBy(F.desc(score_col), F.col(id_col))
    best = (
        members.withColumn("__rk", F.row_number().over(w))
        .where("__rk = 1").drop("__rk")
    )
    singles = (
        scored.join(comp.select(id_col), id_col, "left_anti")
        .withColumn(root_col, F.col(id_col))
    )
    return singles.unionByName(best)
