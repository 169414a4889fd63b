"""Semantic dedup (SemDeDup): planted near-duplicates are dropped within
their cluster, min-id representatives survive, and the plan broadcasts the
centroid side (the corpus is never shuffled for assignment)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from quatrain_mapreduce_spark.operators.clustering import (
    assign_to_row_centroids, min_id_centroids, semantic_dedup,
)

DIM = 16
K = 4
SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(FloatType())),
])


@pytest.fixture(scope="module")
def corpus(spark):
    """ids 0..3 are orthogonalized cluster centers (so min_id_centroids
    recovers them exactly); ids 4..23 are 5 members per center with noise
    sized so sibling cosine ~ 1/(1 + 0.04*DIM) ~ 0.6 (well under tau=0.95);
    ids 100+m are planted near-twins (cos > 0.999) of members 4,9,14.
    """
    rng = np.random.RandomState(11)
    centers = np.linalg.qr(rng.randn(DIM, K))[0].T  # K orthonormal rows
    rows = [(i, [float(x) for x in centers[i]]) for i in range(K)]
    vid = K
    members = {}
    for ci in range(K):
        for _ in range(5):
            v = centers[ci] + 0.2 * rng.randn(DIM)
            rows.append((vid, [float(x) for x in v]))
            members[vid] = v
            vid += 1
    for m in (4, 9, 14):
        twin = members[m] + 1e-4 * rng.randn(DIM)
        rows.append((100 + m, [float(x) for x in twin]))
    return spark.createDataFrame(rows, SCHEMA)


def test_assignment_recovers_planted_clusters(spark, corpus):
    cents = min_id_centroids(corpus, "vec_id", "embedding", K)
    assigned = assign_to_row_centroids(corpus, cents, "vec_id", "embedding")
    rows = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    # members 4..8 belong to center 0, 9..13 to center 1, etc.
    for vid, cid in rows.items():
        base = vid - 100 if vid >= 100 else vid
        expect = base if base < K else (base - K) // 5
        assert cid == expect, (vid, cid, expect)


def test_semantic_dedup_drops_twins_keeps_min_id(spark, corpus):
    dd = semantic_dedup(corpus, "vec_id", "embedding", k=K, tau=0.95).collect()
    kept = {r["vec_id"] for r in dd if r["kept"] == 1}
    dropped = {r["vec_id"] for r in dd if r["kept"] == 0}
    # each planted twin (higher id) is dropped; its original survives
    assert {104, 109, 114} <= dropped
    assert {4, 9, 14} <= kept
    # nothing else is semantically near at tau=0.95 (noise 0.2 keeps
    # sibling cosines around 0.6)
    assert dropped == {104, 109, 114}
    assert len(kept) + len(dropped) == corpus.count()


def test_semantic_dedup_is_idempotent_on_survivors(spark, corpus):
    """Re-running the dedup on the kept set drops nothing — the keep rule is
    a fixpoint (what makes the operator safe to re-execute at scale)."""
    dd = semantic_dedup(corpus, "vec_id", "embedding", k=K, tau=0.95)
    kept_ids = [r["vec_id"] for r in dd.where("kept = 1").collect()]
    survivors = corpus.where(F.col("vec_id").isin(kept_ids))
    dd2 = semantic_dedup(survivors, "vec_id", "embedding", k=K, tau=0.95)
    assert dd2.where("kept = 0").count() == 0


def test_assignment_broadcasts_centroids(spark, corpus):
    """The exact-path assignment broadcasts the k centroid rows and
    collapses the N×k expansion map-side (max_by partial aggregate). A
    scan-local literal fold was built and rejected by quiet A/B in r13
    (0.25-0.35 s slower at sf0.1 — see assign_to_row_centroids' note);
    this pin keeps the measured shape."""
    cents = min_id_centroids(corpus, "vec_id", "embedding", K)
    assigned = assign_to_row_centroids(corpus, cents, "vec_id", "embedding")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

