"""Connected-components operator: differential against a driver-side
union-find (the trusted tiny-scale implementation) plus structured planted
graphs that force multiple contraction rounds."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.components import connected_components


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _labels(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "u long, v long")
    return {r["node"]: r["root"] for r in connected_components(df).collect()}


def test_matches_union_find_on_random_graph(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    assert _labels(spark, edges) == _union_find(edges)


def test_long_chain_needs_multiple_rounds(spark):
    """A 64-node path has diameter 63 — label propagation would need 63
    rounds; star contraction must still converge (in O(log²) alternations)
    to a single component rooted at 0."""
    edges = [(i, i + 1) for i in range(63)]
    labels = _labels(spark, edges)
    assert set(labels) == set(range(64))
    assert set(labels.values()) == {0}


def test_disjoint_components_and_duplicate_edges(spark):
    edges = [(10, 11), (11, 10), (11, 12), (20, 21), (30, 30), (30, 31)]
    labels = _labels(spark, edges)
    assert labels == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "u long, v long")
    assert connected_components(df).count() == 0


def test_components_query_partitions_near_dups(spark, sf_dir):
    """dedup_components over the documents table: every near-dup pair lands
    in one component, and every root is its component's minimum."""
    from quatrain_mapreduce_spark.registry import all_queries

    qs = all_queries()
    comp = {r["doc_id"]: r["root_id"] for r in qs["dedup_components"].fn(spark, sf_dir).collect()}
    pairs = [(r["a_id"], r["b_id"]) for r in qs["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()]
    assert pairs, "fixture must contain near-dup pairs"
    for a, b in pairs:
        assert comp[a] == comp[b]
    assert comp == _union_find(pairs)


def test_lsh_components_match_exact_components(spark, sf_dir):
    """dedup_components_lsh (LSH candidates -> exact verify -> contraction)
    must produce the SAME component labeling as the exact blocked all-pairs
    variant — the equality the shared oracle asserts at the driver, locked
    here at sf0.001. A recall miss in LSH or a block-rule mismatch in
    verify_pairs breaks this."""
    from quatrain_mapreduce_spark.plans.data_pipeline import (
        dedup_components, dedup_components_lsh,
    )

    exact = {(r["doc_id"], r["root_id"]) for r in dedup_components(spark, sf_dir).collect()}
    lsh = {(r["doc_id"], r["root_id"]) for r in dedup_components_lsh(spark, sf_dir).collect()}
    assert lsh == exact and exact


def test_keep_best_per_component_prefers_quality_over_min_id(spark):
    """Planted 2-doc near-dup cluster where the HIGHER-quality doc has the
    HIGHER id: min-id selection would keep doc 1; keep-best must keep doc 9.
    Singletons pass through labeled as their own root. Runs the full
    LSH -> exact-verify -> contraction -> argmax chain on synthetic rows."""
    from quatrain_mapreduce_spark.operators.components import (
        connected_components, keep_best_per_component,
    )
    from quatrain_mapreduce_spark.operators.dedup import (
        minhash_lsh_pairs, verify_pairs,
    )
    from quatrain_mapreduce_spark.operators.text import quality_col

    base = [f"tok{i}" for i in range(80)] + ["the", "a", "of", "and", "to"]
    rich = base + [f"extra{i}" for i in range(15)]
    rows = [
        (1, " ".join(base), "en"),
        (9, " ".join(rich), "en"),  # near-dup of 1, longer => higher quality
        (5, "unrelated little text about nothing in particular", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    cand = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=3, num_perm=32, bands=8, threshold=0.5
    ).select("a_id", "b_id")
    verified = verify_pairs(
        docs, cand, "doc_id", "text", n=2, threshold=0.8, block_col="lang"
    )
    assert {(r["a_id"], r["b_id"]) for r in verified.collect()} == {(1, 9)}
    comp = connected_components(verified, src="a_id", dst="b_id").select(
        F.col("node").alias("doc_id"), F.col("root").alias("root_id")
    )
    q = docs.select("doc_id", quality_col("text").alias("q"))
    kept = {r["doc_id"]: r["root_id"]
            for r in keep_best_per_component(q, comp).collect()}
    assert kept == {9: 1, 5: 5}


def test_self_loop_only_node_gets_labeled(spark):
    """A node appearing ONLY in self-loop edges must still receive a
    (node, root=node) row — dropping the loop dropped the node entirely
    and broke the every-node contract (review finding)."""
    from quatrain_mapreduce_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 2)], "u long, v long"
    )
    got = {r["node"]: r["root"] for r in
           connected_components(edges).collect()}
    assert got == {5: 5, 1: 1, 2: 1}


def test_string_node_ids_supported(spark):
    """r13 review: string/uuid/md5 doc ids flow through every pair
    generator, so components must label them too — the unconditional long
    cast aborted under ANSI (or NULL-collapsed the graph with ANSI off).
    Root = lexicographic min for string ids."""
    edges = [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-x", "doc-y")]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {r["node"]: r["root"] for r in connected_components(df).collect()}
    assert got == {"doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
                   "doc-x": "doc-x", "doc-y": "doc-x"}


def test_capped_contraction_raises_naming_the_cap(spark):
    """A fixpoint loop that hits its round cap raises instead of returning
    the half-contracted edge set (which labeled the 64-node path with 62
    roots at a cap of 1), and leaves no checkpoint persisted behind."""
    from quatrain_mapreduce_spark.operators.components import _star_round
    from quatrain_mapreduce_spark.operators.graph import _supersteps

    path = spark.createDataFrame([(i, i + 1) for i in range(63)], "u long, v long")
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    before = rdds.size()
    for cap in (1, 2):
        with pytest.raises(RuntimeError, match=f"rounds={cap}"):
            _supersteps(path, _star_round, cap, fixpoint=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
