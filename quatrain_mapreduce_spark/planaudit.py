"""Physical-plan fingerprinting — the machine-checkable half of the
"would this survive 100×?" audit.

A query's *result* is gated by the DuckDB oracle; its *plan shape* is what
decides whether it survives a 1000-executor 100 TB run. This module reduces
an executed-plan string to a small feature vector (shuffle exchanges,
broadcast exchanges, join strategies, Python evaluation nodes, scans) so the
shape can be snapshotted into ``PLAN_FINGERPRINTS.json`` and diffed per
commit: an accidental extra shuffle, a broadcast join silently degrading to
sort-merge, or a new Python node on a hot path becomes a red test instead of
a slow cluster.

Counts are taken from the pre-execution plan (AQE's ``isFinalPlan=false``
rendering), which is deterministic for a fixed input layout — runtime AQE
re-planning (skew splits, dynamic coalesce) intentionally doesn't affect the
fingerprint.
"""

from __future__ import annotations

import re

# Queries whose fn() performs heavy side effects before returning a frame —
# real micro-batch streams, staged-directory writes, or driver-paced
# iteration rounds — so plan-building here would re-run them and only see
# the read-side plan anyway. ONE copy, imported by tests/test_plan_lint.py
# and tools/plan_fingerprints.py (they drifted when hand-mirrored).
PLAN_BUILD_SKIP = frozenset({
    "stream_tumbling_count", "online_agg_events",
    "stream_cdc_apply", "incremental_rollup_merge", "sessionize_incremental",
    "stream_drift_monitor", "stream_auc_monitor",
    "incremental_join_merge",
    "k_core_members", "lpa_communities",
    "bpe_train_merges", "bpe_encode_corpus",
})


def lint_session():
    """The one plain session builder: the session plans are linted and
    fingerprinted on (tests/conftest.py, tools/plan_fingerprints.py), the
    oracle gate's ``--vanilla`` session (tools/check_oracle.py, which then
    sets its ``--tz``) and the streaming soak's (tools/soak_stream.py). One
    builder, because a config divergence (e.g. broadcast threshold)
    silently changes join strategies and produces false fingerprint drift.
    Deliberately plain (mirrors the driver harness), NOT get_spark()."""
    from pyspark.sql import SparkSession

    from quatrain_mapreduce_spark.staging import warehouse

    return (
        SparkSession.builder.master("local[8]")
        .appName("qms-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse())
        .getOrCreate()
    )

# feature name -> regex counted over the executedPlan string. Ordered the
# way a scale review reads them: data movement first, then join strategy,
# then Python boundaries, then scan count.
_FEATURES: dict[str, re.Pattern[str]] = {
    # every shuffle: hash, range (total-order sorts) and single-partition
    # collapses (global aggregates / limits)
    "shuffles": re.compile(
        r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)"
    ),
    "broadcasts": re.compile(r"BroadcastExchange"),
    "sort_merge_joins": re.compile(r"SortMergeJoin"),
    "broadcast_hash_joins": re.compile(r"BroadcastHashJoin"),
    "nested_loop_joins": re.compile(r"BroadcastNestedLoopJoin"),
    "expands": re.compile(r"\bExpand\b"),
    # Arrow-batched Python evaluation (the sanctioned Python path) — keep an
    # eye on count creep; row-at-a-time BatchEvalPython is banned outright
    # by the lint assertions, not merely fingerprinted
    "python_nodes": re.compile(
        r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow"
    ),
    "scans": re.compile(r"Scan (?:parquet|orc|csv|json|text|JDBCRelation)"),
}


def plan_fingerprint(plan: str) -> dict[str, int]:
    """Reduce an executed-plan string to its movement/strategy counts."""
    return {name: len(rx.findall(plan)) for name, rx in _FEATURES.items()}


def fingerprint_query(df) -> dict[str, int]:
    """Full fingerprint of a DataFrame's executed plan without running it:
    the string-level movement/strategy counts plus ``max_live_rescan`` —
    the highest per-source live scan multiplicity (see live_scan_counts).
    Pinning the multiplicity in the snapshot catches the unpersisted-
    branch-point class as DRIFT (a count increasing) without hard-failing
    the formulations where re-derivation measurably beats materialization
    (graph family: exchange reuse already dedups the shuffled work — A/B
    in PLANS.md round 9)."""
    fp = plan_fingerprint(df._jdf.queryExecution().executedPlan().toString())
    fp["max_live_rescan"] = max(live_scan_counts(df).values(), default=0)
    return fp


# attribute expression ids (`l_orderkey#123L`) differ between two scan
# instances of the SAME source within one plan — strip them before hashing
# a scan node with no file relation so identical scans merge (same key),
# distinct sources don't (different column set / paths still differ)
_EXPR_ID_RX = re.compile(r"#\d+")


def _root_paths(node) -> str | None:
    """The root paths of a file scan's relation, comma-joined; None for a
    scan with no file relation (DataSource V2 ``BatchScan``, JDBC). Read
    from the plan object, not its rendering: the rendered ``Location:``
    line is cut at ``spark.sql.maxMetadataStringLength`` (~100 chars), so
    two long paths sharing a prefix would merge."""
    if "FileSourceScan" not in node.getClass().getSimpleName():
        return None
    roots = node.relation().location().rootPaths()
    return ",".join(roots.apply(i).toString() for i in range(roots.size()))


def _scan_key(node) -> str:
    """Stable identity for one scan node: the full root paths of a file
    scan; otherwise a digest of the node's rendering with expression ids
    normalized away — so two physical scans of the same non-file source
    still MERGE into one key (a duplicate-scan regression there must stay
    visible to max_live_rescan; ADVICE r10: a monotonic counter made each
    one a singleton and hid it), while scans of genuinely different
    sources keep distinct keys."""
    roots = _root_paths(node)
    if roots is not None:
        return roots
    import hashlib

    normalized = _EXPR_ID_RX.sub("#", node.toString())
    return "scan~" + hashlib.md5(normalized.encode()).hexdigest()[:12]


def live_scan_counts(df) -> dict[str, int]:
    """Count how many times each source file/table is scanned by the LIVE
    plan — i.e. excluding subtrees behind an InMemoryTableScan, which
    execute once at cache materialization no matter how many consumers
    reference them. A live table scanned 3+ times is the signature of an
    unpersisted multi-consumer subplan: the same upstream work (and at
    100 TB, the same multi-TB scan) re-executes per consumer. This exact
    class cost c4_curation_pipeline a measured 5× at sf1 (37 s -> 6.9 s
    once its strip subplan was persisted at the branch point).

    Keys are the FULL root paths of a file scan (distinct sources that
    share a basename — e.g. the same table staged under two directories —
    must not merge into one inflated count); a scan with no file relation
    is keyed by a digest of its expression-id-normalized rendering (see
    _scan_key), so identical such scans merge and distinct ones don't.
    The walk descends into expression SUBQUERIES (``node.subqueries()`` —
    Scalar/In/DPP subquery plans hang off expressions, not
    ``children()``), skipping ``ReusedSubquery`` wrappers, so a table
    re-scanned inside a filter subquery counts toward its live
    multiplicity like any other consumer."""
    counts: dict[str, int] = {}

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if "InMemoryTableScan" in cls:
            return
        if "ReusedExchange" in cls or "ReusedSubquery" in cls:
            return  # physically executes once; don't double count its plan
        if "AdaptiveSparkPlan" in cls:
            # AQE wraps any exchange-bearing plan in a LEAF node — descend
            # into the wrapped plan or the walk silently sees nothing
            # (every shuffle-bearing query would count zero scans)
            walk(node.inputPlan())
            return
        if "FileSourceScan" in cls or "BatchScan" in cls:
            key = _scan_key(node)
            counts[key] = counts.get(key, 0) + 1
        subqueries = node.subqueries()
        for i in range(subqueries.size()):
            walk(subqueries.apply(i))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return counts
