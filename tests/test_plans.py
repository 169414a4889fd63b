"""Physical-plan shape guards — the 100 TB properties PLANS.md documents,
asserted so a refactor can't silently regress them.

Each test compiles a registered query against sf0.001 and greps the
executed-plan string: cheap (no job runs — planning only, except where AQE
needs a materialized stage) and exact enough to catch a lost broadcast, a
filter that stopped reaching the scan, or a top-k that turned into a global
sort.
"""

from __future__ import annotations

import pytest

from quatrain_mapreduce_spark.registry import all_queries


def plan_of(spark, sf_dir, name: str) -> str:
    qs = all_queries()
    return qs[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_reaches_parquet_scan(spark, sf_dir):
    """tpch_q1_shape's shipdate predicate must appear as PushedFilters on the
    lineitem scan (predicate pushdown — free from Catalyst, fatal to lose)."""
    p = plan_of(spark, sf_dir, "tpch_q1_shape")
    brackets = pushed_filter_brackets(p)
    assert brackets, p
    assert any("LessThanOrEqual(l_shipdate" in b for b in brackets), brackets

def test_projection_prunes_scan_columns(spark, sf_dir):
    """field_selection projects 2 columns — ReadSchema must not include the
    other part columns (column pruning)."""
    p = plan_of(spark, sf_dir, "field_selection")
    read = p.split("ReadSchema:", 1)[1][:200]
    assert "p_partkey" in read and "p_name" in read
    assert "p_retailprice" not in read

def test_dim_joins_broadcast(spark, sf_dir):
    """join_inner joins a dimension — must be a BroadcastHashJoin, never a
    shuffled SMJ of the fact side against a tiny table."""
    p = plan_of(spark, sf_dir, "join_inner")
    assert "BroadcastHashJoin" in p

def test_topk_uses_group_limit_not_global_sort(spark, sf_dir):
    """topk_per_group must plan WindowGroupLimit (per-partition heap) — a
    bare Window over a globally sorted exchange would materialize the full
    sort at 100 TB."""
    p = plan_of(spark, sf_dir, "topk_per_group")
    assert "WindowGroupLimit" in p

def test_order_by_limit_is_take_ordered(spark, sf_dir):
    """orderBy+limit must plan TakeOrderedAndProject, not Sort+GlobalLimit."""
    p = plan_of(spark, sf_dir, "order_by_limit")
    assert "TakeOrderedAndProject" in p

def test_aggregations_have_map_side_partials(spark, sf_dir):
    """wordcount must show a partial/final HashAggregate pair (combiner
    protocol — the shuffle moves combined counts, not raw tokens)."""
    p = plan_of(spark, sf_dir, "wordcount")
    assert "partial_count" in p

def test_index_build_combines_postings_map_side(spark, sf_dir):
    """index_build's collect_list must run as ObjectHashAggregate with a
    partial below the exchange (postings combine before the shuffle)."""
    p = plan_of(spark, sf_dir, "index_build")
    assert "ObjectHashAggregate" in p
    assert "partial_collect_list" in p

def test_ivf_probe_join_is_broadcast_and_partition_pruned(spark, sf_dir):
    """similarity_ivf's probe→corpus join must broadcast the probe side —
    the corpus (100 TB side) must never shuffle for the search — and the
    staged list_id-partitioned index must be scanned under dynamic
    partition pruning (only the probed lists' directories)."""
    p = plan_of(spark, sf_dir, "similarity_ivf")
    assert "BroadcastHashJoin [list_id" in p
    assert "dynamicpruning" in p

def test_moving_avg_single_exchange(spark, sf_dir):
    """cq_moving_avg: exactly one exchange (the key partitioning) — the
    window must reuse it, not add a second shuffle."""
    p = plan_of(spark, sf_dir, "cq_moving_avg")
    assert p.count("Exchange hashpartitioning") == 1

def test_bucket_point_lookup_scans_one_bucket(spark, sf_dir):
    """Equality on the bucket key must prune to a single bucket file."""
    p = plan_of(spark, sf_dir, "bucket_point_lookup")
    assert "SelectedBucketsCount: 1 out of 8" in p

def test_corpus_curation_single_scan_two_shuffles(spark, sf_dir):
    """The composed curation pipeline (dedup window + quality/lang columns +
    per-lang agg) must read the corpus ONCE and shuffle exactly twice
    (fingerprint window, then the groups-sized lang agg) with map-side
    partials — the 100 TB curation plan."""
    p = plan_of(spark, sf_dir, "corpus_curation")
    assert p.count("Scan parquet") == 1
    assert p.count("Exchange hashpartitioning") == 2
    assert "partial_count" in p

def test_insert_overwrite_partition_read_is_pruned(spark, sf_dir):
    """The read-back over the partitioned catalog table must carry the
    partition predicate as PartitionFilters (directory pruning), not a
    post-scan filter."""
    p = plan_of(spark, sf_dir, "sql_insert_overwrite_partition")
    pf = p.split("PartitionFilters:", 1)
    assert len(pf) == 2, p
    assert "status" in pf[1][:200]


def test_partitioned_orders_read_is_pruned(spark, sf_dir):
    """sql_partition_pruning reads orders written ``partitionBy(o_orderstatus)``:
    its status predicate must reach the scan as PartitionFilters (one
    directory listed), not a post-scan filter (PartitionPruner.java:238)."""
    p = plan_of(spark, sf_dir, "sql_partition_pruning")
    pf = p.split("PartitionFilters:", 1)
    assert len(pf) == 2, p
    assert "o_orderstatus" in pf[1][:200]


def test_window_funcs_single_exchange(spark, sf_dir):
    """All five window functions (two frames, same partition key) must share
    ONE hash exchange — a second Exchange means the unordered partition-count
    frame stopped reusing the (o_custkey) partitioning."""
    p = plan_of(spark, sf_dir, "window_funcs")
    assert p.count("Exchange") == 1
    assert p.count("Window") == 2  # ordered frame + whole-partition frame


def test_pivot_wide_single_scan(spark, sf_dir):
    """Declared-values pivot + derived total count must stay ONE scan of
    orders (a naive count(*) join doubles the scan)."""
    p = plan_of(spark, sf_dir, "pivot_wide")
    assert p.count("Scan parquet") == 1


def pushed_filter_brackets(plan: str) -> list[str]:
    """Each FileScan's own PushedFilters bracket content. The plan string
    truncates long brackets ('IsNotNull(...'), so capture up to the
    ', ReadSchema:' that always follows rather than the closing ']'."""
    import re

    return [m.group(1) for m in re.finditer(r"PushedFilters: \[(.*?), ReadSchema:", plan)]


def test_tpch_q3_is_take_ordered_with_pushed_dates(spark, sf_dir):
    """tpch_q3_shape: top-10 must be TakeOrderedAndProject (per-partition
    heaps, no global sort), both date predicates pushed to their scans as
    actual comparison predicates (not just IsNotNull), and the mktsegment
    dim side broadcast. Asserts inside each scan's own PushedFilters bracket
    — a column name elsewhere in the plan (projections, join keys) must not
    satisfy the check."""
    p = plan_of(spark, sf_dir, "tpch_q3_shape")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    brackets = pushed_filter_brackets(p)
    assert len(brackets) == 3, p
    for predicate in (
        "LessThan(o_orderdate", "GreaterThan(l_shipdate", "EqualTo(c_mktsegment,BUILDING)"
    ):
        assert any(predicate in b for b in brackets), (predicate, brackets)


def test_range_frame_window_single_exchange(spark, sf_dir):
    """range_frame_window: all three RANGE-frame aggregates must evaluate in
    ONE Window operator over one hash exchange on user_id — three separate
    Window nodes (or two exchanges) would triple the sort cost at 100 TB."""
    p = plan_of(spark, sf_dir, "range_frame_window")
    assert p.count("Window") - p.count("WindowGroupLimit") == 1
    assert p.count("Exchange hashpartitioning") == 1


def test_window_distribution_single_exchange(spark, sf_dir):
    """window_distribution: dense_rank/percent_rank/cume_dist share one
    window spec — one Window operator, one exchange on the partition key."""
    p = plan_of(spark, sf_dir, "window_distribution")
    assert p.count("Window") - p.count("WindowGroupLimit") == 1
    assert p.count("Exchange hashpartitioning") == 1


def test_zorder_files_prune_on_both_dimensions(spark, sf_dir):
    """Z-ordered files must be prunable on the NON-primary dimension too: a
    partkey-only slab predicate touches a strict subset of z-ordered files
    (footer min/max) but every file of an orderkey-sorted layout."""
    import glob
    import os
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.catalog import load_table
    from quatrain_mapreduce_spark.operators.zorder import zorder_by

    li = load_table(spark, sf_dir, "lineitem")
    lo, hi = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    slab_lo = int(lo + 0.25 * (hi - lo))
    slab_hi = int(lo + 0.375 * (hi - lo))

    def touched(d: str) -> tuple[int, int]:
        n_total = n_hit = 0
        for f in glob.glob(os.path.join(d, "part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            col = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_partkey"]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col).statistics
                mins.append(st.min); maxs.append(st.max)
            n_total += 1
            if min(mins) <= slab_hi and max(maxs) >= slab_lo:
                n_hit += 1
        return n_hit, n_total

    with tempfile.TemporaryDirectory() as tmp:
        zd, ld = os.path.join(tmp, "z"), os.path.join(tmp, "lin")
        zorder_by(li, "l_orderkey", "l_partkey").write.parquet(zd)
        li.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
            "l_orderkey"
        ).write.parquet(ld)
        z_hit, z_total = touched(zd)
        l_hit, l_total = touched(ld)
    assert l_hit == l_total, "linear layout should touch every file on a partkey slab"
    assert z_hit < z_total, "z-order layout must prune at least some files"
    assert z_hit / z_total <= 0.75, f"weak pruning: {z_hit}/{z_total}"


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """decontaminate's doc claims the eval-gram side broadcasts (typical:
    MB-scale eval sets against a 100 TB train corpus) and the train corpus
    is never self-joined: all joins must be broadcast hash joins, with the
    contamination check a semi join and the removals anti joins."""
    p = plan_of(spark, sf_dir, "decontaminate")
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p and "LeftAnti" in p


def test_bloom_join_runtime_filter_injected_and_confs_restored(spark, sf_dir):
    """bloom_join_pruned must compile with a bloom_filter_agg subquery whose
    might_contain() pre-filters the lineitem side before the join shuffle,
    and must leave the session confs exactly as it found them."""
    from quatrain_mapreduce_spark.plans.relational import bloom_join_pruned

    before = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    df = bloom_join_pruned(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # the filter must sit on the application (lineitem) side scan: the
    # might_contain predicate hashes l_orderkey, the creation agg o_orderkey
    assert "might_contain" in plan and "l_orderkey" in plan.split("might_contain", 1)[1].split("\n", 1)[0]
    after = {k: spark.conf.get(k, None) for k in before}
    assert after == before
    # and the result is still the plain-join answer
    assert df.count() > 0


def test_mapjoin_hint_plans_broadcast_hash_join(spark, sf_dir):
    """/*+ MAPJOIN(n) */ must pin a BroadcastHashJoin (the reference's
    hash-table-in-mapper join), not a shuffle join."""
    from quatrain_mapreduce_spark.plans.hive_sql import sql_mapjoin_hint

    plan = sql_mapjoin_hint(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_distribute_sort_by_is_partial_sort(spark, sf_dir):
    """DISTRIBUTE BY + SORT BY must hash-partition on the key and sort
    within partitions only — no global (single-ordering) sort."""
    from quatrain_mapreduce_spark.plans.hive_sql import sql_distribute_sort_by

    plan = sql_distribute_sort_by(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "hashpartitioning(o_custkey" in plan
    # Sort's second argument is the global flag: partial sort prints false
    assert "], false, 0" in plan or "], false\n" in plan or ", false," in plan
    assert "rangepartitioning" not in plan


def test_interval_overlap_join_is_binned_hash_join(spark, sf_dir):
    """interval_overlap_join's doc claims the interval-interval theta
    predicate rides a hash/merge join on the hour-bin key — a nested-loop
    over the two interval tables would be the O(n*m) plan the binning
    exists to avoid."""
    p = plan_of(spark, sf_dir, "interval_overlap_join")
    assert "NestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or "BroadcastHashJoin" in p


def test_attribution_join_extracts_user_equi_key(spark, sf_dir):
    """attribution_multitouch's 7-day time predicate must ride as a post-
    condition on a USER-equi-keyed join (Catalyst extracts the equality),
    never as a nested-loop theta join over purchases x clicks."""
    p = plan_of(spark, sf_dir, "attribution_multitouch")
    assert "NestedLoopJoin" not in p and "CartesianProduct" not in p


def test_basket_affinity_broadcasts_stats_onto_pairs(spark, sf_dir):
    """basket_affinity's category counts and basket total are broadcast-
    sized by construction (bounded vocab); the pair table must pick them
    up via broadcast joins — a shuffle join on the rule table would add
    three needless exchanges."""
    p = plan_of(spark, sf_dir, "basket_affinity")
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_tpch_q7_broadcasts_nation_aliases_and_prunes_shipdate(spark, sf_dir):
    """Q7's two nation aliases are 2-row broadcasts and the ship-date
    range must reach the lineitem scan as PushedFilters."""
    p = plan_of(spark, sf_dir, "tpch_q7_shape")
    assert p.count("BroadcastHashJoin") >= 2
    assert "GreaterThanOrEqual(l_shipdate" in p


def test_tpch_q16_anti_join_and_broadcast_part_filter(spark, sf_dir):
    """Q16's NOT-IN complaint set must execute as an anti join, and the
    filtered part side must broadcast onto the fact."""
    p = plan_of(spark, sf_dir, "tpch_q16_shape")
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p


def test_nested_struct_pushdown_prunes_and_pushes(spark, sf_dir):
    """The nested predicate must reach the parquet scan as a pushed
    filter on meta.k, and ReadSchema must carry only the touched leaf
    fields (nested column pruning) — day must NOT be read."""
    p = plan_of(spark, sf_dir, "nested_struct_pushdown")
    read = p.split("ReadSchema:", 1)[1][:300]
    assert "k" in read and "type" in read
    assert "day" not in read
    brackets = pushed_filter_brackets(p)
    assert any("meta.k" in b or "k" in b for b in brackets), p[:2000]


def test_classifier_serving_broadcasts_model(spark, sf_dir):
    """text_classifier_linear's serving join must broadcast the
    vocab-bounded model onto the exploded test corpus — a shuffled SMJ of
    the corpus against a model table would move the corpus for a
    vocabulary-sized side."""
    p = plan_of(spark, sf_dir, "text_classifier_linear")
    assert "BroadcastHashJoin [token" in p


def test_substring_windows_skew_safe_shape(spark, sf_dir):
    """dedup_substring_windows must take the SKEW-SAFE formulation: a
    map-combinable per-fingerprint aggregate + join back to the PERSISTED
    window frame (InMemoryTableScan in the plan — without the persist the
    corpus hash pass recomputes per consumer), and NO analytic window over
    the fingerprint partition (a boilerplate fingerprint shared by millions
    of docs would serialize a min/max-over-whash window onto one task;
    the aggregate combines map-side and the join is AQE-skew-splittable)."""
    p = plan_of(spark, sf_dir, "dedup_substring_windows")
    assert "InMemoryTableScan" in p
    assert "windowspecdefinition(whash" not in p
