"""Triangle counting and CDC log compaction — hand-computed examples."""

import pyspark.sql.functions as F

from quatrain_mapreduce_spark.operators.graph import triangle_counts
from quatrain_mapreduce_spark.operators.merge import cdc_apply


def test_triangle_counts_hand_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, each vertex in 3) plus a pendant 4-5
    # and an isolated edge 6-7; duplicates / reversals / self-loop mixed in.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (3, 2),          # reversed duplicate
         (4, 5), (6, 7), (5, 5)],  # pendant, isolated, self-loop
        "src long, dst long",
    )
    out = {r["vertex"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    assert sum(out.values()) // 3 == 4


def test_triangle_counts_star_has_none(spark):
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "src long, dst long"
    )
    assert triangle_counts(edges).count() == 0


def test_cdc_apply_last_write_wins_and_tombstones(spark):
    log = spark.createDataFrame(
        [
            (1, 0, "I", 10.0), (1, 1, "U", 11.0),            # update wins
            (2, 0, "I", 20.0), (2, 1, "D", None),            # tombstoned
            (3, 0, "I", 30.0), (3, 1, "D", None), (3, 2, "I", 33.0),  # re-insert
            (4, 5, "U", 44.0),                               # lone late update
        ],
        "id long, seq int, op string, price double",
    )
    out = {
        r["id"]: (r["price"], r["last_seq"])
        for r in cdc_apply(log, "id", "seq", "op", ["price"]).collect()
    }
    assert out == {1: (11.0, 1), 3: (33.0, 2), 4: (44.0, 5)}


def test_cdc_apply_is_partial_agg_not_window(spark):
    log = spark.createDataFrame(
        [(1, 0, "I", 1.0)], "id long, seq int, op string, price double"
    )
    plan = (
        cdc_apply(log, "id", "seq", "op", ["price"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # map-side combinable aggregate (partial_max_by BELOW the exchange
    # pre-compacts each partition), not a full-log-shuffling window
    partial = plan.index("partial_max_by")
    exchange = plan.index("Exchange")
    assert exchange < partial  # plan prints top-down: partial is upstream
    assert "Window" not in plan


def test_session_path_trigram_respects_session_boundary(spark, tmp_path):
    # u1: A,B,C tight (one trigram) then after a 9h gap D,E,F (one more);
    # the cross-boundary windows (B,C,D) and (C,D,E) must NOT count.
    h = 3600 * 1_000_000
    rows = [
        (1, "u", 0 * h, "A"), (2, "u", 1 * h, "B"), (3, "u", 2 * h, "C"),
        (4, "u", 11 * h, "D"), (5, "u", 12 * h, "E"), (6, "u", 13 * h, "F"),
    ]
    import pyspark.sql.functions as SF
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, us long, event_type string"
    ).select("event_id", "user_id",
             SF.timestamp_micros("us").alias("ts"), "event_type")
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from quatrain_mapreduce_spark.registry import all_queries
    out = {r["path"]: r["cnt"]
           for r in all_queries()["session_path_mining"].fn(
               spark, str(tmp_path)).collect()}
    assert out == {"A>B>C": 1, "D>E>F": 1}


def test_anomaly_mad_hand_example(spark, tmp_path):
    # type X: values 1.00 x4 and one 100.00 -> median=1.00 (med2x=200),
    # devs2x = 0,0,0,0,198*... dev2x = |2*cents-200| = 0x4, 19800;
    # MAD: median(dev2x)=0 -> mad4x=0 -> outlier iff dev2x>0: the 100.00 row.
    rows = [(i, "X", 1.00) for i in range(4)] + [(99, "X", 100.00)]
    import pyspark.sql.functions as SF
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from quatrain_mapreduce_spark.registry import all_queries
    r = all_queries()["anomaly_mad"].fn(spark, str(tmp_path)).collect()[0]
    assert (r["med2x"], r["mad4x"], r["n_outliers"],
            r["outlier_id_sum"], r["n_total"]) == (200, 0, 1, 99, 5)


def test_bfs_distances_hand_graph(spark):
    from quatrain_mapreduce_spark.operators.graph import bfs_distances
    # path 1-2-3-4-5 plus offshoot 2-6; source=1, max_hops=3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6)], "src long, dst long"
    )
    src = edges.agg(F.min("src"))
    out = {r["vertex"]: r["dist"]
           for r in bfs_distances(edges, src, max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 6: 2, 4: 3}  # 5 is 4 hops: excluded


def test_resample_ffill_gap_semantics(spark, tmp_path):
    h = 3600 * 1_000_000
    # one user, clicks at hours 0 (1.00) and 3 (2.00): hours 1,2 carry 100
    rows = [(1, 7, 0, "click", 1.00), (2, 7, 3 * h, "click", 2.00),
            (3, 7, 1 * h, "view", 9.99)]  # other types ignored
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, us long, event_type string, value double"
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("ts"),
             "event_type", "value")
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from quatrain_mapreduce_spark.registry import all_queries
    out = {r["hb"]: (r["filled_cents"], r["is_observed"])
           for r in all_queries()["resample_ffill"].fn(
               spark, str(tmp_path)).collect()}
    assert out == {0: (100, 1), 1: (100, 0), 2: (100, 0), 3: (200, 1)}


def test_triangle_sampling_invariants(spark):
    from quatrain_mapreduce_spark.registry import all_queries
    sf = "/root/testdata/sf0.01"
    r = all_queries()["triangle_count_sampled"].fn(spark, sf).collect()[0]
    # deterministic estimator transform
    assert r["tri_estimate"] == 64 * r["tri_sampled"]
    # portable-hash sampling keeps ~1/4 of edges (597 at sf0.01)
    assert 597 // 8 <= r["n_sampled_edges"] <= 597 // 2


def test_graph_summary_hand_graph(spark, tmp_path):
    import json
    import pyspark.sql.functions as F
    # co-purchase graph from purchases sharing (k, day): make K3 {1,2,3}
    # via item k=1 day 0, plus pendant 4 attached to 3 via k=2 day 0.
    # Summary: 4 vertices, 4 edges, wedges C(2,2)*... degrees: 1:2, 2:2,
    # 3:3, 4:1 -> wedges 1+1+3+0 = 5, triangles 1, cc = 3/5 = 0.6
    rows = []
    eid = 0
    for u in (1, 2, 3):
        eid += 1
        rows.append((eid, u, 0, "purchase", json.dumps({"k": 1})))
    for u in (3, 4):
        eid += 1
        rows.append((eid, u, 0, "purchase", json.dumps({"k": 2})))
    spark.createDataFrame(
        rows, "event_id long, user_id long, us long, event_type string, "
              "props string"
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("ts"),
             "event_type", "props").write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet"))
    from quatrain_mapreduce_spark.registry import all_queries
    [r] = all_queries()["graph_summary"].fn(spark, str(tmp_path)).collect()
    assert (r["n_vertices"], r["n_edges"], r["max_degree"]) == (4, 4, 3)
    assert (r["n_wedges"], r["n_triangles"]) == (5, 1)
    assert r["clustering_coeff"] == 0.6


def test_lpa_matches_python_model(spark, sf_dir):
    import pyspark.sql.functions as F
    from quatrain_mapreduce_spark.catalog import load_table
    from quatrain_mapreduce_spark.registry import all_queries

    got = {r["vertex"]: r["community"]
           for r in all_queries()["lpa_communities"].fn(
               spark, sf_dir).collect()}
    # rebuild the same edges, replay 5 synchronous min-tie rounds in Python
    ev = load_table(spark, sf_dir, "events")
    bip = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("u"),
            (F.get_json_object("props", "$.k").cast("int") * 100
             + F.expr("CAST(unix_micros(ts) div 86400000000 AS INT) % 30")
             ).alias("item"))
        .distinct())
    x, y = bip.alias("x"), bip.alias("y")
    pairs = (x.join(y, (F.col("x.item") == F.col("y.item"))
                    & (F.col("x.u") < F.col("y.u")))
             .select(F.col("x.u").alias("src"), F.col("y.u").alias("dst"))
             .distinct().collect())
    adj = {}
    for r in pairs:
        adj.setdefault(r["src"], set()).add(r["dst"])
        adj.setdefault(r["dst"], set()).add(r["src"])
    labels = {v: v for v in adj}
    for _ in range(5):
        new = {}
        for v, ns in adj.items():
            counts = {}
            for n in ns:
                counts[labels[n]] = counts.get(labels[n], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    assert got == labels


def test_lpa_two_cliques_hand_graph(spark):
    from quatrain_mapreduce_spark.operators.graph import lpa_communities
    # two K4 cliques {1..4} and {10..13} joined by one bridge 4-10:
    # each clique converges to its own min label
    e = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    e += [(4, 10)]
    edges = spark.createDataFrame(e, "src long, dst long")
    out = {r["vertex"]: r["community"]
           for r in lpa_communities(edges, rounds=5).collect()}
    assert all(out[v] == 1 for v in (1, 2, 3, 4))
    assert all(out[v] == 10 for v in (10, 11, 12, 13))


def test_pagerank_fixed_point_matches_pure_python(spark):
    from quatrain_mapreduce_spark.operators.graph import pagerank_fixed_point

    # path 1-2-3 plus triangle 4-5-6 bridged at 3-4; duplicates/reversals in.
    raw = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (4, 6), (6, 4), (2, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    out = {
        r["vertex"]: r["rank_fp"]
        for r in pagerank_fixed_point(edges, iters=5, scale=10**9).collect()
    }

    # independent pure-Python model with the SAME integer arithmetic
    canon = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    adj: dict[int, set[int]] = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    scale, tele = 10**9, 10**9 * 3 // 20
    r = {v: scale for v in adj}
    for _ in range(5):
        nxt = {v: tele for v in adj}
        for u, nbrs in adj.items():
            c = (r[u] * 17) // (20 * len(nbrs))
            for v in nbrs:
                nxt[v] += c
        r = nxt
    assert out == r
    # mass conservation up to truncation: sum <= n*scale, within n*iters units
    assert 0 <= len(adj) * scale - sum(out.values()) < len(adj) * 5 * 20 * 10


def test_pagerank_star_center_dominates(spark):
    from quatrain_mapreduce_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "src long, dst long"
    )
    out = {r["vertex"]: r["rank_fp"] for r in pagerank_fixed_point(edges, iters=5).collect()}
    assert out[0] == max(out.values())
    # leaves are symmetric: identical ranks
    assert len({out[i] for i in range(1, 9)}) == 1


def test_graph_operators_leave_the_cache_clean(spark, sf_dir):
    """Each iterative graph operator, and each triangle-tier query, releases
    what it persisted (its edge and degree caches, every superseded round,
    the derived-once edge sets) before it returns: the session's cache
    manager stays empty, also after the result is collected, and the only
    new persistent RDD is the checkpoint of the returned state."""
    from quatrain_mapreduce_spark.operators.components import connected_components
    from quatrain_mapreduce_spark.operators.graph import (
        bfs_distances, k_core_vertices, lpa_communities, pagerank_fixed_point,
    )
    from quatrain_mapreduce_spark.registry import all_queries

    e = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5), (5, 6)]
    edges = spark.createDataFrame(e, "src long, dst long")
    calls = {
        "bfs_distances": lambda: bfs_distances(edges, edges.agg(F.min("src"))),
        "k_core_vertices": lambda: k_core_vertices(edges, k=3),
        "lpa_communities": lambda: lpa_communities(edges),
        "pagerank_fixed_point": lambda: pagerank_fixed_point(edges),
        "connected_components": lambda: connected_components(edges, "src", "dst"),
    }
    qs = all_queries()
    for q in ("triangle_count", "triangle_count_sampled", "graph_summary",
              "graph_summary_sampled"):
        calls[q] = lambda q=q: qs[q].fn(spark, sf_dir)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for name, call in calls.items():
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        out = call()
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert cache.isEmpty(), name
        assert after - before <= 1, (name, before, after)
        n = out.count()  # reads the returned checkpoint
        assert cache.isEmpty(), name
        # sf0.001's co-purchase graph has no triangle: triangle_count's
        # per-vertex frame is empty there (as its oracle's is)
        assert n > 0 or name == "triangle_count", name
