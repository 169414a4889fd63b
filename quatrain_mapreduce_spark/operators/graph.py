"""Distributed triangle counting — the classic "beyond two-way join" MapReduce
graph workload (Suri & Vassilvitskii, WWW'11 node-iterator++; Cohen's
MapReduce graph-algorithms suite).

Engine extension tier: the reference's join machinery
(contrib/data_join, Hive common join) is strictly binary/equi-key; a
triangle is the smallest query that needs a JOIN OF A JOIN back against the
edge set. The companion to operators/components.py (connectivity) — this is
the local-clustering / cohesion primitive.

Scale design (the part that matters at 100 TB):
- Edges are deduped and canonicalized (src < dst) first — one hash shuffle.
- Each edge is then ORIENTED from its lower-(degree, id) endpoint to its
  higher-(degree, id) endpoint. Wedge enumeration joins oriented edges on
  their source, so each vertex v contributes C(outdeg(v), 2) wedges and the
  orientation bounds outdeg by O(sqrt(m)) on any graph (arboricity bound) —
  the star-vertex blowup of naive id-ordering (a celebrity node with 10^6
  neighbors => 5*10^11 wedges) cannot happen.
- The closing check is one more hash join of wedges against oriented edges.
  Total: 3 shuffles, all equi-key, no driver state, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def co_purchase_edges(events: DataFrame) -> DataFrame:
    """Edge list of the co-purchase graph: users connected iff they
    purchased the same derived item key (props.k x purchase-day-of-month
    bucket). ONE definition for the whole graph tier (triangles, sampled
    triangles, BFS, k-core, LPA, PageRank, summary) — seven queries
    previously inlined this construction verbatim, and a drift in the
    item-key formula at one site would silently give that query a
    different graph (review finding). Every oracle still re-derives the
    edges independently in SQL.

    Integer `div`, not `/` + cast — double division of an ~1e15 epoch
    loses ulps exactly at day boundaries. Returns (src, dst), src < dst,
    distinct.
    """
    bip = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("u"),
            (
                F.get_json_object("props", "$.k").cast("int") * 100
                + F.expr("CAST(unix_micros(ts) div 86400000000 AS INT) % 30")
            ).alias("item"),
        )
        .distinct()
    )
    x, y = bip.alias("x"), bip.alias("y")
    return (
        x.join(
            y,
            (F.col("x.item") == F.col("y.item"))
            & (F.col("x.u") < F.col("y.u")),
        )
        .select(F.col("x.u").alias("src"), F.col("y.u").alias("dst"))
        .distinct()
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle participation counts.

    ``edges`` is an undirected edge list (self-loops and duplicate /
    reversed pairs tolerated — canonicalized here). Returns
    ``(vertex, n_triangles)`` for every vertex in at least one triangle;
    the global triangle count is ``sum(n_triangles) / 3``.
    """
    from pyspark.storagelevel import StorageLevel

    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    # persist the canonicalized edge set: it has FOUR live consumers below
    # (degree union x2, orientation, closing-edge probe) and without the
    # persist each consumer re-derives it from the caller's edge
    # construction — for the co-purchase graph a full events self-join,
    # so one triangle count scanned events 22x (r13 plan census).
    # MEMORY_AND_DISK: edge lists at 100 TB spill, not recompute. Same
    # lazy-query persist precedent as basket_affinity / the sampled
    # triangle tier.
    undirected = (
        edges.where(F.col(src) != F.col(dst))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    deg = (
        undirected.select(F.col("a").alias("v"))
        .unionAll(undirected.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )

    # Orient a->b iff (deg(a), a) < (deg(b), b): total order, so every
    # undirected edge appears exactly once, pointing at the "heavier" end.
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        undirected.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("s"), F.col("b").alias("d")),
            )
            .otherwise(F.struct(F.col("b").alias("s"), F.col("a").alias("d")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.d").alias("d"))
    )

    # Wedges: two oriented edges out of the same source; (x, y) ordered so
    # the closing edge can be probed in canonical (min, max) form.
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.s") == F.col("e2.s")).where(
        F.col("e1.d") < F.col("e2.d")
    ).select(
        F.col("e1.s").alias("apex"),
        F.col("e1.d").alias("x"),
        F.col("e2.d").alias("y"),
    )

    closing = undirected.select(F.col("a").alias("x"), F.col("b").alias("y"))
    triangles = wedges.join(closing, ["x", "y"])

    return (
        triangles.select(
            F.explode(F.array(F.col("apex"), F.col("x"), F.col("y"))).alias("vertex")
        )
        .groupBy("vertex")
        .agg(F.count("*").alias("n_triangles"))
    )


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The persisted undirected edge list ``(a, b)``: each edge in both
    directions, once. The caller unpersists it."""
    return edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionAll(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct().persist()


def bfs_distances(
    edges: DataFrame,
    source_expr,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-hop BFS: (vertex, dist) for every vertex within ``max_hops``
    of the source. ``source_expr`` is a 1-row 1-column DataFrame holding the
    source vertex (data-derived sources stay inside the plan — no collect).

    Frontier-style iteration, unrolled ``max_hops`` times (fixed depth =
    deterministic plan; convergence-driven iteration with checkpointing is
    operators/components.py's job): each hop joins the CURRENT FRONTIER
    ONLY (never the full visited set) against the symmetrized edge list,
    anti-joins out already-visited vertices, and persists the small
    frontier/visited frames — per-hop cost is O(frontier-adjacent edges),
    the textbook BFS work bound.
    """
    # Persist the symmetrized edge list: every hop joins against it, and
    # without the persist each hop's plan re-derives it from the caller's
    # edge construction (for the co-purchase graph, a full self-join) —
    # 3x the work and a plan tree that grows per hop.
    sym = _symmetric(edges, src, dst)

    source = source_expr.toDF("vertex").select(
        "vertex", F.lit(0).alias("dist")
    )
    visited = source.persist()
    interim = [visited]
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier.vertex == sym.a)
            .select(F.col("b").alias("vertex"))
            .distinct()
            .join(visited, "vertex", "left_anti")
            .select("vertex", F.lit(hop).alias("dist"))
        )
        visited = visited.unionAll(nxt).persist()
        interim.append(visited)
        frontier = nxt
    # materialize the final distance table once, then release the edge
    # cache and every per-hop frame — the lpa/pagerank release discipline
    # (leaving one persisted frame per hop per call leaked cache into
    # long-lived sessions; the suite-level clearCache was the bandaid)
    visited.count()
    for f in interim[:-1]:
        f.unpersist()
    sym.unpersist()
    return visited


def k_core_vertices(
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which every
    vertex has degree >= k, found by iterative peeling (Matula & Beck 1983;
    the Batagelj-Zaversnik sequential algorithm's distributed fixpoint
    twin). Returns (vertex, core_degree) for surviving vertices, with
    core_degree the vertex's degree INSIDE the core.

    Completes the graph-cohesion tier: components (connectivity), BFS
    (reachability), triangles (local clustering) — k-core is the global
    density primitive behind community seeding and spam-farm detection.

    Scale design: each peel round is one map-combinable degree count over
    the LIVE edge set plus two broadcast-able anti-joins removing the
    sub-k vertices' edges; work per round is proportional to the remaining
    edges. The loop exits on the first round that removes nothing (the
    fixpoint check is a 1-row count, the components-convergence
    convention, not per-row driver state); real graphs peel in a handful
    of rounds, but chain-shaped shells peel only their endpoints per
    round, so convergence is NOT guaranteed inside ``max_iter`` — if the
    cap is hit mid-peel the function RAISES rather than silently
    returning a non-core (a membership set with sub-k vertices would
    violate the contract the callers and the pure-Python parity test
    assume).
    """
    sym = _symmetric(edges, src, dst)

    live = sym
    converged = False
    for _ in range(max_iter):
        deg = live.groupBy("a").agg(F.count("*").alias("deg"))
        bad = deg.where(F.col("deg") < k).select("a").persist()
        if bad.limit(1).count() == 0:
            bad.unpersist()
            converged = True
            break
        nxt = (
            live.join(bad, "a", "left_anti")
            .join(bad.withColumnRenamed("a", "b"), "b", "left_anti")
            .persist()
        )
        nxt.count()  # materialize before dropping the parent cache
        live.unpersist()
        bad.unpersist()
        live = nxt
    if not converged:
        raise RuntimeError(
            f"k_core_vertices: peeling did not reach the fixpoint within "
            f"max_iter={max_iter} rounds — the live set still contains "
            f"sub-{k} vertices; raise max_iter (chain-shaped shells peel "
            f"O(n) rounds)"
        )
    return live.groupBy("a").agg(F.count("*").cast("bigint").alias("core_degree")) \
               .select(F.col("a").alias("vertex"), "core_degree")


def lpa_communities(
    edges: DataFrame,
    rounds: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007), made
    DETERMINISTIC: synchronous rounds (every vertex updates from the same
    previous labeling — classic LPA's asynchronous sweep is order-
    dependent), each vertex adopting the most frequent neighbor label
    with ties broken toward the SMALLEST label, for a FIXED number of
    rounds. Deterministic-by-construction beats converged-but-
    irreproducible for an engine whose contract is hash-checkable output;
    the components operator remains the exact-connectivity tier, this is
    the density-community tier.

    Scale shape per round: one join of the edge list against the
    vertex-label table (both keyed by vertex — co-partitioned after the
    first round), one map-combinable (vertex, label) count, one max_by
    argmax agg. State is ONE label per vertex, persisted and swapped each
    round; no driver-side graph.
    """
    sym = _symmetric(edges, src, dst)

    labels = sym.select(F.col("a").alias("vertex")).distinct() \
                .withColumn("label", F.col("vertex")).persist()
    for _ in range(rounds):
        nbr = sym.join(labels, sym["b"] == labels["vertex"]) \
                 .select("a", "label")
        counts = nbr.groupBy("a", "label").agg(F.count("*").alias("c"))
        nxt = counts.groupBy("a").agg(
            F.expr("max_by(label, struct(c, -label))").alias("label")
        ).select(F.col("a").alias("vertex"), "label").persist()
        nxt.count()
        labels.unpersist()
        labels = nxt
    # final labels are persisted+materialized; the edge cache has no
    # further consumer — release it instead of leaking it into the session
    sym.unpersist()
    return labels.select("vertex", F.col("label").alias("community"))


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 10**9,
    damp_num: int = 17,
    damp_den: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank (Brin & Page 1998) over the symmetrized graph, computed in
    EXACT FIXED-POINT INTEGER arithmetic: ranks are BIGINTs scaled by
    ``scale``, the damping factor rides as the integer fraction
    ``damp_num/damp_den`` (default 17/20 = 0.85), and each neighbor
    contribution is ``(rank * damp_num) div (damp_den * degree)`` — integer
    division, identical in every engine. Classic float PageRank is
    partition-order ulp-nondeterministic (the sum over in-neighbors
    reassociates); the fixed-point form makes 5 iterations of an iterative
    centrality hash-checkable against an independent SQL unrolling — the
    trend_slope lesson applied to iterative graph state.

    Returns (vertex, rank_fp) with rank_fp in units of 1/scale. Mass
    sum(rank_fp) is bounded by n_vertices * scale, so pick ``scale`` such
    that n * scale * damp_num fits int64 (1e9 is safe to ~5e8 vertices; a
    100 TB web graph drops to 1e6 and keeps 6 exact decimal digits).

    Scale design: degree is computed ONCE; each iteration is one hash join
    of the rank table against the edge list on the source vertex plus one
    map-combinable sum keyed by destination — the Pregel superstep shape.
    Rank state is one BIGINT per vertex, persisted and swapped per round;
    edges stay cached with one fixed partitioning so every iteration
    reuses the same shuffle layout. No dangling-mass term is needed: the
    symmetrized graph has no zero-out-degree vertices by construction.
    """
    sym = _symmetric(edges, src, dst)

    deg = sym.groupBy("a").agg(F.count("*").alias("d")).persist()
    teleport = scale * (damp_den - damp_num) // damp_den
    ranks = deg.select(F.col("a").alias("v"), F.lit(scale).cast("bigint").alias("r"))
    for _ in range(iters):
        share = (
            ranks.alias("rk")
            .join(deg.alias("dg"), F.col("rk.v") == F.col("dg.a"))
            .select(
                F.col("rk.v").alias("sv"),
                F.expr(f"(rk.r * {damp_num}) div ({damp_den} * dg.d)").alias("c"),
            )
        )
        nxt = (
            share.join(sym.alias("ed"), F.col("sv") == F.col("ed.a"))
            .groupBy(F.col("ed.b").alias("v"))
            .agg((F.lit(teleport) + F.sum("c")).cast("bigint").alias("r"))
            .persist()
        )
        nxt.count()
        ranks.unpersist()
        ranks = nxt
    # final ranks are persisted+materialized; edge/degree caches have no
    # further consumer — release them instead of leaking into the session
    sym.unpersist()
    deg.unpersist()
    return ranks.select(F.col("v").alias("vertex"), F.col("r").alias("rank_fp"))
