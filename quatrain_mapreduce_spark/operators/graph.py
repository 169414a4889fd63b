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

The iterative operators — BFS, k-core, LPA and PageRank here, connected
components in operators/components.py — share one superstep kernel,
``_supersteps`` (Pregel supersteps as dataflow rounds with lineage cut by
checkpointing, as in GraphX): each round is one eager ``localCheckpoint``
job carrying an ``observe``d fingerprint, the superseded round's
checkpoint is released, and a fixpoint loop that hits its round cap
raises. The triangle tier derives its shared edge sets once through
``derive_once`` under the same release rule. On a cluster, swap
localCheckpoint for a reliable checkpoint dir: ``_checkpoint`` is the one
call site for the whole tier.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def co_purchase_edges(events: DataFrame) -> DataFrame:
    """Edge list of the co-purchase graph: users connected iff they
    purchased the same derived item key (props.k x purchase-day-of-month
    bucket). ONE definition for the whole graph tier (triangles, sampled
    triangles, BFS, k-core, LPA, PageRank, summary) — seven queries
    previously inlined this construction verbatim, and a drift in the
    item-key formula at one site would silently give that query a
    different graph (review finding). Every oracle re-derives the edges
    independently in SQL, from ``CO_PURCHASE_EDGES_SQL``.

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


# DuckDB twin of ``co_purchase_edges`` for the graph oracles: the CTE pair
# ``b`` (user, item) and ``e`` (a, b) with a < b, composed as
# ``WITH {CO_PURCHASE_EDGES_SQL}, ...``. Written apart from the Spark
# expressions so every oracle built on it stays an independent check.
CO_PURCHASE_EDGES_SQL = """b AS (
            SELECT DISTINCT user_id AS u,
                   CAST(json_extract_string(props, '$.k') AS INT) * 100
                     + CAST(epoch_us(ts) // 86400000000 AS INT) % 30 AS item
            FROM events WHERE event_type = 'purchase'
        ), e AS (
            SELECT DISTINCT x.u AS a, y.u AS b
            FROM b x JOIN b y ON x.item = y.item AND x.u < y.u
        )"""


def _checkpoint(df: DataFrame) -> DataFrame:
    """``df`` materialized by ONE eager ``localCheckpoint`` job; the returned
    frame reads the checkpointed blocks, its lineage cut."""
    return df.localCheckpoint(eager=True)


def _rdd(checkpointed: DataFrame):
    """The RDD a ``_checkpoint`` frame reads."""
    return checkpointed._jdf.queryExecution().logical().rdd()


def _release(checkpointed: DataFrame) -> None:
    _rdd(checkpointed).unpersist(False)


def derive_once(build: Callable[[DataFrame], DataFrame], shared: DataFrame) -> DataFrame:
    """``build(shared)`` materialized by one checkpoint, ``shared``
    checkpointed first, so that its consumers in ``build`` read it once
    instead of re-deriving it (for the co-purchase graph, an events
    self-join: a triangle count scanned events 22x, a graph summary 28x,
    before their edge sets were derived once).

    The superstep kernel's release rule: once the result is materialized,
    the checkpoints it was built from that this call made — ``shared``'s
    and those returned by graph operators ``build`` called — are released,
    so only the returned checkpoint stays persisted, and nothing enters the
    session's cache manager."""
    before = set(shared.sparkSession.sparkContext._jsc.getPersistentRDDs().keys())
    source, built = _checkpoint(shared), None
    try:
        built = build(source)
        return _checkpoint(built)
    finally:
        read = [_rdd(source)]
        if built is not None:
            leaves = built._jdf.queryExecution().logical().collectLeaves()
            for leaf in (leaves.apply(i) for i in range(leaves.size())):
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    read.append(leaf.rdd())
        for rdd in read:
            if rdd.id() not in before:
                rdd.unpersist(False)


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle participation counts, materialized.

    ``edges`` is an undirected edge list (self-loops and duplicate /
    reversed pairs tolerated — canonicalized here). Returns
    ``(vertex, n_triangles)`` for every vertex in at least one triangle;
    the global triangle count is ``sum(n_triangles) / 3``. The canonical
    edge set has FOUR consumers (degree union x2, orientation, closing-edge
    probe), so it is derived once (``derive_once``).
    """
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    canonical = (
        edges.where(F.col(src) != F.col(dst))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
    )
    return derive_once(_triangles, canonical)


def _triangles(undirected: DataFrame) -> DataFrame:
    """``triangle_counts`` over a canonical ``(a, b)``, a < b, edge set."""
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


def _symmetric(edges: DataFrame) -> DataFrame:
    """The undirected edge list ``(a, b)`` of a ``(src, dst)`` frame: each
    edge in both directions, once."""
    return edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    ).distinct()


def _supersteps(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    fixpoint: bool = False,
) -> DataFrame:
    """The graph tier's one round loop: ``state``, then ``step(state, i)``
    for ``i`` in ``range(rounds)``, each materialized by ONE eager
    ``localCheckpoint`` job that also computes the state's ``observe``d
    fingerprint (row count + decimal(38,0) sum of xxhash64 over all
    columns; a raw int64 sum overflows under ANSI after a few rows). Once a
    successor is materialized, the superseded checkpoint's RDD is
    unpersisted, so only the returned state stays persisted and no round's
    plan is more than one step deep.

    ``fixpoint=True`` stops at the first round whose fingerprint equals its
    predecessor's (a false stop needs equal counts AND colliding hash sums)
    and raises if ``rounds`` pass without one: a capped contraction or peel
    is a wrong answer, not a partial one. A step keeps its columns in one
    order — the fingerprint hashes them positionally.
    """

    def materialize(df: DataFrame) -> tuple[DataFrame, tuple]:
        obs = Observation()
        h = F.xxhash64(*df.columns).cast("decimal(38,0)")
        out = _checkpoint(df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("h"),
        ))
        m = obs.get  # populated by the checkpoint's own job
        return out, (m["n"], m["h"])

    state, fp = materialize(state)
    for i in range(rounds):
        try:
            nxt, nfp = materialize(step(state, i))
        finally:
            _release(state)
        state = nxt
        if fixpoint and nfp == fp:
            return state
        fp = nfp
    if fixpoint:
        _release(state)
        raise RuntimeError(f"no fixpoint within rounds={rounds}")
    return state


def bfs_distances(edges: DataFrame, source_expr, max_hops: int = 3) -> DataFrame:
    """Bounded-hop BFS: (vertex, dist) for every vertex within ``max_hops``
    of the source. ``source_expr`` is a 1-row 1-column DataFrame holding the
    source vertex (data-derived sources stay inside the plan — no collect).

    One superstep per hop over the state ``visited(vertex, dist)``: the
    frontier is ``dist == i``, joined (never the full visited set) against
    the symmetrized edge list, with already-visited vertices anti-joined
    out — per-hop cost is O(frontier-adjacent edges), the textbook BFS
    work bound.
    """
    # every hop joins the symmetrized edges: persisted, they derive once
    # from the caller's edge construction (a self-join for co-purchase)
    sym = _symmetric(edges).persist()

    def hop(visited: DataFrame, i: int) -> DataFrame:
        frontier = visited.where(F.col("dist") == i)
        reached = (
            frontier.join(sym, frontier.vertex == sym.a)
            .select(F.col("b").alias("vertex"))
            .distinct()
            .join(visited, "vertex", "left_anti")
        )
        return visited.unionAll(reached.select("vertex", F.lit(i + 1).alias("dist")))

    try:
        source = source_expr.toDF("vertex").select("vertex", F.lit(0).alias("dist"))
        return _supersteps(source, hop, max_hops)
    finally:
        sym.unpersist()


def k_core_vertices(edges: DataFrame, k: int) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which every
    vertex has degree >= k, found by iterative peeling (Matula & Beck 1983;
    the Batagelj-Zaversnik sequential algorithm's distributed fixpoint
    twin). Returns (vertex, core_degree) for surviving vertices, with
    core_degree the vertex's degree INSIDE the core.

    Completes the graph-cohesion tier: components (connectivity), BFS
    (reachability), triangles (local clustering) — k-core is the global
    density primitive behind community seeding and spam-farm detection.

    Scale design: the superstep state is the LIVE edge set; each peel round
    is one map-combinable degree count plus two anti-joins removing the
    sub-k vertices' edges, so work per round is proportional to the
    remaining edges. The round that removes nothing is the fixpoint.
    Chain-shaped shells peel only their endpoints per round, so past 100
    rounds the kernel RAISES rather than return a membership set with
    sub-k vertices.
    """

    def peel(live: DataFrame, _: int) -> DataFrame:
        bad = live.groupBy("a").agg(F.count("*").alias("deg")) \
                  .where(F.col("deg") < k).select("a")
        return (
            live.join(bad, "a", "left_anti")
            .join(bad.withColumnRenamed("a", "b"), "b", "left_anti")
            .select("a", "b")
        )

    live = _supersteps(_symmetric(edges), peel, 100, fixpoint=True)
    return live.groupBy("a").agg(F.count("*").cast("bigint").alias("core_degree")) \
               .select(F.col("a").alias("vertex"), "core_degree")


def lpa_communities(edges: DataFrame, rounds: int = 5) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007), made
    DETERMINISTIC: synchronous rounds (every vertex updates from the same
    previous labeling — classic LPA's asynchronous sweep is order-
    dependent), each vertex adopting the most frequent neighbor label
    with ties broken toward the SMALLEST label, for a FIXED number of
    rounds. Deterministic-by-construction beats converged-but-
    irreproducible for an engine whose contract is hash-checkable output;
    the components operator remains the exact-connectivity tier, this is
    the density-community tier.

    Scale shape per superstep: one join of the edge list against the
    vertex-label table (both keyed by vertex), one map-combinable
    (vertex, label) count, one max_by argmax agg. State is ONE label per
    vertex; no driver-side graph.
    """
    sym = _symmetric(edges).persist()

    def propagate(labels: DataFrame, _: int) -> DataFrame:
        nbr = sym.join(labels, sym["b"] == labels["vertex"]).select("a", "label")
        counts = nbr.groupBy("a", "label").agg(F.count("*").alias("c"))
        return counts.groupBy("a").agg(
            F.expr("max_by(label, struct(c, -label))").alias("label")
        ).select(F.col("a").alias("vertex"), "label")

    try:
        labels = sym.select(F.col("a").alias("vertex")).distinct() \
                    .withColumn("label", F.col("vertex"))
        labels = _supersteps(labels, propagate, rounds)
    finally:
        sym.unpersist()
    return labels.select("vertex", F.col("label").alias("community"))


def pagerank_fixed_point(edges: DataFrame, iters: int = 5, scale: int = 10**9) -> DataFrame:
    """PageRank (Brin & Page 1998) over the symmetrized graph, computed in
    EXACT FIXED-POINT INTEGER arithmetic: ranks are BIGINTs scaled by
    ``scale``, the damping factor rides as the integer fraction 17/20
    (= 0.85), and each neighbor contribution is
    ``(rank * 17) div (20 * degree)`` — integer division, identical in
    every engine. Classic float PageRank is partition-order
    ulp-nondeterministic (the sum over in-neighbors reassociates); the
    fixed-point form makes 5 iterations of an iterative centrality
    hash-checkable against an independent SQL unrolling — the trend_slope
    lesson applied to iterative graph state.

    Returns (vertex, rank_fp) with rank_fp in units of 1/scale. Mass
    sum(rank_fp) is bounded by n_vertices * scale, so pick ``scale`` such
    that n * scale * 17 fits int64 (1e9 is safe to ~5e8 vertices; a
    100 TB web graph drops to 1e6 and keeps 6 exact decimal digits).

    Scale design: degree is computed ONCE; each superstep is one hash join
    of the rank table against the edge list on the source vertex plus one
    map-combinable sum keyed by destination. Rank state is one BIGINT per
    vertex; edges and degrees stay cached across supersteps. No
    dangling-mass term is needed: the symmetrized graph has no
    zero-out-degree vertices by construction.
    """
    sym = _symmetric(edges).persist()
    deg = sym.groupBy("a").agg(F.count("*").alias("d")).persist()
    teleport = scale * (20 - 17) // 20

    def iterate(ranks: DataFrame, _: int) -> DataFrame:
        share = (
            ranks.alias("rk")
            .join(deg.alias("dg"), F.col("rk.v") == F.col("dg.a"))
            .select(
                F.col("rk.v").alias("sv"),
                F.expr("(rk.r * 17) div (20 * dg.d)").alias("c"),
            )
        )
        return (
            share.join(sym.alias("ed"), F.col("sv") == F.col("ed.a"))
            .groupBy(F.col("ed.b").alias("v"))
            .agg((F.lit(teleport) + F.sum("c")).cast("bigint").alias("r"))
        )

    try:
        ranks = deg.select(F.col("a").alias("v"), F.lit(scale).cast("bigint").alias("r"))
        ranks = _supersteps(ranks, iterate, iters)
    finally:
        sym.unpersist()
        deg.unpersist()
    return ranks.select(F.col("v").alias("vertex"), F.col("r").alias("rank_fp"))
