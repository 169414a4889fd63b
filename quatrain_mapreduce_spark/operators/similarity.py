"""Similarity search over embedding columns (array<float>).

Engine extension (no reference analogue). Two tiers:

- brute_force_topk: exact cosine top-k of every query against the corpus.
  Queries are broadcast (small side), candidates stream — one scan of the
  corpus, no shuffle of the big side; per-pair math is JVM-side
  (zip_with/aggregate inside codegen). The correctness baseline.

- lsh_topk: random-hyperplane LSH (Charikar '02), multi-table: L independent
  hash tables of ``n_planes`` sign bits each; search compares only within
  matching (table, bucket) cells, optionally multi-probing hamming-1
  neighbor buckets. Recall is governed by L × multiprobe; cost stays linear
  and bucket-partitioned. At 100 TB raise ``n_planes`` (bucket count grows
  2^n_planes) and L together instead of widening buckets.

- embedding_neardup_pairs: banded sign-signature blocking (pigeonhole: two
  vectors whose sign patterns differ in < n_bands positions share at least
  one identical band), cosine-verified. Its bucket cap, bucket self-join and
  two-sided vector join are the near-dup kernel of ``dedup.py`` (``_capped``,
  ``_bucket_pairs``, ``_sides``), shared with the MinHash/SimHash pipelines.

Vector dimensionality is an explicit parameter everywhere (it is pipeline
configuration, like the embedding model itself); ``embedding_dim`` reads it
from a parquet footer + first value locally — a metadata peek, never a Spark
job in the query plan.

All arithmetic is float→double widened, sequential-fold accumulation, so
results are deterministic and engine-comparable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.dedup import _bucket_pairs, _capped, _sides

# Literal-fold size gate (ADVICE r13): the scan-local argmin/argmax fold of
# ``_assign`` embeds every centroid/codeword component as a Catalyst
# literal — O(n_lists·dim) (IVF) / O(k·dim) (PQ) expression nodes REBUILT
# PER LLOYD PASS. At production index sizes (n_lists=4096, dim=768, or
# k=256) that is millions of nodes: plan analysis/serialization dominates
# runtime or exhausts driver memory. Above this many embedded doubles the
# assignment falls back to the broadcast-join + max_by/min_by shape (the
# pre-r13 form): its SortAggregate pair is a map-side pre-collapse of the
# N×C expansion (the documented cdc_apply_orders class) and its plan size
# is O(1) in the index parameters.
FOLD_MAX_LITERALS = 50000


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    # norm clamp: one all-zero embedding (padding / failed-encode row)
    # otherwise raises DIVIDE_BY_ZERO under Spark 4's default ANSI mode —
    # or, with ANSI off, yields NaN which sorts ABOVE every real score and
    # becomes the rank-1 neighbor of every query. Clamped, a zero vector
    # scores 0.0 against everything. Same guard as SemDeDup's pairwise
    # verify (clustering.py) and quantize_embeddings.
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-300))


def embedding_dim(parquet_path: str) -> int:
    """``embedding`` vector dimensionality from one locally-read value
    (pyarrow, no Spark job). In production the dim is pipeline config; this helper exists so
    test harnesses don't hardcode it. Accepts a single parquet file OR a
    table directory (real lakehouse tables are multi-file directories —
    peek the first part file)."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = parquet_path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part files in {path}")
        path = parts[0]
    pf = pq.ParquetFile(path)
    batch = next(pf.iter_batches(batch_size=1, columns=["embedding"]))
    return len(batch.column(0)[0])


def _top(scored: DataFrame, score: str, k: int, tie: str = "neighbor_id") -> DataFrame:
    """``scored`` plus ``rk``: each q_id's rows ranked by ``score``
    descending, ties to the lowest ``tie``, kept while rk <= k."""
    w = Window.partitionBy("q_id").orderBy(F.desc(score), F.asc(tie))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str, k: int = 10
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × streamed corpus, rank window.

    Emits (q_id, neighbor_id, rk, cos) with cos rounded to 6dp and id
    tie-breaks, so ranking is deterministic.
    """
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos"))
    )
    return _top(scored, "cos", k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed → reproducible buckets)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def _sign_term(vec_col: str, p: list[float], weight: int) -> str:
    """SQL text for ``weight * (sign(vec · p) >= 0)`` — a constant plane dot
    product as pure expression text.

    Expression TEXT, not a Column tree: constructing the same tree with
    F.lit/F.array/python-lambda HOFs costs a py4j round trip per element and
    per lambda — measured at 4-5 s of pure driver time for 80 planes × 64
    dims. A single SQL string parses JVM-side in one call (~0.1 s)."""
    arr = "array(" + ",".join(f"{v!r}D" for v in p) + ")"
    dot = (f"aggregate(zip_with(CAST({vec_col} AS ARRAY<DOUBLE>), {arr}, "
           f"(x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    return f"(CASE WHEN {dot} >= 0D THEN {weight} ELSE 0 END)"


def sign_bits(vec_col: str, planes: list[list[float]]) -> list[Column]:
    """One 0/1 bit per hyperplane: sign(vec · plane_i) >= 0."""
    return [F.expr(_sign_term(vec_col, p, 1)) for p in planes]


def _all_table_buckets(tables: list[list[list[float]]], dim: int):
    """Vectorized Arrow UDF computing every table's bucket id for one vector
    column: array<bigint> of length n_tables (r13 optimization).

    Bit-for-bit equal to packing ``sign_bits``' JVM expressions, by
    construction: the per-plane dot is float64 products summed via
    ``np.cumsum`` along the dim axis — the same sequential left-fold add
    order as the SQL ``aggregate(zip_with(...), 0D, (acc, x) -> acc + x)``
    — and the sign test is ``~(dot < 0)`` because Spark orders NaN above
    all doubles (so ``NaN >= 0`` is true JVM-side, while numpy's ``>=`` is
    false). Inputs that the SQL form nulls out (null vector, length
    mismatch: zip_with pads with null and the fold propagates it, making
    every CASE arm 0) produce bucket 0 per table here too.

    Why not the SQL expression (previous shape): n_tables × n_planes dot
    products against literal plane arrays is a ~100 KB generated expression
    per column — most of its wall was Catalyst/codegen time, and the
    per-element lambda evaluation is interpreted. One numpy batch op per
    Arrow batch measured 1.09 s → 0.60 s on the corpus side at sf0.1 with
    identical cells, and the advantage grows with corpus size (the
    interpreted per-element cost is O(rows × planes × dim)).
    """
    from pyspark.sql.functions import pandas_udf

    n_tables, n_planes = len(tables), len(tables[0])
    planes = np.concatenate(
        [np.asarray(t, dtype=np.float64) for t in tables], axis=0
    ).T.copy()  # (dim, n_tables*n_planes), plane-major within each table
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def buckets(vecs: pd.Series) -> pd.Series:
        out = []
        zero = np.zeros(n_tables, dtype=np.int64)
        for v in vecs:
            if v is None or len(v) != dim:
                out.append(zero)
                continue
            x = np.asarray(v, dtype=np.float64)
            dots = np.cumsum(x[:, None] * planes, axis=0)[-1]
            bits = (~(dots < 0)).astype(np.int64).reshape(n_tables, n_planes)
            out.append((bits * weights).sum(axis=1))
        return pd.Series(out)

    return buckets


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_planes: int = 10,
    n_tables: int = 4,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    L = ``n_tables`` independent tables, each bucketing on ``n_planes`` sign
    bits; a candidate is any corpus vector sharing a (table, bucket) cell with
    the query in ANY table. ``multiprobe`` additionally probes every
    hamming-1 bucket per table. Cost: corpus stored L times (explode), joins
    stay bucket-partitioned; recall rises as 1-(1-p^b)^L.

    Bucket ids pack the sign bits into a bigint, so ``n_planes`` is at most
    63: a 64th weight would overflow int64.
    """
    if n_planes > 63:
        raise ValueError(f"lsh_topk: n_planes={n_planes} > 63 does not fit a bigint bucket id")
    tables = [hyperplanes(dim, n_planes, 42 + 1000 * t) for t in range(n_tables)]
    buckets = _all_table_buckets(tables, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        F.posexplode(buckets(F.col(vec_col))).alias("tab", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        buckets(F.col(vec_col)).alias("qbs"),
    ).select(
        "q_id", "q_vec",
        *[F.element_at("qbs", t + 1).alias(f"qb{t}") for t in range(n_tables)],
    )
    probe_cells = []
    for t in range(n_tables):
        probe_cells.append(F.struct(F.lit(t).alias("tab"), F.col(f"qb{t}").alias("bucket")))
        if multiprobe:
            probe_cells.extend(
                F.struct(F.lit(t).alias("tab"), F.col(f"qb{t}").bitwiseXOR(F.lit(1 << i)).alias("bucket"))
                for i in range(n_planes)
            )
    q = q.select("q_id", "q_vec", F.explode(F.array(*probe_cells)).alias("cell")).select(
        "q_id", "q_vec", "cell.tab", "cell.bucket"
    )
    # cosine BEFORE the pair dedup: a pair colliding in several tables has
    # the same deterministic score, so max(cos) == first-occurrence — and
    # deduping on the scalar plans as a HashAggregate with map-side combine
    # shuffling ONE double per pair, where dropDuplicates over the attached
    # (q_vec, c_vec) arrays planned as a SortAggregate pair (array-typed
    # first() buffers are not hash-aggregatable) sorting the candidate
    # stream twice with both vectors aboard (r13; guide §2.3 "shuffle keys
    # and metadata instead of payloads"). The dots move map-side — parallel
    # flops per occurrence instead of sorted bytes per occurrence.
    scored = (
        c.join(F.broadcast(q), ["tab", "bucket"])
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos"))
        .groupBy("q_id", "neighbor_id")
        .agg(F.max("cos").alias("cos"))
    )
    return _top(scored, "cos", k)


# ---------------------------------------------------------------------------
# The quantizer kernel. IVF and PQ are the same k-means quantizer (Jégou,
# Douze, Schmid, TPAMI 2011): IVF applies it to whole vectors, PQ to m
# subvectors, and SemDeDup's clustering is its assignment step alone. A
# codebook is driver-side index metadata, ``{(sub_id, code): vector}`` —
# m·k PQ codewords, or the n_lists IVF centroids in the one subspace 0.

def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


# metric -> (score, whether the best score is the largest)
_METRICS = {"cos": (cosine, True), "l2": (_l2sq, False)}


def _book_frame(spark, book: dict, code: str, sub: str | None = None) -> DataFrame:
    """``book`` as a frame, (code, c_vec) led by ``sub`` for a subspace
    codebook — small enough to broadcast."""
    names = ([sub] if sub else []) + [code]
    rows = [((s, c) if sub else (c,)) + (v,) for (s, c), v in sorted(book.items())]
    return spark.createDataFrame(
        rows, ", ".join(f"{n} int" for n in names) + ", c_vec array<double>"
    )


def _assign(
    rows: DataFrame, id_col: str, vec: str, book: dict | DataFrame, code: str,
    metric: str, sub: str | None = None,
) -> DataFrame:
    """``rows`` plus ``code``: the id of each row's nearest ``book`` entry
    by ``metric`` ("cos": max cosine, "l2": min squared L2), searched in the
    row's own subspace ``sub`` when given. Ties go to the lowest id, so the
    assignment is total and deterministic. ``book`` is a driver-side
    codebook, or a lazy (code, c_vec) frame.

    Two strategies, chosen by how many doubles the codebook would embed:

    - up to FOLD_MAX_LITERALS, a scan-local fold over the codebook embedded
      as a literal — zero shuffle, zero row expansion. The broadcast shape
      below plans as a SortAggregate pair over the N×C expansion (N·m×k for
      PQ; a struct extremum buffer is not hash-aggregatable — r13): two
      full sorts of C× the corpus per Lloyd pass, which the fold removed
      for IVF and PQ;
    - above it, or for a lazy frame (whose rows are not on the driver), a
      broadcast join + ``max_by``/``min_by(code, struct(score, ±code))``.

    Both use the same score arithmetic and tie-break, so assignments are
    bit-identical either way (tests/test_similarity.py flips the gate).
    """
    score, largest = _METRICS[metric]
    keys = [id_col] + ([sub] if sub else [])
    if isinstance(book, DataFrame) or sum(map(len, book.values())) > FOLD_MAX_LITERALS:
        frame = book if isinstance(book, DataFrame) else _book_frame(
            rows.sparkSession, book, code, sub)
        joined = (rows.join(F.broadcast(frame), sub) if sub
                  else rows.crossJoin(F.broadcast(frame)))
        pick, tie = (F.max_by, -F.col(code)) if largest else (F.min_by, F.col(code))
        return joined.groupBy(*keys).agg(
            *[F.first(c).alias(c) for c in rows.columns if c not in keys],
            pick(code, F.struct(score(F.col(vec), F.col("c_vec")).alias("s"),
                                tie.alias("t"))).alias(code),
        )
    per_sub = [
        F.array(*[
            F.struct(
                F.lit(c).alias("id"),
                F.array(*[F.lit(float(x)) for x in book[(s, c)]])
                 .cast("array<double>").alias("c_vec"),
            )
            for c in sorted(c for s2, c in book if s2 == s)
        ])
        for s in sorted({s for s, _ in book})
    ]
    entries = F.element_at(F.array(*per_sub), F.col(sub) + 1) if sub else per_sub[0]
    scored = F.transform(
        entries,
        lambda e: F.struct(score(F.col(vec), e["c_vec"]).alias("s"), e["id"].alias("id")),
    )
    better = (lambda x, a: x > a) if largest else (lambda x, a: x < a)
    # the null-seed guard makes the first entry the seed, so a row whose
    # scores are all NaN still resolves to the lowest id, like max_by/min_by
    best = F.aggregate(
        scored,
        F.struct(F.lit(None).cast("double").alias("s"), F.lit(None).cast("int").alias("id")),
        lambda a, x: F.when(a["id"].isNull() | better(x["s"], a["s"]), x).otherwise(a),
    )
    return rows.select(*rows.columns, best["id"].alias(code))


def _ordered_mean(vec: Column) -> Column:
    """Elementwise mean of a group's vectors (an aggregate expression),
    summed in sorted order. ``F.avg``'s partial sums follow the plan shape
    and partition count that delivered the rows, so the mean could differ
    in the last ulp between two plans; a canonical order makes it
    bit-identical."""
    vs = F.array_sort(F.collect_list(vec))
    return F.aggregate(
        vs,
        F.transform(vs[0], lambda _: F.lit(0.0)),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        lambda acc: F.transform(acc, lambda x: x / F.size(vs)),
    )


def _lloyd(
    rows: DataFrame, id_col: str, vec: str, book: dict, code: str, metric: str,
    iters: int, sub: str | None = None,
) -> dict:
    """``iters`` Lloyd refinements of ``book`` over ``rows``: assign, then
    move each entry to the ``_ordered_mean`` of its rows, so the codebook
    is bit-identical whichever assignment plan or partition count produced
    it. An entry that drew no rows keeps its previous vector."""
    for _ in range(iters):
        means = (
            _assign(rows, id_col, vec, book, code, metric, sub)
            .groupBy(*([sub] if sub else []), code)
            .agg(_ordered_mean(F.col(vec)).alias("m"))
            .collect()
        )
        book = {**book, **{(r[sub] if sub else 0, r[code]): r["m"] for r in means}}
    return book


def _split(df: DataFrame, key: str, vec: str, dim: int, m: int) -> DataFrame:
    """(key, sub_id, sv): each ``vec`` cut into its ``m`` contiguous
    subvectors of dim/m doubles — PQ's subspaces."""
    sub = dim // m
    assert sub * m == dim, "dim must divide evenly into m subspaces"
    return df.select(
        F.col(key),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("sub_id"),
                    F.slice(F.col(vec).cast("array<double>"),
                            j * sub + 1, sub).alias("sv"),
                )
                for j in range(m)
            ])
        ).alias("s"),
    ).select(key, "s.sub_id", "s.sv")


def _adc_lut(q: DataFrame, codebook: DataFrame, dim: int, m: int) -> DataFrame:
    """The asymmetric-distance lookup table of queries ``q`` (q_id, q_vec):
    (q_id, sub_id, code_id, part), part = dot(query subvector, codeword) —
    Q·m·k rows, broadcast against the corpus codes."""
    return _split(q, "q_id", "q_vec", dim, m).join(F.broadcast(codebook), "sub_id").select(
        "q_id", "sub_id", "code_id",
        _dot(F.col("sv"), F.col("c_vec")).alias("part"),
    )


def _probe(
    queries: DataFrame, id_col: str, vec_col: str, cent_df: DataFrame, score,
    nprobe: int,
) -> DataFrame:
    """(q_id, q_vec, list_id, qc): each query's ``nprobe`` inverted lists
    with the highest ``qc = score(q_vec, centroid)``, ties to the lowest
    list_id."""
    q = queries.select(F.col(id_col).alias("q_id"),
                       F.col(vec_col).cast("array<double>").alias("q_vec"))
    probes = q.crossJoin(F.broadcast(cent_df)).select(
        "q_id", "q_vec", "list_id", score(F.col("q_vec"), F.col("c_vec")).alias("qc"))
    return _top(probes, "qc", nprobe, tie="list_id").select("q_id", "q_vec", "list_id", "qc")


def ivf_build(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_lists: int = 16,
    lloyd_iters: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Build a deterministic IVF (inverted-file) coarse quantizer.

    Seeds = the ``n_lists`` corpus vectors with the smallest
    ``xxhash64('ivf:42', id)`` (a deterministic uniform sample — no data order
    dependence), refined by ``lloyd_iters`` spherical-kmeans iterations
    (``_lloyd``: max-cosine ``_assign``, then each list's ``_ordered_mean``
    — bit-identical across plan shapes and partition counts).

    Returns (centroids, assigned): centroids(list_id, c_vec) — index
    metadata, C×dim doubles, materialized driver-side like any ANN coarse
    quantizer (FAISS ships these in the index header); assigned(id, vec,
    list_id) — the corpus with its inverted-list assignment, ready to be
    written ``partitionBy("list_id")`` so probes prune to nprobe/C of the
    data at scan time.
    """
    from pyspark.storagelevel import StorageLevel

    from quatrain_mapreduce_spark.operators.util import spread

    # spread first: the scan-local assignment fold inherits the scan's
    # partitioning, and a single-file local scan would serialize the N×C
    # flops onto one core (no-op at real scale — spread only repartitions
    # when the scan has fewer partitions than cores)
    c = spread(corpus).select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec"))
    # the projection feeds seeds + every Lloyd assign/means pass — cache it
    # for the duration of the build (released below; the returned lazy
    # assignment re-derives it once, a plain column-pruned scan)
    c = c.persist(StorageLevel.MEMORY_AND_DISK)

    seeds = (
        c.withColumn("h", F.xxhash64(F.lit("ivf:42"), F.col(id_col)))
        .orderBy("h", id_col).limit(n_lists).select("vec").collect()
    )
    book = {(0, i): r["vec"] for i, r in enumerate(seeds)}
    book = _lloyd(c, id_col, "vec", book, "list_id", "cos", lloyd_iters)
    c.unpersist()
    return (_book_frame(corpus.sparkSession, book, "list_id"),
            _assign(c, id_col, "vec", book, "list_id", "cos"))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    lloyd_iters: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via IVF: rank the C centroids per query,
    search only the ``nprobe`` nearest inverted lists.

    One-shot convenience: builds the index inline, then searches it.
    Production pipelines build once (``ivf_build`` → write the assignment
    ``partitionBy("list_id")``) and call ``ivf_search`` against the staged
    index — see the registered ``similarity_ivf`` query.
    ``nprobe == n_lists`` degrades to exact brute force (asserted in tests).
    """
    cent_df, assigned = ivf_build(
        corpus, id_col, vec_col, dim, n_lists=n_lists, lloyd_iters=lloyd_iters
    )
    return ivf_search(cent_df, assigned, queries, id_col, vec_col, k=k, nprobe=nprobe)


def ivf_search(
    cent_df: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Search a built IVF index: rank centroids per query, probe the nprobe
    nearest inverted lists, exact-cosine top-k within them.

    The scale path alongside LSH (`lsh_topk`): candidate cost is
    nprobe/n_lists of the corpus per query instead of bucket-collision
    driven. ``assigned`` carries (id, vec, list_id); when it is read from a
    parquet index written ``partitionBy("list_id")``, the broadcast probe
    join triggers dynamic partition pruning — the corpus scan touches only
    the probed lists' directories (asserted in tests/test_plans.py).
    """
    cidx = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col("vec").alias("c_vec"), "list_id"
    )
    probes = _probe(queries, id_col, vec_col, cent_df, cosine, nprobe) \
        .select("q_id", "q_vec", "list_id")
    scored = (
        cidx.join(F.broadcast(probes), "list_id")
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos"))
    )
    return _top(scored, "cos", k)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-signature blocking.

    The ``n_planes`` sign bits are split into ``n_bands`` bands; a pair is a
    candidate iff it matches on ALL bits of at least one band (pigeonhole:
    sign-hamming < n_bands ⇒ some band identical — near-identical vectors
    flip very few signs). Oversized buckets are dropped from candidate
    generation (non-discriminative band; other bands still cover the pair),
    capping the self-join under skew exactly like the minhash/simhash
    pipelines.
    """
    planes = hyperplanes(dim, n_planes)
    bits = sign_bits(vec_col, planes)
    per_band = n_planes // n_bands
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            sum(bits[b * per_band + i] * (1 << i) for i in range(per_band)).alias("key"),
        )
        for b in range(n_bands)
    ]
    # band rows carry NO vector payload: the window and the band self-join
    # would otherwise exchange n_bands copies of the widest column in the
    # table; vectors rejoin by id only for the candidate-bounded cosine
    # verify (the same shape as minhash_lsh_pairs' band rows)
    v = df.select(F.col(id_col), F.explode(F.array(*bands)).alias("bd")) \
          .select(id_col, "bd.band", "bd.key")
    cand = _bucket_pairs(_capped(v, max_bucket), id_col).distinct()
    vecs = df.select(F.col(id_col), F.col(vec_col).alias("vec"))
    sim = cosine(F.col("a_vec"), F.col("b_vec"))
    return (
        _sides(cand, vecs, id_col)
        # threshold on the RAW cosine, round only the reported column —
        # rounding first admitted pairs up to 5e-7 below the threshold
        # and diverged from the oracle's raw-valued WHERE
        .where(sim >= threshold)
        .select("a_id", "b_id", F.round(sim, 6).alias("cos"))
    )


def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) in [-127, 127].

    The 100 TB rationale: a float32 embedding column is usually the widest
    thing in a training corpus; int8 cuts scan/shuffle bytes 4x while
    keeping cosine recall near-exact (the ANN operators accept quantized
    vectors unchanged — the math widens to double either way). All
    arithmetic is float→double widened and engine-portable: floor(x+0.5)
    everywhere, never round-half-to-even. Zero vectors quantize to zeros
    with scale 0.

    Emits the quantized array plus exact integer diagnostics (q_sum,
    q_max_abs) and the max absolute reconstruction error.
    """
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    df = df.withColumn("__scale", maxabs / F.lit(127.0))
    s = F.col("__scale")
    q = F.when(
        s > 0,
        F.transform(x, lambda v: F.floor(v.cast("double") / s + F.lit(0.5))),
    ).otherwise(F.transform(x, lambda v: F.lit(0).cast("long")))
    df = df.withColumn("__q", q)
    err = F.when(
        s > 0,
        F.array_max(
            F.zip_with(
                F.col("__q"), x, lambda qq, v: F.abs(qq * s - v.cast("double"))
            )
        ),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        F.round(s, 9).alias("scale"),
        F.aggregate(F.col("__q"), F.lit(0).cast("long"), lambda a, b: a + b).alias("q_sum"),
        F.array_max(F.transform(F.col("__q"), lambda v: F.abs(v))).alias("q_max_abs"),
        F.round(err, 9).alias("max_err"),
    )


def activity_profile_knn(events: DataFrame, user_col: str, ts_col: str,
                         k: int = 3) -> DataFrame:
    """Behavioral k-NN over time-series activity profiles: each user's
    24-bin hour-of-day event histogram is a sparse integer vector, and the
    k nearest users by cosine are found with the same inverted-index join
    discipline as doc_cosine_pairs (time-series similarity search over a
    distributed dataflow — the streaming/trajectory-similarity literature's
    batch core).

    Hour buckets come from epoch-microsecond integer arithmetic
    (unix_micros ↔ epoch_us), never calendar hour() — timezone-proof by
    construction (the r5 NTZ lesson). Dot products and norms are exact
    integer sums, so cosines are bit-identical across engines and the
    per-user top-k ordering (cos desc, neighbor id asc) is deterministic.

    Scale shape: profile building is ONE map-side-combinable agg over the
    event stream (the corpus-linear term — 24·|users| rows out); the
    pairwise stage joins profiles on the hour bucket (≤ 24 postings lists)
    and is quadratic in users by construction — ground truth; at real
    scale the ANN family (lsh_topk / ivf_topk over the same profile
    vectors) generates candidates and this math verifies them. The final
    top-k is a bounded per-user window, the topk_per_group shape.

    Returns (id_a, id_b, dot_ab, cos_r, rk), rk = 1..k.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from quatrain_mapreduce_spark.operators.util import sql_hour_of_day_us

    # integer arithmetic, not `/` + cast: double division of an ~1e15
    # epoch can land a boundary instant at n - 1ulp and floor into the
    # wrong bucket; pmod-first so pre-1970 instants bucket 0..23 instead
    # of the signed-truncation artifacts (util.sql_hour_of_day_us)
    hb = F.expr(sql_hour_of_day_us(f"unix_micros({ts_col})"))
    prof = (
        events.select(F.col(user_col).alias("u"), hb.alias("hb"))
        .groupBy("u", "hb").agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nrm = prof.groupBy("u").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("nrm")
    )
    a = prof.select(F.col("u").alias("id_a"), "hb", F.col("c").alias("ca"))
    b = prof.select(F.col("u").alias("id_b"), "hb", F.col("c").alias("cb"))
    dot = (
        a.join(b, "hb")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot_ab"))
    )
    na = nrm.select(F.col("u").alias("id_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("u").alias("id_b"), F.col("nrm").alias("nb"))
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        dot.join(na, "id_a").join(nb, "id_b")
        .withColumn("cos", F.col("dot_ab") / (F.col("na") * F.col("nb")))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("id_a", "id_b", "dot_ab",
                F.round(F.col("cos"), 4).alias("cos_r"), "rk")
    )


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    lloyd_iters: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Train a product-quantization codebook (Jégou, Douze, Schmid, TPAMI
    2011 "Product Quantization for Nearest Neighbor Search"): split the
    ``dim``-vector into ``m`` contiguous subspaces and learn ``k`` L2
    centroids per subspace — the fourth member of the ANN family
    (brute-force / LSH / IVF / PQ), and the one that buys MEMORY: a stored
    code is m small ints instead of dim floats (32x at m=8, k=256 over
    fp32-64), which at 100 TB is the difference between an in-RAM index
    and none. IVF-PQ composes the two: IVF prunes which codes are scanned,
    PQ shrinks what a scan costs; this module keeps them orthogonal.

    Deterministic like ivf_build: per-subspace seeds are the k corpus
    subvectors with smallest xxhash64(seed, sub, id), refined by the same
    ``_lloyd`` loop under min L2 within each subspace, so the codebook is
    bit-identical whichever assignment plan or partition count produced
    it. Codebook is (sub_id, code_id, c_vec) — m*k rows of index metadata,
    driver-materialized exactly like any ANN header (FAISS).
    """
    from pyspark.storagelevel import StorageLevel

    from quatrain_mapreduce_spark.operators.util import spread

    # spread: the scan-local code argmin inherits scan partitioning (see
    # ivf_build note); no-op at real scale
    subs = _split(spread(corpus), id_col, vec_col, dim, m)
    subs = subs.persist(StorageLevel.MEMORY_AND_DISK)

    w = Window.partitionBy("sub_id").orderBy("h", id_col)
    seeds = (
        subs.withColumn(
            "h", F.xxhash64(F.lit(f"pq:{seed}"), F.col("sub_id"), F.col(id_col))
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("sub_id", (F.col("rn") - 1).alias("code_id"), F.col("sv").alias("c_vec"))
        .collect()
    )
    book = {(r["sub_id"], r["code_id"]): r["c_vec"] for r in seeds}
    book = _lloyd(subs, id_col, "sv", book, "code_id", "l2", lloyd_iters, sub="sub_id")
    subs.unpersist()
    return _book_frame(corpus.sparkSession, book, "code_id", sub="sub_id")


def pq_encode(
    corpus: DataFrame, codebook: DataFrame | dict[tuple[int, int], list[float]],
    id_col: str, vec_col: str, dim: int, m: int,
) -> DataFrame:
    """Encode every vector as its m nearest-subspace-centroid codes.

    Returns the LONG form (id, sub_id, code_id) — m small-int rows per
    vector, the layout the ADC scan joins against (a production sink would
    pack it to one m-byte column; the long form keeps the scoring join
    JVM-native).

    NOTE (ADVICE r13): when ``codebook`` is a DataFrame it is collected
    EAGERLY at call time (one Spark job per call) so the argmin can run as
    a scan-local fold (``_assign`` — zero shuffle, never more than N·m rows
    in flight). Callers composing lazy pipelines, or re-invoking per batch,
    should pass the already-collected dict form ``{(sub_id, code_id):
    c_vec}`` instead — the dict overload triggers no job. Above
    FOLD_MAX_LITERALS embedded doubles (k·dim) ``_assign`` falls back to a
    broadcast-join + min_by argmin (identical codes and tie-break, O(1) plan
    size).
    """
    from quatrain_mapreduce_spark.operators.util import spread

    if not isinstance(codebook, dict):
        codebook = {(r["sub_id"], r["code_id"]): r["c_vec"] for r in codebook.collect()}
    subs = _split(spread(corpus), id_col, vec_col, dim, m)
    return _assign(subs, id_col, "sv", codebook, "code_id", "l2", sub="sub_id") \
        .select(id_col, "sub_id", "code_id")


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    lloyd_iters: int = 1,
) -> DataFrame:
    """Approximate dot-product top-k via PQ asymmetric distance computation
    (ADC): dot(q, x) ~= sum_j dot(q_j, centroid[j, code_j(x)]).

    The query side builds a LUT — every (query subvector x centroid) dot,
    Q·m·n_codes rows, broadcast — and the corpus side is ONLY the encoded
    codes: the scan that ranks the whole corpus reads m ints per vector,
    never the floats. Scoring = codes JOIN LUT on (sub_id, code_id), sum
    over m, top-k window — all JVM expression arithmetic. Approximation is
    recall-gated in tests against brute_force_topk (the LSH/IVF pattern);
    vectors should be pre-normalized when cosine rather than raw dot is
    the target metric.
    """
    codebook = pq_train(corpus, id_col, vec_col, dim, m=m, k=n_codes,
                        lloyd_iters=lloyd_iters)
    codes = pq_encode(corpus, codebook, id_col, vec_col, dim, m)
    lut = _adc_lut(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        codebook, dim, m,
    )
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["sub_id", "code_id"])
        .where(F.col("neighbor_id") != F.col("q_id"))
        .groupBy("q_id", "neighbor_id")
        .agg(F.round(F.sum("part"), 6).alias("adc_dot"),
             F.count("*").alias("n_sub"))
        .where(F.col("n_sub") == m)  # guard: every subspace contributed
        .drop("n_sub")
    )
    return _top(scored, "adc_dot", k)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 16,
    lloyd_iters: int = 1,
) -> DataFrame:
    """IVFADC (Jégou et al. TPAMI 2011 §IV): the composition of the two
    prunings — IVF decides WHICH vectors are scanned (nprobe/n_lists of
    the corpus, partition-prunable), PQ decides WHAT a scan costs (m ints
    per vector, not dim floats). This is the structure of every
    billion-scale ANN deployment (FAISS IVFx,PQy), assembled here from the
    engine's own ivf_build + pq_train/pq_encode.

    PQ quantizes RESIDUALS r = x - centroid[list(x)] (residuals from all
    lists share one codebook — they are centered near zero, where a raw-
    vector codebook would waste codes re-encoding list positions). For the
    dot-product metric the score decomposes exactly:
    dot(q, x) = dot(q, c_list) + dot(q, r) ~= dot(q, c_list) + ADC LUT
    sum, so the LUT is list-independent and built once per query.

    All scoring is JVM expression arithmetic; candidates flow through one
    (list-pruned codes) x (broadcast LUT+probes) join with map-side
    partial aggregation on (q_id, neighbor).
    """
    cent_df, assigned = ivf_build(
        corpus, id_col, vec_col, dim, n_lists=n_lists, lloyd_iters=lloyd_iters,
    )
    from pyspark.storagelevel import StorageLevel

    residuals = (
        assigned.join(F.broadcast(cent_df), "list_id")
        .select(
            id_col, "list_id",
            F.zip_with(F.col("vec"), F.col("c_vec"),
                       lambda a, b: a - b).alias("rvec"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    codebook = pq_train(residuals, id_col, "rvec", dim, m=m, k=n_codes,
                        lloyd_iters=lloyd_iters, seed=43)
    # persist + materialize the compact m-int codes BEFORE releasing the
    # fat residual cache: the returned search plan consumes codes lazily,
    # and unpersisting residuals at construction time made the first
    # action re-derive the whole residual/assignment pipeline twice
    # (review finding)
    codes = pq_encode(residuals, codebook, id_col, "rvec", dim, m).join(
        residuals.select(id_col, "list_id"), id_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    codes.count()
    residuals.unpersist()

    # coarse probe ranking by dot(q, c_list); carries the qc term the final
    # score needs
    probes = _probe(queries, id_col, vec_col, cent_df, _dot, nprobe)
    lut = _adc_lut(probes.select("q_id", "q_vec").distinct(), codebook, dim, m)
    cand = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(probes.select("q_id", "list_id", "qc")),
              "list_id")
        .where(F.col("neighbor_id") != F.col("q_id"))
        .join(F.broadcast(lut), ["q_id", "sub_id", "code_id"])
        .groupBy("q_id", "neighbor_id")
        .agg(
            F.round(F.first("qc") + F.sum("part"), 6).alias("adc_dot"),
            F.count("*").alias("n_sub"),
        )
        .where(F.col("n_sub") == m)
        .drop("n_sub")
    )
    return _top(cand, "adc_dot", k)


def pca_fit(df: DataFrame, vec_col: str, k: int) -> dict:
    """Distributed PCA fit over an embedding column — the whitening /
    dimensionality-reduction step a production ANN pipeline runs before
    quantization (IVF/PQ train on reduced vectors; OPQ is a rotated PQ).

    Scale shape: the corpus is touched by ONE mapInPandas pass that emits a
    per-partition moment partial (count, sum vector, d x d Gram matrix) —
    the treeAggregate shape, Arrow-batched, numpy-accumulated. The driver
    pull is <= n_partitions rows of d*(d+1) doubles (model-sized, like the
    IVF centroid pull — never corpus-sized), and the d x d eigensolve is
    driver-local because d is pipeline config (~64), not data. Sign
    convention: each component's largest-|coordinate| entry is made
    positive (first index on ties), so the fit is reproducible across
    partitionings up to float-sum ulp noise.

    Returns {mean, components (k x d, row-major), explained_var_ratio}.
    """
    import numpy as np
    import pandas as pd

    def moments(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += m.shape[0]
            s = m.sum(0) if s is None else s + m.sum(0)
            g = m.T @ m if g is None else g + m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    parts = df.select(vec_col).mapInPandas(
        moments, "n long, s array<double>, g array<double>"
    ).collect()
    if not parts:
        raise ValueError("pca_fit: empty input")
    n = sum(r["n"] for r in parts)
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    d = s.shape[0]
    g = np.sum([np.array(r["g"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = []
    for idx in order:
        v = evecs[:, idx]
        j = int(np.argmax(np.abs(v)))
        comps.append((-v if v[j] < 0 else v).tolist())
    total = float(np.clip(evals, 0, None).sum()) or 1.0
    return {
        "mean": mean.tolist(),
        "components": comps,
        "explained_var_ratio": [float(max(evals[i], 0.0) / total) for i in order],
    }


def pca_project(
    df: DataFrame, id_col: str, vec_col: str, model: dict,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Project vectors onto fitted components: pc_j = (x - mean) . c_j.

    Each projection is ONE SQL expression string (component literals
    inlined, mean-dot precomputed to a scalar) parsed JVM-side in a single
    call — the ``_sign_term`` lesson: per-literal F.lit would cost thousands
    of py4j round trips. The projection itself is zip_with/aggregate
    inside codegen; no Python in the scoring path.
    """
    import numpy as np

    cols = [F.col(id_col), *[F.col(c) for c in keep_cols]]
    mean = np.array(model["mean"])
    for j, comp in enumerate(model["components"], start=1):
        arr = ",".join(repr(c) + "D" for c in comp)
        mean_dot = float(mean @ np.array(comp))
        expr = (
            f"aggregate(zip_with({vec_col}, array({arr}), "
            f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
            f"(a, x) -> a + x) - {mean_dot!r}D"
        )
        cols.append(F.expr(expr).alias(f"pc{j}"))
    return df.select(*cols)
