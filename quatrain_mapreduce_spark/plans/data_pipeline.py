"""LLM training-data pipeline workloads: dedup, similarity search, text
analysis, multimodal plumbing (BASELINE.json north-star extensions).

Oracle-checked where the math is engine-portable (integer/ratio arithmetic,
md5); hash-family-dependent operators (minhash/simhash/LSH — xxhash64 has no
DuckDB twin) register without an oracle and get the driver's rows-only check
plus dedicated pytest coverage with synthetic near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.operators.dedup import (
    exact_dedup, minhash_lsh_candidates, minhash_lsh_pairs, ngram_jaccard_pairs,
    simhash_pairs,
)
from quatrain_mapreduce_spark.operators.multimodal import attach_media, extract_features
from quatrain_mapreduce_spark.operators.similarity import (
    brute_force_topk, embedding_dim, embedding_neardup_pairs, ivf_topk, lsh_topk,
)
from quatrain_mapreduce_spark.operators.text import (
    BPE_TOKEN_RE, STOPWORDS, fingerprint, lang_id, quality_score, text_stats,
)
from quatrain_mapreduce_spark.registry import register

_STOP_SQL = "', '".join(STOPWORDS)


@register(
    "dedup_exact",
    oracle="""
        SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
               min(doc_id) AS keep_id,
               CAST(count(*) AS BIGINT) AS dup_cnt
        FROM documents GROUP BY 1
    """,
    doc="Exact dedup: normalized-content md5 → hash groupBy. One shuffle, "
        "map-side combinable; the 100 TB workhorse.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# The word-bigram Jaccard ground truth every near-dup oracle below is built
# on: each same-lang pair in adjacent log-length bands (the blocking of
# ngram_jaccard_pairs, complete for J >= 0.8) with its exact Jaccard.
_SCORED_CTES = """t AS (
            SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id, lang,
                   list_distinct(
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(generate_series(1, len(toks) - 1),
                                                i -> toks[i] || ' ' || toks[i + 1])
                            ELSE [] END) AS sh
            FROM t
        ), banded AS (
            SELECT doc_id, lang, sh, floor(ln(len(sh)) / ln(1.25)) AS band
            FROM sh WHERE len(sh) > 0
        ), scored AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   len(list_intersect(a.sh, b.sh))
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
            FROM banded a JOIN banded b
              ON a.lang = b.lang AND b.band BETWEEN a.band - 1 AND a.band + 1
             AND a.doc_id < b.doc_id
        )"""

_GROUND_TRUTH = f"""
        WITH {_SCORED_CTES}
        SELECT a_id, b_id, jac FROM scored WHERE jac >= 0.8
    """


@register(
    "dedup_ngram_jaccard",
    oracle=_GROUND_TRUTH,
    doc="Blocked pairwise word-bigram Jaccard near-dup pairs. Block = "
        "(lang, log-length band ± 1): complete for J>=0.8 by the size-ratio "
        "bound, and every block is near-equal-length docs, so sum(block²) "
        "stays near-linear at 100 TB (no corpus-sized self-join).",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        block_col="lang", n=2, threshold=0.8,
    )


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64 permutation family has no DuckDB twin — rows-only
    doc="MinHash+LSH near-dup pairs (shingle→signature→band→bucket-join→"
        "exact-Jaccard verify). Candidate generation linear in corpus size; "
        "bucket-size cap guards skew. Verified against ngram_jaccard in tests.",
    tags=("dedup", "no-oracle"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        shingle_n=3, num_perm=32, bands=8, threshold=0.5,
    )


@register(
    "dedup_simhash",
    oracle=None,  # xxhash64-based signatures — rows-only
    doc="SimHash near-dup pairs: 64-bit signatures via vectorized Pandas UDF, "
        "16-bit banding (pigeonhole for hamming≤3), bit_count(xor) verify.",
    tags=("dedup", "no-oracle"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3)


@register(
    "dedup_lsh_recall",
    oracle=_GROUND_TRUTH,
    doc="Driver-visible LSH recall gate: exact word-bigram Jaccard>=0.8 "
        "ground-truth pairs SEMI-JOINED with the MinHash-LSH candidate "
        "pair set. The oracle is the plain ground truth (DuckDB-"
        "expressible; identical to dedup_ngram_jaccard's), so the row "
        "sets match iff the LSH candidates cover every ground-truth pair "
        "— recall 1.0 asserted by the driver's own compare instead of "
        "pytest-only. (Collision prob per J>=0.8 pair at 8 bands x 4 rows "
        "is 1-(1-0.8^4)^8 ≈ 0.9998; deterministic given the seeded "
        "permutation family.)",
    tags=("dedup", "recall"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    gt = ngram_jaccard_pairs(docs, "doc_id", "text", block_col="lang", n=2, threshold=0.8)
    cand = minhash_lsh_candidates(
        docs, "doc_id", "text", shingle_n=3, num_perm=32, bands=8
    )
    return gt.join(cand, ["a_id", "b_id"], "left_semi").select("a_id", "b_id", "jac")


# Shared by dedup_components (exact blocked all-pairs edge gen) and
# dedup_components_lsh (LSH candidates + exact verify): both must produce
# the SAME components, so they are held to the same recursive-CTE oracle.
_COMPONENTS_CTES = f"""
        WITH RECURSIVE {_SCORED_CTES}, pairs AS (
            SELECT a_id, b_id FROM scored WHERE jac >= 0.8
        ), edges AS (
            SELECT a_id AS u, b_id AS v FROM pairs
            UNION
            SELECT b_id, a_id FROM pairs
        ), reach(node, r) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
        )"""

_COMPONENTS_ORACLE = _COMPONENTS_CTES + """
        SELECT node AS doc_id, min(r) AS root_id FROM reach GROUP BY node
    """


@register(
    "dedup_components",
    oracle=_COMPONENTS_ORACLE,
    doc="Near-dup connected components — the canonical fuzzy-dedup closure "
        "(pairwise near-dup relations are not transitive; production "
        "pipelines keep min-id per component): exact-Jaccard pairs -> "
        "alternating large-star/small-star contraction "
        "(operators/components.py — O(log^2) rounds, lineage-truncated, no "
        "driver graph state). Oracle: DuckDB recursive-CTE transitive "
        "closure with min-label fold — the iterative algorithm IS "
        "SQL-expressible via WITH RECURSIVE at oracle scale.",
    tags=("dedup", "components", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.components import connected_components

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        block_col="lang", n=2, threshold=0.8,
    )
    comp = connected_components(pairs, src="a_id", dst="b_id")
    return comp.select(F.col("node").alias("doc_id"), F.col("root").alias("root_id"))


@register(
    "dedup_components_lsh",
    oracle=_COMPONENTS_ORACLE,
    doc="The 100 TB form of dedup_components: MinHash-LSH candidate pairs "
        "(linear in corpus size) -> exact bigram-Jaccard verify restricted "
        "to candidates (operators/dedup.verify_pairs) -> star contraction. "
        "Equal to the exact blocked-all-pairs variant whenever LSH recall "
        "covers the ground truth — which is exactly what the driver-checked "
        "dedup_lsh_recall gate proves; a recall miss would hash-mismatch "
        "THIS query's oracle too, so the equality is continuously verified, "
        "not assumed. Motivation measured at 10x bench data (SCALING.md): "
        "ngram_jaccard_pairs' within-block candidate count grows "
        "quadratically with corpus size at fixed length/lang distribution, "
        "while the LSH candidate count stays linear.",
    tags=("dedup", "components", "iterative", "lsh"),
)
def dedup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.components import connected_components
    from quatrain_mapreduce_spark.operators.dedup import verify_pairs

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        docs, "doc_id", "text", shingle_n=3, num_perm=32, bands=8
    )
    # block_col="lang": the ground-truth pair definition (and the oracle)
    # only pairs same-language docs; LSH candidates ignore blocks
    verified = verify_pairs(docs, cand, "doc_id", "text", n=2, threshold=0.8, block_col="lang")
    comp = connected_components(verified, src="a_id", dst="b_id")
    return comp.select(F.col("node").alias("doc_id"), F.col("root").alias("root_id"))


def _quality_sql() -> str:
    from quatrain_mapreduce_spark.plans.curation_queries import _Q_SQL

    return _Q_SQL


@register(
    "dedup_keep_best",
    oracle=_COMPONENTS_CTES + """
        , comp AS (
            SELECT node AS doc_id, min(r) AS root_id FROM reach GROUP BY node
        ), qual AS (
            SELECT doc_id, {q} AS q FROM documents
        ), lab AS (
            SELECT qual.doc_id,
                   CAST(coalesce(comp.root_id, qual.doc_id) AS BIGINT) AS root_id,
                   qual.q
            FROM qual LEFT JOIN comp ON qual.doc_id = comp.doc_id
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY root_id
                                         ORDER BY q DESC, doc_id) AS rk
            FROM lab
        )
        SELECT doc_id, root_id, round(q, 4) AS q FROM ranked WHERE rk = 1
    """.format(q=_quality_sql()),
    doc="Canonical-document selection per near-dup cluster: production "
        "pipelines keep the BEST doc (highest quality score), not the "
        "min-id one. Rides the dedup_components_lsh pipeline (LSH "
        "candidates -> exact verify -> star contraction); the argmax "
        "window runs ONLY on component members (ranked against the "
        "recursive-CTE + argmax oracle), while the corpus-sized work is a "
        "single anti-join of singletons against the far smaller component "
        "map — no corpus-wide window, no self-join.",
    tags=("dedup", "components", "curation"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.components import (
        connected_components, keep_best_per_component,
    )
    from quatrain_mapreduce_spark.operators.dedup import verify_pairs
    from quatrain_mapreduce_spark.operators.text import quality_col

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        docs, "doc_id", "text", shingle_n=3, num_perm=32, bands=8
    )
    verified = verify_pairs(docs, cand, "doc_id", "text", n=2, threshold=0.8, block_col="lang")
    comp = connected_components(verified, src="a_id", dst="b_id") \
        .select(F.col("node").alias("doc_id"), F.col("root").alias("root_id"))
    q = docs.select("doc_id", quality_col("text").alias("q"))
    kept = keep_best_per_component(q, comp, "doc_id", "root_id", "q")
    return kept.select("doc_id", "root_id", F.round("q", 4).alias("q"))


def _root_h16() -> str:
    from quatrain_mapreduce_spark.operators.curation import portable_h16_sql

    return portable_h16_sql("root_id")


@register(
    "dedup_incremental_lsh",
    oracle=f"""
        WITH {_SCORED_CTES}
        SELECT a_id, b_id, jac FROM scored
        WHERE jac >= 0.8 AND (a_id % 5 = 0 OR b_id % 5 = 0)
    """,
    doc="Incremental near-dup dedup against a PERSISTED LSH index — the "
        "continuously-fed-corpus workflow: docs split into existing corpus "
        "(doc_id % 5 != 0, band rows staged once as the index) and an "
        "arriving increment (doc_id % 5 == 0) that probes the index "
        "bucket-by-bucket plus self-joins within the increment "
        "(operators/dedup.incremental_lsh_candidates), then exact "
        "bigram-Jaccard verification on candidates only. Per-increment "
        "work scales with the increment, never the corpus — the property "
        "stream_dedup gives exact dedup, extended to NEAR-dup. Oracle: the "
        "exact ground-truth pairs restricted to those touching the "
        "increment; equality holds by the same recall argument the "
        "driver-checked dedup_lsh_recall gate proves.",
    tags=("dedup", "lsh", "incremental"),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.dedup import (
        _shingle_sets, incremental_lsh_candidates, lsh_band_rows, verify_pairs,
    )
    from quatrain_mapreduce_spark.staging import staged

    docs = load_table(spark, sf_dir, "documents")
    arriving_pred = F.col("doc_id") % 5 == 0

    def band_rows_of(subset: DataFrame) -> DataFrame:
        sh = _shingle_sets(subset, "doc_id", "text", 3)
        return lsh_band_rows(sh, "doc_id", num_perm=32, bands=8, max_bucket=1000)

    # the index is built ONCE for the standing corpus and only read by
    # every later increment (at 100 TB: bucketed by (band, key))
    existing_bands = spark.read.parquet(staged(sf_dir, "lshindex", lambda d: band_rows_of(
        docs.where(~arriving_pred)).write.parquet(d)))
    arriving_bands = band_rows_of(docs.where(arriving_pred))
    cand = incremental_lsh_candidates(existing_bands, arriving_bands, "doc_id")
    return verify_pairs(docs, cand, "doc_id", "text", n=2, threshold=0.8, block_col="lang")


@register(
    "leakage_safe_split",
    oracle=_COMPONENTS_CTES + """
        , roots AS (
            SELECT node AS doc_id, min(r) AS root_id FROM reach GROUP BY node
        ), labeled AS (
            SELECT d.doc_id,
                   CASE WHEN __ROOT_H__ % 1000 < 950 THEN 'train' ELSE 'val' END AS split
            FROM (SELECT doc_id, coalesce(r.root_id, d2.doc_id) AS root_id
                  FROM documents d2 LEFT JOIN roots r USING (doc_id)) d
        ), leak AS (
            SELECT CAST(count(*) AS BIGINT) AS leaked_pairs
            FROM pairs p
            JOIN labeled x ON p.a_id = x.doc_id
            JOIN labeled y ON p.b_id = y.doc_id
            WHERE x.split <> y.split
        )
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum, leaked_pairs
        FROM labeled, leak GROUP BY split, leaked_pairs
    """.replace("__ROOT_H__", _root_h16()),
    doc="Leakage-safe train/val split — the near-dup-aware form of "
        "train_val_split a real eval protocol needs: a naive per-doc hash "
        "split puts ~5% of every near-duplicate cluster's members in val "
        "while their twins sit in train (memorized-copy leakage). Here the "
        "split key is the near-dup COMPONENT root (LSH candidates -> exact "
        "verify -> star contraction -> coalesce singletons to themselves), "
        "so a whole cluster lands on one side by construction. The output's "
        "leaked_pairs column — near-dup pairs straddling the split — is "
        "oracle-checked at exactly 0, and n_docs/id_sum hash-check the "
        "assignment itself (portable md5-nibble hash of the root id, same "
        "family as train_val_split). Scale shape: everything rides the "
        "dedup_components_lsh pipeline plus one broadcast-able 1-row leak "
        "audit and one hash-keyed aggregation.",
    tags=("curation", "dedup", "components"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.components import connected_components
    from quatrain_mapreduce_spark.operators.curation import h16
    from quatrain_mapreduce_spark.operators.dedup import verify_pairs

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        docs, "doc_id", "text", shingle_n=3, num_perm=32, bands=8
    )
    pairs = verify_pairs(docs, cand, "doc_id", "text", n=2, threshold=0.8, block_col="lang") \
        .select("a_id", "b_id")
    comp = connected_components(pairs, src="a_id", dst="b_id") \
        .withColumnRenamed("node", "doc_id")
    labeled = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("root_id", F.coalesce(F.col("root"), F.col("doc_id")))
        .withColumn(
            "split",
            F.when(h16("root_id") % 1000 < 950, F.lit("train")).otherwise(F.lit("val")),
        )
    )
    lab_a = labeled.select(F.col("doc_id").alias("a_id"), F.col("split").alias("a_split"))
    lab_b = labeled.select(F.col("doc_id").alias("b_id"), F.col("split").alias("b_split"))
    leaked = (
        pairs.join(lab_a, "a_id").join(lab_b, "b_id")
        .where(F.col("a_split") != F.col("b_split"))
        .agg(F.count("*").alias("leaked_pairs"))
    )
    return (
        labeled.groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
        .crossJoin(F.broadcast(leaked))
    )


@register(
    "similarity_bruteforce",
    oracle="""
        WITH v AS (
            SELECT vec_id, embedding,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))::DOUBLE) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))::DOUBLE
                         / (q.nrm * c.nrm), 6) AS cos
            FROM v q JOIN v c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
        )
        SELECT q_id, neighbor_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rk
        FROM scored
        QUALIFY rk <= 10
    """,
    doc="Brute-force cosine top-k (broadcast queries × streamed corpus, "
        "JVM-side zip_with/aggregate dot products): the exact ANN baseline.",
    tags=("similarity",),
)
def similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    out = brute_force_topk(queries, emb, "vec_id", "embedding", k=10)
    return out.select("q_id", "neighbor_id", "cos", "rk")


@register(
    "similarity_lsh",
    oracle=None,  # approximate by construction — recall vs brute force asserted in tests/test_similarity.py
    doc="ANN via multi-table random-hyperplane LSH with multi-probe: "
        "bucket-partitioned join instead of cross join — the 100 TB scale "
        "path (recall scales with table count, bucket count with 2^planes).",
    tags=("similarity", "no-oracle"),
)
def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    out = lsh_topk(
        queries, emb, "vec_id", "embedding",
        dim=embedding_dim(f"{sf_dir}/embeddings.parquet"),
        k=10, n_planes=10, n_tables=4, multiprobe=True,
    )
    return out.select("q_id", "neighbor_id", "cos", "rk")


@register(
    "similarity_ivf",
    oracle=None,  # approximate by construction — nprobe=n_lists exactness + recall vs brute force asserted in tests/test_similarity.py
    doc="ANN via IVF (deterministic spherical-kmeans coarse quantizer): "
        "probe the nprobe nearest of n_lists inverted lists per query. The "
        "second 100 TB scale path next to LSH — list_id is a partition "
        "column, so probes become partition-pruned scans of nprobe/n_lists "
        "of the corpus.",
    tags=("similarity", "no-oracle"),
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from quatrain_mapreduce_spark.operators.similarity import ivf_build, ivf_search
    from quatrain_mapreduce_spark.staging import staged

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(f"{sf_dir}/embeddings.parquet")

    # production shape: the index is built ONCE and staged partitionBy
    # list_id; searches run against the staged index, and the broadcast
    # probe join dynamically prunes to the probed lists' partitions at scan
    # time.
    def build(d: str) -> None:
        cent_df, assigned = ivf_build(emb, "vec_id", "embedding", dim, n_lists=16, lloyd_iters=1)
        cent_df.write.parquet(os.path.join(d, "centroids"))
        assigned.write.partitionBy("list_id").parquet(os.path.join(d, "corpus"))

    d = staged(sf_dir, "ivf_idx16", build)
    cent_df = spark.read.parquet(os.path.join(d, "centroids"))
    assigned = spark.read.parquet(os.path.join(d, "corpus"))
    queries = emb.where(F.col("vec_id") < 8)
    out = ivf_search(cent_df, assigned, queries, "vec_id", "embedding", k=10, nprobe=6)
    return out.select("q_id", "neighbor_id", "cos", "rk")


def _unit_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding) with every vector L2-normalized to doubles, so a
    quantizer's dot-product ADC approximates cosine."""
    nrm = F.sqrt(F.aggregate(
        F.col("embedding").cast("array<double>"), F.lit(0.0),
        lambda acc, x: acc + x * x,
    ))
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x / nrm
        ).alias("embedding"),
    )


@register(
    "similarity_pq",
    oracle=None,  # approximate by construction (float codebook is index
    # metadata); cluster-separation precision + encode determinism gated in
    # tests/test_similarity.py (within-cluster near-ties make exact-order
    # recall the wrong metric for a quantizer — see the test's note)
    doc="ANN via product quantization with asymmetric distance computation "
        "(Jegou-Douze-Schmid TPAMI'11 — operators/similarity.pq_topk): "
        "m=4 subspaces x 16 codes over L2-normalized embeddings, so ADC "
        "approximates cosine. The FOURTH ANN family member and the one "
        "that buys MEMORY: the scored corpus representation is m small "
        "ints per vector instead of dim floats (the ranking join reads "
        "codes only — at 100 TB that is an in-RAM index vs none), where "
        "brute force scans floats, LSH prunes by bucket collision and IVF "
        "prunes by partition. IVF-PQ composes the two prunings; the "
        "operators are kept orthogonal so either side can be swapped.",
    tags=("similarity", "no-oracle"),
)
def similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.similarity import pq_topk

    unit = _unit_embeddings(spark, sf_dir)
    dim = embedding_dim(f"{sf_dir}/embeddings.parquet")
    queries = unit.where(F.col("vec_id") < 8)
    out = pq_topk(queries, unit, "vec_id", "embedding", dim,
                  k=10, m=4, n_codes=16, lloyd_iters=1)
    return out.select("q_id", "neighbor_id", "adc_dot", "rk")


@register(
    "similarity_ivfpq",
    oracle=None,  # approximate by construction; cluster-separation
    # precision, determinism, and list-pruning gated in
    # tests/test_similarity.py
    doc="IVFADC (Jegou et al. TPAMI'11 SIV — operators/similarity."
        "ivfpq_topk): the composition every billion-scale ANN deployment "
        "runs (FAISS IVFx,PQy). IVF prunes WHICH vectors are scanned "
        "(nprobe/n_lists, partition-prunable); PQ on the list RESIDUALS "
        "prunes WHAT a scan costs (m ints per vector). For the dot "
        "metric the score decomposes exactly — dot(q,x) = dot(q,c_list) "
        "+ ADC(residual) — so one list-independent LUT per query serves "
        "all probes. Assembled from the engine's own ivf_build + "
        "pq_train/pq_encode, which stay orthogonal and independently "
        "gated.",
    tags=("similarity", "no-oracle"),
)
def similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.similarity import ivfpq_topk

    unit = _unit_embeddings(spark, sf_dir)
    dim = embedding_dim(f"{sf_dir}/embeddings.parquet")
    queries = unit.where(F.col("vec_id") < 8)
    out = ivfpq_topk(queries, unit, "vec_id", "embedding", dim,
                     k=10, n_lists=8, nprobe=3, m=4, n_codes=16,
                     lloyd_iters=1)
    return out.select("q_id", "neighbor_id", "adc_dot", "rk")



@register(
    "embedding_neardup",
    oracle="""
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))::DOUBLE
                     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))::DOUBLE)
                        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))::DOUBLE)), 6) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))::DOUBLE
              / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))::DOUBLE)
                 * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))::DOUBLE)) >= 0.95
    """,
    doc="Embedding-cosine near-duplicate pairs via banded sign-signature "
        "blocking + max_bucket skew cap. Oracle = exact all-pairs threshold "
        "filter (LSH recall at cos>=0.95 makes the outputs coincide; recall "
        "on planted near-identical vectors asserted in tests).",
    tags=("dedup", "similarity"),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        dim=embedding_dim(f"{sf_dir}/embeddings.parquet"),
        threshold=0.95, n_planes=32, n_bands=4,
    )


@register(
    "semantic_dedup",
    oracle="""
        WITH cent AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < 8
        ),
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        scored AS (
            SELECT v.vec_id, cent.cid,
                   list_dot_product(vec, cvec)
                     / (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(cvec, cvec))) AS cos
            FROM v CROSS JOIN cent
        ),
        assigned AS (
            SELECT vec_id, cid AS cluster_id FROM scored
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1
        ),
        av AS (
            SELECT a.cluster_id, a.vec_id, v.vec
            FROM assigned a JOIN v ON a.vec_id = v.vec_id
        ),
        red AS (
            SELECT DISTINCT b.vec_id
            FROM av a JOIN av b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.vec, b.vec)
                    / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) >= 0.4
        )
        SELECT CAST(a.cluster_id AS INTEGER) AS cluster_id,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN r.vec_id IS NULL THEN a.vec_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        FROM assigned a LEFT JOIN red r ON a.vec_id = r.vec_id
        GROUP BY a.cluster_id
    """,
    doc="SemDeDup (Abbas et al. 2023): cluster the embedding space (broadcast "
        "row-centroids, map-side argmax), then drop every vector with a "
        "cosine>=tau smaller-id neighbor in the SAME cluster — the quadratic "
        "verify is bounded by cluster size, never the corpus. FULLY "
        "oracle-checked including kept-set membership (data-derived centroids "
        "mean no float constants cross the engine boundary). tau=0.4 is "
        "calibrated to the synthetic fixture's cosine mass (no planted "
        "semantic dups; real embeddings would use ~0.95+): 19/500 dropped.",
    tags=("dedup", "similarity"),
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.clustering import (
        semantic_dedup, semantic_dedup_cluster_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dd = semantic_dedup(emb, "vec_id", "embedding", k=8, tau=0.4)
    return semantic_dedup_cluster_stats(dd, "vec_id").select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        "n_vectors", "n_kept", "kept_id_sum",
    )


@register(
    "bpe_pair_counts",
    oracle="""
        WITH words AS (
            SELECT w FROM (
                SELECT unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'),
                                             x -> lower(x))) AS w
                FROM documents
            ) WHERE length(w) >= 2
        ),
        vocab AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
        pairs AS (
            SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, cnt
            FROM vocab, unnest(generate_series(1, length(w) - 1)) AS g(i)
        )
        SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        FROM pairs GROUP BY pair
    """,
    doc="BPE merge-round pair statistic (Sennrich et al. 2016 §3.2): "
        "adjacent-char pair counts weighted by word frequency — computed "
        "over the DISTINCT-word vocabulary, never the corpus (the classic "
        "BPE-training trick; at 100 TB the vocab is millions of rows where "
        "the corpus is trillions). The argmax row is the next merge rule.",
    tags=("text",),
)
def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.text import bpe_pair_counts

    return bpe_pair_counts(load_table(spark, sf_dir, "documents"), "text")


@register(
    "tfidf_keywords",
    oracle="""
        WITH toks AS (
            SELECT doc_id, w AS word FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE w <> ''
        ),
        tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
        dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
        scored AS (
            SELECT tf.doc_id, tf.word,
                   tf.tf * n.n_docs / CAST(dfreq.df AS DOUBLE) AS score
            FROM tf JOIN dfreq ON tf.word = dfreq.word CROSS JOIN n
        )
        SELECT doc_id, word, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, word) AS INTEGER) AS rk
        FROM scored
        QUALIFY rk <= 3
    """,
    doc="Per-document top-3 keywords by tf*idf with RAW inverse document "
        "frequency (score = tf*N/df — one exact IEEE division; ln() would "
        "differ between libm and StrictMath in the last ulp and flip "
        "near-tied ranks). df is an agg OF THE TF TABLE, never a second "
        "corpus scan; df and N join back broadcast; top-k is the bounded "
        "per-doc window rank.",
    tags=("text",),
)
def tfidf_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.text import tfidf_keywords

    return tfidf_keywords(load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


@register(
    "cooccurrence_lift",
    oracle="""
        WITH t AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), pr AS (
            SELECT unnest(flatten([
                CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                          i -> array_to_string(list_sort([toks[i], toks[i + 1]]), ' '))
                     ELSE [] END,
                CASE WHEN len(toks) >= 3
                     THEN list_transform(generate_series(1, len(toks) - 2),
                          i -> array_to_string(list_sort([toks[i], toks[i + 2]]), ' '))
                     ELSE [] END])) AS pair
            FROM t
        ), pc AS (
            SELECT pair, CAST(count(*) AS BIGINT) AS c_pair FROM pr GROUP BY pair
        ), uni AS (
            SELECT unnest(toks) AS w FROM t
        ), uc AS (
            SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY w
        ), tot AS (
            SELECT CAST(sum(c_w) AS DOUBLE) AS big_t FROM uc
        ), ptot AS (
            SELECT CAST(sum(c_pair) AS DOUBLE) AS big_p FROM pc
        ), lifted AS (
            SELECT pc.pair, pc.c_pair, a.c_w AS c_a, b.c_w AS c_b,
                   (pc.c_pair / ptot.big_p)
                     / ((a.c_w / tot.big_t) * (b.c_w / tot.big_t)) AS lift
            FROM pc CROSS JOIN tot CROSS JOIN ptot
            JOIN uc a ON a.w = split_part(pc.pair, ' ', 1)
            JOIN uc b ON b.w = split_part(pc.pair, ' ', 2)
            WHERE pc.c_pair >= 3
        )
        SELECT pair, c_pair, c_a, c_b,
               floor(lift * 10000 + 0.5) / 10000 AS lift_r
        FROM lifted
        ORDER BY lift DESC, pair
        LIMIT 50
    """,
    doc="Word co-occurrence statistics, the canonical MapReduce 'pairs' "
        "pattern (Lin & Dyer 2010 ch.3) ranked by association lift "
        "p(xy)/(p(x)p(y)) — the monotone PMI transform (Church & Hanks "
        "1990) that needs no log, so one fixed IEEE expression tree "
        "evaluates bit-identically in both engines. Window = distance 1+2, "
        "pair key order-normalized. Corpus is scanned ONCE (persisted "
        "token frame feeds pair and unigram branches); both counts are "
        "map-side-combinable hash aggs; totals are 1-row broadcast side "
        "inputs; top-50 is TakeOrderedAndProject, never a global sort.",
    tags=("text",),
)
def cooccurrence_lift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from quatrain_mapreduce_spark.operators.projection import tokenize
    from quatrain_mapreduce_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(tokenize("text").alias("toks")) \
               .persist(StorageLevel.MEMORY_AND_DISK)
    pair_expr = (
        "concat("
        " CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1),"
        "  i -> array_join(array_sort(slice(toks, i, 2)), ' '))"
        "  ELSE CAST(array() AS array<string>) END,"
        " CASE WHEN size(toks) >= 3 THEN transform(sequence(1, size(toks) - 2),"
        "  i -> array_join(array_sort(array(element_at(toks, i),"
        "                                   element_at(toks, i + 2))), ' '))"
        "  ELSE CAST(array() AS array<string>) END)"
    )
    pc = (
        toks.select(F.explode(F.expr(pair_expr)).alias("pair"))
        .groupBy("pair").agg(F.count("*").alias("c_pair"))
    )
    uc = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w").agg(F.count("*").alias("c_w"))
    )
    tot = uc.agg(F.sum("c_w").cast("double").alias("big_t"))
    ptot = pc.agg(F.sum("c_pair").cast("double").alias("big_p"))
    lifted = (
        pc.where(F.col("c_pair") >= 3)
        .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ptot))
        # vocab joins: NOT hinted broadcast — unigram cardinality is
        # data-dependent (vocab grows with corpus); size-based planning +
        # AQE pick broadcast when it fits, sort-merge when it doesn't
        .join(uc.withColumnRenamed("w", "__wa")
                .withColumnRenamed("c_w", "c_a"),
              F.expr("split_part(pair, ' ', 1) = __wa"))
        .join(uc.withColumnRenamed("w", "__wb")
                .withColumnRenamed("c_w", "c_b"),
              F.expr("split_part(pair, ' ', 2) = __wb"))
        .withColumn(
            "lift",
            (F.col("c_pair") / F.col("big_p"))
            / ((F.col("c_a") / F.col("big_t")) * (F.col("c_b") / F.col("big_t"))),
        )
    )
    return (
        lifted.orderBy(F.desc("lift"), "pair").limit(50)
        .select(
            "pair", "c_pair", "c_a", "c_b",
            (F.floor(F.col("lift") * 10000 + 0.5) / 10000).alias("lift_r"),
        )
    )


@register(
    "text_stats",
    oracle=f"""
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars_raw,
               CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INTEGER) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
               CAST(len(list_filter(string_split(text, ' '), t -> t IN ('{_STOP_SQL}'))) AS INTEGER) AS n_stopwords
        FROM documents
    """,
    doc="Token counting (whitespace + BPE-ish regex) and char/stopword stats.",
    tags=("text",),
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_quality",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
                   len(list_filter(string_split(text, ' '), x -> x IN ('{_STOP_SQL}'))) AS stop_n
            FROM documents
        )
        SELECT doc_id,
               CAST(n AS INTEGER) AS n_tokens,
               CASE WHEN n > 0 THEN stop_n / n ELSE 0.0 END AS stop_ratio,
               0.3 * (CASE WHEN n > 0 THEN stop_n / n ELSE 0.0 END)
                 + 0.7 * least(n / 100.0, 1.0) AS quality
        FROM t
    """,
    doc="Quality scoring: stopword ratio + length saturation (C4/Gopher-style "
        "rule shape), pure rational arithmetic.",
    tags=("text",),
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "lang_id",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN (CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
                          THEN len(list_filter(string_split(text, ' '), x -> x IN ('{_STOP_SQL}')))
                               / len(list_filter(string_split(text, ' '), x -> x <> ''))
                          ELSE 0.0 END) >= 0.05
                    THEN 'en' ELSE 'other' END AS pred_lang
        FROM documents
    """,
    doc="Language ID: stopword-density heuristic (n-gram profile models plug "
        "into the same argmax shape).",
    tags=("text",),
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "corpus_curation",
    oracle=f"""
        WITH keep AS (
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
        ), scored AS (
            SELECT d.doc_id,
                   len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n,
                   CASE WHEN len(list_filter(string_split(d.text, ' '), x -> x <> '')) > 0
                        THEN len(list_filter(string_split(d.text, ' '), x -> x IN ('{_STOP_SQL}')))
                             / len(list_filter(string_split(d.text, ' '), x -> x <> ''))
                        ELSE 0.0 END AS stop_ratio
            FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        ), quality AS (
            SELECT doc_id, n,
                   CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang,
                   0.3 * stop_ratio + 0.7 * least(n / 100.0, 1.0) AS q
            FROM scored
        )
        SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(q), 4) AS avg_quality,
               CAST(sum(n) AS BIGINT) AS total_tokens
        FROM quality WHERE q >= 0.5
        GROUP BY pred_lang
    """,
    doc="End-to-end corpus curation — the composed training-data pipeline "
        "(exact dedup -> quality filter -> language ID -> per-lang corpus "
        "stats) in ONE pass over the scan: the dedup keep-set is a "
        "row_number window over the content fingerprint (one shuffle, no "
        "self-join), and quality/lang are column expressions fused into the "
        "same stage (operators/text.py column-level builders) — the plan a "
        "100 TB curation run wants: scan once, shuffle once, aggregate.",
    tags=("dedup", "text", "pipeline"),
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from quatrain_mapreduce_spark.operators.dedup import normalized_text
    from quatrain_mapreduce_spark.operators.projection import tokenize
    from quatrain_mapreduce_spark.operators.text import pred_lang_col, quality_col

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(normalized_text("text"))).orderBy("doc_id")
    kept = (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.size(tokenize("text")).alias("n"),
            pred_lang_col("text").alias("pred_lang"),
            quality_col("text").alias("q"),
        )
        .where(F.col("q") >= 0.5)
    )
    return kept.groupBy("pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
        F.sum("n").alias("total_tokens"),
    )


@register(
    "doc_fingerprint",
    oracle="""
        SELECT source,
               count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS uniq_fp,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    """,
    doc="Document fingerprinting: md5 over normalized text; per-source "
        "fingerprint diversity.",
    tags=("text",),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint(d, "doc_id", "text").join(d.select("doc_id", "source"), "doc_id")
    return fp.groupBy("source").agg(
        F.countDistinct("fp").alias("uniq_fp"), F.count("*").alias("n_docs")
    )


@register(
    "multimodal_features",
    oracle="""
        SELECT doc_id, 'image/fake' AS media_type, CAST(16 AS BIGINT) AS n_bytes,
               round(list_aggregate(list_transform(generate_series(1, 16), i ->
                         (strpos('0123456789abcdef', substr(md5(coalesce(text, '')), (i-1)*2+1, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substr(md5(coalesce(text, '')), (i-1)*2+2, 1)) - 1)),
                     'sum') / 16.0, 4) AS feature_mean
        FROM documents
    """,
    doc="Multimodal plumbing: binary payload column + metadata struct → "
        "Arrow-batched mapInPandas feature extraction over md5-derived "
        "fixture payloads (REAL image decode lives in multimodal_decode; "
        "this query pins the generic binary-feature path). Oracle decodes "
        "the md5 payload's bytes from hex digit positions — the mean-byte "
        "feature IS portable SQL, so the Python mapInPandas path is "
        "value-checked end to end, not just rows-counted.",
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_media(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return extract_features(media).withColumn(
        "feature_mean", F.round(F.col("feature_mean"), 4)
    )


@register(
    "multimodal_frames",
    oracle="""
        SELECT doc_id, CAST(f AS BIGINT) AS frame_no, CAST(4 AS BIGINT) AS n_bytes
        FROM documents, unnest([0, 1, 2, 3]) t(f)
    """,
    doc="Frame sampling (video-style row expansion, 1 payload -> n frames) "
        "via mapInPandas: the 16-byte md5 stand-in payload yields 4 frames "
        "of 4 bytes per document — cardinality and frame metadata are "
        "oracle-checked; frame byte content is pytest-checked (video "
        "container decode is a stand-in; IMAGE decode is real — see "
        "multimodal_decode).",
    tags=("multimodal",),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.multimodal import sample_frames

    media = attach_media(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return sample_frames(media, n_frames=4).select("doc_id", "frame_no", "n_bytes")


@register(
    "multimodal_decode",
    oracle="""
        WITH dims AS (
            SELECT doc_id,
                   4 + doc_id % 5 AS w,
                   3 + doc_id % 4 AS h,
                   (7 * doc_id) % 256 AS a
            FROM documents
        ), spec AS (
            SELECT doc_id, w, h, a,
                   3 * w * h AS n,
                   (3 * w * h) // 256 AS c,
                   (3 * w * h) % 256 AS r
            FROM dims
        )
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image/ppm'
                               WHEN 1 THEN 'image/bmp'
                               ELSE 'image/png' END AS media_type,
               CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
               CAST(c * 32640 + r * a + r * (r - 1) // 2
                    - 256 * greatest(0, a + r - 256) AS BIGINT) AS pix_sum,
               CAST(a AS BIGINT) AS first_px
        FROM spec
    """,
    doc="REAL image decode end to end (r10 uncompressed, r11 adds the "
        "compressed format): per document a deterministic ramp image "
        "((7*doc_id + i) % 256) is serialized as an actual PPM P6 "
        "(id%3==0), 24-bit bottom-up BGR BMP (id%3==1), or zlib-compressed "
        "PNG cycling all five row filters (id%3==2) in one Arrow-batched "
        "stage, and a SECOND mapInPandas stage decodes the bytes with "
        "operators/multimodal.decode_image (pure NumPy + stdlib zlib; PIL "
        "hook when installed) and emits dimensions, exact pixel sum, and "
        "the (0,0) R channel. The oracle computes all three in closed "
        "form, so a decoder that misparses a header, includes BMP row "
        "padding, skips the bottom-up flip, forgets BGR->RGB, or "
        "mis-defilters any PNG filter type fails the value hash — "
        "first_px is the orientation/channel canary the order-invariant "
        "sum can't see. Scan-local: zero shuffles; both stages ride the "
        "documents scan. Reference analogue: none (the reference has no "
        "binary-payload story); this is the LLM-pipeline multimodal tier "
        "made honest.",
    tags=("multimodal",),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.multimodal import (
        decode_image_stats, encode_fixture_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_stats(encode_fixture_images(docs, "doc_id"))


@register(
    "embedding_quantize",
    oracle="""
        WITH b AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), s AS (
            SELECT vec_id, e,
                   list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
            FROM b
        ), q AS (
            SELECT vec_id, e, scale,
                   CASE WHEN scale > 0
                        THEN list_transform(e, v -> CAST(floor(v / scale + 0.5) AS BIGINT))
                        ELSE list_transform(e, v -> CAST(0 AS BIGINT)) END AS qv
            FROM s
        )
        SELECT vec_id,
               round(scale, 9) AS scale,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               CAST(list_max(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_max_abs,
               round(CASE WHEN scale > 0
                          THEN list_max(list_transform(generate_series(1, len(qv)),
                                                       i -> abs(qv[i] * scale - e[i])))
                          ELSE 0.0 END, 9) AS max_err
        FROM q
    """,
    doc="Per-vector symmetric int8 scalar quantization of the embedding "
        "column (scale = max|x|/127, q = floor(x/scale + 0.5)): 4x "
        "scan/shuffle byte cut for the widest column in a training corpus. "
        "Scan-local, zero shuffle; engine-portable floor(x+0.5) rounding. "
        "Value-checked on scale, exact integer q_sum/q_max_abs, and max "
        "reconstruction error.",
    tags=("similarity", "quantization"),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, "vec_id", "embedding")


@register(
    "textrank_keywords",
    oracle="""
        WITH t AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), pr AS (
            SELECT unnest(flatten([
                CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1])
                     ELSE [] END,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i + 1] || ' ' || toks[i])
                     ELSE [] END])) AS pair
            FROM t
        ), dir AS (
            SELECT split_part(pair, ' ', 1) AS src, split_part(pair, ' ', 2) AS dst
            FROM pr
            WHERE split_part(pair, ' ', 1) <> split_part(pair, ' ', 2)
        ), w AS (
            SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM dir GROUP BY 1, 2
        ), ow AS (
            SELECT src, sum(w) AS tw FROM w GROUP BY 1
        ), trans AS (
            SELECT w.src, w.dst, w.w / ow.tw AS p FROM w JOIN ow USING (src)
        ), nodes AS (
            SELECT DISTINCT src FROM trans
        ), nn AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
        ), r0 AS (
            SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM nodes
        ), r1 AS (
            SELECT trans.dst AS node,
                   (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * sum(trans.p * r0.r) AS r
            FROM trans JOIN r0 ON trans.src = r0.node GROUP BY trans.dst
        ), r2 AS (
            SELECT trans.dst AS node,
                   (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * sum(trans.p * r1.r) AS r
            FROM trans JOIN r1 ON trans.src = r1.node GROUP BY trans.dst
        ), r3 AS (
            SELECT trans.dst AS node,
                   (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * sum(trans.p * r2.r) AS r
            FROM trans JOIN r2 ON trans.src = r2.node GROUP BY trans.dst
        ), r4 AS (
            SELECT trans.dst AS node,
                   (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * sum(trans.p * r3.r) AS r
            FROM trans JOIN r3 ON trans.src = r3.node GROUP BY trans.dst
        ), r5 AS (
            SELECT trans.dst AS node,
                   (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * sum(trans.p * r4.r) AS r
            FROM trans JOIN r4 ON trans.src = r4.node GROUP BY trans.dst
        )
        SELECT node AS word,
               round(r * (SELECT n FROM nn), 4) AS rank_n_r
        FROM r5
    """,
    doc="TextRank keyword weighting: 5 fixed-point PageRank iterations over "
        "the symmetrized word-adjacency graph (the iterative-algorithm "
        "companion to connected components — same Pregel-lite shape, "
        "rank-vector state instead of labels). Oracle = the SAME 5 "
        "iterations unrolled as chained CTEs; transition probabilities are "
        "integer-count ratios (bit-identical), only iteration sums carry "
        "float noise, absorbed by 4-dp rounding of the mean-normalized "
        "rank. Spark side: transition table repartitioned by src + "
        "persisted once; each iteration moves only the vocabulary-sized "
        "rank vector.",
    tags=("text", "graph"),
)
def textrank_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.text import textrank_words
    from quatrain_mapreduce_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    out = textrank_words(docs, "text", damping=0.85, iters=5)
    return out.select("word", F.round(F.col("rank_n"), 4).alias("rank_n_r"))


@register(
    "bigram_lm_score",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), pr AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= 2
                               THEN list_transform(generate_series(1, len(toks) - 1),
                                                   i -> toks[i] || ' ' || toks[i + 1])
                               ELSE [] END) AS big
            FROM t
        ), m AS (
            SELECT doc_id, big, count(*) AS m FROM pr GROUP BY 1, 2
        ), cab AS (
            SELECT big, sum(m) AS c_ab FROM m GROUP BY 1
        ), ca AS (
            SELECT split_part(big, ' ', 1) AS a, sum(c_ab) AS c_a FROM cab GROUP BY 1
        ), sc AS (
            SELECT m.doc_id, m.m, cab.c_ab,
                   CAST(cab.c_ab AS DOUBLE) / ca.c_a AS p
            FROM m JOIN cab USING (big)
            JOIN ca ON split_part(m.big, ' ', 1) = ca.a
        )
        SELECT doc_id,
               CAST(sum(m) AS BIGINT) AS n_bigrams,
               round(sum(m * p) / sum(m), 4) AS avg_p_r,
               round(CAST(sum(CASE WHEN c_ab >= 3 THEN m ELSE 0 END) AS DOUBLE)
                     / sum(m), 4) AS hit_rate_r
        FROM sc GROUP BY doc_id
    """,
    doc="Self-trained bigram LM quality scoring (CCNet-style perplexity "
        "filter, log-free): per-doc mean conditional probability under the "
        "corpus MLE + common-bigram hit rate. Train and score in ONE plan: "
        "corpus counts are aggs OF the persisted per-doc bigram-type table "
        "(single corpus scan), score is a type-keyed join back — the "
        "train-then-score shape of tfidf_keywords. p = c(a,b)/c(a·) is an "
        "exact integer-ratio division; only the per-doc mean is rounded.",
    tags=("text", "curation"),
)
def bigram_lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.text import bigram_lm_score
    from quatrain_mapreduce_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    out = bigram_lm_score(docs, "doc_id", "text", hit_min=3)
    return out.select(
        "doc_id", "n_bigrams",
        F.round(F.col("avg_p"), 4).alias("avg_p_r"),
        F.round(F.col("hit_rate"), 4).alias("hit_rate_r"),
    )


@register(
    "doc_similarity_pairs",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents
        ), tf AS (
            SELECT doc_id, lang, w, count(*) AS tf FROM t GROUP BY 1, 2, 3
        ), nrm AS (
            SELECT doc_id, sqrt(CAST(sum(tf * tf) AS DOUBLE)) AS nrm
            FROM tf GROUP BY 1
        ), dot AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(sum(a.tf * b.tf) AS BIGINT) AS dot_ab
            FROM tf a JOIN tf b
              ON a.lang = b.lang AND a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), cos AS (
            SELECT id_a, id_b, dot_ab,
                   dot_ab / (na.nrm * nb.nrm) AS c
            FROM dot JOIN nrm na ON id_a = na.doc_id
                     JOIN nrm nb ON id_b = nb.doc_id
        )
        SELECT id_a, id_b, dot_ab, round(c, 4) AS cos_r
        FROM cos WHERE c >= 0.99
    """,
    doc="Pairwise document cosine similarity via inverted-index self-join — "
        "the canonical MapReduce pairwise-similarity algorithm (Elsayed, "
        "Lin & Oard, ACL 2008). Term-frequency vectors keep the whole "
        "computation integer until the final division: dot products and "
        "norms are exact BIGINT sums, sqrt/divide are correctly-rounded "
        "IEEE ops, so the cosine is BIT-identical across engines and the "
        "threshold cut has zero float-boundary risk. Postings join blocks "
        "on lang (ngram_jaccard discipline); ground-truth quadratic within "
        "a block — the LSH family is the scale path this math verifies.",
    tags=("similarity", "text"),
)
def doc_similarity_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.text import doc_cosine_pairs
    from quatrain_mapreduce_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    return doc_cosine_pairs(docs, "doc_id", "text", "lang", threshold=0.99)


@register(
    "record_linkage_fuzzy",
    oracle="""
        WITH c AS (
            SELECT c_custkey, c_name, c_nationkey FROM customer
        ), bands AS (
            SELECT c_custkey, c_name, c_nationkey, g.b,
                   substr(c_name, 10 + g.b * 3, 3) AS bv
            FROM c, (SELECT unnest([0, 1, 2]) AS b) g
        ), sized AS (
            SELECT *, count(*) OVER (PARTITION BY c_nationkey, b, bv)
                      AS bucket_n
            FROM bands
        ), kept AS (
            SELECT * FROM sized WHERE bucket_n <= 64
        ), cand AS (
            SELECT DISTINCT x.c_custkey AS id_a, y.c_custkey AS id_b,
                   x.c_name AS na, y.c_name AS nb
            FROM kept x JOIN kept y
              ON x.c_nationkey = y.c_nationkey AND x.b = y.b
             AND x.bv = y.bv AND x.c_custkey < y.c_custkey
        )
        SELECT id_a, id_b, CAST(levenshtein(na, nb) AS INT) AS dist
        FROM cand WHERE levenshtein(na, nb) <= 2
    """,
    doc="Record linkage / entity resolution: customer-name pairs within "
        "edit distance 2 — the structured-record twin of the dedup tier's "
        "banded-LSH + exact-verify shape. The 9-digit name suffix is cut "
        "into 3 tri-digit bands; by pigeonhole, two substitution-edit "
        "names within distance 2 agree on >=1 band, so candidates come "
        "from an equi-join on (nation, band_idx, band_value), and "
        "degenerate buckets are dropped by the dedup family's max_bucket "
        "cap (64): zero-padded sequential ids make the leading band a "
        "single giant '000' bucket — uncapped, that one bucket "
        "re-creates the full quadratic join (measured 33 s at sf0.1; "
        "capped: the low-order bands carry the same true pairs at "
        "near-linear cost). This replaced a plain nation-blocked join "
        "that grew 37x per decade (fixed-cardinality blocks are the "
        "skew trap: block count must scale with data). Exact "
        "Levenshtein verify runs on candidates only (integer DP, "
        "bit-identical across engines); the oracle mirrors the banding "
        "exactly, so parity is exact. Shift-type distance-2 edits that "
        "break every band are excluded by construction on BOTH sides — "
        "the standard recall tradeoff of banding, stated not hidden.",
    tags=("dedup", "linkage", "fuzzy"),
)
def record_linkage_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    from pyspark.sql import Window

    bands = cust.select(
        "c_custkey", "c_name", "c_nationkey",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("b"),
    ).withColumn("bv", F.expr("substr(c_name, 10 + b * 3, 3)"))
    # max_bucket skew cap (the dedup-LSH convention): a band value shared
    # by too many records re-creates the quadratic join; drop the bucket
    # and let the lower-entropy bands carry its true pairs
    wb = Window.partitionBy("c_nationkey", "b", "bv")
    kept = bands.withColumn("bucket_n", F.count("*").over(wb)).where(
        F.col("bucket_n") <= 64
    )
    x, y = kept.alias("x"), kept.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.c_nationkey") == F.col("y.c_nationkey"))
            & (F.col("x.b") == F.col("y.b"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.c_custkey") < F.col("y.c_custkey")),
        )
        .select(
            F.col("x.c_custkey").alias("id_a"),
            F.col("y.c_custkey").alias("id_b"),
            F.col("x.c_name").alias("na"),
            F.col("y.c_name").alias("nb"),
        )
        .distinct()
    )
    # bounded levenshtein (Spark 3.5+): the threshold form early-exits the
    # DP at band width 2 (O(len*k) not O(len^2)) and returns -1 above it —
    # same kept set, same distances for kept rows (r13: 3.2 s -> 2.4 s at
    # sf0.1; the expression is evaluated in both the filter and the
    # projection, so halving its cost pays twice)
    dist = F.expr("levenshtein(na, nb, 2)")
    return cand.where(dist >= 0).select(
        "id_a", "id_b", dist.cast("int").alias("dist")
    )


@register(
    "dedup_jaccard_prefix",
    oracle="""
        WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(generate_series(1, len(toks) - 2),
                                                i -> toks[i] || ' ' || toks[i + 1]
                                                     || ' ' || toks[i + 2])
                            ELSE [] END) AS sh
            FROM t
        ), nz AS (
            SELECT doc_id, sh FROM sh WHERE len(sh) > 0
        ), pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   len(list_intersect(a.sh, b.sh)) AS inter,
                   len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                     AS uni
            FROM nz a JOIN nz b ON a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, inter / uni AS jac
        FROM pairs WHERE inter * 5 >= uni * 4
    """,
    doc="EXACT set-similarity self-join via prefix filtering "
        "(operators/dedup.jaccard_prefix_pairs — Chaudhuri ICDE'06 / "
        "Bayardo WWW'07): every pair with TRIGRAM-shingle Jaccard >= 4/5, "
        "ZERO approximation, which is why the oracle is the plain "
        "ALL-PAIRS filter with no blocking mirrored — prefix filtering "
        "is lossless by the pigeonhole bound. Third member of the "
        "Jaccard-join family: length-banded (dedup_ngram_jaccard, "
        "complete but heuristic-blocked), LSH (probabilistic, "
        "recall-gated), and this (exact algorithmic pruning). "
        "Rarest-first canonical order keeps prefix-token join buckets "
        "the smallest ones; the threshold rides as an integer fraction "
        "because float ceil(0.8*n) over-rounds and silently drops pairs.",
    tags=("dedup", "similarity"),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.dedup import jaccard_prefix_pairs

    return jaccard_prefix_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, t_num=4, t_den=5,
    )


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """BM25 scores for the fixed query {hash, join} (k1=1.2, b=0.75) —
    shared by bm25_search and hybrid_search_rrf so both rankings are the
    identical rational expression of integers on both engines."""
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    stats = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("dl"),
        F.size(F.filter(toks, lambda x: x == F.lit("hash")))
          .cast("bigint").alias("tf_hash"),
        F.size(F.filter(toks, lambda x: x == F.lit("join")))
          .cast("bigint").alias("tf_join"),
    )
    corpus = stats.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count(F.when(F.col("tf_hash") > 0, 1)).alias("df_hash"),
        F.count(F.when(F.col("tf_join") > 0, 1)).alias("df_join"),
    )

    def part(tf, df):
        rawidf = (F.col("n") - df + 0.5) / (df + 0.5)
        norm = tf + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        return rawidf * (tf * 2.2) / norm

    return stats.crossJoin(F.broadcast(corpus)).select(
        "doc_id", "dl", "tf_hash", "tf_join",
        (
            part(F.col("tf_hash"), F.col("df_hash"))
            + part(F.col("tf_join"), F.col("df_join"))
        ).alias("score"),
    )


@register(
    "bm25_search",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '')
                     AS toks
            FROM documents
        ), stats AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS dl,
                   CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT)
                     AS tf_hash,
                   CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT)
                     AS tf_join
            FROM d
        ), corpus AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                   CAST(count(*) FILTER (WHERE tf_hash > 0) AS BIGINT)
                     AS df_hash,
                   CAST(count(*) FILTER (WHERE tf_join > 0) AS BIGINT)
                     AS df_join
            FROM stats
        ), scored AS (
            SELECT doc_id, dl, tf_hash, tf_join,
                   (n - df_hash + 0.5) / (df_hash + 0.5)
                     * (tf_hash * 2.2)
                     / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + (n - df_join + 0.5) / (df_join + 0.5)
                     * (tf_join * 2.2)
                     / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
                     AS score
            FROM stats CROSS JOIN corpus
        )
        SELECT doc_id, dl, tf_hash, tf_join, round(score, 4) AS score_r,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                 AS rank
        FROM scored
        QUALIFY rank <= 20
    """,
    doc="BM25 document ranking for the query {hash, join} (k1=1.2, "
        "b=0.75) — the IR-scoring member of the text tier beside "
        "tfidf_keywords, using the same raw-IDF convention "
        "((N-df+0.5)/(df+0.5), rank-monotone) because ln() ulp-diverges "
        "between engines and can flip near-tied ranks. tf/dl are "
        "scan-local array expressions (zero Python); corpus stats are "
        "one broadcast-sized aggregate; every score is the identical "
        "rational expression of integers on both engines, so the FULL "
        "ranking (not just rounded scores) hashes identically. Top-20 "
        "ordered by (unrounded score, doc_id).",
    tags=("text", "search", "ranking"),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = _bm25_scored(docs)
    top = scored.orderBy(F.desc("score"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.select(
        "doc_id", "dl", "tf_hash", "tf_join",
        F.round("score", 4).alias("score_r"),
        F.row_number().over(w).alias("rank"),
    )


def drift_report_from_counts(c: DataFrame) -> DataFrame:
    """Final drift report from a (token, cnt_a, cnt_b) counts frame —
    shared by the batch query and the streaming monitor so both are held
    to the SAME oracle. Ranking rides on L1 (integer-ratio IEEE
    arithmetic); the smoothed KL term is output-only, portably rounded."""
    from pyspark.sql import Window

    tot = c.agg(
        F.sum("cnt_a").cast("bigint").alias("na"),
        F.sum("cnt_b").cast("bigint").alias("nb"),
        F.count("*").alias("v"),
    )
    j = c.crossJoin(F.broadcast(tot))
    pa = F.col("cnt_a") / F.col("na").cast("double")
    pb = F.col("cnt_b") / F.col("nb").cast("double")
    l1 = F.abs(pa - pb)
    spa = (F.col("cnt_a") + 1) / (F.col("na") + F.col("v")).cast("double")
    spb = (F.col("cnt_b") + 1) / (F.col("nb") + F.col("v")).cast("double")
    kl = F.floor(spa * F.log(spa / spb) * 100000000 + F.lit(0.5)) / 100000000
    ranked = (
        j.select("token", "cnt_a", "cnt_b", l1.alias("l1_drift"),
                 kl.alias("kl_term"))
        .orderBy(F.col("l1_drift").desc(), "token").limit(20)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("l1_drift").desc(), "token")
            ),
        )
    )
    return ranked.select("token", "cnt_a", "cnt_b", "l1_drift", "kl_term",
                         "rank")


def token_slice_counts(docs: DataFrame) -> DataFrame:
    """(token, cnt_a, cnt_b) unigram counts by doc_id-parity slice — the
    accumulable state of the drift monitor (plain sums, so any partition
    of the corpus merges by addition: the streaming twin's invariant)."""
    toks = (
        docs.select(
            (F.col("doc_id") % 2).alias("slice"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    return toks.groupBy("token").agg(
        F.count(F.when(F.col("slice") == 0, 1)).alias("cnt_a"),
        F.count(F.when(F.col("slice") == 1, 1)).alias("cnt_b"),
    )



TOKEN_DRIFT_ORACLE = """
        WITH toks AS (
            SELECT doc_id % 2 AS slice, w AS token FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
        ), c AS (
            SELECT token,
                   CAST(count(*) FILTER (WHERE slice = 0) AS BIGINT) AS cnt_a,
                   CAST(count(*) FILTER (WHERE slice = 1) AS BIGINT) AS cnt_b
            FROM toks GROUP BY token
        ), tot AS (
            SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
                   CAST(sum(cnt_b) AS BIGINT) AS nb,
                   CAST(count(*) AS BIGINT) AS v
            FROM c
        )
        SELECT token, cnt_a, cnt_b,
               abs(cnt_a / CAST(na AS DOUBLE) - cnt_b / CAST(nb AS DOUBLE))
                 AS l1_drift,
               floor(((cnt_a + 1) / CAST(na + v AS DOUBLE))
                     * ln(((cnt_a + 1) / CAST(na + v AS DOUBLE))
                          / ((cnt_b + 1) / CAST(nb + v AS DOUBLE)))
                     * 100000000 + 0.5) / 100000000 AS kl_term,
               CAST(row_number() OVER (
                   ORDER BY abs(cnt_a / CAST(na AS DOUBLE)
                                - cnt_b / CAST(nb AS DOUBLE)) DESC, token
               ) AS INTEGER) AS rank
        FROM c CROSS JOIN tot
        QUALIFY rank <= 20
    """


@register(
    "token_drift_kl",
    oracle=TOKEN_DRIFT_ORACLE,
    doc="Corpus distribution-drift detection — the monitoring primitive "
        "for continuously-ingested training data: token unigram "
        "distributions of two corpus slices (here doc_id parity; in "
        "production yesterday-vs-today or source-vs-source) compared "
        "token-by-token, top-20 drifted tokens reported. RANKING rides on "
        "the L1 drift |p_a - p_b| — two integer-ratio IEEE divisions and "
        "a subtraction, bit-identical across engines — while the add-1-"
        "smoothed KL contribution p_a*ln(p_a/p_b) is carried as OUTPUT "
        "(portably rounded 8dp; ln is never used for ordering, the "
        "tfidf_keywords lesson: libm vs StrictMath differ in the last "
        "ulp). Plan: one corpus scan -> token-keyed count agg (map-"
        "combinable, conditional counts per slice so both slices ride ONE "
        "shuffle), the 3-scalar totals frame broadcast back, "
        "TakeOrderedAndProject for the top-20. Vocab-bounded state; "
        "corpus-linear work.",
    tags=("text", "drift", "monitoring"),
)
def token_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return drift_report_from_counts(token_slice_counts(docs))


@register(
    "bpe_train_merges",
    oracle=None,  # iterative argmax + data-dependent vocab rewriting is not
    # SQL-expressible; exact parity vs a pure-Python reference BPE on the
    # same corpus is pytest-gated (tests/test_text_multimodal.py)
    doc="Full iterative BPE tokenizer training (Sennrich et al. 2016 — "
        "operators/text.bpe_train): 8 merge rounds of pair-count -> argmax "
        "-> greedy vocab rewrite, the completion of bpe_pair_counts' "
        "single-round statistic. Corpus scanned once; every round works "
        "the |vocab|-sized symbol table with a JVM array-fold rewrite "
        "(F.aggregate — no Python in the loop) and transfers exactly one "
        "argmax row to the driver per round (bounded scalar pull). "
        "Deterministic tie-break (count DESC, pair lex). Output is the "
        "ordered merge-rule table a tokenizer pipeline persists.",
    tags=("text", "tokenizer", "iterative"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.text import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"), "text",
                     n_merges=8)


@register(
    "bpe_encode_corpus",
    oracle=None,  # the merge table is data-dependent (iterative argmax) —
    # exact train->apply parity vs the pure-Python reference is
    # pytest-gated (tests/test_text_multimodal.py)
    doc="The SERVE half of the tokenizer loop (train once -> encode at "
        "scale): bpe_train's 8 learned merges replayed over the corpus "
        "(operators/text.bpe_apply — scan-local chained JVM array folds, "
        "zero Python, zero extra shuffles beyond the per-doc stats agg), "
        "completing train (bpe_train_merges) -> encode (this) -> export "
        "(tokenize_ids / training_export). Output is per-document subword "
        "stats with a position-weighted checksum so the SEGMENTATION is "
        "pinned, not just counts: a wrong merge order changes the "
        "checksum. At 100 TB the merge table is persisted index metadata "
        "(like an ANN codebook) and the encode is embarrassingly "
        "parallel.",
    tags=("text", "tokenizer", "export"),
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.text import bpe_apply, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, "text", n_merges=8).orderBy("rank").collect()
    ]
    enc = bpe_apply(docs, "doc_id", "text", merges)
    return enc.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.size("syms")).cast("bigint").alias("n_subwords"),
        F.sum((F.col("word_pos") + 1) * F.size("syms")).cast("bigint")
         .alias("seg_checksum"),
    )


@register(
    "entity_resolution_clusters",
    oracle="""
        WITH RECURSIVE c AS (
            SELECT c_custkey, c_name, c_nationkey FROM customer
        ), bands AS (
            SELECT c_custkey, c_name, c_nationkey, g.b,
                   substr(c_name, 10 + g.b * 3, 3) AS bv
            FROM c, (SELECT unnest([0, 1, 2]) AS b) g
        ), sized AS (
            SELECT *, count(*) OVER (PARTITION BY c_nationkey, b, bv)
                      AS bucket_n
            FROM bands
        ), kept AS (
            SELECT * FROM sized WHERE bucket_n <= 64
        ), cand AS (
            SELECT DISTINCT x.c_custkey AS id_a, y.c_custkey AS id_b,
                   x.c_name AS na, y.c_name AS nb
            FROM kept x JOIN kept y
              ON x.c_nationkey = y.c_nationkey AND x.b = y.b
             AND x.bv = y.bv AND x.c_custkey < y.c_custkey
        ), pairs AS (
            SELECT id_a, id_b FROM cand WHERE levenshtein(na, nb) <= 2
        ), edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ), reach(node, r) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
        ), comp AS (
            SELECT node, min(r) AS root FROM reach GROUP BY node
        ), clusters AS (
            SELECT CAST(root AS BIGINT) AS entity_root,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(sum(node) AS BIGINT) AS member_key_sum
            FROM comp GROUP BY root
        )
        SELECT clusters.*, c.c_name AS canonical_name
        FROM clusters JOIN c ON c.c_custkey = clusters.entity_root
    """,
    doc="End-to-end entity resolution: the composition of "
        "record_linkage_fuzzy's banded candidate/verify stage with the "
        "components operator's star contraction — fuzzy matches become "
        "transitive ENTITIES (A~B, B~C => one entity even when A,C differ "
        "by 4 edits), each reduced to a canonical record (min-key rule, "
        "the dedup_keep_best convention) with a membership checksum so "
        "cluster CONTENTS are hash-checked, not just counts. The oracle "
        "re-derives the whole thing independently as banding + recursive "
        "closure CTE. At 100 TB: candidates are banding-linear, the "
        "contraction is O(log^2) rounds on the PAIR graph, the canonical "
        "join touches one row per entity.",
    tags=("dedup", "linkage", "components", "iterative"),
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.components import (
        connected_components,
    )

    pairs = record_linkage_fuzzy(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs, src="id_a", dst="id_b")
    clusters = comp.groupBy(F.col("root").alias("entity_root")).agg(
        F.count("*").alias("n_members"),
        F.sum("node").cast("bigint").alias("member_key_sum"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name").alias("canonical_name")
    )
    return clusters.join(
        cust, clusters.entity_root == cust.c_custkey
    ).select("entity_root", "n_members", "member_key_sum", "canonical_name")


# Window width for the substring-dedup family: every Spark call site, the
# staged-index tag, and the literals inside the three DuckDB oracles
# (w=8 / w-1=7) encode this value; change them together.
_SPAN_W = 8


@register(
    "dedup_substring_windows",
    oracle="""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
          FROM documents
        ), pos AS (
          SELECT doc_id, t,
                 unnest(range(0, greatest(len(t) - 7, 0))) AS pos
          FROM toks
        ), win AS (
          SELECT doc_id, pos,
                 md5(array_to_string(t[pos+1 : pos+8], ' ')) AS whash
          FROM pos
        ), perdoc AS (
          SELECT whash, doc_id, count(*) AS cnt, sum(pos) AS pos_sum
          FROM win GROUP BY 1, 2
        ), crossdoc AS (
          SELECT whash FROM perdoc GROUP BY 1 HAVING min(doc_id) < max(doc_id)
        ), dup AS (
          SELECT doc_id,
                 CAST(sum(cnt) AS BIGINT) AS dup_windows,
                 CAST(sum(pos_sum) AS BIGINT) AS dup_pos_sum
          FROM perdoc JOIN crossdoc USING (whash) GROUP BY 1
        )
        SELECT k.doc_id,
               CAST(greatest(len(k.t) - 7, 0) AS BIGINT) AS n_windows,
               CAST(coalesce(d.dup_windows, 0) AS BIGINT) AS dup_windows,
               CAST(coalesce(d.dup_pos_sum, 0) AS BIGINT) AS dup_pos_sum,
               (coalesce(d.dup_windows, 0) * 5 >= greatest(len(k.t) - 7, 0)
                AND greatest(len(k.t) - 7, 0) > 0) AS dup_heavy
        FROM toks k LEFT JOIN dup d USING (doc_id)
    """,
    doc="Exact duplicated-SPAN detection via rolling 8-token window "
        "fingerprints — the distributed witness form of suffix-array "
        "substring dedup (Lee et al. ACL'22): any cross-document verbatim "
        "span of >= 8 tokens shares at least one aligned window, so "
        "flagging fingerprints seen in >1 document (min!=max witness, no "
        "countDistinct) catches every such span with corpus-linear work "
        "and NO suffix array. Fourth member of the dedup family: exact "
        "whole-doc (dedup_exact) / near-dup (LSH tiers) / set-similarity "
        "(jaccard) / SPAN-level (this). Per-doc output pins membership: "
        "duplicated-window count AND start-position sum, plus a >=20% "
        "flag in pure integer arithmetic. Corpus really contains planted "
        "cross-doc spans (sf0.01: 1015 duplicated window fingerprints "
        "across 47 docs), so the query is exercised, not vacuous. Plan: "
        "scan-local window build (sequence->slice->md5 in codegen), "
        "per-(doc,hash) pre-agg making the hash shuffle map-combinable, "
        "dup-set join back. Cites reference semantics: the reference has "
        "no span dedup; this is LLM-pipeline superset surface.",
    tags=("dedup", "substring", "llm-pipeline"),
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.dedup import substring_window_report

    return substring_window_report(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", w=_SPAN_W
    )


from quatrain_mapreduce_spark.operators.curation import portable_h16_sql as _h16_sql

_SPLIT_H16 = _h16_sql("doc_id")

_CLS_ORACLE = f"""
    WITH split AS (
      SELECT doc_id, lang, text, ({_SPLIT_H16} % 10 < 7) AS is_train
      FROM documents
    ), tr_tok AS (
      SELECT lang,
             unnest(list_filter(regexp_split_to_array(text, ' '), x -> x <> '')) AS token
      FROM split WHERE is_train
    ), counts AS (
      SELECT token,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_pos,
             sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_neg
      FROM tr_tok GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c_pos) AS BIGINT) AS tot_pos,
             CAST(sum(c_neg) AS BIGINT) AS tot_neg,
             CAST(count(*) AS BIGINT) AS v
      FROM counts
    ), model AS (
      SELECT token,
             CAST((c_pos + 1) * (tot_neg + v) - (c_neg + 1) * (tot_pos + v)
                  AS BIGINT) AS weight
      FROM counts, tot
    ), te_tok AS (
      SELECT doc_id, token, count(*) AS tf
      FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, ' '), x -> x <> '')) AS token
        FROM split WHERE NOT is_train
      ) GROUP BY 1, 2
    ), scores AS (
      SELECT doc_id, CAST(sum(tf * weight) AS BIGINT) AS score
      FROM te_tok JOIN model USING (token) GROUP BY 1
    )
    SELECT s.doc_id,
           CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
           coalesce(sc.score, 0) > 0 AS pred,
           s.lang = 'en' AS actual
    FROM split s LEFT JOIN scores sc USING (doc_id)
    WHERE NOT s.is_train
"""


@register(
    "text_classifier_linear",
    oracle=_CLS_ORACLE,
    doc="Trained linear text classifier, train->serve in ONE plan (the "
        "fastText-style curation gate: label docs, train a linear model "
        "on a split, score the rest at scan throughput). Binary target "
        "lang='en'; leakage-free 70/30 split via the portable md5-nibble "
        "hash (doc_id parity would alias the source column here). The "
        "discriminant is the class-conditional frequency difference with "
        "add-1 smoothing carried as an EXACT INTEGER cross-ratio: "
        "weight(t) = (c_pos+1)(tot_neg+V) - (c_neg+1)(tot_pos+V) — sign "
        "equals the sign of the smoothed rate difference, so prediction "
        "is argmax over exact integers; the log-likelihood NB form is the "
        "production swap but ln() is banned from ordering (libm vs "
        "StrictMath last-ulp, the tfidf_keywords lesson). Plan: ONE "
        "token-count shuffle (map-combinable) trains; the vocab-bounded "
        "model + 1-row totals broadcast back; serving is explode -> "
        "per-(doc,token) tf -> broadcast-hash join -> per-doc sum. At "
        "100 TB the model stays vocab-sized and serving is one scan.",
    tags=("text", "classifier", "llm-pipeline"),
)
def text_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.text import (
        count_discriminant_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    return count_discriminant_classifier(
        docs, "doc_id", "text",
        is_pos=F.col("lang") == "en",
        is_train=F.expr(f"({_SPLIT_H16} % 10) < 7"),
    )


@register(
    "embedding_pca_project",
    oracle=None,  # the eigendecomposition has no SQL form; exact parity vs
    # a direct numpy PCA on the same parquet (projections AND explained-
    # variance ratios) is pytest-gated (tests/test_similarity.py)
    doc="Distributed PCA over the embedding column — fit via ONE "
        "mapInPandas moment-partial pass (count / sum / d x d Gram per "
        "partition, the treeAggregate shape; driver pull is model-sized, "
        "<= n_partitions rows), eigensolve on the d x d covariance "
        "driver-local (d is pipeline config, not data), then projection "
        "of all vectors onto the top-4 components as pure JVM "
        "zip_with/aggregate expressions (one SQL string per component — "
        "no Python in the scoring path). The reduction step a production "
        "ANN stack runs before IVF/PQ quantization; composes with "
        "similarity_ivf / similarity_pq on the reduced vectors. "
        "Deterministic up to float-sum ulp: components sign-normalized "
        "(largest-|coordinate| entry positive).",
    tags=("similarity", "embedding", "llm-pipeline"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.similarity import (
        pca_fit, pca_project,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=4)
    return pca_project(emb, "vec_id", "embedding", model, keep_cols=("label",))


@register(
    "dedup_span_extract",
    oracle="""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
          FROM documents
        ), pos AS (
          SELECT doc_id, t,
                 unnest(range(0, greatest(len(t) - 7, 0))) AS pos
          FROM toks
        ), win AS (
          SELECT doc_id, pos,
                 md5(array_to_string(t[pos+1 : pos+8], ' ')) AS whash
          FROM pos
        ), crossdoc AS (
          SELECT whash FROM win GROUP BY 1 HAVING min(doc_id) < max(doc_id)
        ), dpos AS (
          SELECT w.doc_id, w.pos,
                 row_number() OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS rn
          FROM win w JOIN crossdoc USING (whash)
        )
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 7 AS BIGINT) AS span_end,
               CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens,
               CAST(count(*) AS BIGINT) AS n_dup_windows
        FROM dpos GROUP BY doc_id, pos - rn
    """,
    doc="The cut-list half of substring dedup: maximal cross-document "
        "duplicated token spans reconstructed from the flagged rolling "
        "windows by gaps-and-islands merging (a run of consecutive "
        "duplicated window starts [p..q] is ONE duplicated span "
        "[p, q+w-1]; island key = pos minus per-doc rank). What a 100 TB "
        "pipeline feeds to the span-removal rewrite, where "
        "substring_window_report only scores docs. Duplicated positions "
        "are tiny vs the corpus, so the island window and group agg run "
        "on dedup output, not corpus scale; the window frame builds once "
        "scan-local. Exact integer output pins every span boundary.",
    tags=("dedup", "substring", "llm-pipeline"),
)
def dedup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.dedup import dup_span_extract

    return dup_span_extract(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", w=_SPAN_W
    )


@register(
    "dedup_substring_incremental",
    oracle="""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
          FROM documents
        ), pos AS (
          SELECT doc_id, t,
                 unnest(range(0, greatest(len(t) - 7, 0))) AS pos
          FROM toks
        ), win AS (
          SELECT doc_id, pos,
                 md5(array_to_string(t[pos+1 : pos+8], ' ')) AS whash
          FROM pos
        ), ex AS (
          SELECT DISTINCT whash FROM win WHERE doc_id % 5 <> 0
        ), hit AS (
          SELECT i.doc_id,
                 CAST(count(*) AS BIGINT) AS hit_windows,
                 CAST(sum(i.pos) AS BIGINT) AS hit_pos_sum
          FROM win i JOIN ex USING (whash)
          WHERE i.doc_id % 5 = 0
          GROUP BY 1
        )
        SELECT k.doc_id,
               CAST(greatest(len(k.t) - 7, 0) AS BIGINT) AS n_windows,
               CAST(coalesce(h.hit_windows, 0) AS BIGINT) AS hit_windows,
               CAST(coalesce(h.hit_pos_sum, 0) AS BIGINT) AS hit_pos_sum
        FROM toks k LEFT JOIN hit h USING (doc_id)
        WHERE k.doc_id % 5 = 0
    """,
    doc="Incremental SPAN-level dedup against a persisted window-hash "
        "index — the continuous-corpus contract applied to the substring "
        "tier (the third staged-index member after dedup_incremental_lsh "
        "and sessionize_incremental): the standing corpus's distinct "
        "window fingerprints are staged ONCE; an arriving increment "
        "(doc_id % 5 == 0) builds its own windows scan-local and PROBES "
        "the index with one equi-join — per-increment work scales with "
        "the increment, never the corpus, and at 100 TB the index is "
        "bucketed by fingerprint so the probe co-locates. Reports, per "
        "arriving doc, how much of it already exists verbatim in the "
        "corpus (window count + position sum pins membership). Increment-"
        "internal duplication is deliberately out of scope — that is "
        "dedup_substring_windows run on the increment alone.",
    tags=("dedup", "substring", "incremental"),
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.dedup import window_fingerprints
    from quatrain_mapreduce_spark.operators.projection import tokenize
    from quatrain_mapreduce_spark.staging import staged

    docs = load_table(spark, sf_dir, "documents")
    arriving = F.col("doc_id") % 5 == 0

    existing = spark.read.parquet(staged(sf_dir, f"spanindex64w{_SPAN_W}", lambda d: (
        window_fingerprints(docs.where(~arriving), "doc_id", "text", _SPAN_W)
        .select("whash").distinct().write.parquet(d))))

    inc = docs.where(arriving)
    base = inc.select(
        F.col("doc_id"),
        F.greatest(F.size(tokenize("text")) - (_SPAN_W - 1), F.lit(0))
        .cast("bigint").alias("n_windows"),
    )
    hits = (
        window_fingerprints(inc, "doc_id", "text", _SPAN_W)
        .join(existing, "whash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("hit_windows"),
            F.sum("pos").alias("hit_pos_sum"),
        )
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce("hit_windows", F.lit(0)).cast("bigint").alias("hit_windows"),
        F.coalesce("hit_pos_sum", F.lit(0)).cast("bigint").alias("hit_pos_sum"),
    )


def _bm25_top50(docs: DataFrame) -> DataFrame:
    """The exact lexical ranking both hybrid variants share."""
    from pyspark.sql import Window

    b = _bm25_scored(docs).where(F.col("doc_id") != 0)
    wb = Window.orderBy(F.desc("score"), "doc_id")
    return (
        b.orderBy(F.desc("score"), "doc_id").limit(50)
        .select("doc_id", F.row_number().over(wb).alias("bm25_rank"))
    )


def _rrf_fuse(btop: DataFrame, vtop: DataFrame) -> DataFrame:
    """RRF (k=60) fusion of a (doc_id, bm25_rank) and a (doc_id, cos_rank)
    top-k list into the fused top-20 — shared by the exact and IVF hybrid
    variants so the fusion semantics cannot diverge."""
    from pyspark.sql import Window

    rrf = (
        F.coalesce(F.lit(1.0).cast("double") / (F.col("bm25_rank") + 60),
                   F.lit(0.0))
        + F.coalesce(F.lit(1.0).cast("double") / (F.col("cos_rank") + 60),
                     F.lit(0.0))
    )
    fused = btop.join(vtop, "doc_id", "full").select(
        "doc_id", "bm25_rank", "cos_rank", rrf.alias("rrf")
    )
    wf = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.orderBy(F.desc("rrf"), "doc_id").limit(20)
        .select(
            "doc_id", "bm25_rank", "cos_rank",
            F.round("rrf", 6).alias("rrf_r"),
            F.row_number().over(wf).alias("fused_rank"),
        )
    )


@register(
    "hybrid_search_rrf",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '')
                     AS toks
            FROM documents
        ), stats AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS dl,
                   CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT)
                     AS tf_hash,
                   CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT)
                     AS tf_join
            FROM d
        ), corpus AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                   CAST(count(*) FILTER (WHERE tf_hash > 0) AS BIGINT)
                     AS df_hash,
                   CAST(count(*) FILTER (WHERE tf_join > 0) AS BIGINT)
                     AS df_join
            FROM stats
        ), scored AS (
            SELECT doc_id,
                   (n - df_hash + 0.5) / (df_hash + 0.5)
                     * (tf_hash * 2.2)
                     / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + (n - df_join + 0.5) / (df_join + 0.5)
                     * (tf_join * 2.2)
                     / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
                     AS score
            FROM stats CROSS JOIN corpus
        ), btop AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS bm25_rank
            FROM scored WHERE doc_id <> 0
            QUALIFY bm25_rank <= 50
        ), v AS (
            SELECT vec_id, embedding,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                        CAST(embedding AS DOUBLE[]))::DOUBLE) AS nrm
            FROM embeddings
        ), vs AS (
            SELECT c.vec_id AS doc_id,
                   round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                         CAST(c.embedding AS DOUBLE[]))::DOUBLE
                         / (q.nrm * c.nrm), 6) AS cos
            FROM v q JOIN v c ON c.vec_id <> q.vec_id
            WHERE q.vec_id = 0
        ), vtop AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                        AS INT) AS cos_rank
            FROM vs QUALIFY cos_rank <= 50
        ), fused AS (
            SELECT COALESCE(b.doc_id, v2.doc_id) AS doc_id,
                   b.bm25_rank, v2.cos_rank,
                   COALESCE(CAST(1 AS DOUBLE) / (60 + b.bm25_rank), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / (60 + v2.cos_rank), 0)
                     AS rrf
            FROM btop b FULL JOIN vtop v2 ON b.doc_id = v2.doc_id
        )
        SELECT doc_id, bm25_rank, cos_rank, round(rrf, 6) AS rrf_r,
               CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
                 AS fused_rank
        FROM fused QUALIFY fused_rank <= 20
    """,
    doc="Hybrid retrieval — reciprocal-rank fusion (Cormack et al. "
        "SIGIR'09, k=60) of the BM25 lexical ranking (query {hash, join}, "
        "shared _bm25_scored expression with bm25_search) and the exact "
        "cosine ranking against query embedding vec_id=0 "
        "(brute_force_topk, the ANN ground-truth path). Each side "
        "produces its top-50 as a 2-stage TakeOrdered (never a global "
        "sort); fusion is a full outer join of two 50-row frames — "
        "driver-negligible at any corpus size, since both lists are "
        "top-k-bounded BEFORE the join. RRF terms are 1/(60+rank) on "
        "INTEGER ranks, so the fused scores are IEEE-identical on both "
        "engines and the full fused ranking hash-matches exactly — no "
        "tolerance bands. This is the retrieval shape modern RAG/search "
        "stacks run (lexical + dense, fused rank-side), composing two "
        "already-oracled operators; at scale the cosine side swaps to "
        "similarity_ivf/lsh candidates with identical fusion semantics.",
    tags=("similarity", "search", "ranking", "llm-pipeline"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    vtop = (
        brute_force_topk(
            emb.where(F.col("vec_id") == 0), emb, "vec_id", "embedding", k=50
        )
        .select(F.col("neighbor_id").alias("doc_id"),
                F.col("rk").cast("int").alias("cos_rank"))
    )
    return _rrf_fuse(_bm25_top50(docs), vtop)


@register(
    "hybrid_search_rrf_ivf",
    oracle=None,  # approximate dense side by construction — differential
                  # fused-overlap gate vs the exact hybrid in
                  # tests/test_similarity.py
    doc="The 100 TB form of hybrid_search_rrf: identical BM25 lexical list "
        "and identical _rrf_fuse semantics, but the dense side comes from "
        "the IVF index (partition-pruned inverted lists) instead of "
        "brute-force cosine — at corpus scale the exact all-pairs dense "
        "ranking is not runnable, so this is the variant a deployment "
        "actually serves. nprobe=8 of n_lists=16 here because the "
        "synthetic embeddings are near-UNIFORM — the worst geometry for "
        "IVF (a random query's true neighbors spread across all lists; "
        "measured fused-top-20 overlap vs exact: 12-13/20 at nprobe=4, "
        "15-16/20 at nprobe=8). Clustered real corpora run far smaller "
        "probe fractions at higher recall (test_ivf_recall_vs_brute_force "
        "holds >=0.9 at nprobe=4/16 on clustered vectors). No SQL oracle "
        "(the dense side is approximate by construction); the "
        "differential pytest gates fused overlap against the exact twin "
        "and pins that the lexical side and agreeing-rank fused scores "
        "are identical.",
    tags=("similarity", "search", "ranking", "llm-pipeline", "no-oracle"),
)
def hybrid_search_rrf_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.similarity import ivf_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(f"{sf_dir}/embeddings.parquet")
    vtop = (
        ivf_topk(
            emb.where(F.col("vec_id") == 0), emb, "vec_id", "embedding",
            dim=dim, k=50, n_lists=16, nprobe=8,
        )
        .select(F.col("neighbor_id").alias("doc_id"),
                F.col("rk").cast("int").alias("cos_rank"))
    )
    return _rrf_fuse(_bm25_top50(docs), vtop)
