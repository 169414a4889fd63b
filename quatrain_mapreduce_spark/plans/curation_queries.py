"""Corpus-curation acceptance queries: sampling, splitting, domain capping,
decontamination, PII scrubbing (operators/curation.py).

No reference analogue (engine extension tier — the reference's curation
ceiling is DISTINCT, QL/parse/SemanticAnalyzer.java:747). Every query here is
FULLY oracle-checked, including sample MEMBERSHIP (id-sum columns), because
the sampling hash (curation.portable_h16_sql) is the same SQL text evaluated
by both engines — determinism is part of the contract, not just the stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.operators.curation import (
    EMAIL_RE, GOPHER_PASS_SQL, PHONE_RE, cap_per_domain, decontaminate,
    gopher_metrics_sql, h16, portable_h16_sql, repetition_stats, scrub_pii,
    stratified_sample, train_val_split,
)
from quatrain_mapreduce_spark.operators.text import STOPWORDS
from quatrain_mapreduce_spark.registry import register

_H = portable_h16_sql("doc_id")
_STOP = "', '".join(STOPWORDS)

# The portable quality expression (matches operators/text.quality_col and the
# green text_quality oracle).
def _q_sql(col: str) -> str:
    return f"""
    0.3 * (CASE WHEN len(list_filter(string_split({col}, ' '), x -> x <> '')) > 0
           THEN len(list_filter(string_split({col}, ' '), x -> x IN ('{_STOP}')))
                / len(list_filter(string_split({col}, ' '), x -> x <> ''))
           ELSE 0.0 END)
  + 0.7 * least(len(list_filter(string_split({col}, ' '), x -> x <> '')) / 100.0, 1.0)
"""


_Q_SQL = _q_sql("text")


@register(
    "stratified_sample",
    oracle=f"""
        WITH t AS (
            SELECT lang, doc_id,
                   CASE WHEN {_H} % 1000 <
                             CASE WHEN lang = 'en' THEN 300 ELSE 800 END
                        THEN 1 ELSE 0 END AS kept
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(kept) AS BIGINT) AS n_sampled,
               CAST(sum(kept * doc_id) AS BIGINT) AS sampled_id_sum
        FROM t GROUP BY lang
    """,
    doc="Deterministic stratified sampling: downsample the head language "
        "(en -> 30%), keep the tail at 80%. Keep-decision is a pure column "
        "expression over a portable md5-nibble hash — no rand(), no shuffle; "
        "the id-sum column makes sample MEMBERSHIP (not just rates) "
        "oracle-checked.",
    tags=("curation",),
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = stratified_sample(docs, "doc_id", "lang", {"en": 300}, default_quota=800)
    return s.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("__kept").alias("n_sampled"),
        F.sum(F.col("__kept") * F.col("doc_id")).alias("sampled_id_sum"),
    )


@register(
    "temperature_sample",
    oracle=f"""
        WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        r AS (
            SELECT lang,
                   CAST(round(least(1.0,
                            sqrt((max(cnt) OVER ()) / CAST(cnt AS DOUBLE)) * 0.3)
                        * 1000) AS INTEGER) AS permille
            FROM c
        ),
        t AS (
            SELECT d.lang, r.permille,
                   CASE WHEN {_H.replace('doc_id', 'd.doc_id')} % 1000 < r.permille
                        THEN 1 ELSE 0 END AS kept,
                   d.doc_id
            FROM documents d JOIN r ON d.lang = r.lang
        )
        SELECT lang, permille,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(kept) AS BIGINT) AS n_sampled,
               CAST(sum(kept * doc_id) AS BIGINT) AS sampled_id_sum
        FROM t GROUP BY lang, permille
    """,
    doc="Temperature-flattened language sampling (mT5, Xue et al. 2021 §3.1, "
        "T=2): per-language keep-rates DERIVED from the data — head language "
        "at 30%, tail boosted by sqrt(c_max/c_lang) capped at 1. The rate "
        "table is a broadcast-sized aggregate; membership is the portable "
        "hash, so the oracle checks the derived permille AND the sampled "
        "id-sum. sqrt (IEEE-correctly-rounded) rather than free-α pow keeps "
        "the thresholds bit-identical across engines.",
    tags=("curation",),
)
def temperature_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    s = temperature_sample(docs, "doc_id", "lang", head_permille=300)
    return s.groupBy("lang", F.col("__thr").alias("permille")).agg(
        F.count("*").alias("n_docs"),
        F.sum("__kept").alias("n_sampled"),
        F.sum(F.col("__kept") * F.col("doc_id")).alias("sampled_id_sum"),
    )


_HM = portable_h16_sql("concat(doc_id, '_mix')")


@register(
    "source_mixture",
    oracle=f"""
        WITH t AS (
            SELECT source, doc_id,
                   (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                                WHEN 'src2' THEN 2 WHEN 'src3' THEN 0
                                ELSE 1 END
                    + CASE WHEN {_HM} % 1000 <
                                CASE source WHEN 'src0' THEN 400
                                            WHEN 'src1' THEN 300
                                            ELSE 0 END
                           THEN 1 ELSE 0 END) AS copies
            FROM documents
        )
        SELECT source,
               CAST(count(*) FILTER (WHERE copies > 0) AS BIGINT) AS n_docs,
               CAST(sum(copies) AS BIGINT) AS n_emitted,
               CAST(sum(doc_id * copies) AS BIGINT) AS emitted_id_sum,
               CAST(sum((copies * (copies - 1)) // 2) AS BIGINT) AS rep_sum
        FROM t GROUP BY source HAVING sum(copies) > 0
    """,
    doc="Source-weighted mixture with fractional epochs (GPT-3/Pile data "
        "mixing): src0×2.4 (repeat twice + 40% slice again), src1×0.3 "
        "(downsample), src2×2.0 (exact doubling), src3×0.0 (dropped), "
        "rest×1.0. floor/frac split in Python so only integer literals "
        "reach either engine; membership via the '_mix'-salted portable "
        "hash. The rep_sum column (sum of 0..copies-1 per doc) pins that "
        "the explode emitted exactly the right DISTINCT rep indices, not "
        "just the right multiplicity.",
    tags=("curation",),
)
def source_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import mix_sources

    docs = load_table(spark, sf_dir, "documents")
    m = mix_sources(
        docs, "doc_id", "source",
        {"src0": 2.4, "src1": 0.3, "src2": 2.0, "src3": 0.0},
    )
    return m.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_emitted"),
        F.sum("doc_id").alias("emitted_id_sum"),
        F.sum("__rep").alias("rep_sum"),
    )


_HX = portable_h16_sql("ex_id")


@register(
    "training_export",
    oracle=f"""
        WITH w AS (
            SELECT source, doc_id, text,
                   (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                                WHEN 'src2' THEN 2 WHEN 'src3' THEN 0
                                ELSE 1 END
                    + CASE WHEN {_HM} % 1000 <
                                CASE source WHEN 'src0' THEN 400
                                            WHEN 'src1' THEN 300
                                            ELSE 0 END
                           THEN 1 ELSE 0 END) AS copies
            FROM documents
        ), m AS (
            SELECT doc_id, text, unnest(range(copies)) AS rep FROM w
        ), d AS (
            SELECT concat(doc_id, '#', rep) AS ex_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                        AS BIGINT) AS n_tok
            FROM m
        ), h AS (
            SELECT ex_id, n_tok, {_HX} % 64 AS shard, {_HX} AS hkey FROM d
        ), c AS (
            SELECT ex_id, n_tok, shard,
                   sum(n_tok) OVER (ORDER BY shard, hkey, ex_id
                                    ROWS UNBOUNDED PRECEDING) AS tok_end
            FROM h
        )
        SELECT ex_id, n_tok, CAST(shard AS INTEGER) AS shard,
               CAST(tok_end - n_tok AS BIGINT) AS tok_start,
               CAST(CASE WHEN n_tok > 0
                         THEN floor((tok_end - n_tok) / 512.0)
                    END AS BIGINT) AS first_seq,
               CAST(CASE WHEN n_tok > 0
                         THEN floor((tok_end - 1) / 512.0)
                    END AS BIGINT) AS last_seq
        FROM c
    """,
    doc="End-to-end training export in ONE declarative plan: source-"
        "weighted mixture (fractional epochs, repetition carried as an "
        "example id doc_id#rep) -> deterministic corpus order -> sequence-"
        "packing manifest (seq_len=512) via the distributed prefix sum. "
        "The oracle recomputes the whole chain with a single global "
        "window — the 100 TB anti-pattern the engine formulation avoids — "
        "and must agree exactly, repetitions and all.",
    tags=("curation", "pack"),
)
def training_export_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import (
        mix_sources, pack_manifest,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = mix_sources(
        docs, "doc_id", "source",
        {"src0": 2.4, "src1": 0.3, "src2": 2.0, "src3": 0.0},
    )
    ex = m.select(
        F.concat_ws("#", F.col("doc_id"), F.col("__rep")).alias("ex_id"),
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n_tok"),
    )
    return pack_manifest(ex, "ex_id", "n_tok", seq_len=512, n_shards=64)


@register(
    "chunk_documents",
    oracle="""
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_id,
               CAST(i*150+1 AS INTEGER) AS chunk_start,
               substr(text, CAST(i*150+1 AS INTEGER), 200) AS chunk
        FROM documents,
             unnest(generate_series(0,
                 CAST(greatest(floor((length(text)-1)/CAST(150 AS DOUBLE)), 0) AS BIGINT)
             )) AS g(i)
    """,
    doc="Overlapping fixed-width chunking (RAG / long-doc context-window "
        "prep): 200-char chunks, 50-char overlap, 1-based offsets, full "
        "provenance. Scan-local array expression — zero shuffle; the oracle "
        "value-checks every chunk string and offset.",
    tags=("curation", "export"),
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_chars=200, overlap=50)


@register(
    "tokenize_ids",
    oracle="""
        WITH toks AS (
            SELECT doc_id, w,
                   row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS tok_pos
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS w,
                       generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents
            ) WHERE w <> ''
        ),
        counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        vocab AS (
            SELECT w,
                   CAST(row_number() OVER (ORDER BY cnt DESC, w) AS INTEGER) AS token_id
            FROM counts QUALIFY token_id <= 100
        ),
        m AS (
            SELECT t.doc_id, t.tok_pos, coalesce(v.token_id, 0) AS tid
            FROM toks t LEFT JOIN vocab v ON t.w = v.w
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               CAST(sum(tid * tok_pos) AS BIGINT) AS id_checksum
        FROM m GROUP BY doc_id
    """,
    doc="Token-id export: corpus-derived frequency vocabulary (top-100, "
        "deterministic (count desc, word) ranking via TakeOrderedAndProject "
        "— no global sort of the distinct-word table), broadcast-joined back "
        "to map every token to its id, OOV=0. The per-doc "
        "sum(token_id*position) checksum makes the id SEQUENCE "
        "oracle-checked, not just counts.",
    tags=("curation", "export"),
)
def tokenize_ids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import build_vocab, tokenize_ids

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", size=100)
    ids = tokenize_ids(docs, "doc_id", "text", vocab)
    return ids.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("token_id") == 0, 1).otherwise(0)).alias("n_oov"),
        F.sum(F.col("token_id").cast("bigint") * F.col("tok_pos")).alias("id_checksum"),
    )


@register(
    "train_val_split",
    oracle=f"""
        SELECT CASE WHEN {_H} % 1000 < 950 THEN 'train' ELSE 'val' END AS split,
               lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY 1, 2
    """,
    doc="Deterministic 95/5 train/validation split: rows keep their split "
        "across reruns and engines (leakage-free under re-execution). "
        "id_sum oracle-checks the assignment itself.",
    tags=("curation",),
)
def train_val_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = train_val_split(load_table(spark, sf_dir, "documents"), "doc_id", val_permille=50)
    return docs.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("doc_id").alias("id_sum"),
    )


@register(
    "domain_cap",
    oracle=f"""
        WITH q AS (
            SELECT doc_id, source, {_Q_SQL} AS q
            FROM documents
        ), r AS (
            SELECT *, row_number() OVER (PARTITION BY source
                                         ORDER BY q DESC, doc_id) AS rk
            FROM q
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_kept,
               round(avg(q), 4) AS avg_q,
               CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
        FROM r WHERE rk <= 10 GROUP BY source
    """,
    doc="Frequency capping: keep the 10 highest-quality docs per source "
        "(deterministic tie-break). One window shuffle, O(k) state per "
        "domain — the guard against boilerplate-heavy domains dominating "
        "a 100 TB corpus.",
    tags=("curation",),
)
def domain_cap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    capped = cap_per_domain(docs, "doc_id", "source", "text", k=10)
    return capped.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.round(F.avg("q"), 4).alias("avg_q"),
        F.sum("doc_id").alias("kept_id_sum"),
    )


@register(
    "decontaminate",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, {_H} AS h,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id, lang, h,
                   list_distinct(
                       CASE WHEN len(toks) >= 4
                            THEN list_transform(generate_series(1, len(toks) - 3),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                                      toks[i+2] || ' ' || toks[i+3])
                            ELSE [] END) AS g
            FROM t
        ), ev AS (
            SELECT DISTINCT unnest(g) AS ng FROM sh WHERE h % 10 = 0
        ), tr AS (
            SELECT doc_id, lang, g FROM sh WHERE h % 10 <> 0
        ), kept AS (
            SELECT doc_id, lang FROM tr
            WHERE NOT EXISTS (SELECT 1 FROM ev WHERE list_contains(tr.g, ev.ng))
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
        FROM kept GROUP BY lang
    """,
    doc="Benchmark decontamination (GPT-3-style n-gram rule, n=4 at this "
        "corpus scale): a deterministic 10% eval slice, then training docs "
        "sharing any word 4-gram with it are anti-joined out. Eval grams "
        "broadcast (small side); the train corpus is scanned once.",
    tags=("curation",),
)
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_ids = docs.where(h16("doc_id") % 10 == 0).select("doc_id")
    kept = decontaminate(docs, "doc_id", "text", eval_ids, n=4)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("kept_id_sum"),
    )


@register(
    "pii_scrub",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   text || CASE WHEN doc_id % 7 = 0
                                THEN ' contact bob@example.com now'
                                WHEN doc_id % 11 = 0
                                THEN ' call 555-123-4567 today'
                                ELSE '' END AS text2
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text2, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(
                   regexp_replace(text2, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}')) AS INTEGER) AS n_phones,
               md5(regexp_replace(regexp_replace(text2, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{PHONE_RE}', '<PHONE>', 'g')) AS fp
        FROM t
    """,
    doc="PII redaction: emails/phones replaced with typed placeholders, "
        "counts recorded per row. Deterministic synthetic PII is injected "
        "first (the corpus is clean by construction) so the scrub path is "
        "value-checked end-to-end: the oracle compares the md5 of the "
        "SCRUBBED text. Pure JVM regexp — runs at scan throughput.",
    tags=("curation",),
)
def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, " contact bob@example.com now")
            .when(F.col("doc_id") % 11 == 0, " call 555-123-4567 today")
            .otherwise(""),
        ).alias("text2"),
    )
    out = scrub_pii(docs, "text2")
    return out.select(
        "doc_id",
        F.col("n_emails").cast("int").alias("n_emails"),
        F.col("n_phones").cast("int").alias("n_phones"),
        F.md5("scrubbed").alias("fp"),
    )


@register(
    "repetition_filter",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, toks,
                   CASE WHEN len(toks) >= 2
                        THEN list_transform(generate_series(1, len(toks) - 1),
                                            i -> toks[i] || ' ' || toks[i+1])
                        ELSE [] END AS bi
            FROM t
        )
        SELECT doc_id,
               CASE WHEN len(toks) > 0
                    THEN list_max(list_transform(list_distinct(toks),
                                  x -> len(list_filter(toks, y -> y = x))))
                         / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END AS top_tok_frac,
               CASE WHEN len(bi) > 0
                    THEN list_max(list_transform(list_distinct(bi),
                                  x -> len(list_filter(bi, y -> y = x))))
                         / CAST(len(bi) AS DOUBLE)
                    ELSE 0.0 END AS top_bigram_frac
        FROM g
    """,
    doc="Intra-doc repetition signals (Gopher-style rules): most-frequent "
        "token and bigram fractions, computed with array higher-order "
        "functions — scan-local, zero shuffle (the explode->groupBy "
        "formulation would shuffle the entire tokenized corpus).",
    tags=("curation",),
)
def repetition_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.util import spread

    # spread(): the per-doc sort+run-length arrays are CPU-bound narrow work;
    # a single-file input would otherwise run them on one core (no-op at
    # real scale where the scan has many partitions)
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return repetition_stats(docs, "text").select(
        "doc_id", "top_tok_frac", "top_bigram_frac"
    )


@register(
    "corpus_shuffle",
    oracle=f"""
        SELECT doc_id,
               {_H} % 8 AS shard,
               CAST(row_number() OVER (PARTITION BY {_H} % 8
                                       ORDER BY {_H}, doc_id) AS BIGINT) AS pos
        FROM documents
    """,
    doc="Deterministic global shuffle for training export: shard = "
        "portable-hash %% n_shards, position = rank within shard by (hash, "
        "id). One hash shuffle, every shard sorts independently — no "
        "single-reducer total order; reproducible example order across "
        "reruns and engines (the property data-loader resume depends on).",
    tags=("curation",),
)
def corpus_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = h16("doc_id")
    w = Window.partitionBy(h % 8).orderBy(h, "doc_id")
    return docs.select(
        "doc_id",
        (h % 8).alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


@register(
    "gopher_rules",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), m AS (
            SELECT doc_id, {gopher_metrics_sql('toks')}
            FROM t
        )
        SELECT doc_id, n_tokens, mean_tok_len, symbol_frac, stop_hits,
               CAST({GOPHER_PASS_SQL} AS INT) AS passes
        FROM m
    """,
    doc="Gopher-style quality gate (Rae et al. '21 A1.1): token-count "
        "bounds, mean-token-length band, symbol-token fraction, distinct "
        "stopword floor -> pass/fail flag. Scan-local array expressions, "
        "zero shuffle; pairs with repetition_filter for the full rule set.",
    tags=("curation", "quality"),
)
def gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import gopher_rules

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_rules(docs, "text").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_tok_len",
        "symbol_frac",
        F.col("stop_hits").cast("long").alias("stop_hits"),
        "passes",
    )


@register(
    "dedup_spans",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), u AS (
            SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ), s AS (
            SELECT doc_id, CAST((ord - 1) // 8 AS INTEGER) AS pos,
                   string_agg(tok, ' ' ORDER BY ord) AS span
            FROM u GROUP BY doc_id, (ord - 1) // 8
        ), d AS (
            SELECT doc_id, pos, span,
                   row_number() OVER (PARTITION BY span
                                      ORDER BY doc_id, pos) AS rn
            FROM s
        )
        SELECT doc_id,
               string_agg(span, ' ' ORDER BY pos) AS text_dedup,
               CAST(count(*) AS BIGINT) AS n_spans_kept
        FROM d WHERE rn = 1 GROUP BY doc_id
    """,
    doc="Span-level dedup (C4/RefinedWeb line-dedup adapted to 8-token "
        "spans): keep only the corpus-wide FIRST occurrence of each "
        "distinct span, reassemble docs from survivors. Engine side is a "
        "min-struct hash aggregate (map-side combine — a boilerplate span "
        "repeated across millions of pages collapses per-mapper, no hot "
        "sorted partition), the oracle the equivalent keep-first window. "
        "Dropped docs = fully-duplicate content.",
    tags=("curation", "dedup"),
)
def dedup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import dedup_spans

    docs = load_table(spark, sf_dir, "documents")
    return dedup_spans(docs, "doc_id", "text", span_tokens=8)


@register(
    "sequence_pack",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok,
                   {_H} % 64 AS shard, {_H} AS hkey
            FROM documents
        ), c AS (
            SELECT doc_id, n_tok, shard,
                   sum(n_tok) OVER (ORDER BY shard, hkey, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS tok_end
            FROM d
        )
        SELECT doc_id, n_tok, CAST(shard AS INTEGER) AS shard,
               -- CAST: windowed sum() is HUGEINT -> pandas float64 in the
               -- driver's fetchdf view; Spark emits BIGINT
               CAST(tok_end - n_tok AS BIGINT) AS tok_start,
               CAST(CASE WHEN n_tok > 0
                         THEN floor((tok_end - n_tok) / 1024.0)
                    END AS BIGINT) AS first_seq,
               CAST(CASE WHEN n_tok > 0
                         THEN floor((tok_end - 1) / 1024.0)
                    END AS BIGINT) AS last_seq
        FROM c
    """,
    doc="Sequence-packing manifest (concat-then-chunk training layout, "
        "seq_len=1024): per-doc global token offset and the first/last "
        "training sequence it lands in, in the deterministic corpus-"
        "shuffle order. Engine side is a distributed prefix sum (within-"
        "shard window + 64-row exclusive shard-offset frame, broadcast "
        "back) — the oracle's single global window IS the 100 TB anti-"
        "pattern the operator exists to avoid, and both must agree "
        "exactly.",
    tags=("curation", "pack"),
)
def sequence_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import pack_manifest

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n_tok"),
    )
    return pack_manifest(d, "doc_id", "n_tok", seq_len=1024, n_shards=64)


@register(
    "adaptive_quality_filter",
    oracle=f"""
        WITH q AS (
            SELECT doc_id, lang,
                   0.3 * (CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
                               THEN len(list_filter(string_split(text, ' '), x -> x IN ('{_STOP}')))
                                    / len(list_filter(string_split(text, ' '), x -> x <> ''))
                               ELSE 0.0 END)
                     + 0.7 * least(len(list_filter(string_split(text, ' '), x -> x <> '')) / 100.0, 1.0)
                     AS quality
            FROM documents
        ), hist AS (
            SELECT lang, quality, count(*) AS cnt FROM q GROUP BY 1, 2
        ), cum AS (
            SELECT lang, quality,
                   sum(cnt) OVER (PARTITION BY lang ORDER BY quality
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY lang) AS n
            FROM hist
        ), thr AS (
            SELECT lang, min(quality) AS thr FROM cum
            WHERE cum >= ceil(n / 2.0) GROUP BY 1
        )
        SELECT q.doc_id, q.lang,
               round(q.quality, 4) AS quality_r,
               round(thr.thr, 4) AS thr_r
        FROM q JOIN thr USING (lang)
        WHERE q.quality >= thr.thr
    """,
    doc="Per-language adaptive quality gate: keep docs at or above their "
        "language's lower median quality — the calibration real pipelines "
        "run so one global cutoff doesn't starve low-resource languages. "
        "Median via the distributed exact-median histogram trick: value "
        "counts are a map-combinable agg; the cumulative walk runs over "
        "the tiny distinct-value table; thresholds broadcast back. No "
        "per-group corpus sort anywhere. Quality is integer-ratio "
        "arithmetic, so thresholds and comparisons are bit-identical "
        "across engines.",
    tags=("curation",),
)
def adaptive_quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import adaptive_quality_filter

    docs = load_table(spark, sf_dir, "documents")
    return adaptive_quality_filter(docs, "doc_id", "text", "lang")


@register(
    "contamination_score",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_H} AS h,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id, h,
                   list_distinct(
                       CASE WHEN len(toks) >= 4
                            THEN list_transform(generate_series(1, len(toks) - 3),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                                      toks[i+2] || ' ' || toks[i+3])
                            ELSE [] END) AS g
            FROM t
        ), ev AS (
            SELECT DISTINCT unnest(g) AS ng FROM sh WHERE h % 10 = 0
        ), tg AS (
            SELECT doc_id, unnest(g) AS ng FROM sh WHERE h % 10 <> 0
        ), j AS (
            SELECT tg.doc_id,
                   CASE WHEN ev.ng IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM tg LEFT JOIN ev ON tg.ng = ev.ng
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(hit) AS BIGINT) AS n_hit,
               round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS frac_r
        FROM j GROUP BY doc_id
    """,
    doc="Graded benchmark contamination: per train doc, the fraction of its "
        "distinct word 4-grams found in the deterministic 10% eval slice — "
        "the triage report behind decontaminate's binary rule. Same plan "
        "discipline: eval grams broadcast, train corpus scanned once, "
        "never self-joined; integer counts + one exact division.",
    tags=("curation",),
)
def contamination_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import contamination_score

    docs = load_table(spark, sf_dir, "documents")
    eval_ids = docs.where(h16("doc_id") % 10 == 0).select("doc_id")
    return contamination_score(docs, "doc_id", "text", eval_ids, n=4)


@register(
    "corpus_diff",
    oracle="""
        WITH v1 AS (
            SELECT doc_id, text FROM documents
        ), v2 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN text || ' v2edit' ELSE text END AS text
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT doc_id + 1000000, text || ' new'
            FROM documents WHERE doc_id % 11 = 0
        )
        SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.text <> v2.text THEN 'changed' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        WHERE (v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.text <> v2.text)
    """,
    doc="Corpus snapshot diff (dataset-versioning primitive; DistCp -update "
        "change detection, content-addressed): v2 is derived from v1 by "
        "deterministic drop/edit/append rules, then diffed by md5 "
        "fingerprint over normalized text — added / removed / changed per "
        "id, unchanged dropped. One full-outer hash join on the id; only "
        "(id, 16-byte fp) ever moves, never text. The oracle diffs the raw "
        "texts directly — equivalent because the edit rules change "
        "normalized content exactly when they change text.",
    tags=("curation", "versioning"),
)
def corpus_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    v2 = (
        docs.where(F.col("doc_id") % 7 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" v2edit")))
            .otherwise(F.col("text")),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 11 == 0)
            .select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" new")).alias("text"),
                *[c for c in docs.columns if c not in ("doc_id", "text")],
            ).select(*docs.columns)
        )
    )
    return corpus_diff(docs, v2, "doc_id", "text")


@register(
    "k_anonymity_audit",
    oracle="""
        WITH cls AS (
            SELECT c_nationkey,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                   CAST(count(*) AS BIGINT) AS n
            FROM customer GROUP BY 1, 2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_classes,
               CAST(count(*) FILTER (WHERE n < 5) AS BIGINT)
                 AS n_violating_classes,
               CAST(coalesce(sum(n) FILTER (WHERE n < 5), 0) AS BIGINT)
                 AS n_rows_at_risk,
               CAST(min(n) AS BIGINT) AS min_class_size
        FROM cls
    """,
    doc="k-anonymity audit (k=5) over the quasi-identifier tuple "
        "(nation, account-balance band) — the QUANTITATIVE privacy "
        "check beside pii_scrub's redaction: how many equivalence "
        "classes are smaller than k, and how many rows sit in them "
        "(re-identification risk). ONE map-combined group count plus a "
        "4-value summary agg; exact integer arithmetic throughout; "
        "floor() on the band is toward -inf on both engines (negative "
        "balances land consistently). At 100 TB this is the audit run "
        "before any quasi-identifier column set is released — "
        "generalization/suppression loops just re-run it with coarser "
        "bands.",
    tags=("curation", "privacy"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cls = (
        cust.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(F.count("*").alias("n"))
    )
    risk = F.col("n") < 5
    return cls.agg(
        F.count("*").alias("n_classes"),
        F.count(F.when(risk, 1)).alias("n_violating_classes"),
        F.coalesce(F.sum(F.when(risk, F.col("n"))), F.lit(0))
          .cast("bigint").alias("n_rows_at_risk"),
        F.min("n").alias("min_class_size"),
    )


@register(
    "curation_reject_reasons",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), m AS (
            SELECT doc_id, {gopher_metrics_sql('toks')}
            FROM t
        ), flags AS (
            SELECT doc_id,
                   CASE WHEN n_tokens < 5 THEN 1 ELSE 0 END AS too_short,
                   CASE WHEN n_tokens > 100000 THEN 1 ELSE 0 END AS too_long,
                   CASE WHEN mean_tok_len < 2 OR mean_tok_len > 12
                        THEN 1 ELSE 0 END AS bad_tok_len,
                   CASE WHEN symbol_frac >= 0.1 THEN 1 ELSE 0 END AS symbolic,
                   CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END AS no_stopwords
            FROM m
        )
        SELECT reason, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
        FROM (
            SELECT doc_id, 'too_short' AS reason FROM flags WHERE too_short = 1
            UNION ALL
            SELECT doc_id, 'too_long' FROM flags WHERE too_long = 1
            UNION ALL
            SELECT doc_id, 'bad_tok_len' FROM flags WHERE bad_tok_len = 1
            UNION ALL
            SELECT doc_id, 'symbolic' FROM flags WHERE symbolic = 1
            UNION ALL
            SELECT doc_id, 'no_stopwords' FROM flags WHERE no_stopwords = 1
            UNION ALL
            SELECT doc_id, 'PASS' FROM flags
            WHERE too_short + too_long + bad_tok_len + symbolic
                  + no_stopwords = 0
        )
        GROUP BY reason
    """,
    doc="Curation observability — WHY documents are rejected, not just "
        "that they are: every gopher_rules gate becomes a tagged reason "
        "row (a doc failing several gates counts under each; survivors "
        "under PASS), with a doc_id-sum membership checksum per reason so "
        "reason ASSIGNMENT is hash-checked. The answer to the question "
        "every curation-pipeline operator gets asked ('what happened to "
        "my documents?') and the input to threshold tuning "
        "(adaptive_quality_filter is the automated half). One scan, "
        "scan-local array HOFs, one small agg — the reason explode is "
        "bounded at 5 flags + PASS per doc.",
    tags=("curation", "quality", "observability"),
)
def curation_reject_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_rules(docs, "text")
    flags = g.select(
        "doc_id",
        (F.col("n_tokens") < 5).cast("int").alias("too_short"),
        (F.col("n_tokens") > 100000).cast("int").alias("too_long"),
        ((F.col("mean_tok_len") < 2) | (F.col("mean_tok_len") > 12))
        .cast("int").alias("bad_tok_len"),
        (F.col("symbol_frac") >= 0.1).cast("int").alias("symbolic"),
        (F.col("stop_hits") < 2).cast("int").alias("no_stopwords"),
    )
    reasons = flags.select(
        "doc_id",
        F.explode(
            F.filter(
                F.array(
                    F.when(F.col("too_short") == 1, "too_short"),
                    F.when(F.col("too_long") == 1, "too_long"),
                    F.when(F.col("bad_tok_len") == 1, "bad_tok_len"),
                    F.when(F.col("symbolic") == 1, "symbolic"),
                    F.when(F.col("no_stopwords") == 1, "no_stopwords"),
                    F.when(
                        F.col("too_short") + F.col("too_long")
                        + F.col("bad_tok_len") + F.col("symbolic")
                        + F.col("no_stopwords") == 0,
                        "PASS",
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("reason"),
    )
    return reasons.groupBy("reason").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
    )


@register(
    "boilerplate_strip",
    oracle="""
        WITH t AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks
            FROM documents
        ), u AS (
            SELECT doc_id, source, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ), s AS (
            SELECT doc_id, source,
                   CAST((ord - 1) // 8 AS INTEGER) AS pos,
                   string_agg(tok, ' ' ORDER BY ord) AS span
            FROM u GROUP BY doc_id, source, (ord - 1) // 8
        ), boiler AS (
            SELECT source, span FROM s
            GROUP BY source, span HAVING count(*) >= 3
        ), kept AS (
            SELECT s.doc_id, s.pos, s.span
            FROM s LEFT JOIN boiler
              ON s.source = boiler.source AND s.span = boiler.span
            WHERE boiler.span IS NULL
        )
        SELECT doc_id,
               string_agg(span, ' ' ORDER BY pos) AS text_clean,
               CAST(count(*) AS BIGINT) AS n_spans_kept
        FROM kept GROUP BY doc_id
    """,
    doc="C4-rule boilerplate removal (Raffel et al. 2020 §2.2: drop every "
        "occurrence of any line seen >= 3 times; applied per SOURCE, the "
        "CCNet per-snapshot refinement) over 8-token spans — the "
        "frequency-threshold complement to dedup_spans' keep-first: "
        "chrome/banners are boilerplate in ALL their copies, including "
        "the first. Span counts are a map-combinable (source, span) hash "
        "agg; removal is a LEFT ANTI join on the same key; one per-doc "
        "reassembly agg. Dropped docs were pure boilerplate — the row "
        "delta vs documents is the kill rate.",
    tags=("curation", "quality", "dedup"),
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import strip_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    return strip_boilerplate(docs, "doc_id", "text", "source",
                             span_tokens=8, min_count=3)


_GRAM_H = portable_h16_sql("gram")


@register(
    "winnow_fingerprints",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), u AS (
            SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ), g AS (
            SELECT doc_id, ord,
                   string_agg(tok, ' ') OVER (
                       PARTITION BY doc_id ORDER BY ord
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
                   ) AS gram,
                   count(*) OVER (PARTITION BY doc_id) AS n_tok
            FROM u
        ), h AS (
            SELECT doc_id, ord, {_GRAM_H} AS hv,
                   CAST(n_tok - 3 AS BIGINT) AS n_grams
            FROM g WHERE ord <= n_tok - 3
        ), w AS (
            SELECT doc_id, n_grams,
                   min((hv + 1) * 1000000000 - ord) OVER (
                       PARTITION BY doc_id ORDER BY ord
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
                   ) AS sel_key
            FROM h
            QUALIFY ord <= n_grams - 3
        ), fp AS (
            SELECT DISTINCT doc_id, n_grams, sel_key FROM w
        )
        SELECT doc_id, n_grams,
               CAST(count(*) AS BIGINT) AS n_fp,
               CAST(sum(sel_key // 1000000000) AS BIGINT) AS fp_sum,
               CAST(min(sel_key // 1000000000) AS BIGINT) AS fp_min
        FROM fp GROUP BY doc_id, n_grams
    """,
    doc="Winnowing document fingerprints — Schleimer/Wilkerson/Aiken "
        "SIGMOD'03 (the MOSS algorithm): hash every 4-token gram with "
        "the engine-portable 16-bit md5-nibble hash, then select each "
        "4-window's MINIMUM hash with rightmost tie-breaking — the "
        "guarantee-density fingerprint set behind plagiarism / partial-"
        "copy detection, complementing doc_fingerprint (one rolling hash "
        "per doc) with a set that survives local edits. Selection is ONE "
        "plain MIN window aggregate over a forward frame on the encoded "
        "key (hv+1)*1e9 - ord (smaller hash wins, ties prefer the "
        "RIGHTMOST position; the +1 keeps every key positive so "
        "truncating division decodes hv EXACTLY even for hv=0, where the "
        "unshifted key went negative and trunc-div was off by one) — "
        "identical window algebra "
        "in both engines, no min_by/struct portability trap, no "
        "self-join over positions. "
        "Plan: scan-local tokenization -> one DOC-keyed window exchange "
        "(bounded by doc length, embarrassingly parallel across docs) -> "
        "distinct + per-doc summary; the oracle pins the selected SET "
        "via its sum/min, not just its size.",
    tags=("curation", "dedup", "text"),
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _winnow_summary(docs)


def _winnow_summary(docs: DataFrame) -> DataFrame:
    """Per-doc winnowing fingerprint summary (the winnow_fingerprints core,
    shared with the composed c4_curation_pipeline)."""
    from pyspark.sql import Window as W

    u = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("ord0", "tok"),
    ).select("doc_id", (F.col("ord0") + 1).alias("ord"), "tok")
    wdoc = W.partitionBy("doc_id")
    wg = wdoc.orderBy("ord").rowsBetween(0, 3)
    g = u.select(
        "doc_id", "ord",
        F.concat_ws(" ", F.collect_list("tok").over(wg)).alias("gram"),
        F.count("*").over(wdoc).alias("n_tok"),
    )
    h = g.where(F.col("ord") <= F.col("n_tok") - 3).select(
        "doc_id", "ord",
        F.expr(_GRAM_H).cast("bigint").alias("hv"),
        (F.col("n_tok") - 3).cast("bigint").alias("n_grams"),
    )
    # rightmost-min per window == plain MIN of the single integer key
    # (hv+1)*1e9 - ord (1 <= ord < 1e9): smaller hash wins, ties prefer
    # larger ord. The +1 shift keeps every key strictly positive so
    # truncating division decodes hv exactly for ALL hv — the unshifted
    # key hv*1e9 - ord went NEGATIVE for hv=0 and both engines' trunc
    # division decoded it as 1, off by one (review finding). No min_by
    # needed, so the identical expression binds in both engines.
    sel = h.select(
        "doc_id", "n_grams", "ord",
        F.min((F.col("hv") + 1) * F.lit(1000000000) - F.col("ord"))
         .over(W.partitionBy("doc_id").orderBy("ord").rowsBetween(0, 3))
         .alias("sel_key"),
    ).where(F.col("ord") <= F.col("n_grams") - 3)
    fp = sel.select("doc_id", "n_grams", "sel_key").distinct()
    hv = F.expr("sel_key div 1000000000")
    return fp.groupBy("doc_id", "n_grams").agg(
        F.count("*").cast("bigint").alias("n_fp"),
        F.sum(hv).cast("bigint").alias("fp_sum"),
        F.min(hv).cast("bigint").alias("fp_min"),
    )


@register(
    "c4_curation_pipeline",
    oracle=f"""
        WITH wt AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), wu AS (
            SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM wt
        ), wg AS (
            SELECT doc_id, ord,
                   string_agg(tok, ' ') OVER (
                       PARTITION BY doc_id ORDER BY ord
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
                   ) AS gram,
                   count(*) OVER (PARTITION BY doc_id) AS n_tok
            FROM wu
        ), wh AS (
            SELECT doc_id, ord, {_GRAM_H} AS hv,
                   CAST(n_tok - 3 AS BIGINT) AS n_grams
            FROM wg WHERE ord <= n_tok - 3
        ), ww AS (
            SELECT doc_id, n_grams,
                   min((hv + 1) * 1000000000 - ord) OVER (
                       PARTITION BY doc_id ORDER BY ord
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
                   ) AS sel_key
            FROM wh
            QUALIFY ord <= n_grams - 3
        ), wfp AS (
            SELECT DISTINCT doc_id, sel_key FROM ww
        ), fp AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_fp,
                   CAST(sum(sel_key // 1000000000) AS BIGINT) AS fp_sum
            FROM wfp GROUP BY doc_id
        ), bt AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks
            FROM documents
        ), bu AS (
            SELECT doc_id, source, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM bt
        ), bs AS (
            SELECT doc_id, source,
                   CAST((ord - 1) // 8 AS INTEGER) AS pos,
                   string_agg(tok, ' ' ORDER BY ord) AS span
            FROM bu GROUP BY doc_id, source, (ord - 1) // 8
        ), boiler AS (
            SELECT source, span FROM bs
            GROUP BY source, span HAVING count(*) >= 3
        ), kept AS (
            SELECT bs.doc_id, bs.pos, bs.span
            FROM bs LEFT JOIN boiler
              ON bs.source = boiler.source AND bs.span = boiler.span
            WHERE boiler.span IS NULL
        ), cleaned AS (
            SELECT doc_id,
                   string_agg(span, ' ' ORDER BY pos) AS text_clean,
                   CAST(count(*) AS BIGINT) AS n_spans_kept
            FROM kept GROUP BY doc_id
        ), ct AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text_clean, ' '),
                               x -> x <> '') AS t
            FROM cleaned
        ), cpos AS (
            SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 7, 0))) AS pos
            FROM ct
        ), cwin AS (
            SELECT doc_id, pos,
                   md5(array_to_string(t[pos+1 : pos+8], ' ')) AS whash
            FROM cpos
        ), cperdoc AS (
            SELECT whash, doc_id, count(*) AS cnt
            FROM cwin GROUP BY 1, 2
        ), ccross AS (
            SELECT whash FROM cperdoc
            GROUP BY 1 HAVING min(doc_id) < max(doc_id)
        ), cdup AS (
            SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS dup_windows
            FROM cperdoc JOIN ccross USING (whash) GROUP BY 1
        )
        SELECT c.doc_id,
               c.n_spans_kept,
               CAST(coalesce(fp.n_fp, 0) AS BIGINT) AS n_fp,
               CAST(coalesce(fp.fp_sum, 0) AS BIGINT) AS fp_sum,
               CAST(greatest(len(ct.t) - 7, 0) AS BIGINT) AS n_windows,
               CAST(coalesce(d.dup_windows, 0) AS BIGINT) AS dup_windows,
               (coalesce(d.dup_windows, 0) * 5 >= greatest(len(ct.t) - 7, 0)
                AND greatest(len(ct.t) - 7, 0) > 0) AS dup_heavy
        FROM cleaned c
        JOIN ct USING (doc_id)
        LEFT JOIN fp USING (doc_id)
        LEFT JOIN cdup d USING (doc_id)
    """,
    doc="The composed C4-style curation pipeline, run the way a production "
        "corpus pass runs its stages (VERDICT r8 directive #5): (1) winnow "
        "MOSS fingerprints on the RAW text (provenance fingerprints must "
        "predate mutation), (2) C4 boilerplate strip per source, (3) span-"
        "level substring dedup on the CLEANED text — composition matters "
        "because stripping changes the window set stage 3 sees (sf0.01: "
        "dup_windows on cleaned text differs from dedup_substring_windows' "
        "raw-text report). One row per surviving doc: spans kept, raw-text "
        "fingerprint count/sum, clean-text window stats and the >=20% "
        "dup_heavy flag. Scale shape is the sum of its parts, all corpus-"
        "linear: doc-keyed window exchanges (winnow), one map-combinable "
        "(source, span) agg + anti join (strip), one map-combinable "
        "(doc, hash) pre-agg + hash-keyed witness exchange (span dedup); "
        "no stage materializes to disk between steps — Catalyst sees the "
        "whole composed plan and shares the single documents scan.",
    tags=("curation", "dedup", "llm-pipeline", "composed"),
)
def c4_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import strip_boilerplate
    from quatrain_mapreduce_spark.operators.dedup import substring_window_report

    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    fp = _winnow_summary(docs).select("doc_id", "n_fp", "fp_sum")
    # the strip is a multi-shuffle subplan (span explode -> count ->
    # anti-join -> per-doc reassembly) consumed THREE times downstream
    # (twice inside substring_window_report, once in the final join) —
    # persist at the branch point or the whole strip recomputes 3x
    # (A/B at sf1, cache cleared per rep: median 37 s -> 6.9 s, worst
    # observed no-persist rep 204 s; the PLANS.md round-2 rule #5)
    cleaned = strip_boilerplate(docs, "doc_id", "text", "source",
                                span_tokens=8, min_count=3
                                ).persist(StorageLevel.MEMORY_AND_DISK)
    spans = substring_window_report(cleaned, "doc_id", "text_clean", w=8)
    return (
        cleaned.join(spans, "doc_id")
        .join(fp, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans_kept",
            F.coalesce(F.col("n_fp"), F.lit(0)).cast("bigint").alias("n_fp"),
            F.coalesce(F.col("fp_sum"), F.lit(0)).cast("bigint")
             .alias("fp_sum"),
            "n_windows",
            "dup_windows",
            "dup_heavy",
        )
    )


@register(
    "lexical_stats",
    oracle="""
        WITH w AS (
            SELECT lang, unnest(list_filter(string_split(text, ' '),
                                x -> x <> '')) AS word
            FROM documents
        ), wc AS (
            SELECT lang, word, CAST(count(*) AS BIGINT) AS c
            FROM w GROUP BY lang, word
        )
        SELECT lang,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax,
               CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                    // count(*) AS BIGINT) AS hapax_ppm
        FROM wc GROUP BY lang
    """,
    doc="Per-language lexical health — type-token ratio and hapax-"
        "legomenon fraction (the Baayen lexical-statistics pair): LOW "
        "TTR flags boilerplate/templated text the repetition_filter "
        "catches per-doc, at CORPUS grain; a collapsing hapax fraction "
        "flags synthetic or deduplicate-starved data. Exact integer "
        "ppm ratios. Plan: scan-local tokenize/explode -> ONE "
        "map-combinable (lang, word) count (the wordcount shuffle — "
        "vocabulary-sized output regardless of corpus) -> per-lang "
        "summary over the vocab table.",
    tags=("curation", "text", "quality"),
)
def lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "lang",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("word"),
    )
    wc = w.groupBy("lang", "word").agg(F.count("*").cast("bigint").alias("c"))
    return wc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum((F.col("c") == 1).cast("int")).cast("bigint").alias("n_hapax"),
        F.expr("(count(*) * 1000000) div sum(c)").cast("bigint")
         .alias("ttr_ppm"),
        F.expr("(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)"
               " div count(*)").cast("bigint").alias("hapax_ppm"),
    )


@register(
    "packing_efficiency",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                            x -> x <> '')) AS BIGINT) AS n_tok,
                   {_H} % 64 AS shard
            FROM documents
        )
        SELECT CAST(shard AS INTEGER) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST((sum(n_tok) + 1023) // 1024 AS BIGINT) AS n_seqs,
               CAST((1024 - sum(n_tok) % 1024) % 1024 AS BIGINT)
                 AS pad_tokens,
               CAST(CASE WHEN sum(n_tok) = 0 THEN 0
                         ELSE ((1024 - sum(n_tok) % 1024) % 1024) * 1000000
                              // (((sum(n_tok) + 1023) // 1024) * 1024)
                    END AS BIGINT) AS pad_ppm
        FROM d GROUP BY shard
    """,
    doc="Sequence-packing efficiency report — the padding-waste ledger "
        "for PER-SHARD independent packing at seq_len=1024 (the layout "
        "a multi-host loader actually uses: each shard cuts its own "
        "stream, so each shard's tail sequence pads; sequence_pack's "
        "global-offset manifest is the single-stream variant). Shard "
        "assignment is the same portable corpus-shuffle hash, so this "
        "report and the manifest describe the same layout. pad_ppm is "
        "exact integer arithmetic; the sum over shards is the token "
        "budget lost to padding per epoch — the number that decides "
        "whether length-grouped batching is worth deploying. Plan: one "
        "scan, token counts scan-local, one 64-group map-combinable "
        "agg.",
    tags=("curation", "pack"),
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
         .cast("bigint").alias("n_tok"),
        (F.expr(_H) % 64).cast("int").alias("shard"),
    )
    g = d.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    return g.select(
        "shard", "n_docs", "n_tokens",
        F.expr("(n_tokens + 1023) div 1024").cast("bigint").alias("n_seqs"),
        F.expr("(1024 - n_tokens % 1024) % 1024").cast("bigint")
         .alias("pad_tokens"),
        # zero-token shard: 0 sequences, so the padding fraction is 0 by
        # definition — the unguarded form divides by zero (ANSI abort on
        # Spark 4, error in DuckDB too)
        F.expr("CASE WHEN n_tokens = 0 THEN 0"
               " ELSE (((1024 - n_tokens % 1024) % 1024) * 1000000)"
               " div (((n_tokens + 1023) div 1024) * 1024) END").cast("bigint")
         .alias("pad_ppm"),
    )


@register(
    "stratified_sample_exact",
    oracle="""
        WITH ranked AS (
            SELECT c_mktsegment, c_custkey,
                   row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
                   ) AS rk
            FROM customer
        )
        SELECT c_mktsegment, c_custkey, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 10
    """,
    doc="Deterministic exact-k stratified sample: rank each stratum by "
        "md5(key) — a uniform, engine-portable, seed-free permutation — and "
        "keep the first k. Unlike TABLESAMPLE/rand() this is reproducible "
        "bit-for-bit across engines, runs, and partition layouts, which is "
        "what an eval-set carve-out or a human-review draw needs for "
        "provenance. One hash shuffle on the stratum key; the rank window "
        "never sees more than a stratum. At 100 TB strata are bounded "
        "(segments/domains/languages), and heavy strata are exactly what "
        "the existing salted/two-stage top-k handles (topk_per_group). "
        "Reference analogue: the percent/md5 record filters of "
        "SequenceFileInputFilter (MR/SequenceFileInputFilter.java) — this "
        "is the per-stratum, exact-size form. Promoted from "
        "plans/staged.py in r10.",
    tags=("curation", "sampling"),
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        cust.select("c_mktsegment", "c_custkey",
                    F.row_number().over(w).cast("bigint").alias("rk"))
        .where(F.col("rk") <= 10)
    )


@register(
    "doc_token_chunks",
    oracle="""
        WITH wt AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), spans AS (
            SELECT doc_id, toks,
                   unnest(range(CAST(floor((greatest(len(toks), 1) - 1) / 48)
                                     AS BIGINT) + 1)) AS chunk_id
            FROM wt
        )
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(len(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64))
                    AS BIGINT) AS n_toks,
               md5(array_to_string(
                   list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64),
                   ' ')) AS chunk_md5
        FROM spans
    """,
    doc="Context-window chunking: split every document into 64-token "
        "windows with stride 48 (16-token overlap so no training span is "
        "cut mid-context), emitting a content hash per chunk — the prep "
        "step before packing sequences into fixed-length training rows "
        "(packing_efficiency consumes exactly this shape). Scan-local: "
        "tokenize once, explode per-doc chunk indices, slice — zero "
        "shuffles, so at 100 TB it rides the document scan untouched. "
        "Window arithmetic is shared with dedup's rolling fingerprints "
        "(operators/dedup.py window_fingerprints); here the unit is the "
        "training chunk, not the 50-gram. Promoted from plans/staged.py "
        "in r10.",
    tags=("curation", "tokenize"),
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    )
    spans = toks.select(
        "doc_id", "toks",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.floor((F.greatest(F.size("toks"), F.lit(1)) - 1) / 48),
            )
        ).alias("chunk_id", "_start"),
    )
    chunk = F.slice("toks", F.col("chunk_id") * 48 + 1, 64)
    return spans.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_toks"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# The composed training-data pipeline's shared stage chain — ONE copy of
# the CTEs, consumed by training_data_pipeline's oracle (+ packing tail)
# and training_pipeline_funnel's oracle (+ per-stage aggregates). The
# Spark twin of the same sharing is _tdp_stages below.
_TDP_CTES = f"""base AS (
            SELECT doc_id, source, text, {portable_h16_sql('doc_id')} AS h
            FROM documents
        ), evt AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM base WHERE h % 10 = 0
        ), evg AS (
            SELECT DISTINCT unnest(
                CASE WHEN len(toks) >= 4
                     THEN list_transform(generate_series(1, len(toks) - 3),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                               toks[i+2] || ' ' || toks[i+3])
                     ELSE [] END) AS ng
            FROM evt
        ), gate AS (
            SELECT doc_id, source, text FROM (
                SELECT doc_id, source, text, {gopher_metrics_sql('toks')} FROM (
                    SELECT doc_id, source, text,
                           list_filter(string_split(text, ' '), x -> x <> '') AS toks
                    FROM base WHERE h % 10 <> 0))
            WHERE {GOPHER_PASS_SQL}
        ), exact AS (
            SELECT doc_id, source, text FROM (
                SELECT *, min(doc_id) OVER (PARTITION BY text) AS mn FROM gate)
            WHERE doc_id = mn
        ), su AS (
            SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM exact) z
        ), ss AS (
            SELECT doc_id, CAST((ord - 1) // 8 AS INTEGER) AS pos,
                   string_agg(tok, ' ' ORDER BY ord) AS span
            FROM su GROUP BY doc_id, (ord - 1) // 8
        ), sw AS (
            SELECT doc_id, pos, span,
                   row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
            FROM ss
        ), sd AS (
            SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS text_dedup,
                   CAST(count(*) AS BIGINT) AS n_spans_kept
            FROM sw WHERE rn = 1 GROUP BY doc_id
        ), tg AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 4
                        THEN list_distinct(list_transform(generate_series(1, len(toks) - 3),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                                  toks[i+2] || ' ' || toks[i+3]))
                        ELSE [] END AS g
            FROM (SELECT doc_id,
                         list_filter(string_split(text_dedup, ' '), x -> x <> '') AS toks
                  FROM sd) z
        ), clean AS (
            SELECT sd.* FROM sd JOIN tg USING (doc_id)
            WHERE NOT EXISTS (SELECT 1 FROM evg WHERE list_contains(tg.g, evg.ng))
        ), q AS (
            SELECT c.doc_id, b.source, c.text_dedup, c.n_spans_kept,
                   {_q_sql('text_dedup')} AS q
            FROM clean c JOIN base b USING (doc_id)
        ), cap AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY source
                                             ORDER BY q DESC, doc_id) AS rk
                FROM q)
            WHERE rk <= 10
        )"""


@register(
    "training_data_pipeline",
    oracle=f"""
        WITH {_TDP_CTES}, pd AS (
            SELECT doc_id, source, n_spans_kept,
                   CAST(len(list_filter(string_split(text_dedup, ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tok,
                   {portable_h16_sql('doc_id')} % 64 AS shard,
                   {portable_h16_sql('doc_id')} AS hkey
            FROM cap
        ), pc AS (
            SELECT doc_id, source, n_spans_kept, n_tok, shard,
                   sum(n_tok) OVER (ORDER BY shard, hkey, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS tok_end
            FROM pd
        )
        SELECT doc_id, source, n_spans_kept, n_tok,
               CAST(shard AS INTEGER) AS shard,
               CAST(tok_end - n_tok AS BIGINT) AS tok_start,
               CAST(CASE WHEN n_tok > 0
                         THEN floor((tok_end - n_tok) / 1024.0)
                    END AS BIGINT) AS first_seq,
               CAST(CASE WHEN n_tok > 0
                         THEN floor((tok_end - 1) / 1024.0)
                    END AS BIGINT) AS last_seq
        FROM pc
    """,
    doc="The END-TO-END training-data pipeline, composed the way a "
        "production corpus pass actually chains (r9 verdict directive #4 — "
        "the Gridmix-class multi-stage workload, "
        "reference src/benchmarks/gridmix/README:20-60): deterministic "
        "eval carve-out (portable-hash 10%) -> Gopher quality gate -> "
        "exact dedup (keep-min-id per identical text) -> span-level dedup "
        "(corpus-wide keep-first 8-token spans, docs reassembled) -> "
        "4-gram decontamination of the CLEANED text against the raw eval "
        "slice -> per-source domain cap (top-10 by quality of the deduped "
        "text) -> sequence-packing manifest (seq_len 1024, 64 shards, "
        "distributed prefix sum). One row per doc that survives ALL "
        "stages, with its packing coordinates — oracle-pinned per doc. "
        "Composition is the point: the span-dedup output feeds THREE "
        "consumers (decon grams, decon anti-join, cap input) so it is "
        "persisted at the branch point (the c4_curation_pipeline lesson), "
        "and the capped frame is persisted before the manifest's two-"
        "branch prefix sum. Scale shape: every stage is corpus-linear "
        "(scan-local gate, map-combinable span/gram aggregates, broadcast "
        "eval grams, O(k)-per-domain window, within-shard windows + a "
        "64-row offsets frame) — no stage sorts or self-joins the corpus.",
    tags=("curation", "dedup", "llm-pipeline", "composed"),
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import pack_manifest

    st = _tdp_stages(spark, sf_dir)
    capped = st["capped"]
    d = capped.select(
        "doc_id", "source",
        F.col("n_spans_kept").cast("bigint").alias("n_spans_kept"),
        F.size(F.filter(F.split("text_dedup", " "), lambda x: x != "")).alias("n_tok"),
    )
    # source/n_spans_kept ride the manifest's shard shuffle as passthrough
    # columns — the former re-attach (manifest JOIN capped ON doc_id)
    # planned as a SortMergeJoin with two extra exchanges + sorts and a
    # second read of the capped cache (before-plan nodes 83-90:
    # git show 67b5d9d:plans/r13/training_data_pipeline_before.txt)
    manifest = pack_manifest(
        d, "doc_id", "n_tok", seq_len=1024, n_shards=64,
        passthrough=("source", "n_spans_kept"),
    )
    return manifest.select(
        "doc_id", "source", "n_spans_kept", "n_tok",
        "shard", "tok_start", "first_seq", "last_seq",
    )


def _tdp_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The composed pipeline's stage frames — the Spark twin of _TDP_CTES
    (one copy of the COMPOSITION, consumed by training_data_pipeline and
    the funnel).

    Deliberately NOT memoized across calls (review finding considered and
    REJECTED by measurement): a session running both registered consumers
    does persist the sd/capped lineages twice, but the repo's measurement
    protocol calls spark.catalog.clearCache() between queries/reps, which
    strips the persist markers off memoized frames — the fingerprint tool
    showed the memoized funnel re-running with max_live_rescan 18 instead
    of 6, i.e. the memo silently reintroduced the unpersisted-branch-point
    class the plan lint exists to catch. Fresh frames per call re-persist
    on first materialization; the double-copy cost is bounded (two
    MEMORY_AND_DISK copies of the span-deduped text, evictable) and only
    paid when both consumers run in one session without clearCache."""
    from pyspark.storagelevel import StorageLevel

    from quatrain_mapreduce_spark.operators.curation import (
        cap_per_domain, dedup_spans, gopher_rules,
    )
    from quatrain_mapreduce_spark.operators.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    h = h16("doc_id")
    eval_side = docs.where(h % 10 == 0)
    train = docs.where(h % 10 != 0)

    gated = (
        gopher_rules(train, "text")
        .where(F.col("passes") == 1)
        .select("doc_id", "source", "text")
    )
    # exact dedup: min-id per identical text is a map-combinable aggregate
    # (never a row_number window over the text key), then a semi join back
    winners = gated.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    exact = gated.join(winners, "doc_id", "semi")

    # span dedup output feeds three consumers (gram explode, decon anti
    # join, cap input) — persist at the branch point or the whole
    # gate->exact->span subplan recomputes per consumer (the measured
    # c4_curation_pipeline class: 37 s -> 6.9 s at sf1)
    sd = dedup_spans(exact, "doc_id", "text", span_tokens=8) \
        .persist(StorageLevel.MEMORY_AND_DISK)

    eval_grams = (
        eval_side.select(F.explode(word_shingles("text", 4)).alias("ng")).distinct()
    )
    contaminated = (
        sd.select("doc_id", F.explode(word_shingles("text_dedup", 4)).alias("ng"))
        .join(eval_grams, "ng", "semi")
        .select("doc_id").distinct()
    )
    clean = (
        sd.join(contaminated, "doc_id", "anti")
        .join(docs.select("doc_id", "source"), "doc_id")
    )

    capped = cap_per_domain(clean, "doc_id", "source", "text_dedup", k=10) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    return {
        "train": train, "gated": gated, "exact": exact,
        "sd": sd, "clean": clean, "capped": capped,
    }


@register(
    "training_pipeline_funnel",
    oracle=f"""
        WITH {_TDP_CTES}
        SELECT 'a_train' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM base WHERE h % 10 <> 0
        UNION ALL
        SELECT 'b_gate', CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM gate
        UNION ALL
        SELECT 'c_exact', CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM exact
        UNION ALL
        SELECT 'd_span', CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM sd
        UNION ALL
        SELECT 'e_decon', CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM clean
        UNION ALL
        SELECT 'f_cap', CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM cap
    """,
    doc="Per-stage survival funnel of the composed training_data_pipeline "
        "— the provenance/debugging view a production corpus pass ships "
        "next to its output (the curation_reject_reasons pattern, extended "
        "to the full composed chain): how many docs (and which, via the "
        "id-sum membership witness) survive the eval split, quality gate, "
        "exact dedup, span dedup, decontamination, and domain cap. Stage "
        "names carry an ordering prefix so the funnel reads top-down under "
        "the driver's column-sorted compare. Shares the stage frames with "
        "training_data_pipeline (_tdp_stages — one copy of the "
        "composition, so the funnel can never drift from the pipeline it "
        "describes); the aggregates ride the same two persisted branch "
        "points, adding only count/sum reads.",
    tags=("curation", "llm-pipeline", "composed", "provenance"),
)
def training_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _tdp_stages(spark, sf_dir)
    rows = [
        ("a_train", st["train"]), ("b_gate", st["gated"]),
        ("c_exact", st["exact"]), ("d_span", st["sd"]),
        ("e_decon", st["clean"]), ("f_cap", st["capped"]),
    ]
    out = None
    for name, frame in rows:
        agg = frame.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        ).select(F.lit(name).alias("stage"), "n_docs", "id_sum")
        out = agg if out is None else out.unionAll(agg)
    return out


@register(
    "decontaminate_incremental",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, lang, text, {portable_h16_sql('doc_id')} AS h
            FROM documents
        ), g AS (
            SELECT doc_id, lang, h,
                   CASE WHEN len(toks) >= 4
                        THEN list_distinct(list_transform(
                             generate_series(1, len(toks) - 3),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                                  toks[i+2] || ' ' || toks[i+3]))
                        ELSE [] END AS grams
            FROM (SELECT doc_id, lang, h,
                         list_filter(string_split(text, ' '), x -> x <> '') AS toks
                  FROM base) z
        ), idx AS (  -- the stored gram index from the BASE pass
            SELECT DISTINCT unnest(grams) AS ng FROM g WHERE h % 10 = 0
        ), newg AS (  -- grams the eval INCREMENT adds that the index lacks
            SELECT DISTINCT unnest(grams) AS ng FROM g WHERE h % 10 = 5
            EXCEPT SELECT ng FROM idx
        ), train AS (
            SELECT doc_id, lang, grams FROM g WHERE h % 10 NOT IN (0, 5)
        ), survivors AS (  -- the stored survivor set from the BASE pass
            SELECT doc_id, lang, grams FROM train t
            WHERE NOT EXISTS (SELECT 1 FROM idx WHERE list_contains(t.grams, idx.ng))
        ), newly AS (
            SELECT doc_id, lang FROM survivors s
            WHERE EXISTS (SELECT 1 FROM newg WHERE list_contains(s.grams, newg.ng))
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_newly_dropped,
               CAST(sum(doc_id) AS BIGINT) AS dropped_id_sum
        FROM newly GROUP BY lang
    """,
    doc="Incremental benchmark decontamination — the update path real "
        "pipelines run when an eval suite gains a release: the BASE pass's "
        "outputs are staged once as stored state (the distinct eval-gram "
        "index, the surviving train doc ids, and the SURVIVOR GRAM "
        "POSTING index — distinct (doc_id, ng) pairs for survivors, "
        "idempotent marker dirs like the LSH/span indexes), and a NEW "
        "eval slice is handled by (1) anti-joining its grams against the "
        "STORED eval index — only grams the index lacks can newly "
        "contaminate — then (2) a broadcast semi-join of the STORED "
        "posting against that small novel-gram set. The probe never "
        "re-tokenizes the corpus: its cost is one shuffle-free columnar "
        "scan of the posting (measured at sf1: 1.78 s vs 2.13 s for "
        "re-shingling survivors vs 3.69 s for a full re-decontamination; "
        "a 64-bucket DPP-partitioned posting was tried and REJECTED — "
        "2.62 s, because a realistic increment's novel grams touch every "
        "bucket, see SCALING.md). Same stored-state contract as "
        "dedup_incremental_lsh / dedup_substring_incremental, completing "
        "the incremental family for the curation tier. Output: per-lang "
        "count + id-sum witness of the NEWLY dropped docs.",
    tags=("curation", "incremental", "llm-pipeline"),
)
def decontaminate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.dedup import word_shingles
    from quatrain_mapreduce_spark.staging import staged

    docs = load_table(spark, sf_dir, "documents")
    h = h16("doc_id")
    grams4 = lambda frame, col: frame.select(  # noqa: E731
        "doc_id", F.explode(word_shingles(col, 4)).alias("ng")
    )

    # --- staged state from the BASE pass (built once, reused) ---
    idx_dir = staged(sf_dir, "evalgram4", lambda d: grams4(
        docs.where(h % 10 == 0), "text").select("ng").distinct().write.parquet(d))

    def survivors(d: str) -> None:
        train = docs.where((h % 10 != 0) & (h % 10 != 5))
        dropped = (
            grams4(train, "text")
            .join(spark.read.parquet(idx_dir), "ng", "semi")
            .select("doc_id").distinct()
        )
        train.join(dropped, "doc_id", "anti").select("doc_id").write.parquet(d)

    surv_dir = staged(sf_dir, "deconsurvivors4", survivors)
    post_dir = staged(sf_dir, "survpost4", lambda d: grams4(
        docs.join(spark.read.parquet(surv_dir), "doc_id", "semi"), "text",
    ).distinct().write.parquet(d))

    # --- the increment pass: probe stored state, never re-tokenize ---
    idx = spark.read.parquet(idx_dir)
    posting = spark.read.parquet(post_dir)
    new_grams = (
        grams4(docs.where(h % 10 == 5), "text").select("ng").distinct()
        .join(idx, "ng", "anti")
    )
    # no F.broadcast hint on new_grams: a real eval increment is usually
    # broadcast-small and AQE converts the join at runtime when it is, but
    # the FORCED hint overrode Spark's size check and OOM'd the broadcast
    # build at sf10, where the synthetic fixture's per-copy token suffixes
    # make the increment's gram vocabulary corpus-sized (found by the
    # third-decade probe; see SCALING.md)
    newly = (
        posting.join(new_grams, "ng", "semi")
        .select("doc_id").distinct()
    )
    return (
        docs.join(newly, "doc_id", "semi")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_newly_dropped"),
            F.sum("doc_id").cast("bigint").alias("dropped_id_sum"),
        )
    )


@register(
    "weighted_sample_systematic",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(string_split(text, ' '),
                        x -> x <> '')) AS BIGINT) AS n_toks,
                   {portable_h16_sql('doc_id')} AS hkey
            FROM documents
        ), c AS (
            SELECT doc_id, lang, n_toks,
                   sum(n_toks) OVER (ORDER BY hkey % 64, hkey, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cend
            FROM d
        ), t AS (SELECT CAST(sum(n_toks) AS BIGINT) AS tot FROM d)
        SELECT doc_id, lang, n_toks,
               CAST(((cend * 100 + tot - 1) // tot)
                  - (((cend - n_toks) * 100 + tot - 1) // tot) AS INT)
                 AS n_draws
        FROM c, t
        WHERE ((cend * 100 + tot - 1) // tot)
            > (((cend - n_toks) * 100 + tot - 1) // tot)
    """,
    doc="Weighted importance sampling with ZERO randomness — systematic "
        "(Madow) sampling proportional to token count, the op a training "
        "mixture uses to draw a token-budget-proportional subset without "
        "an RNG seed to version. Lay every document's tokens end-to-end "
        "in the deterministic corpus order (the pack_manifest distributed "
        "prefix sum: within-shard window + 64-row offset side input — no "
        "global sort), place k=100 equally spaced sample points on the "
        "token stream, and keep each doc whose token interval contains a "
        "point; long docs can be drawn more than once (n_draws), which is "
        "exactly importance-sampling semantics. All arithmetic is BIGINT "
        "ceil-division (positions*k stays under 2^53 even at 10^14 corpus "
        "tokens), so the DuckDB oracle — which computes the SAME positions "
        "with a plain global window — matches exactly, no float rounding "
        "anywhere. Inclusion probability of a doc is n_toks*k/T up to the "
        "integer grid, verified by a pytest expectation check. Supersedes "
        "the reference's unweighted percent/md5 samplers "
        "(MR/SequenceFileInputFilter.java:177,213) with weight-aware, "
        "merge-deterministic draws.",
    tags=("curation", "sampling", "llm-pipeline"),
)
def weighted_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import pack_manifest

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .cast("long").alias("n_toks"),
    )
    m = pack_manifest(d, "doc_id", "n_toks", seq_len=512)
    tot = m.agg(F.sum("n_toks").cast("bigint").alias("tot"))
    sel = (
        m.crossJoin(F.broadcast(tot))
        .withColumn("fe", F.expr(
            "((tok_start + n_toks) * 100 + tot - 1) div tot"))
        .withColumn("fs", F.expr("(tok_start * 100 + tot - 1) div tot"))
        .where(F.col("fe") > F.col("fs"))
        .select(
            "doc_id", "n_toks",
            (F.col("fe") - F.col("fs")).cast("int").alias("n_draws"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(sel), "doc_id")
        .select("doc_id", "lang", "n_toks", "n_draws")
    )
