"""Corpus-curation operators for training-data pipelines.

No reference analogue (the reference stops at dedup-adjacent DISTINCT /
group-by — QL/parse/SemanticAnalyzer.java:747); these are engine extensions
covering the standard curation steps a 100 TB pretraining pipeline runs
between raw crawl and tokenizer:

- stratified_sample:  per-stratum deterministic hash sampling (rebalance
                      languages/sources without a global shuffle).
- train_val_split:    leakage-free deterministic split assignment.
- cap_per_domain:     frequency capping — keep the top-k highest-quality
                      docs per domain (one window shuffle, no self-join).
- decontaminate:      eval-set n-gram decontamination (anti-join on shared
                      shingles — the standard benchmark-leakage guard).
- scrub_pii:          regex redaction of emails/phones, pure JVM-side
                      regexp_replace (no Python in the row path).

Determinism/scale notes:
- Sampling and splitting must be DETERMINISTIC (re-runnable, engine-portable,
  stable under repartition). ``rand()`` fails all three; instead rows hash
  through PORTABLE_H16: nibble-decode the first 4 hex chars of md5(id) into
  a uniform 16-bit integer. The same SQL string evaluates identically in
  Spark and DuckDB (verified in the oracle suite), so the sample itself —
  not just its statistics — is cross-checked.
- Every operator here is one scan plus at most one shuffle; none holds
  driver state, so all scale linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.dedup import word_shingles
from quatrain_mapreduce_spark.operators.projection import tokenize
from quatrain_mapreduce_spark.operators.text import STOPWORDS, quality_col


def word_all_ngrams(toks: F.Column, n: int) -> F.Column:
    """ALL word n-grams of a token array, duplicates preserved (unlike
    dedup.word_shingles, which is distinct-set semantics for Jaccard) —
    repetition measures need the multiset."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))

_NIBBLE = "(position(substr(md5(concat({id},'')),{i},1) IN '0123456789abcdef')-1)"


def portable_h16_sql(id_col: str) -> str:
    """Uniform deterministic 16-bit hash of an id column, as a SQL string
    valid verbatim in BOTH Spark SQL and DuckDB: md5 the decimal string form
    of the id, then nibble-decode the first four hex chars via ANSI
    ``position(x IN y)``. Engine-portable where xxhash64/hash() are not."""
    parts = [f"{_NIBBLE.format(id=id_col, i=i + 1)}*{w}" for i, w in enumerate((4096, 256, 16, 1))]
    return "(" + "+".join(parts) + ")"


def h16(id_col: str) -> F.Column:
    return F.expr(portable_h16_sql(id_col))


def cms_probes(
    tok_expr: str, d: int = 4, w: int = 1024, hash: str = "portable"
) -> F.Column:
    """Count-min probe array for a token expression: one (row-id, bucket)
    struct per hash row, the '|i' salt making the d rows independent draws
    of the hash. Shared by the batch (heavy_hitters_cms) and streaming
    (stream_heavy_hitters) sketches so their cell tables are the identical
    deterministic arithmetic.

    ``hash='portable'`` (the oracled queries) uses the md5-nibble h16 that
    DuckDB replays verbatim; ``hash='xxhash64'`` is the production tier —
    one JVM intrinsic per probe instead of an md5 string round-trip (the
    sf10 data term is ~10x smaller), same cell algebra, differentially
    tested against the portable tier's guarantees in
    tests/test_sketch_sampling.py."""
    if hash not in ("portable", "xxhash64"):
        # loud: a typo ('xxhash', 'xxHash64') would otherwise silently
        # fall back to the ~10x-slower portable tier with correct results
        raise ValueError(f"unknown cms_probes hash tier {hash!r}; "
                         "use 'portable' or 'xxhash64'")

    def bucket(i: int) -> F.Column:
        if hash == "xxhash64":
            return F.pmod(F.xxhash64(F.expr(tok_expr), F.lit(i)), F.lit(w))
        return F.expr(portable_h16_sql(f"concat({tok_expr},'|{i}')")) % w

    return F.array(*[
        F.struct(F.lit(str(i)).alias("i"), bucket(i).cast("int").alias("b"))
        for i in range(1, d + 1)
    ])


def cms_cells_of(toks: DataFrame) -> DataFrame:
    """Count-min cell table ``(i, b, c)`` of a ``tok`` column frame: every
    token's portable ``cms_probes`` counted per (row, bucket). The one cell
    builder of heavy_hitters_cms, stream_heavy_hitters and the streaming
    training pipeline's monitor; cell tables of corpus shards merge by
    addition."""
    return (
        toks.select(F.explode(cms_probes("tok")).alias("rb"))
        .groupBy(F.col("rb.i").alias("i"), F.col("rb.b").alias("b"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def stratified_sample(
    df: DataFrame, id_col: str, stratum_col: str, quotas: dict[str, int],
    default_quota: int = 1000,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    h16(id) % 1000 < quota(stratum), quota in permille.

    The curation use: rebalance a language/source-skewed crawl (downsample
    the head stratum, keep the tail) without materializing strata or
    shuffling — the keep-decision is a pure column expression evaluated at
    scan time, so at 100 TB this is a single filtered pass with the
    filter pushed into the scan stage.
    """
    quota = F.lit(default_quota)
    for k, v in quotas.items():
        quota = F.when(F.col(stratum_col) == k, v).otherwise(quota)
    return df.withColumn("__kept", (h16(id_col) % 1000 < quota).cast("int"))


def temperature_sample(
    df: DataFrame, id_col: str, stratum_col: str, head_permille: int = 300,
) -> DataFrame:
    """Temperature-flattened stratum sampling (the multilingual data-mixing
    rule of mC4/mT5, Xue et al. 2021 §3.1, with T=2 i.e. α=0.5): each
    stratum's keep-rate is the head stratum's rate boosted by
    ``sqrt(c_max / c_stratum)``, capped at 1 — head languages are
    downsampled hardest, the tail is progressively protected, and the
    flattening exponent is exactly sqrt.

    Unlike ``stratified_sample`` the quotas are DERIVED from the data (one
    tiny per-stratum count aggregate — a broadcast-sized side input, never a
    shuffle of the corpus), so the same call rebalances any crawl snapshot.
    Determinism contract: the rate formula uses only +,*,/ ,sqrt,least on
    exact integer counts — every one of those is IEEE-correctly-rounded, so
    Spark and any ANSI engine compute bit-identical thresholds (pow() would
    NOT survive this — libm vs StrictMath differ in the last ulp; that is
    why the flattening exponent is hard-wired to sqrt rather than a free α).
    Membership then comes from the portable md5-nibble hash, as everywhere
    in this module.
    """
    # the stratum-count frame is tiny but derives from a full corpus scan;
    # persisted so its two consumers (the max aggregate and the rate rows)
    # don't each rescan the corpus (plan-audited: 3 scans -> 2, the
    # remaining 2 being the irreducible derive-rates + apply-membership
    # passes).
    from pyspark.storagelevel import StorageLevel

    counts = df.groupBy(stratum_col).agg(F.count("*").alias("__cnt")) \
               .persist(StorageLevel.MEMORY_AND_DISK)
    cmax = counts.agg(F.max("__cnt").alias("__cmax"))
    rates = (
        counts.crossJoin(F.broadcast(cmax))
        .withColumn(
            "__thr",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.sqrt(F.col("__cmax") / F.col("__cnt").cast("double"))
                    * (head_permille / 1000.0),
                )
                * 1000
            ).cast("int"),
        )
        .select(stratum_col, "__thr")
    )
    return (
        df.join(F.broadcast(rates), stratum_col)
        .withColumn("__kept", (h16(id_col) % 1000 < F.col("__thr")).cast("int"))
    )


def mix_sources(
    df: DataFrame, id_col: str, source_col: str, epochs: dict[str, float],
    default_epochs: float = 1.0, rep_col: str = "__rep",
) -> DataFrame:
    """Deterministic source-weighted mixture with FRACTIONAL epochs — the
    materialization step that turns a curated corpus plus a weight table
    (e.g. wiki×2.4, books×1.0, crawl×0.3) into the actual training stream
    (GPT-3, Brown et al. 2020 Table 2.2; The Pile, Gao et al. 2020 §1).

    A weight w emits floor(w) full copies of every row plus one extra copy
    of a deterministic frac(w) slice: copies(row) = floor(w) +
    [h16(id·'_mix') % 1000 < permille(frac(w))]. w = 0 drops the source,
    w = 0.3 downsamples, w = 2.4 repeats twice and upsamples a further 40 %
    — one rule covers the whole weight axis. Repetition is realized as
    ``explode(sequence(0, copies-1))`` carrying a rep index, so downstream
    shuffling/packing can tell copies apart.

    Determinism/portability: floor/frac are split in PYTHON (integer
    literals reach the plan — no engine float arithmetic can diverge), and
    membership uses the portable md5-nibble hash salted with '_mix' so the
    fractional slice is independent of every other sampling decision in the
    pipeline. Scale: pure scan-local projection + explode — zero shuffle,
    no rand(), output size = sum(w_s·|s|) by construction.
    """
    def _split(v: float) -> tuple[int, int]:
        whole = int(v)
        return whole, int(round((v - whole) * 1000))

    d_whole, d_perm = _split(default_epochs)
    whole, perm = F.lit(d_whole), F.lit(d_perm)
    for k, v in epochs.items():
        w_k, p_k = _split(v)
        whole = F.when(F.col(source_col) == k, w_k).otherwise(whole)
        perm = F.when(F.col(source_col) == k, p_k).otherwise(perm)
    h = F.expr(portable_h16_sql(f"concat({id_col}, '_mix')"))
    copies = (whole + (h % 1000 < perm).cast("int")).cast("int")
    reps = (
        "CASE WHEN __copies <= 0 THEN CAST(array() AS array<int>) "
        "ELSE sequence(0, __copies - 1) END"
    )
    return (
        df.withColumn("__copies", copies)
        .withColumn(rep_col, F.explode(F.expr(reps)))
    )


def train_val_split(df: DataFrame, id_col: str, val_permille: int = 50) -> DataFrame:
    """Deterministic train/validation assignment: h16(id) % 1000 — rows keep
    their split across reruns and engines, the property that makes the split
    leakage-free when upstream stages are re-executed."""
    return df.withColumn(
        "split",
        F.when(h16(id_col) % 1000 < F.lit(1000 - val_permille), "train").otherwise("val"),
    )


def cap_per_domain(
    df: DataFrame, id_col: str, domain_col: str, text_col: str, k: int,
) -> DataFrame:
    """Frequency capping: keep at most ``k`` docs per domain, preferring the
    highest quality score (deterministic id tie-break).

    One shuffle (window over domain); no self-join. At 100 TB, domains are
    the canonical skew axis — a boilerplate-heavy domain with 10^9 pages
    would otherwise dominate the corpus; the per-partition rank keeps state
    O(k) per domain with AQE splitting oversized domain partitions.

    Output adds/replaces ``q`` (the quality score used for the cap — part
    of the contract, domain_cap reads it). The working rank column is
    __-prefixed like the module's other internals so a caller's own
    ``rank`` column survives.
    """
    w = Window.partitionBy(domain_col).orderBy(F.desc("q"), F.col(id_col))
    return (
        df.withColumn("q", quality_col(text_col))
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
    )


def _decon_grams(id_col: str, text_col: str, n: int):
    """(id, exploded word n-gram) frame builder shared by decontaminate and
    contamination_score — ONE home for the decontamination n-gram contract
    (the two previously carried byte-identical copies, r13 review)."""
    from quatrain_mapreduce_spark.operators.util import spread

    def grams(frame: DataFrame) -> DataFrame:
        return (
            spread(frame.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col),
                    F.explode(word_shingles(text_col, n)).alias("ng"))
        )

    return grams


def decontaminate(
    df: DataFrame, id_col: str, text_col: str, eval_ids: DataFrame, n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: drop training docs sharing any word
    ``n``-gram with the eval set (Brown et al. 2020's 13-gram rule, shape-
    identical at any n).

    Plan: eval docs (small by construction) shingle → explode → distinct,
    and the train side anti-joins on the shingle string. Spark broadcasts
    the eval-gram side when it fits (typical: eval sets are MBs against a
    100 TB train corpus); otherwise it is a shuffled semi-join keyed on the
    gram — either way the train corpus is scanned once and never
    self-joined.

    ``eval_ids`` carries just ``id_col``; returns the decontaminated frame.
    """
    from pyspark.storagelevel import StorageLevel

    grams = _decon_grams(id_col, text_col, n)
    eval_grams = grams(df.join(eval_ids, id_col, "semi")).select("ng").distinct()
    # persist the branch point: train feeds BOTH the contaminated-gram
    # probe and the returned anti-join — unpersisted, the df-anti-eval
    # lineage scanned the corpus twice (the docstring's "scanned once")
    train = df.join(eval_ids, id_col, "anti").persist(StorageLevel.MEMORY_AND_DISK)
    contaminated = grams(train).join(eval_grams, "ng", "semi").select(id_col).distinct()
    return train.join(contaminated, id_col, "anti")


# Redaction patterns: the common-subset regex dialect (no lookaround, no \b)
# so Java (Spark) and RE2-ish (DuckDB) engines agree byte-for-byte.
EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def repetition_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Intra-document repetition signals (Gopher-style repetition rules):
    fraction of tokens taken by the most frequent token, and fraction of
    word bigrams taken by the most frequent bigram.

    Computed entirely with array higher-order functions — scan-local, ZERO
    shuffle (the explode→groupBy(doc, gram) formulation would shuffle the
    whole tokenized corpus). Per-doc cost is O(len log len): sort, then one
    aggregate() pass tracking the longest run of equal adjacent elements —
    the distinct×filter formulation is O(len·distinct) AND pays nested-HOF
    interpretation overhead per element (measured ~20x slower).
    """
    toks = tokenize(text_col)

    def top_frac(arr: F.Column) -> F.Column:
        s = F.array_sort(arr)
        acc0 = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        )
        scan = F.aggregate(
            s,
            acc0,
            lambda a, x: F.struct(
                x.alias("prev"),
                F.when(x == a.prev, a.run + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    a.best, F.when(x == a.prev, a.run + 1).otherwise(F.lit(1))
                ).alias("best"),
            ),
        )
        return F.when(F.size(arr) > 0, scan.best / F.size(arr)).otherwise(F.lit(0.0))

    bigrams = word_all_ngrams(toks, 2)
    return df.withColumn("top_tok_frac", top_frac(toks)).withColumn(
        "top_bigram_frac", top_frac(bigrams)
    )


def scrub_pii(df: DataFrame, text_col: str) -> DataFrame:
    """PII redaction: replace emails/phone numbers with typed placeholder
    tokens, recording per-row redaction counts. Pure JVM regexp_replace /
    regexp_extract_all — no Python in the row path, fully codegen'd, so at
    100 TB this runs at scan throughput."""
    c = F.col(text_col)
    # phones are counted on the EMAIL-SCRUBBED text, matching what the
    # phone replacement actually sees: counting both patterns on the raw
    # text let an email/phone overlap ('555-123-4567@example.com') report
    # n_phones=1 while the output contained no <PHONE> and leaked a
    # partial number — audit counts must agree with the scrubbed output
    emails_scrubbed = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return (
        df.withColumn("n_emails", F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))))
        .withColumn("n_phones", F.size(F.regexp_extract_all(emails_scrubbed, F.lit(PHONE_RE), F.lit(0))))
        .withColumn("scrubbed", F.regexp_replace(emails_scrubbed, PHONE_RE, "<PHONE>"))
    )


def gopher_rules(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. '21 §A1.1, adapted to
    single-line docs): token count bounds, mean token length band,
    no-alphanumeric token fraction, distinct-stopword floor; pairs with
    ``repetition_stats`` for the repetition rules. One scan, zero
    shuffle — every signal is an array higher-order function over the
    tokenized text, so the gate composes into any pipeline as a free
    filter pushdown candidate.
    """
    toks = tokenize(text_col)
    n = F.size(toks)
    tok_len_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_tok_len = F.when(n > 0, tok_len_sum / n).otherwise(F.lit(0.0))
    symbol_frac = F.when(
        n > 0,
        F.size(F.filter(toks, lambda t: ~t.rlike("[a-zA-Z0-9]"))) / n,
    ).otherwise(F.lit(0.0))
    # array_intersect already de-duplicates its result; a wrapping
    # array_distinct was a redundant O(n) pass per document in this
    # hot scan path
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    out = df.select(
        "*",
        n.alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_tok_len"),
        F.round(symbol_frac, 4).alias("symbol_frac"),
        stop_hits.alias("stop_hits"),
    )
    passes = (
        (F.col("n_tokens") >= 5)
        & (F.col("n_tokens") <= 100000)
        & (F.col("mean_tok_len") >= 2)
        & (F.col("mean_tok_len") <= 12)
        & (F.col("symbol_frac") < 0.1)
        & (F.col("stop_hits") >= 2)
    )
    return out.withColumn("passes", passes.cast("int"))


def gopher_metrics_sql(toks: str) -> str:
    """DuckDB select-list twin of ``gopher_rules``' four per-document
    metrics over a token-list column ``toks``: ``n_tokens``,
    ``mean_tok_len``, ``symbol_frac`` and ``stop_hits``. Written apart
    from the Spark expressions so every oracle composed from it stays an
    independent check of the operator; ``GOPHER_PASS_SQL`` is its pass
    predicate."""
    return f"""CAST(len({toks}) AS BIGINT) AS n_tokens,
               CASE WHEN len({toks}) > 0
                    THEN round(list_sum(list_transform({toks}, s -> CAST(length(s) AS BIGINT)))
                               / CAST(len({toks}) AS DOUBLE), 4)
                    ELSE 0.0 END AS mean_tok_len,
               CASE WHEN len({toks}) > 0
                    THEN round(len(list_filter({toks}, s -> NOT regexp_matches(s, '[a-zA-Z0-9]')))
                               / CAST(len({toks}) AS DOUBLE), 4)
                    ELSE 0.0 END AS symbol_frac,
               CAST(len(list_intersect(list_distinct({toks}),
                                       ['the', 'a', 'of', 'and', 'to'])) AS BIGINT) AS stop_hits"""


GOPHER_PASS_SQL = """n_tokens BETWEEN 5 AND 100000
          AND mean_tok_len BETWEEN 2 AND 12
          AND symbol_frac < 0.1
          AND stop_hits >= 2"""


def _token_spans(text_col: str, k: int) -> F.Column:
    """Consecutive ``k``-token spans of a space-split text column — the ONE
    home for the span-building arithmetic dedup_spans and strip_boilerplate
    share (previously two verbatim copies, r13 review; the matching SQL
    lives in their oracles)."""
    toks = F.split(F.col(text_col), " ")
    return F.transform(
        F.sequence(F.lit(0),
                   F.floor((F.size(toks) - F.lit(1)) / F.lit(k)).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(toks, i * F.lit(k) + F.lit(1),
                                           F.lit(k))),
    )


def _reassemble_spans(out_col: str) -> list[F.Column]:
    """Per-doc reassembly aggregate over (pos, span) rows: surviving spans
    back in original order plus the kept-span count — shared by
    dedup_spans / strip_boilerplate."""
    return [
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
        ).alias(out_col),
        F.count("*").cast("long").alias("n_spans_kept"),
    ]


def dedup_spans(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int = 8
) -> DataFrame:
    """Span-level (line-level) dedup, C4/RefinedWeb style: split each doc
    into consecutive ``span_tokens``-token spans, keep only the FIRST
    occurrence of every distinct span corpus-wide (first = min (doc, pos)),
    reassemble the surviving spans per doc in original order.

    The reference generation deduped whole records (MR distinct); span
    granularity is what removes boilerplate repeated across pages. Scale
    shape: keep-first is computed as groupBy(span).min(packed (doc,pos)) —
    a hash aggregate with map-side combine, NOT a row_number window, so a
    span repeated millions of times (cookie banners) collapses to one row
    per mapper before the shuffle instead of sorting one hot partition.
    The (doc, pos) argmin is packed into ONE decimal(38,0) value
    ((doc + 2^63) * 1e9 + pos): min over a struct buffer is not
    hash-aggregatable and silently degraded the whole aggregate to
    SortAggregate — two full sorts of the exploded span stream (git show
    67b5d9d:plans/r13/dedup_spans_before.txt); a fixed-width decimal min
    keeps lexicographic (doc, pos) order exactly (0 <= pos < 1e9 —
    posexplode guarantees the pos bound for any document under ~8e9
    tokens; the 2^63 bias maps the FULL signed-long id range onto
    non-negative decimals so negative ids pack/decode exactly too — r14,
    ADVICE r13) while planning as HashAggregate. Two shuffles total: span agg + per-doc reassembly.
    Docs whose spans are all duplicates drop out entirely (their row
    count is the dedup rate).

    Id dtype contract (ADVICE r13): integral id columns take the packed
    HashAggregate path and keep their own type on output (previously
    coerced to long); any other id type (string/uuid/decimal/float) falls
    back to the min(struct(doc, pos)) form — sort-based but correct for
    every orderable type, where a decimal cast would NULL-collapse string
    ids silently.
    """
    from pyspark.sql.types import IntegralType

    ex = df.select(
        F.col(id_col),
        F.posexplode(_token_spans(text_col, span_tokens)).alias("pos", "span"),
    )
    id_type = df.schema[id_col].dataType
    if isinstance(id_type, IntegralType):
        pos_base = F.lit(1_000_000_000).cast("decimal(10,0)")
        # bias by 2^63: keeps the packed value non-negative for every
        # signed-long id, so the `% pos_base` decode below is exact (a
        # negative dividend would return a negative remainder)
        # 2^63 exceeds a Java long, so the literal must arrive as a string
        bias = F.lit("9223372036854775808").cast("decimal(20,0)")
        packed = (F.col(id_col).cast("decimal(38,0)") + bias) * pos_base + F.col("pos")
        # decode via subtract-then-divide: the quotient is then an exact
        # integer, immune to the scale-bounded rounding of decimal division
        # (floor(w / base) could round .999999999 up before flooring)
        pos = F.col("w") % pos_base
        winners = (
            ex.groupBy("span")
            .agg(F.min(packed).alias("w"))
            .select(
                ((F.col("w") - pos) / pos_base - bias)
                .cast(id_type).alias(id_col),
                pos.cast("int").alias("pos"),
                "span",
            )
        )
    else:
        winners = (
            ex.groupBy("span")
            .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w"))
            .select(
                F.col(f"w.{id_col}").alias(id_col),
                F.col("w.pos").alias("pos"),
                "span",
            )
        )
    return winners.groupBy(id_col).agg(*_reassemble_spans("text_dedup"))


def pack_manifest(
    df: DataFrame,
    id_col: str,
    n_tok_col: str,
    seq_len: int,
    n_shards: int = 64,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Sequence-packing manifest for training export: lay every document's
    tokens end-to-end in the deterministic corpus order (portable hash —
    same order as ``corpus_shuffle``) and cut the stream every ``seq_len``
    tokens. Emits per-doc (tok_start, first_seq, last_seq): everything a
    loader needs to materialize packed training sequences. ``passthrough``
    names extra ``df`` columns carried through to the output unchanged —
    a few narrow columns riding the existing shard shuffle is strictly
    cheaper than the doc-id equi-join a caller would otherwise need to
    re-attach them (at corpus scale that join is a second full shuffle +
    sort of the manifest).

    The naive formulation is ONE window over the whole corpus (a global
    cumulative sum = single-reducer sort — the exact anti-pattern TeraSort
    exists to avoid). This is the distributed prefix sum instead: within-
    shard cumulative sums shuffle once on shard; shard totals are a tiny
    n_shards-row frame whose exclusive prefix runs on one partition of 64
    rows; offsets broadcast back. Identical output to the global window
    (the oracle computes it that way), O(corpus/n_shards) per task.
    """
    # passthrough names must not shadow the manifest's own columns: a
    # passthrough named 'shard'/'hkey'/'within_end'/'offset' (or the
    # id/n_tok columns themselves) would silently duplicate or corrupt the
    # internal projection (ADVICE r13) — refuse loudly instead
    reserved = {"shard", "hkey", "within_end", "offset", id_col, n_tok_col}
    clash = [c for c in passthrough if c in reserved]
    if clash:
        raise ValueError(
            f"pack_manifest passthrough columns {clash} collide with "
            f"reserved internal/output names {sorted(reserved)}"
        )
    h = h16(id_col)
    d = df.select(
        F.col(id_col),
        F.col(n_tok_col).cast("long").alias(n_tok_col),
        (h % n_shards).alias("shard"),
        h.alias("hkey"),
        *[F.col(c) for c in passthrough],
    )
    w_in = (
        Window.partitionBy("shard")
        .orderBy("hkey", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Branch point: the windowed frame feeds BOTH the manifest rows and the
    # shard-totals side input. Unpersisted, Catalyst recomputes the whole
    # scan→explode→md5→window lineage for the totals branch (plan-audited
    # r6: two full corpus scans); persisting makes the totals a cache read,
    # and tot = max(within_end) reuses the cumulative sum instead of
    # re-aggregating n_tok.
    from pyspark.storagelevel import StorageLevel

    d = d.withColumn("within_end", F.sum(n_tok_col).over(w_in)) \
         .persist(StorageLevel.MEMORY_AND_DISK)
    totals = d.groupBy("shard").agg(F.max("within_end").alias("tot"))
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("tot").over(w_sh), F.lit(0))
    ).select("shard", "offset")
    d = d.join(F.broadcast(offsets), "shard")
    end = F.col("offset") + F.col("within_end")
    start = end - F.col(n_tok_col)
    # zero-token docs occupy NO sequence: the unconditional arithmetic
    # emitted an inverted span (last_seq = first_seq - 1, e.g. -1 at
    # stream start) — NULL/NULL says "empty" unambiguously to a loader
    in_seq = F.col(n_tok_col) > 0
    return d.select(
        id_col,
        n_tok_col,
        F.col("shard").cast("int").alias("shard"),
        start.alias("tok_start"),
        F.when(in_seq, F.floor(start / F.lit(float(seq_len))))
         .cast("long").alias("first_seq"),
        F.when(in_seq, F.floor((end - 1) / F.lit(float(seq_len))))
         .cast("long").alias("last_seq"),
        *passthrough,
    )


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, chunk_chars: int = 200, overlap: int = 50,
) -> DataFrame:
    """Overlapping fixed-width character chunking — the context-window
    preparation step of a RAG / long-document training pipeline (each chunk
    carries its provenance: parent id, chunk ordinal, 1-based start offset).

    Scan-local: the chunk list is a per-row array expression (sequence →
    transform → explode), so chunking is zero-shuffle and rides whole-stage
    codegen; at 100 TB the output is written straight back out partitioned
    however the training export needs. A document of length L produces
    1 + floor((L-1)/step) chunks (step = chunk_chars - overlap); empty text
    still yields its chunk_id=0 row so provenance never silently drops a
    document. Division is double + floor in both engines (integer-division
    truncation semantics differ between engines for negative operands).
    """
    if overlap >= chunk_chars:
        raise ValueError(f"overlap {overlap} must be < chunk_chars {chunk_chars}")
    step = chunk_chars - overlap
    n_hi = (
        f"greatest(CAST(floor((length({text_col}) - 1) / CAST({step} AS DOUBLE)) AS INT), 0)"
    )
    chunks = F.expr(
        f"transform(sequence(0, {n_hi}), i -> struct("
        f"i AS chunk_id, i*{step}+1 AS chunk_start, "
        f"substring({text_col}, i*{step}+1, {chunk_chars}) AS chunk))"
    )
    return (
        df.select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(id_col, "c.chunk_id", "c.chunk_start", "c.chunk")
    )


def build_vocab(df: DataFrame, text_col: str, size: int) -> DataFrame:
    """Deterministic frequency-ranked vocabulary: the ``size`` most frequent
    whitespace tokens, id 1..size by (count desc, word asc). Broadcast-sized
    by construction — a vocabulary is pipeline metadata, like centroids."""
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("word")) \
             .where(F.col("word") != "")
    counts = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    # top-k FIRST (TakeOrderedAndProject — per-partition heaps, no global
    # sort of the full distinct-word table), THEN rank the k survivors; the
    # single-partition window only ever sees ``size`` rows.
    top = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(size)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    return top.withColumn("token_id", F.row_number().over(w)).select("word", "token_id")


def tokenize_ids(
    df: DataFrame, id_col: str, text_col: str, vocab: DataFrame,
) -> DataFrame:
    """Map documents to vocabulary token ids — the id-ization step of a
    training export. Unknown words get id 0 (OOV); token positions are
    1-based over the non-empty whitespace tokens.

    The vocab joins back broadcast (it is metadata-sized); the corpus is
    scanned once and never shuffled except by the per-document position
    window, which is bounded by document length. Returns one row per token:
    (id_col, tok_pos, word, token_id).
    """
    toks = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("raw_pos", "word"),
        )
        .where(F.col("word") != "")
    )
    w = Window.partitionBy(id_col).orderBy("raw_pos")
    return (
        toks.withColumn("tok_pos", F.row_number().over(w))
        .join(F.broadcast(vocab), "word", "left")
        .select(
            id_col,
            "tok_pos",
            "word",
            F.coalesce(F.col("token_id"), F.lit(0)).alias("token_id"),
        )
    )


def adaptive_quality_filter(df: DataFrame, id_col: str, text_col: str,
                            group_col: str) -> DataFrame:
    """Per-group adaptive quality gate: keep documents whose quality score
    reaches their group's (lower) median — the calibration step real
    pipelines run per language so a fixed global cutoff doesn't starve
    low-resource groups.

    The median is computed by the distributed exact-median histogram trick,
    NOT a per-group sort: (group, quality) value counts are one
    map-side-combinable hash agg; the cumulative walk to the ceil(n/2)-th
    value runs as a window over the DISTINCT-VALUE table (bounded by score
    cardinality, tiny vs the corpus); thresholds join back broadcast. No
    corpus-wide window, no per-group global sort — the skew trap a naive
    percentile-over-partition formulation hits when one language dominates.
    (At 100 TB an approx_percentile sketch is the drop-in alternative; the
    exact histogram form is kept because quality scores are integer-ratio
    doubles, making the threshold engine-portable.)

    Lower-median rule: threshold = smallest value v with cum_count >=
    ceil(n_group / 2); deterministic for any tie structure.

    Returns kept rows: (id_col, group_col, quality_r, thr_r), 4-dp rounded.
    """
    q = df.select(
        F.col(id_col), F.col(group_col),
        quality_col(text_col).alias("quality"),
    )
    hist = q.groupBy(group_col, "quality").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(group_col).orderBy("quality") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)) \
              .withColumn("n", F.sum("cnt").over(Window.partitionBy(group_col)))
    thr = (
        cum.where(F.col("cum") >= F.ceil(F.col("n") / 2))
        .groupBy(group_col).agg(F.min("quality").alias("thr"))
    )
    return (
        q.join(F.broadcast(thr), group_col)
        .where(F.col("quality") >= F.col("thr"))
        .select(
            id_col, group_col,
            F.round("quality", 4).alias("quality_r"),
            F.round("thr", 4).alias("thr_r"),
        )
    )


def contamination_score(
    df: DataFrame, id_col: str, text_col: str, eval_ids: DataFrame, n: int = 4,
) -> DataFrame:
    """Graded benchmark contamination: per training document, the fraction
    of its DISTINCT word n-grams that appear anywhere in the eval set — the
    reporting companion to ``decontaminate``'s binary drop rule (real
    pipelines triage by overlap degree before deciding what to drop).

    Plan shape is decontaminate's: eval grams are a distinct explode of the
    (small) eval slice, broadcast when they fit; train-doc grams LEFT-join
    them on the gram string and aggregate per doc. The corpus is scanned
    once per side and never self-joined; counts are exact integers, the
    fraction one exact IEEE division (bit-identical across engines).

    Returns (id_col, n_grams, n_hit, frac_r) for train docs with >= 1 gram.
    """
    grams = _decon_grams(id_col, text_col, n)
    eval_grams = grams(df.join(eval_ids, id_col, "semi")).select("ng").distinct()
    train_grams = grams(df.join(eval_ids, id_col, "anti"))
    hit = train_grams.join(
        eval_grams.withColumn("_hit", F.lit(1)), "ng", "left"
    )
    return hit.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.count("*"), 4,
        ).alias("frac_r"),
    )


def corpus_diff(v1: DataFrame, v2: DataFrame, id_col: str,
                text_col: str) -> DataFrame:
    """Snapshot diff between two corpus versions — the dataset-versioning
    primitive (DistCp -update's change detection, content-addressed): rows
    are compared by md5 content fingerprint over normalized text, and each
    differing id is labeled added / removed / changed; unchanged rows are
    dropped from the output.

    One full-outer hash join on the id; fingerprints are scan-local column
    expressions, so at 100 TB the cost is exactly one co-partitioned
    exchange per side — no text ever moves, only (id, 16-byte fp).
    """
    from quatrain_mapreduce_spark.operators.dedup import normalized_text

    # explicit presence markers, NOT fingerprint nullness: a row with
    # NULL text fingerprints to NULL while very much existing in its
    # snapshot, and fp-as-existence misclassified such rows as "added"
    # (r13 review — even a both-sides-present NULL-text row surfaced)
    f1 = v1.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("fp1"),
                   F.lit(True).alias("in1"))
    f2 = v2.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("fp2"),
                   F.lit(True).alias("in2"))
    j = f1.join(f2, id_col, "full")
    return (
        j.select(
            id_col,
            F.when(F.col("in1").isNull(), F.lit("added"))
            .when(F.col("in2").isNull(), F.lit("removed"))
            .when(~F.col("fp1").eqNullSafe(F.col("fp2")), F.lit("changed"))
            .alias("status"),
        )
        .where(F.col("status").isNotNull())
    )


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    span_tokens: int = 8,
    min_count: int = 3,
) -> DataFrame:
    """Frequency-threshold boilerplate removal, the C4 rule (Raffel et al.
    2020 §2.2 drops any line occurring >= 3 times in the corpus; CCNet
    applies it per-snapshot): split docs into ``span_tokens``-token spans
    and remove EVERY occurrence of a span seen >= ``min_count`` times
    within its ``group_col`` (source/domain) — including the first, which
    is what separates this from dedup_spans' keep-first semantics
    (navigation chrome is boilerplate in all its copies).

    Scale shape: span counts are a per-(group, span) hash aggregate with
    map-side combine — a cookie banner repeated across millions of pages
    collapses per-mapper; the boilerplate set joins back on (group, span)
    as a LEFT ANTI join keyed by the same shuffle partitioning, then one
    per-doc reassembly agg. Dropped docs were pure boilerplate.
    """
    ex = df.select(
        F.col(id_col), F.col(group_col),
        F.posexplode(_token_spans(text_col, span_tokens)).alias("pos", "span"),
    )
    boiler = (
        ex.groupBy(group_col, "span")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count)
        .select(group_col, "span")
    )
    kept = ex.join(boiler, [group_col, "span"], "left_anti")
    return kept.groupBy(id_col).agg(*_reassemble_spans("text_clean"))
