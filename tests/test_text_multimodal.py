"""Text analysis + multimodal plumbing — hand-computed expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.operators.multimodal import attach_media, decode_image, extract_features
from quatrain_mapreduce_spark.operators.text import (
    fingerprint, lang_id, quality_score, text_stats,
)


def test_text_stats_hand_counts(spark):
    df = spark.createDataFrame([(1, "the cat sat, twice!")], "doc_id long, text string")
    r = text_stats(df, "doc_id", "text").collect()[0]
    assert r["n_tokens"] == 4            # whitespace tokens
    assert r["n_chars_raw"] == 19
    assert r["n_bpe_tokens"] == 6        # the|cat|sat|,|twice|!
    assert r["n_stopwords"] == 1         # 'the'


def test_quality_score_formula(spark):
    df = spark.createDataFrame([(1, "the " * 10)], "doc_id long, text string")  # 10 tokens, all stop
    r = quality_score(df, "doc_id", "text").collect()[0]
    assert r["n_tokens"] == 10
    assert abs(r["stop_ratio"] - 1.0) < 1e-9
    assert abs(r["quality"] - (0.3 * 1.0 + 0.7 * 0.1)) < 1e-9


def test_lang_id_threshold(spark):
    df = spark.createDataFrame(
        [(1, "the cat of the house and the dog"), (2, "uno dos tres cuatro cinco")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df, "doc_id", "text").collect()}
    assert got == {1: "en", 2: "other"}


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame([(1, "A  B"), (2, "a b")], "doc_id long, text string")
    fps = [r["fp"] for r in fingerprint(df, "doc_id", "text").collect()]
    assert fps[0] == fps[1]


def test_multimodal_pipeline_shape_and_determinism(spark):
    df = spark.createDataFrame([(1, "payload text"), (2, "")], "doc_id long, text string")
    media = attach_media(df, "doc_id", "text")
    assert [f.name for f in media.schema.fields] == ["doc_id", "media_type", "payload", "n_bytes"]
    feats1 = {r["doc_id"]: r["feature_mean"] for r in extract_features(media).collect()}
    feats2 = {r["doc_id"]: r["feature_mean"] for r in extract_features(media).collect()}
    assert feats1 == feats2                      # deterministic fake decode
    assert all(v is not None for v in feats1.values())
    row = extract_features(media).collect()[0]
    assert row["n_bytes"] == 16                  # md5-derived payload: 16 bytes


def test_decode_image_ppm_roundtrip():
    """PPM P6 encode→decode is the identity, including a comment header."""
    import numpy as np

    from quatrain_mapreduce_spark.operators.multimodal import encode_ppm_p6

    img = (np.arange(5 * 7 * 3) % 256).astype(np.uint8).reshape(7, 5, 3)
    assert np.array_equal(decode_image(encode_ppm_p6(img)), img)
    # header torture: comments + extra whitespace are legal netpbm
    weird = b"P6\n# a comment\n 5  7 \n255\n" + img.tobytes()
    assert np.array_equal(decode_image(weird), img)


def test_decode_image_bmp_roundtrip_flips_rows_and_channels():
    """BMP decode must strip per-row padding, flip bottom-up storage, and
    swap BGR→RGB — a width NOT divisible by 4 forces nonzero padding, and
    an asymmetric image catches a missing flip/swap."""
    import numpy as np

    from quatrain_mapreduce_spark.operators.multimodal import encode_bmp24

    img = (np.arange(3 * 6 * 3) * 37 % 256).astype(np.uint8).reshape(6, 3, 3)
    payload = encode_bmp24(img)
    assert payload[:2] == b"BM" and (len(payload) - 54) == 6 * 12  # stride 12 = 9+3 pad
    assert np.array_equal(decode_image(payload), img)


def test_decode_image_png_roundtrip_all_filter_types():
    """PNG encode→decode is the identity for every per-row filter type
    (None/Sub/Up/Average/Paeth — the five defilter branches of spec §9),
    for RGB, RGBA (alpha dropped), and grayscale (broadcast to 3ch)."""
    import numpy as np

    from quatrain_mapreduce_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    for ft in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        assert np.array_equal(decode_image(encode_png(img, filter_types=ft)), img), ft
    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_png(rgba, filter_types=[4])),
                          rgba[:, :, :3])
    gray = rng.integers(0, 256, size=(5, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_png(gray, filter_types=[3])),
                          np.repeat(gray[:, :, None], 3, axis=2))


def test_decode_image_rejects_unknown_format():
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n not actually decodable here")
    with pytest.raises(ValueError):
        decode_image(b"??no such format")


def test_decode_image_single_exception_contract_on_malformed_payloads():
    """ADVICE r10: without PIL, truncated/garbage payloads must raise the
    documented ValueError — never struct.error (short BMP), IndexError /
    bare int() ValueError with an unhelpful message (chopped PPM header),
    or zlib.error (chopped PNG)."""
    import numpy as np

    from quatrain_mapreduce_spark.operators.multimodal import encode_png

    png = encode_png(np.zeros((4, 4, 3), dtype=np.uint8), filter_types=[2])
    malformed = [
        b"BM" + b"\x00" * 18,          # 20-byte BMP: header unpack out of range
        b"P6",                          # PPM with no header fields
        b"P6 4",                        # PPM header chopped mid-field
        b"P6\n4 3\n255\n" + b"\x01" * 5,  # PPM raster shorter than w*h*3
        b"\x89PNG\r\n\x1a\n",          # PNG magic only
        png[:30],                       # PNG truncated inside IDAT
    ]
    for payload in malformed:
        with pytest.raises(ValueError):
            decode_image(payload)


def test_sample_frames_reassembles_payload(spark, sf_dir):
    """4 frames of a 16-byte payload are contiguous 4-byte slices — their
    concatenation in frame order equals the original payload."""
    from quatrain_mapreduce_spark.operators.multimodal import attach_media, sample_frames

    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = attach_media(docs, "doc_id", "text")
    orig = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    frames = sample_frames(media, n_frames=4).collect()
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append((r["frame_no"], bytes(r["frame"])))
    assert set(by_doc) == set(orig)
    for doc_id, fs in by_doc.items():
        fs.sort()
        assert b"".join(f for _, f in fs) == orig[doc_id]


def test_bpe_pair_counts_hand_example(spark):
    """Sennrich's toy corpus: pair counts are word-frequency weighted and
    computed over the distinct-word vocabulary."""
    from quatrain_mapreduce_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "new Newest")], "doc_id long, text string"
    )
    got = {r["pair"]: r["n"] for r in bpe_pair_counts(df, "text").collect()}
    # low x2, lower x1 -> lo:3 ow:3 we:1+1 er:1 ; new x1, newest x1 -> ne:2 ew:2 es:1 st:1
    assert got == {"lo": 3, "ow": 3, "we": 2, "er": 1, "ne": 2, "ew": 2, "es": 1, "st": 1}


def test_tfidf_keywords_hand_example(spark):
    """3 docs: 'cat' appears in all (df=3, idf=1), 'mouse' only in doc 3
    (df=1, idf=3) — rare terms outrank common ones; ties break on word."""
    from quatrain_mapreduce_spark.operators.text import tfidf_keywords

    df = spark.createDataFrame(
        [
            (1, "cat cat dog"),
            (2, "cat dog dog"),
            (3, "cat mouse"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rk"]): (r["word"], r["score"])
        for r in tfidf_keywords(df, "doc_id", "text", k=2).collect()
    }
    # N=3; df: cat=3, dog=2, mouse=1
    # doc1: cat tf=2 -> 2*3/3=2.0 ; dog tf=1 -> 1*3/2=1.5  => cat first
    assert got[(1, 1)] == ("cat", 2.0)
    assert got[(1, 2)] == ("dog", 1.5)
    # doc2: dog tf=2 -> 3.0 ; cat tf=1 -> 1.0
    assert got[(2, 1)] == ("dog", 3.0)
    assert got[(2, 2)] == ("cat", 1.0)
    # doc3: mouse tf=1 -> 3.0 ; cat tf=1 -> 1.0
    assert got[(3, 1)] == ("mouse", 3.0)
    assert got[(3, 2)] == ("cat", 1.0)


def test_cooccurrence_lift_hand_example(spark, tmp_path):
    """One periodic doc 'p q r' x3: every pair co-occurs maximally, so all
    three normalized pairs get lift (5/15)/((3/9)^2) = 3.0 exactly."""
    from quatrain_mapreduce_spark.plans.data_pipeline import cooccurrence_lift_q

    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "p q r p q r p q r", "en", "src0", 17)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    rows = {r["pair"]: r for r in cooccurrence_lift_q(spark, d).collect()}
    assert set(rows) == {"p q", "p r", "q r"}
    for r in rows.values():
        assert r["c_pair"] == 5 and r["c_a"] == 3 and r["c_b"] == 3
        assert r["lift_r"] == 3.0


def test_textrank_hub_word_ranks_highest(spark):
    """Star-graph corpus: 'hub' is adjacent to every spoke, so PageRank
    concentrates on it; normalized ranks average exactly 1.0 (mass
    conservation — the symmetric graph has no dangling nodes)."""
    from quatrain_mapreduce_spark.operators.text import textrank_words

    df = spark.createDataFrame(
        [("hub aa",), ("hub bb",), ("hub cc",), ("hub dd",)], "text string"
    )
    rows = {r["word"]: r["rank_n"] for r in textrank_words(df, "text").collect()}
    assert set(rows) == {"hub", "aa", "bb", "cc", "dd"}
    assert rows["hub"] == max(rows.values())
    assert all(rows["hub"] > rows[w] for w in ("aa", "bb", "cc", "dd"))
    assert abs(sum(rows.values()) / len(rows) - 1.0) < 1e-9


def test_textrank_empty_and_single_token_docs(spark):
    """No adjacency edges at all -> empty result, no division by zero."""
    from quatrain_mapreduce_spark.operators.text import textrank_words

    df = spark.createDataFrame([("solo",), ("",), ("xx xx",)], "text string")
    # 'xx xx' is a self-loop (dropped); 'solo' has no neighbor
    assert textrank_words(df, "text").collect() == []


def test_bigram_lm_score_hand_example(spark):
    """Hand-computed MLE: corpus c(a,b)=3, c(b,a)=1, c(b,c)=1 ->
    p(b|a)=1.0, p(a|b)=0.5, p(c|b)=0.5."""
    from quatrain_mapreduce_spark.operators.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], round(r["avg_p"], 6), round(r["hit_rate"], 6))
        for r in bigram_lm_score(df, "doc_id", "text", hit_min=3).collect()
    }
    # doc1: ab(m=2, p=1.0), ba(m=1, p=0.5) -> avg=(2+0.5)/3; hits: ab only -> 2/3
    assert got[1] == (3, round(5 / 6, 6), round(2 / 3, 6))
    # doc2: ab(1, p=1.0), bc(1, p=0.5) -> avg=0.75; hits: ab only -> 0.5
    assert got[2] == (2, 0.75, 0.5)
    # doc3 has no bigrams -> excluded
    assert 3 not in got


def test_doc_cosine_pairs_hand_example(spark):
    """Identical multisets -> cos exactly 1.0 with integer dot; disjoint
    vocab produces no pair row; cross-lang pairs are blocked."""
    from quatrain_mapreduce_spark.operators.text import doc_cosine_pairs

    df = spark.createDataFrame(
        [(1, "x x y", "en"), (2, "x y x", "en"), (3, "z z z", "en"),
         (4, "x x y", "de")],
        "doc_id long, text string, lang string",
    )
    rows = {(r["id_a"], r["id_b"]): r
            for r in doc_cosine_pairs(df, "doc_id", "text", "lang",
                                      threshold=0.99).collect()}
    # only (1,2): same tf multiset {x:2, y:1} -> dot=5, ||a||=||b||=sqrt(5)
    assert set(rows) == {(1, 2)}
    assert rows[(1, 2)]["dot_ab"] == 5
    assert rows[(1, 2)]["cos_r"] == 1.0


def test_bpe_train_matches_pure_python_reference(spark):
    """Exact parity: the distributed iterative BPE trainer must reproduce a
    from-scratch pure-Python BPE (Sennrich alg. 1) on the same corpus —
    merge rules, order, and pair counts all equal."""
    import re
    from collections import Counter

    import duckdb

    from quatrain_mapreduce_spark.operators.text import bpe_train

    sf = "/root/testdata/sf0.001"
    texts = [r[0] for r in duckdb.sql(
        f"SELECT text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()]
    vocab = Counter()
    for t in texts:
        for w in re.findall(r"[A-Za-z]+", t):
            w = w.lower()
            if len(w) >= 2:
                vocab[w] += 1
    syms = {w: tuple(w) for w in vocab}
    expected = []
    for rank in range(1, 9):
        pc = Counter()
        for w, cnt in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += cnt
        if not pc:
            break
        # tie-break: count DESC, then pair lexicographic ASC
        (left, right), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, left, right, n))
        for w in syms:
            s = syms[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)

    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(
            spark.read.parquet(f"{sf}/documents.parquet"), "text", n_merges=8
        ).orderBy("rank").collect()
    ]
    assert got == expected and len(got) == 8


def test_bpe_apply_roundtrips_training_segmentation(spark):
    """Applying the learned merges must reproduce the trainer's final
    segmentation exactly (computed independently in pure Python), word by
    word — the Sennrich train->apply contract."""
    import re
    from collections import Counter

    import duckdb

    from quatrain_mapreduce_spark.operators.text import bpe_apply, bpe_train

    sf = "/root/testdata/sf0.001"
    texts = [r[0] for r in duckdb.sql(
        f"SELECT text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()]
    vocab = Counter()
    for t in texts:
        for w in re.findall(r"[A-Za-z]+", t):
            w = w.lower()
            if len(w) >= 2:
                vocab[w] += 1
    syms = {w: tuple(w) for w in vocab}
    rules = []
    for _ in range(8):
        pc = Counter()
        for w, cnt in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += cnt
        (left, right), _n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((left, right))
        for w in syms:
            s = syms[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got_rows = bpe_apply(docs.limit(20), "doc_id", "text", rules).collect()
    assert len(got_rows) > 0
    for r in got_rows:
        w = "".join(r["syms"])
        assert tuple(r["syms"]) == syms[w], (w, r["syms"], syms[w])


def test_count_discriminant_separates_planted_vocab(spark):
    from quatrain_mapreduce_spark.operators.text import (
        count_discriminant_classifier,
    )
    from pyspark.sql import functions as F

    # Positive docs speak "zorb", negative docs speak "quux"; train on the
    # first 8 of each class, serve the rest. The smoothed rate-difference
    # weight must classify every held-out doc correctly, and a doc made of
    # only out-of-vocab tokens must score exactly 0 -> pred False.
    rows = [(i, "zorb zorb flib", True) for i in range(10)]
    rows += [(100 + i, "quux quux flib", False) for i in range(10)]
    rows.append((999, "unseen tokens only", False))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    out = {r["doc_id"]: r for r in count_discriminant_classifier(
        docs, "doc_id", "text",
        is_pos=F.col("y"),
        is_train=(F.col("doc_id") % 100) < 8,
    ).collect()}
    assert len(out) == 5  # 2 pos + 2 neg + the OOV doc held out
    for i in (8, 9):
        assert out[i]["pred"] and out[i]["actual"]
    for i in (108, 109):
        assert not out[i]["pred"] and not out[i]["actual"]
    assert out[999]["score"] == 0 and not out[999]["pred"]

    # Hand-check one weight path end-to-end: c_pos(zorb)=16, c_neg=0,
    # tot_pos=24, tot_neg=24, V=3 -> w(zorb)=(17*27-1*27)=432,
    # w(flib)=(9*27-9*27)=0, so score(doc 8)=2*432=864.
    assert out[8]["score"] == 864
