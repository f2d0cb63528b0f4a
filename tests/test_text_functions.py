"""Text-analysis column functions (pure JVM expressions)."""

import math
import re
from collections import Counter

import pyspark.sql.functions as F
import pytest

from thundercats_spark.functions import text_analysis as T
from thundercats_spark.operators import dedup

# Edge cases for the n-gram builders: empty, whitespace-only, null,
# fewer than / exactly / more than n tokens, tabs and newlines (Spark's
# trim strips spaces only, so a leading tab yields an empty token),
# repeats and non-ASCII.
NGRAM_TEXTS = [
    "", "   ", None, "a", "a b", "a b c", "  x y z  ", "a b c d e",
    "a b a b a b", "a\tb\nc  d", "\ta b\n", "über straße café über straße",
    "日本 語 の テキスト 日本 語",
]


def _ref_tokens(text):
    """Plain-Python ``tokens``: trim spaces, split on Java's ``\\s+``."""
    if text is None:
        return None
    s = text.strip(" ")
    return re.split(r"[ \t\n\x0b\f\r]+", s) if s else []


def _ref_windows(toks, n):
    if toks is None:
        return None
    return [toks[i : i + n] for i in range(len(toks) - n + 1)]


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], "t string").select(col.alias("o")).first()["o"]


def test_token_count(spark):
    assert _one(spark, "a b  c", T.token_count(F.col("t"))) == 3
    assert _one(spark, "  ", T.token_count(F.col("t"))) == 0
    assert _one(spark, "one", T.token_count(F.col("t"))) == 1


def test_bpe_estimate_monotone(spark):
    short = _one(spark, "hi", T.bpe_token_estimate(F.col("t")))
    long = _one(spark, "internationalization considerations", T.bpe_token_estimate(F.col("t")))
    assert long > short >= 1


def test_stopword_ratio(spark):
    assert _one(spark, "the cat", T.stopword_ratio(F.col("t"))) == 0.5
    assert _one(spark, "", T.stopword_ratio(F.col("t"))) == 0.0


def test_punct_alpha_ratio(spark):
    assert _one(spark, "ab!!", T.punct_ratio(F.col("t"))) == 0.5
    assert _one(spark, "ab12", T.alpha_ratio(F.col("t"))) == 0.5


def test_quality_score_bounds(spark):
    for text in ["", "the a of and", "x" * 1000, "!!!???"]:
        q = _one(spark, text, T.quality_score(F.col("t")))
        assert 0.0 <= q <= 1.0, (text, q)


def test_lang_id(spark):
    assert _one(spark, "the cat sat of the mat", T.lang_id(F.col("t"))) == "en"
    assert _one(spark, "der hund ist nicht da und", T.lang_id(F.col("t"))) == "de"
    assert _one(spark, "el perro es la casa que", T.lang_id(F.col("t"))) == "es"
    assert _one(spark, "le chien est dans les pour", T.lang_id(F.col("t"))) == "fr"
    assert _one(spark, "这是中文文本", T.lang_id(F.col("t"))) == "zh"
    assert _one(spark, "zzz qqq www", T.lang_id(F.col("t"))) == "und"


def test_fingerprints(spark):
    a = _one(spark, "hello world", T.doc_fingerprint(F.col("t")))
    b = _one(spark, "  HELLO WORLD ", T.doc_fingerprint(F.col("t")))
    c = _one(spark, "hello worlds", T.doc_fingerprint(F.col("t")))
    assert a == b != c


def test_fingerprint_poly_matches_python(spark):
    text = "spark"
    expected = 0
    for ch in text:
        expected = (expected * 31 + ord(ch)) % 2147483647
    assert _one(spark, text, T.doc_fingerprint_poly(F.col("t"))) == expected


def test_pii_counts_and_scrub(spark):
    text = "mail me at foo.bar+1@example.com or see https://ex.io/x?q=1 call +1 (555) 123-4567 ok"
    counts = {k: _one(spark, text, c) for k, c in T.pii_counts(F.col("t")).items()}
    assert counts == {"email": 1, "url": 1, "phone": 1}
    clean = _one(spark, text, T.pii_scrub(F.col("t")))
    assert "<EMAIL>" in clean and "<URL>" in clean and "<PHONE>" in clean
    assert "example.com" not in clean and "555" not in clean
    # clean text is a fixpoint: scrubbing again changes nothing
    assert _one(spark, clean, T.pii_scrub(F.col("t"))) == clean


def test_ngram_builders_match_python_reference(spark):
    df = spark.createDataFrame(list(enumerate(NGRAM_TEXTS)), "id int, t string")
    t = F.col("t")
    for n in (2, 3):
        rows = df.select(
            "id",
            T.word_ngrams(t, n).alias("grams"),
            dedup.word_shingles(t, n).alias("shingles"),
            T.duplicate_ngram_fraction(t, n).alias("dup"),
        ).collect()
        for r in rows:
            toks = _ref_tokens(NGRAM_TEXTS[r["id"]])
            wins = _ref_windows(toks, n)
            grams = None if wins is None else [" ".join(w) for w in wins]
            assert r["grams"] == grams, (n, r)
            if toks is None:
                assert r["shingles"] is None and r["dup"] is None, (n, r)
                continue
            shingles = list(dict.fromkeys(grams)) if grams else [" ".join(toks)]
            assert r["shingles"] == shingles, (n, r)
            dup = (len(grams) - len(set(grams))) / len(grams) if grams else 0.0
            assert r["dup"] == dup, (n, r)

    # hashes: the same windows, hashed directly (no sliding in Spark)
    n = 3
    ref = [
        (i, _ref_windows(_ref_tokens(text), n))
        for i, text in enumerate(NGRAM_TEXTS)
    ]
    want = {
        r["id"]: r["h"]
        for r in spark.createDataFrame(ref, "id int, w array<array<string>>")
        .select(
            "id",
            F.transform(
                "w", lambda g: F.xxhash64(F.transform(g, lambda x: F.xxhash64(x)))
            ).alias("h"),
        )
        .collect()
    }
    got = {
        r["id"]: r["h"]
        for r in df.select("id", T.word_ngram_hashes(t, n).alias("h")).collect()
    }
    assert got == want

    # corpus bigram log-probabilities over the same texts
    grams = {
        i: [" ".join(w) for w in _ref_windows(_ref_tokens(text), 2) or []]
        for i, text in enumerate(NGRAM_TEXTS)
    }
    counts = Counter(g for gs in grams.values() for g in gs)
    total = sum(counts.values())
    want = {
        i: (len(gs), round(sum(math.log(counts[g] / total) for g in gs) / len(gs), 6))
        for i, gs in grams.items()
        if gs
    }
    got = {
        r["id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in dedup.corpus_bigram_logprob(df, "t", "id").collect()
    }
    assert got.keys() == want.keys()
    for i, (nb, lp) in want.items():
        assert got[i][0] == nb and got[i][1] == pytest.approx(lp, abs=1e-6), i


def test_ngram_builders_tokenize_once(spark):
    # A token array referenced inside a per-position lambda is evaluated
    # again at every position, which makes a document's cost quadratic
    # in its length; each builder binds it once, so its expression holds
    # the tokenizer's split exactly once.
    t = F.col("t")
    for col in [
        T.word_ngrams(t, 3),
        T.word_ngram_hashes(t, 8),
        T.duplicate_ngram_fraction(t, 2),
        dedup.word_shingles(t, 3),
    ]:
        assert str(col).count("split(") == 1, str(col)
    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    plan = (
        dedup.corpus_bigram_logprob(df, "text", "doc_id")
        ._jdf.queryExecution().analyzed().toString()
    )
    assert plan.count("split(") == plan.count("explode(") > 0, plan


def test_word_ngram_hashes_tracks_string_grams(spark):
    # r11: decontamination hashes token-hash slices instead of building
    # n-gram strings. Equal grams must map to equal hashes and distinct
    # grams to distinct hashes (on this corpus), so every consumer that
    # only compares hashes is unchanged; null/short/empty text edge
    # behavior must match word_ngrams exactly.
    import pyspark.sql.functions as F

    from thundercats_spark.functions import text_analysis as T

    df = spark.createDataFrame(
        [("a b c d e",), ("a b a b a b",), ("a b",), ("",), (None,),
         ("  x y z  ",)],
        "t string",
    )
    rows = df.select(
        F.array_distinct(T.word_ngrams(F.col("t"), 3)).alias("s"),
        F.array_distinct(T.word_ngram_hashes(F.col("t"), 3)).alias("h"),
    ).collect()
    for r in rows:
        if r["s"] is None:
            assert r["h"] is None
        else:
            # same distinct-gram cardinality == equal-iff-equal hashing
            assert len(r["s"]) == len(r["h"])
    # cross-row consistency: the same gram text hashes identically in
    # different rows (the decontamination join's correctness condition)
    two = spark.createDataFrame(
        [("q w e r t",), ("z z q w e",)], "t string"
    ).select(F.explode(T.word_ngram_hashes(F.col("t"), 3)).alias("h"))
    vals = [r["h"] for r in two.collect()]
    # "q w e" appears in both rows -> exactly one shared hash value
    assert len(vals) == 6 and len(set(vals)) == 5
