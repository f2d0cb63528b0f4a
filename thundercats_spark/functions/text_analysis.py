"""Text-analysis column functions for LLM-training-data pipelines.

Every function here returns a pyspark ``Column`` built ONLY from
built-in functions — whole-stage-codegen'd JVM expressions, no Python in
the hot path. At 100 TB these run at scan speed alongside the parquet
read (project + filter pushdown), which is the point: quality filtering
and language bucketing should never need a shuffle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword sets for the n-gram/stopword language heuristic. Tiny on
# purpose: broadcast as literals inside the expression tree.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"),
    "es": ("el", "la", "los", "las", "de", "que", "y", "es", "en", "un"),
    "fr": ("le", "la", "les", "des", "et", "est", "une", "dans", "que", "pour"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_ids(text: Column, vocab_size: int = 65536, salt: str = "tok") -> Column:
    """Map each whitespace token to a stable hash id in
    [0, vocab_size) — the vocabulary-free stand-in for a real
    tokenizer when preparing training sequences (a fixed BPE vocab
    isn't shipped here; swap this expression for a real
    tokenizer-lookup UDF without touching the packing machinery).
    Engine-portable (first 6 hex digits of md5(token || salt), like
    ``split_bucket``) and deterministic across runs, engines, and
    partitioning. Pure JVM expression per token."""
    return F.transform(
        tokens(text),
        lambda t: (
            F.conv(F.substring(F.md5(F.concat(t, F.lit(salt))), 1, 6), 16, 10)
            .cast("long") % vocab_size
        ).cast("int"),
    )


def bpe_token_estimate(text: Column) -> Column:
    """BPE-ish subword count estimate: split on word boundaries,
    punctuation, and digits (the GPT-2 pre-tokenizer regex family),
    then assume ~4 chars/subword within long words. Pure arithmetic —
    a cheap, deterministic proxy for a real tokenizer at scale."""
    pieces = F.split(F.trim(text), r"\s+|(?=[^\w\s])|(?<=[^\w\s])")
    per_piece = F.filter(pieces, lambda p: F.length(p) > 0)
    # ceil(len/4) per piece, summed — integer arithmetic only.
    return F.aggregate(
        per_piece,
        F.lit(0).cast("long"),
        lambda acc, p: acc + F.ceil(F.length(p) / F.lit(4.0)).cast("long"),
    )


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = LANG_STOPWORDS["en"]) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    n = F.size(toks)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric/space chars / total chars."""
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def alpha_ratio(text: Column) -> Column:
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    return F.when(n > 0, alpha / n).otherwise(F.lit(0.0))


def quality_score(text: Column, target_len: int = 500) -> Column:
    """Composite quality in [0,1]: length saturation + cleanliness +
    stopword naturalness. Rational arithmetic only (cross-engine
    reproducible — no exp/log)."""
    len_norm = F.least(F.length(text), F.lit(target_len)) / F.lit(float(target_len))
    return (
        F.lit(0.4) * len_norm
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(text))
        + F.lit(0.3) * stopword_ratio(text)
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit counts."""
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*sw)))  # noqa: B023
        for lang, sw in LANG_STOPWORDS.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax language with fixed precedence en>de>es>fr; 'und'
    (undetermined) when no stopwords hit. CJK short-circuits via
    codepoint-class ratio."""
    scores = lang_scores(text)
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", ""))
    best = F.lit("und")
    best_score = F.lit(0)
    # Build argmax chain with fixed precedence (iteration order of dict).
    expr = None
    order = list(scores.keys())
    for lang in reversed(order):
        s = scores[lang]
        if expr is None:
            expr = F.when(s > 0, F.lit(lang)).otherwise(best)
        else:
            # lang earlier in `order` wins ties (>=).
            cond = s > 0
            for other in order[order.index(lang) + 1 :]:
                cond = cond & (s >= scores[other])
            expr = F.when(cond, F.lit(lang)).otherwise(expr)
    _ = best_score
    return F.when(cjk > 0, F.lit("zh")).otherwise(expr)


def doc_fingerprint(text: Column) -> Column:
    """Production fingerprint: 64-bit xxhash of normalized text —
    one JVM hash call, the exact-dedup key at scale."""
    return F.xxhash64(F.lower(F.trim(text)))


def doc_fingerprint_poly(text: Column, mod: int = 2147483647, base: int = 31) -> Column:
    """Polynomial rolling hash over characters (h = h*31 + code mod p).
    Slower than xxhash64 but engine-portable — the DuckDB oracle computes
    the identical recurrence, so this variant is hash-verifiable."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(text)),
        lambda i: F.ascii(text.substr(i, F.lit(1))),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + c.cast("long")) % F.lit(mod).cast("long"),
    )


# PII patterns — deliberately simple ASCII classes so the SAME pattern
# string runs identically under Spark's Java regex and DuckDB's RE2
# (the oracle); real deployments would swap in stricter validators.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (JVM regexp_count, scan-stage)."""
    return {k: F.regexp_count(text, F.lit(p)) for k, p in PII_PATTERNS.items()}


def pii_scrub(text: Column) -> Column:
    """Replace every PII match with ``<KIND>`` placeholders. Chained
    global regexp_replace — one projection, no shuffle, no Python."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def distinct_word_ratio(text: Column) -> Column:
    """|unique words| / |words| — low values flag template/spam docs.
    Pure JVM expression (array_distinct over the token array)."""
    toks = tokens(text)
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    )


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row: Spark
    re-evaluates an outer expression at every use inside a lambda."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _windows(arr: Column, n: int, gram: Callable[[Column], Column], short: Column) -> Column:
    """``gram`` of each length-``n`` window of the bound array ``arr``
    (see ``_let``), or ``short`` when it has fewer than ``n`` elements.
    Windows come from ``n`` zipped shifted slices: an inner lambda that
    captures ``arr`` stops Spark extracting a pandas UDF applied to the
    result on the second side of a self-join (minhash_lsh_pairs)."""
    k = F.size(arr) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(arr, j + 1, k) for j in range(n)])
    return F.when(F.size(arr) < n, short).otherwise(
        F.transform(zipped, lambda w: gram(F.array(*[w[str(j)] for j in range(n)])))
    )


def _joined(toks: Column) -> Column:
    return F.array_join(toks, " ")


def word_ngrams(text: Column, n: int) -> Column:
    """Positional word n-grams as space-joined strings; empty when the
    text has fewer than ``n`` tokens."""
    return _let(
        tokens(text),
        lambda t: _windows(t, n, _joined, F.array().cast("array<string>")),
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; a text with fewer than ``n``
    tokens is one shingle, its tokens joined."""
    return _let(
        tokens(text),
        lambda t: F.array_distinct(_windows(t, n, _joined, F.array(_joined(t)))),
    )


def word_ngram_hashes(text: Column, n: int) -> Column:
    """64-bit hashes of positional word n-grams WITHOUT materializing
    the n-gram strings: hash each token once, then xxhash64 the
    length-``n`` slice of token hashes (an array<bigint> input). Equal
    n-grams map to equal hashes; distinct n-grams collide at the same
    ~2^-64 odds the string-hash route already accepted downstream —
    use where the consumer only ever compares hashes (decontamination
    joins), never where the gram text is part of the output. Measured
    r11: 3.4x cheaper than concat_ws-string-build + string hash on the
    8-gram decontamination scan stage."""
    return _let(
        F.transform(tokens(text), lambda t: F.xxhash64(t)),
        lambda h: _windows(h, n, F.xxhash64, F.array().cast("array<bigint>")),
    )


def duplicate_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Fraction of word n-gram occurrences that are repeats of an
    earlier occurrence — the Gopher-style repetition signal. 0 for
    diverse text, →1 for looping/template text. JVM-only: dedups the
    n-gram array and compares sizes (no shuffle, no UDF)."""
    return _let(
        word_ngrams(text, n),
        lambda g: F.when(F.size(g) == 0, F.lit(0.0)).otherwise(
            (F.size(g) - F.size(F.array_distinct(g))).cast("double") / F.size(g)
        ),
    )
