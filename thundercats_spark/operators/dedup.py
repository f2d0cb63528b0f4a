"""Deduplication operators for LLM-training-data pipelines.

Four families, all shuffle-disciplined:

- **exact**: xxhash64 fingerprint → groupBy hash → keep min-id. One
  shuffle on an 8-byte key regardless of document size. Variants:
  keep-best retention policy (``dedup_keep_best``) and rolling
  ingestion against a persisted fingerprint index
  (``dedup_incremental``).
- **MinHash + LSH**: shingles → k permutation-hashes (or O(n)/doc
  one-permutation hashing, ``method='oph'``) → banded bucket keys →
  candidates are pairs sharing a bucket → exact-Jaccard verify.
  Never materializes the O(n²) pair space; bucket sizes bound the
  candidate count. Shingle hashing runs in the JVM; the signature math
  is one Arrow kernel per sketch (see "Signature kernels").
- **SimHash**: 60-bit majority-vote token hash; near-dup candidates
  share one of four 15-bit bands; verify by Hamming distance
  (``bit_count(xor)``).
- **n-gram Jaccard**: word n-gram inverted index → shared-shingle pairs
  → exact Jaccard from intersection counts. Exact (no hashing), used as
  the verification oracle for the sketch-based families.

Embedding near-dup (cosine) lives in operators/similarity.py.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from thundercats_spark.functions.text_analysis import word_ngrams, word_shingles


def _size_to_bytes(s: str) -> int:
    """Parse Spark size-conf strings ('134217728', '128m', '4mb')."""
    s = s.strip().lower()
    mult = 1
    for suf, m in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                   ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                   ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _scan_width_estimate(df: DataFrame) -> int | None:
    """Estimated scan-partition count of a file-backed frame, from the
    input files' sizes and the session's split confs — the same
    quantities FilePartition packs by (maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, totalPadded/par))).
    Returns None when the answer can't be derived from metadata (no
    file sources — e.g. a post-shuffle frame — or files on a filesystem
    we can't stat locally); callers fall back to the RDD probe then.
    Exists so the hot paths don't force a plan→RDD conversion per call
    (and stay portable to Spark Connect, where ``df.rdd`` is
    unavailable) — VERDICT r11 #9."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        if uri.startswith("file:"):
            from urllib.parse import unquote, urlparse

            path = unquote(urlparse(uri).path)
        elif uri.startswith("/"):
            path = uri
        else:
            return None  # remote FS: no cheap local stat — use fallback
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    conf = df.sparkSession.conf
    mpb = _size_to_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    opc = _size_to_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    par = df.sparkSession.sparkContext.defaultParallelism
    padded = sum(sizes) + opc * len(files)
    max_split = max(1, min(mpb, max(opc, padded // max(1, par))))
    # bin-packing merges small files and splits large ones; the byte
    # total over the split size is the right first-order estimate
    return max(1, padded // max_split)


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Small inputs often arrive as ONE parquet file → one partition →
    zero parallelism for expression-heavy per-row work (shingling,
    signatures, char folds). Repartition up to the cluster's default
    parallelism; a shuffle of the raw rows is far cheaper than running
    the heavy expressions single-threaded. No-op when the input is
    already wide (the 100 TB case — thousands of input splits).

    Width comes from file metadata when the frame is file-backed
    (``_scan_width_estimate`` — no RDD conversion, Connect-safe); only
    frames without statable file sources pay the ``.rdd`` probe."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    width = _scan_width_estimate(df)
    if width is None:
        width = df.rdd.getNumPartitions()
    if width >= target:
        return df
    return df.repartition(target)


def select_exploded(df: DataFrame, arr, alias: str, *keep) -> DataFrame:
    """``df.select(*keep, explode(arr).alias(alias))`` that does NOT
    let the optimizer re-evaluate an expensive ``arr`` expression
    upstream: a plain ``explode`` triggers InferFiltersFromGenerate,
    whose derived ``size(arr)>0 AND isnotnull(arr)`` predicate is
    pushed below any spread exchange back into the (often single-task)
    scan stage — the whole array construction then runs twice per row
    on one core (measured 6.5s of doc_containment_pairs' 7.9s).
    ``explode_outer`` is exempt from the rule; filtering the OUTPUT
    attribute for null afterwards restores exact ``explode`` semantics
    (empty/null arrays drop) and cannot be pushed below the Generate.

    Only valid when ``arr``'s ELEMENTS are never null (ours are
    concat/hash/struct results) — a legitimate null element would be
    dropped where ``explode`` keeps it."""
    out = df.select(*keep, F.explode_outer(arr).alias(alias))
    return out.where(F.col(alias).isNotNull())

# Deterministic permutation-hash parameters (seeded LCG over a Mersenne
# prime) — fixed across runs so results are reproducible. 31-bit prime:
# base hashes are first reduced mod P so a*h+b stays < 2^62 (no ANSI
# long overflow).
_P = 2147483647  # 2^31 - 1


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rnd = __import__("random").Random(seed)
    return [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)]


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    ids_only: bool = False,
) -> DataFrame:
    """Keep one row (min id) per distinct normalized text. Returns the
    surviving rows with ``n_copies``. Single shuffle on the 64-bit
    fingerprint; document bytes never shuffle (semi-join by id).
    ``ids_only=True`` skips the join-back and returns just
    ``(id_col, n_copies)`` — one shuffle total, no second scan; use it
    when downstream only needs the surviving keys."""
    key = F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    fp = F.xxhash64(key).alias("__fp")
    # project to (id, fp) BEFORE any redistribution: the fingerprint is
    # one hash per row (cheap even single-threaded on a narrow input),
    # and the groupBy shuffle below already spreads the reduce — an
    # up-front repartition would shuffle the full document bytes.
    keep = (
        df.select(F.col(id_col), fp)
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )
    if ids_only:
        return keep
    return df.join(keep, id_col, "inner")


def dedup_keep_best(
    df: DataFrame,
    score,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    ids_only: bool = False,
) -> DataFrame:
    """Exact dedup with a retention POLICY: per duplicate cluster keep
    the highest-``score`` row (ties → min id) instead of blindly the
    min id — e.g. retain the best-quality or longest copy. ``score`` is
    any Column over the input row. Same scale shape as ``dedup_exact``:
    one shuffle on the 64-bit fingerprint; only (id, fp, score) ever
    shuffles, never the text.

    Ordering preserves the score's own numeric type when it is
    integral (negation in int64 — exact for every value except the
    unrepresentable ``-2^63``), and goes through double only for
    fractional scores; distinct int64 scores above ``2^53`` therefore
    cannot collapse to the same ordering key."""
    from pyspark.sql import types as T

    key = F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    fp = F.xxhash64(key).alias("__fp")
    # as in dedup_exact: project before shuffling so text stays in the
    # scan stage (repartition upstream if the score expr is heavy and
    # the input arrives as a single split)
    scored = df.select(F.col(id_col), fp, score.alias("__score"))
    # min_by over (-score, id): highest score wins, ties pick the min
    # id. Negating the (numeric) SCORE instead of the id keeps the
    # tie-break type-agnostic — ids are often strings (URL hashes),
    # where a negated id would crash under ANSI or silently null-cast.
    score_type = scored.schema["__score"].dataType
    integral = isinstance(
        score_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    neg = (-F.col("__score").cast("long")) if integral else (
        -F.col("__score").cast("double")
    )
    pick = F.struct(neg.alias("ns"), F.col(id_col).alias("i"))
    keep = (
        scored.groupBy("__fp")
        .agg(
            F.min_by(F.col(id_col), pick).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
            F.max("__score").alias("best_score"),
        )
        .select(id_col, "n_copies", "best_score")
    )
    if ids_only:
        return keep
    return df.join(keep, id_col, "inner")


def dedup_lineage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    dups_only: bool = False,
    key: Column | None = None,
) -> DataFrame:
    """Provenance map for exact dedup: every document → the id that
    survives ``dedup_exact`` (min id per distinct normalized text),
    as ``(id_col, kept_id, group_size)``. ``key`` overrides the
    grouping expression (e.g. a prefix or a canonicalized URL) for
    lineage under a custom identity — ``normalize`` is ignored then. ``dedup_exact`` answers
    "which rows remain"; this answers the audit/debug question "where
    did row X GO" — joinable against downstream corpora, eval sets, or
    user-facing citations without re-running the dedup.
    ``dups_only=True`` keeps just the rows whose group collapsed
    (group_size >= 2), which is the useful manifest at web scale where
    most documents are unique.

    Scale shape: the text is fingerprinted in the scan stage and only
    (id, fp) pairs — 16 bytes/row — shuffle: once for the group agg,
    once for the map-back join on the 8-byte fingerprint (AQE
    broadcasts the group side when the duplicate population is small).
    Same collision stance as ``dedup_exact``: groups are keyed by the
    64-bit xxhash of the normalized text."""
    if key is None:
        key = F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    pairs = df.select(F.col(id_col), F.xxhash64(key).alias("__fp"))
    groups = pairs.groupBy("__fp").agg(
        F.min(id_col).alias("kept_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    if dups_only:
        groups = groups.where(F.col("group_size") >= 2)
    return pairs.join(groups, "__fp", "inner").select(
        id_col, "kept_id", "group_size"
    )


# --------------------------------------------------------------------------
# exact-collapse before pair mining
#
# All three near-dup pair miners (jaccard / minhash / simhash) compare
# documents through a comparison KEY (the shingle-hash set, or the
# 60-bit signature) that fully determines the measure: two docs with an
# identical key have J=1.0 / Hamming=0 with each other and the SAME
# measure and bucket membership against any third doc. So rows sharing
# a key can be collapsed to one representative before the quadratic
# stages (posting self-join, candidate distinct, array verify) and the
# rep-level pairs expanded back to member-level pairs afterwards —
# OUTPUT-IDENTICAL, not a heuristic. Duplicate multiplicity (the
# dominant redundancy in crawled corpora) then costs one map-side-
# combined groupBy plus an output-bounded explode, instead of
# multiplying the pair-mining work quadratically.
# --------------------------------------------------------------------------


def _materialize_collapse(groups: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint the collapse-group frame. Every miner
    consumes ``groups`` from 4-6 lineage branches (posting/banding,
    both verify sides, the member expand) and Spark recomputes the
    scan→shingle→hash→collapse subtree per branch — measured r11:
    14-28 parquet scans of the corpus in one mined-pairs plan.
    Materializing the collapsed frame once truncates all of them
    (guide §3.3). This is per-invocation work on executor
    memory/disk — each call recomputes from the inputs, nothing
    survives the job, so bench/oracle runs stay honest. At cluster
    scale localCheckpoint blocks die with their executor; a
    fault-tolerant variant would thread ``reliable=True`` through to
    ``checkpoint()`` exactly as ``connected_components`` does."""
    return groups.localCheckpoint(eager=True)


def _collapse_groups(keyed: DataFrame, key_col: str) -> DataFrame:
    """(id, key, payload...) → one row per distinct key:
    (key, rep=min id, members, payload...). Payload columns are
    determined by the key (identical within a group), so ``any_value``
    carries them through the single map-side-combined shuffle — at most
    one payload value per key per map partition ever shuffles."""
    payload = [c for c in keyed.columns if c not in ("id", key_col)]
    return keyed.groupBy(key_col).agg(
        F.min("id").alias("rep"),
        F.collect_list("id").alias("members"),
        *[F.any_value(c).alias(c) for c in payload],
    )


def _member_pairs(members):
    """All unordered pairs within a member array (id_a < id_b) as one
    array expression — no join, output-bounded."""
    m = F.array_sort(members)
    return F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _expand_pairs(
    rep_pairs: DataFrame, groups: DataFrame, measure: str, within_value
) -> DataFrame:
    """Rep-level pairs + collapse groups → member-level pairs.

    Cross-group: every (a ∈ A, b ∈ B) combination inherits the rep
    pair's measure (the comparison key fully determines it).
    Within-group: all member pairs at the degenerate measure
    (``within_value`` = J 1.0 / Hamming 0). Groups are disjoint, so each
    unordered pair is emitted exactly once; least/greatest restores the
    id_a < id_b orientation."""
    g = groups.select("rep", "members")
    cross = (
        rep_pairs.join(
            g.select(F.col("rep").alias("id_a"), F.col("members").alias("__ma")),
            "id_a",
        )
        .join(
            g.select(F.col("rep").alias("id_b"), F.col("members").alias("__mb")),
            "id_b",
        )
        .select(F.explode("__ma").alias("__x"), "__mb", measure)
        .select("__x", F.explode("__mb").alias("__y"), measure)
        .select(
            F.least("__x", "__y").alias("id_a"),
            F.greatest("__x", "__y").alias("id_b"),
            measure,
        )
    )
    within = (
        groups.where(F.size("members") > 1)
        .select(F.explode(_member_pairs(F.col("members"))).alias("p"))
        .select("p.id_a", "p.id_b", within_value.alias(measure))
    )
    return cross.unionByName(within)


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def shingle_hashes(shingles):
    """Integer base hashes of a shingle array (compute ONCE — string
    hashing dominates; the k permutations then run over ints).

    FULL 64-bit values: the collapse fingerprints and the exact-Jaccard
    verify stage intersect these sets, where 31-bit hashes would give
    birthday collisions on long documents (a ~65k-shingle doc has ~63%
    odds of an internal 2^31 collision, shrinking |union| and inflating
    J). The signature kernels reduce mod P internally — the reduced
    values are identical to hashing mod P up front, so signatures and
    banding are unchanged; only the verify/collapse precision improves
    (to the ~2^-64 the docstrings claim)."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def _shingle_sets(df, text_col, id_col, n):
    """(id, hs): each text's distinct word n-gram shingle hashes, the
    projection the shingle-set miners share. A NULL text has no shingles
    and pairs with nothing, so its row is dropped here: left in, every
    NULL would share one collapse key and pair with every other NULL."""
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_hashes(word_shingles(F.col(text_col), n))).alias("hs"),
    )


def lsh_band_keys(signature, bands: int = 16):
    """Hash each band of the signature to a bucket key array (band
    width derived from the signature length by slice arithmetic)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            b,
            F.array_join(
                F.slice(
                    signature,
                    b * (F.size(signature) / bands).cast("int") + 1,
                    (F.size(signature) / bands).cast("int"),
                ),
                ",",
            ),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    method: str = "perm",
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Plan shape: project→collapse identical shingle sets→(explode bands)
    →shuffle on bucket→self-join→distinct pairs→verify with exact
    Jaccard via the shingle arrays→expand collapse groups.
    With b bands of r rows, P(candidate) = 1-(1-j^r)^b — at the default
    (16 bands × 4 rows) the S-curve midpoint sits near j≈0.5.

    ``collapse_exact`` (default on) dedups identical shingle SETS before
    the signature kernel and pair mining — output-identical (identical
    sets ⇒ identical signature, buckets, and Jaccard against anyone; see
    ``_expand_pairs``), and the signature/banding/verify stages then run
    over distinct sets only. Turn off only to benchmark the raw path.

    ``method='oph'`` swaps the k-permutation signature kernel for
    one-permutation hashing (O(n) per doc instead of O(k·n)) — same
    banding, same exact-Jaccard verify, so precision stays 1.0 and only
    candidate recall depends on the sketch (recall-tested). Measured on
    the 10x rehearsal corpus: ~1.8x faster end-to-end with 97% of the
    k-permutation variant's verified pairs."""
    _minhash_kernel(method)  # an unknown method fails before the collapse job
    sh = _shingle_sets(ensure_parallelism(df), text_col, id_col, shingle_n)
    groups = None
    if collapse_exact:
        # key on the SORTED set: array_distinct preserves encounter
        # order, so permuted duplicates still collapse; 64-bit collision
        # odds are the same ~2^-64 accepted by the verify stage.
        groups = _materialize_collapse(_collapse_groups(
            sh.withColumn("__gfp", F.xxhash64(F.array_sort("hs"))), "__gfp"
        ))
        sh = groups.select(F.col("rep").alias("id"), "hs")
    sig = minhash_signature(sh, "hs", num_hashes, seed, method)
    buckets = sig.select(
        "id", F.explode(lsh_band_keys(F.col("sig"), bands)).alias("bucket")
    )
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    cand = _spread_candidates(cand).distinct()
    verified = _jaccard_verify(cand, sh, sh, threshold)
    if groups is not None:
        return _expand_pairs(verified, groups, "jaccard", F.lit(1.0))
    return verified


def dedup_minhash(df, text_col="text", id_col="doc_id", **kw) -> DataFrame:
    """Drop every doc that near-duplicates a smaller-id doc (greedy
    min-id survivor rule — standard practice for LSH dedup; exact
    transitive closure would need iterative connected components)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


SIMHASH_BITS = 60  # 4 LSH bands × 15 bits; fits a signed long safely


# auto hot-band cap: keep buckets up to max(floor, factor × mean size).
# The factor tolerates natural skew; the floor keeps small corpora exact.
_SIMHASH_CAP_FLOOR = 64
_SIMHASH_CAP_FACTOR = 20


def simhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | str | None = "auto",
    collapse_exact: bool = True,
):
    """(bands, groups): the exact banded frame ``simhash_pairs`` self-
    joins on — signatures computed, exact-signature groups collapsed to
    reps, hot band buckets capped. Exposed separately so the scale
    rehearsal (tools/scale_check.py) measures the bucket distribution of
    the REAL mining input, not a reconstruction. ``groups`` is None when
    ``collapse_exact`` is off."""
    # a NULL text has no tokens and pairs with nothing (see _shingle_sets)
    texts = ensure_parallelism(df).where(F.col(text_col).isNotNull())
    h = simhash(texts.select(F.col(id_col).alias("id"), F.col(text_col)), text_col).select(
        "id", "sh"
    )
    groups = None
    if collapse_exact:
        groups = _materialize_collapse(
            _collapse_groups(
                h.withColumn("__sig", F.col("sh")), "__sig"
            ).drop("__sig")
        )
        h = groups.select(F.col("rep").alias("id"), "sh")
    bands = h.select(
        "id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("sh"), b * 15)
                    .bitwiseAND(F.lit(0x7FFF))
                    .alias("key"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("id", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket_size is not None:
        # Bucket sizes via a COUNT window over (band, key): the window's
        # hash exchange is the exact partitioning the pair self-join
        # downstream requires, so the capped frame flows into the join
        # with NO further exchange (guide §2.4 — two operations keyed
        # the same way share one exchange). The previous groupBy-counts
        # + broadcast-join formulation paid a separate counts shuffle
        # and a broadcast build job on top of the join's own exchange.
        from pyspark.sql import Window

        sized = bands.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        )
        if max_bucket_size == "auto":
            # size-aware cap, fully declarative: mean bucket size as ONE
            # 1-row agg (rows / distinct buckets — identical to avg of
            # per-bucket counts) broadcast over the sized frame. The
            # streamed side of the broadcast cross-join keeps the
            # window's (band, key) partitioning.
            stats = bands.agg(
                (
                    F.count(F.lit(1)) / F.count_distinct("band", "key")
                ).alias("__mean")
            )
            bands = (
                sized.crossJoin(F.broadcast(stats))
                .where(
                    F.col("__n")
                    <= F.greatest(
                        F.lit(float(_SIMHASH_CAP_FLOOR)),
                        F.lit(float(_SIMHASH_CAP_FACTOR)) * F.col("__mean"),
                    )
                )
                .drop("__n", "__mean")
            )
        else:
            bands = sized.where(F.col("__n") <= max_bucket_size).drop("__n")
    return bands, groups


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | str | None = "auto",
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 15-bit
    bands (any pair within Hamming ≤3 of the 60 bits must agree on ≥1
    band by pigeonhole), verified with bit_count(xor).

    ``collapse_exact`` (default on) groups rows with an IDENTICAL 60-bit
    signature to one representative before banding — output-identical
    (equal signatures ⇒ Hamming 0 with each other, equal Hamming and
    bands against anyone; see ``_expand_pairs``) and it removes exact
    duplicates — the main source of hot buckets — from the |b|² join.

    ``max_bucket_size`` guards the remaining low-entropy hot bands,
    whose |b|² candidate enumeration dominates at scale (measured 10x
    sf0.1: one hot band reaches |b|≈5400 and the total bound is ~122M
    pairs). Default ``"auto"`` keeps buckets up to
    max(64, 20 × mean bucket size), computed inside the plan (one agg +
    1-row broadcast, no driver action) — at 100 TB an unbounded
    low-entropy band is a job-killer, so the bound must be the default,
    not an opt-in. Pass an int for a fixed cap or ``None`` for the
    exact uncapped plan. Recall trade (test-pinned): a true pair is
    missed only if EVERY band the pair agrees on is hot; near-identical
    docs agree on ~all 4 bands, so they survive unless all four blow
    the cap."""
    if max_hamming > 3:
        # 4 fixed bands of 15 bits: a pair at Hamming 4+ can differ in
        # every band and share no key — candidates would be silently
        # incomplete, so refuse instead of under-recalling quietly.
        raise ValueError(
            "simhash_pairs banding (4 x 15 bits) guarantees candidate "
            "completeness only for max_hamming <= 3; "
            f"got max_hamming={max_hamming}"
        )
    bands, groups = simhash_banded(df, text_col, id_col, max_bucket_size, collapse_exact)
    # Verify BEFORE the distinct: both signatures are already in the
    # joined row, so the Hamming check is a free per-row bit_count at
    # the join output — the dedupe shuffle then sees only true
    # near-dup pairs instead of every coincidental band collision.
    # (Measured at 10x sf0.1: hot 15-bit bands reach |b|≈5400 and the
    # candidate bound is ~122M rows; distinct-first shuffles all of
    # them, verify-first shuffles only the survivors.)
    mined = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "hamming", F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            "hamming",
        )
        .distinct()
    )
    if groups is not None:
        return _expand_pairs(mined, groups, "hamming", F.lit(0))
    return mined


# --------------------------------------------------------------------------
# exact n-gram Jaccard (inverted index — no sketching)
# --------------------------------------------------------------------------


def _jaccard_shingle_sets(df, text_col, id_col, n):
    """(id, hs): the hash-sorted distinct shingle set (64-bit xxhash
    values — sorted order IS the global total order for prefixes;
    intersection cardinality equals string intersection cardinality at
    ~2^-64 collision odds).

    Measured r11: the token-hash-slice formulation that won 3.4x for
    the 8-gram decontamination (text_analysis.word_ngram_hashes) is
    SLOWER here (shingle-stage cpu 11.5 → 16.5 s at sf0.1) — at n=3
    one xxhash64 over a ~20-byte joined string beats per-token hashing
    plus a per-gram hash over an array<bigint>. But ``word_ngram_hashes``
    then re-hashed every token at every position, so that is unsettled;
    a switch would change the persisted hash values. Kept as strings."""
    sh = _shingle_sets(ensure_parallelism(df), text_col, id_col, n)
    return sh.select("id", F.array_sort("hs").alias("hs"))


def _spread_candidates(cand: DataFrame) -> DataFrame:
    """Hash-repartition a candidate-pair frame on its (near-unique)
    pair key to ``defaultParallelism`` before the dedupe + exact-verify
    stage. The dedupe's own exchange would use the same hash keys, but
    AQE's byte-based coalescing then folds the read down to ~1 MB
    partitions — correct for byte-bound stages, serial for this one,
    where each row costs an O(|A|+|B|) array intersection (measured
    r11: the whole verify ran in 2-5 tasks on a 32-core box; spreading
    it was a 1.9x end-to-end win on ngram_jaccard_pairs). An explicit
    repartition-by-column with a pinned partition count is exempt from
    coalescing; pair keys are near-unique so row-count balancing IS the
    right balance metric for a per-row-CPU-bound stage, and the
    partition count scales with the cluster (defaultParallelism), not
    with a local constant. The distinct that follows clusters on a
    superset of the repartition key, so NO extra exchange is added —
    this re-keys the exchange the dedupe already paid."""
    p = cand.sparkSession.sparkContext.defaultParallelism
    return cand.repartition(p, "id_a", "id_b")


def _jaccard_verify(cand, sh_a, sh_b, threshold):
    """Candidate pairs (id_a, id_b) with their exact Jaccard, kept at
    >= ``threshold``. Verifies on the hashed (id, hs) shingle sets of
    each side: an int-array intersection, and only 8-byte-per-shingle
    arrays shuffle (never the text)."""
    sa = sh_a.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    sb = sh_b.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("hs_a") + F.size("hs_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _jaccard_posting(sh, threshold):
    """The prefix inverted index (id, sz, shingle) holding only the
    first |A| - ceil(t*|A|) + 1 elements per doc."""
    prefix_len = (F.size("hs") - F.ceil(F.size("hs") * threshold) + 1).cast("int")
    return sh.select(
        "id",
        F.size("hs").alias("sz"),
        F.explode(F.slice("hs", 1, prefix_len)).alias("shingle"),
    )


def _jaccard_mine(sh, posting, threshold):
    """Candidate mining + exact verify over one frame's prefix index.
    Length filter inside the posting join is exact-safe (J >= t ⇒
    I >= t(|A|+|B|)/(1+t) ⇒ min(|A|,|B|) >= t·max(|A|,|B|)); it prunes
    mismatched-size pairs before the dedupe shuffle and the
    set-intersection verify for one comparison per match."""
    pa, pb = posting.alias("a"), posting.alias("b")
    cand = (
        pa.join(pb, "shingle")
        .where(
            (F.col("a.id") < F.col("b.id"))
            & (F.least("a.sz", "b.sz") >= threshold * F.greatest("a.sz", "b.sz"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return _jaccard_verify(_spread_candidates(cand).distinct(), sh, sh, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    collapse_exact: bool = True,
) -> DataFrame:
    """EXACT Jaccard-similar pairs via a prefix-filtered inverted index
    (the PPJoin bound): order each doc's shingle set by a global total
    order (the 64-bit shingle hash) and index only the first
    |A| - ceil(t*|A|) + 1 elements — any pair with J >= t must share a
    prefix element, so candidates from the prefix index are a superset
    and the exact verify keeps precision AND recall at 1.0. Cuts every
    posting list by ~(1-t) per doc versus the naive inverted index.
    The prefix order here is the shingle hash (a random total order);
    canonical PPJoin frequency-ordering (rare shingles first) was
    measured on the 10x rehearsal corpus and removed only ~2% more
    candidates for an extra full corpus pass — its win depends on a
    Zipf vocabulary, which the synthetic word-soup corpus lacks, so it
    is intentionally omitted. Any global total order preserves
    exactness. (The PPJoin positional filter was measured too: its
    per-pair groupBy bound cost more than the extra ~0.3% of candidates
    it removed on top of the length filter — not worth it.)

    ``collapse_exact`` (default on) collapses identical shingle SETS to
    one representative before mining and expands afterwards — still
    EXACT (Jaccard is a function of the sets; see ``_expand_pairs``),
    and duplicate multiplicity stops multiplying the posting self-join
    and verify quadratically. The collapse groupBy also means shingling
    runs once, with every downstream branch reading the reused shuffle
    instead of re-shingling the corpus."""
    sh = _jaccard_shingle_sets(df, text_col, id_col, n)
    if collapse_exact:
        groups = _materialize_collapse(_collapse_groups(
            sh.withColumn("__gfp", F.xxhash64("hs")), "__gfp"
        ))
        rep_sh = groups.select(F.col("rep").alias("id"), "hs")
        rep_pairs = _jaccard_mine(rep_sh, _jaccard_posting(rep_sh, threshold), threshold)
        return _expand_pairs(rep_pairs, groups, "jaccard", F.lit(1.0))
    return _jaccard_mine(sh, _jaccard_posting(sh, threshold), threshold)


def _expand_pairs_rs(rep_pairs, groups_a, groups_b, measure: str) -> DataFrame:
    """R-S twin of ``_expand_pairs``: rep-level cross-frame pairs expand
    through each side's own collapse groups (no within-group pairs — the
    frames are distinct and orientation is fixed a→b). A side without
    collapse passes ``None`` and keeps its ids as-is."""
    out = rep_pairs
    if groups_a is not None:
        out = (
            out.join(
                groups_a.select(
                    F.col("rep").alias("id_a"), F.col("members").alias("__ma")
                ),
                "id_a",
            )
            .select(F.explode("__ma").alias("id_a"), "id_b", measure)
        )
    if groups_b is not None:
        out = (
            out.join(
                groups_b.select(
                    F.col("rep").alias("id_b"), F.col("members").alias("__mb")
                ),
                "id_b",
            )
            .select("id_a", F.explode("__mb").alias("id_b"), measure)
        )
    return out.select("id_a", "id_b", measure)


def ngram_jaccard_join(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    collapse_exact: bool = True,
) -> DataFrame:
    """EXACT cross-frame Jaccard similarity join (R-S PPJoin): every
    pair (id_a ∈ df_a, id_b ∈ df_b) with shingle-set J >= t. Same
    prefix scheme as ``ngram_jaccard_pairs``: J >= t implies
    |A∩B| >= max(⌈t|A|⌉, ⌈t|B|⌉), and an overlap of size >= ⌈t|X|⌉
    must touch X's (|X| - ⌈t|X|⌉ + 1)-prefix under the shared global
    hash order — prefix-index both frames independently, join the two
    prefix indexes; candidates are a superset and the exact verify
    keeps precision AND recall 1.0. The length filter (min >= t·max)
    is exact-safe by the same bound.

    Scale: each side shuffles only (id, sz, shingle-hash) triples of
    its PREFIX (~(1-t) of shingles); text never shuffles; verify runs
    on int arrays. Use for fuzzy benchmark decontamination (df_b = the
    eval set — typically tiny, so AQE broadcasts its posting list) or
    catalog-vs-catalog near-dup linkage.

    ``collapse_exact`` (default on) collapses identical shingle sets on
    EACH side independently before indexing and expands afterwards —
    output-identical (same argument as ``ngram_jaccard_pairs``); dup
    multiplicity in the corpus side (the common case in fuzzy
    decontamination) stops multiplying the posting join and verify."""
    sha = _jaccard_shingle_sets(df_a, text_col, id_col, n)
    shb = _jaccard_shingle_sets(df_b, text_col, id_col, n)
    ga = gb = None
    if collapse_exact:
        ga = _collapse_groups(sha.withColumn("__gfp", F.xxhash64("hs")), "__gfp")
        sha = ga.select(F.col("rep").alias("id"), "hs")
        gb = _collapse_groups(shb.withColumn("__gfp", F.xxhash64("hs")), "__gfp")
        shb = gb.select(F.col("rep").alias("id"), "hs")
    pa = _jaccard_posting(sha, threshold)
    pb = _jaccard_posting(shb, threshold)
    cand = (
        pa.alias("a")
        .join(pb.alias("b"), "shingle")
        .where(F.least("a.sz", "b.sz") >= threshold * F.greatest("a.sz", "b.sz"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    verified = _jaccard_verify(_spread_candidates(cand).distinct(), sha, shb, threshold)
    if collapse_exact:
        return _expand_pairs_rs(verified, ga, gb, "jaccard")
    return verified


# --------------------------------------------------------------------------
# Signature kernels
#
# Each sketch has one implementation: an Arrow pandas_udf. Hashing stays
# in the JVM (xxhash64 of shingles and tokens); only the dense integer
# math (k×|shingles| multiply-mod-min, one-permutation bin minima, the
# 60-bit majority vote) runs in numpy over Arrow batches. Pure-expression
# forms of the perm MinHash (k array_min(transform(...)) columns) and of
# SimHash (a 60-bit aggregate fold) gave identical values but ran 4.3x
# and 13.4x slower on the sf0.1 corpus (PERF_NOTES, "One kernel per
# signature"), so they were removed. The tests pin each kernel to a
# plain-Python reference. A NULL input row gets a NULL signature; the
# pair miners drop NULL texts before any kernel runs.
# --------------------------------------------------------------------------


def _minhash_np_udf(num_hashes: int, seed: int):
    """k-permutation MinHash: per permutation (a, b), the min of
    (a·h + b) mod P over the shingle hashes h (each reduced mod P)."""
    params = np.array(_perm_params(num_hashes, seed), dtype=np.int64)
    a = params[:, 0][None, :]  # (1, k)
    b = params[:, 1][None, :]

    @pandas_udf("array<long>")
    def sig(hs: pd.Series) -> pd.Series:
        out = []
        for row in hs:
            if row is None:
                out.append(None)
                continue
            # reduce 64-bit base hashes mod P first: keeps a*h < 2^62
            h = np.asarray(row, dtype=np.int64)[:, None] % _P  # (n, 1)
            m = (a * h + b) % _P  # (n, k) int64 — no overflow: < 2^62
            out.append(m.min(axis=0))
        return pd.Series(out)

    return sig


def _minhash_oph_np_udf(num_hashes: int, seed: int):
    """One-permutation hashing (Li, Owen, Zhang 2012) with densification
    of empty bins (after Shrivastava & Li 2014): instead of k
    permutation passes over every shingle (O(k·n) per doc), bucket each
    shingle hash into one of k bins and min within the bin — O(n) per
    doc, ~k× less arithmetic. Empty bins (short docs) all borrow from
    the last (highest-index) filled bin, each mixed with its circular
    distance from it so the borrowed values differ."""
    a, b = _perm_params(1, seed)[0]
    _EMPTY = np.int64(2**62)

    @pandas_udf("array<long>")
    def sig(hs: pd.Series) -> pd.Series:
        k = num_hashes
        idx = np.arange(k, dtype=np.int64)
        out = []
        for row in hs:
            if row is None:
                out.append(None)
                continue
            h = np.asarray(row, dtype=np.int64) % _P  # reduce 64-bit base
            m = np.full(k, _EMPTY, dtype=np.int64)
            if len(h):
                h = (a * h + b) % _P  # seed-dependent bin permutation
                np.minimum.at(m, h % k, h // k)
            empty = m == _EMPTY
            if empty.any() and not empty.all():
                donor = np.flatnonzero(~empty)[-1]
                dist = (idx - donor) % k
                m = np.where(empty, (m[donor] * 40503 + dist * 69069 + 1) % _P, m)
            out.append(m)
        return pd.Series(out)

    return sig


_MINHASH_KERNELS = {"perm": _minhash_np_udf, "oph": _minhash_oph_np_udf}


def _minhash_kernel(method: str):
    """The signature kernel factory for ``method``. The miners call this
    on entry so an unknown method fails before any Spark job runs."""
    if method not in _MINHASH_KERNELS:
        raise ValueError(
            f"minhash_signature: method must be 'perm' or 'oph'; got {method!r}"
        )
    return _MINHASH_KERNELS[method]


def minhash_signature(
    df: DataFrame, hs_col: str, num_hashes: int = 64, seed: int = 42, method: str = "perm"
) -> DataFrame:
    """df + ``sig``: the MinHash signature of the pre-hashed shingle set
    in ``hs_col`` (see ``shingle_hashes``). ``method='perm'`` takes k
    permutation minima (O(k·n) per doc); ``method='oph'`` is
    one-permutation hashing (O(n) per doc) — a different sketch with
    the same banding and verify downstream. Any other ``method`` raises
    ``ValueError``."""
    kernel = _minhash_kernel(method)(num_hashes, seed)
    return df.withColumn("sig", kernel(F.col(hs_col)))


def _simhash_np_udf(bits: int):
    shifts = np.arange(bits, dtype=np.uint64)[None, :]
    weights = (1 << np.arange(bits, dtype=np.uint64)).astype(np.uint64)

    @pandas_udf("long")
    def sig(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        null = hs.isna().to_numpy()
        for k, row in enumerate(hs):
            if null[k]:
                continue
            h = np.asarray(row, dtype=np.int64).astype(np.uint64)[:, None]  # (n,1)
            ones = ((h >> shifts) & 1).sum(axis=0)  # (bits,)
            maj = (2 * ones > len(row)).astype(np.uint64)
            out[k] = int((maj * weights).sum())
        return pd.Series(pd.arrays.IntegerArray(out, null))

    return sig


def simhash(df: DataFrame, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """df + ``sh``: the SimHash of ``text_col``'s whitespace tokens, the
    per-bit majority vote of the token xxhash64 values (tokens hashed in
    the JVM, the vote in numpy). 60 bits, so the value is never negative.
    A raw split, not text_analysis.tokens: an empty text keeps one
    (empty) token."""
    tok_hashes = F.transform(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: F.xxhash64(t))
    return df.withColumn("__th", tok_hashes).withColumn(
        "sh", _simhash_np_udf(bits)(F.col("__th"))
    ).drop("__th")


# --------------------------------------------------------------------------
# Corpus-statistics scoring (quality signal beyond per-row heuristics):
# bigram log-probability of each document under the corpus's own
# empirical bigram distribution. Distributed: explode bigrams → count →
# shuffle-join counts back → per-doc mean log prob. Low scores flag
# outlier/garbled documents; high scores flag boilerplate.
# --------------------------------------------------------------------------


def corpus_bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """→ (id_col, n_bigrams, avg_logprob) with
    P(bigram) = count(bigram) / total_bigrams over the whole corpus."""
    exploded = ensure_parallelism(df).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), 2)).alias("bg")
    )
    counts = exploded.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    # The bigram vocabulary grows ~linearly with corpus size, so counts
    # must NOT be broadcast (billions of rows at 100 TB → driver OOM).
    # Leave it a shuffle hash join on `bg`; AQE demotes to broadcast at
    # runtime when the counts side actually fits. The 1-row `total`
    # crossJoin stays an explicit broadcast.
    scored = (
        exploded.join(counts, "bg")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c") / F.col("t"))), 6).alias("avg_logprob"),
        )
    )
    return scored


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep each key's newest record — the snapshot-compaction dedup for
    slowly-changing / append-only tables. One shuffle (window over the
    key); ``order_cols`` should end with a tiebreaker (e.g. a unique id)
    for determinism. At scale prefer this over groupBy+join-back: the
    window sorts within partitions only."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# incremental exact dedup against a persisted fingerprint index
# --------------------------------------------------------------------------


@dataclass
class IncrementalBatch:
    """Two-step result of an incremental dedup.

    REQUIRED ORDERING: persist ``survivors`` to the corpus FIRST, then
    call ``commit()`` to upsert the index. Committing first opens a
    crash window — if the job dies after the index upsert but before
    the corpus append, a replayed batch matches itself in the index,
    returns zero survivors, and the batch is silently dropped from the
    corpus forever. With corpus-first ordering a crash at any point
    replays cleanly: the corpus upsert is id-idempotent, the index
    upsert is key-idempotent, and the fresh-key frames are eagerly
    ``localCheckpoint``-ed at prepare time, so ``survivors`` is a fixed
    pre-commit snapshot however the caller interleaves actions (a
    recompute through the index path after commit would silently turn
    it empty). localCheckpoint blocks are executor-local: on a real
    cluster an executor loss fails the batch loudly (replay it) rather
    than recomputing wrong — set a reliable checkpoint dir and swap to
    ``checkpoint()`` if that trade is unacceptable.

    The one-shot ``dedup_incremental`` / ``dedup_minhash_incremental``
    wrappers commit before returning (convenient for tests and
    non-durable corpora); any pipeline that must not lose data uses the
    ``*_prepare`` variants and this ordering."""

    survivors: DataFrame
    _upserts: list[tuple[DataFrame, str, list[str]]] = field(default_factory=list)

    def commit(self) -> "IncrementalBatch":
        """Upsert the index tables (idempotent per key). Call AFTER the
        survivors are durably written — see the class docstring for why
        this ordering."""
        from thundercats_spark.physical.io import Write

        for frame, path, keys in self._upserts:
            Write.upsert_parquet(frame, path, keys).get
        return self


def _index_meta_guard(spark, data_path: str, meta_base: str, caller: dict, kind: str):
    """Persist/validate index hyperparameters, mirroring the ANN
    indexes' _write/_check_index_meta discipline: probing a dedup index
    with different (seed, bands, hash width, normalize) than the build
    silently matches nothing — history would be ignored with full
    recall loss and no error. First build writes the meta; every later
    probe validates; an index with data but no meta is refused (rebuild
    with the current builder)."""
    from thundercats_spark.operators.similarity import (
        _check_index_meta,
        _meta_path,
        _write_index_meta,
    )
    from thundercats_spark.physical.io import _path_exists

    if _path_exists(spark, _meta_path(meta_base)):
        _check_index_meta(spark, meta_base, kind, caller)
    elif _path_exists(spark, data_path):
        raise ValueError(
            f"{kind} index at {data_path!r} has no hyperparameter "
            f"metadata ({_meta_path(meta_base)!r}) — rebuild it with "
            "the current builder; probing with assumed parameters is "
            "unsafe (a mismatch silently ignores all history)."
        )
    else:
        _write_index_meta(spark, meta_base, caller)


def dedup_incremental_prepare(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> IncrementalBatch:
    """Crash-safe two-step variant of ``dedup_incremental``: computes
    and MATERIALIZES the fresh-fingerprint set against the current
    index without touching it, so the caller can write ``survivors`` to
    the corpus and only then ``commit()`` the index (see
    ``IncrementalBatch`` for the ordering contract)."""
    spark = new_df.sparkSession
    _index_meta_guard(
        spark, index_path, index_path.rstrip("/"),
        {"normalize": int(normalize)}, "exact-dedup",
    )
    key = F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    fp = F.xxhash64(key).alias("__fp")
    batch = new_df.select(F.col(id_col), fp)
    # within-batch: min id per fingerprint
    batch_keep = batch.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    try:
        seen = spark.read.parquet(index_path).select("__fp")
        fresh = batch_keep.join(seen, "__fp", "left_anti")
    except Exception as e:
        from thundercats_spark.physical.io import _is_path_not_found

        if not _is_path_not_found(e):
            raise
        fresh = batch_keep
    # Eager lineage truncation: fresh is a compact (fp, id) frame whose
    # plan reads the index — once commit() appends to that path, ANY
    # recompute would re-list it and see the batch's own fingerprints
    # (survivors silently become empty). The checkpoint pins the
    # pre-commit snapshot so survivors stay stable before and after
    # commit, whatever order the caller acts in.
    fresh = fresh.localCheckpoint(eager=True)
    return IncrementalBatch(
        survivors=new_df.join(fresh.select(id_col), id_col, "inner"),
        _upserts=[(fresh.select("__fp"), index_path, ["__fp"])],
    )


def dedup_incremental(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    commit: bool = True,
) -> DataFrame:
    """Dedupe a NEW batch against everything ever seen: drop rows whose
    fingerprint is already in the persisted index at ``index_path``
    (or duplicated within the batch — min id survives), then append the
    survivors' fingerprints to the index. The production shape for
    rolling corpus ingestion — each increment deduplicates against the
    full history WITHOUT rescanning it (the index holds only 8-byte
    fingerprints, not text).

    NOTE this one-shot form commits the index BEFORE the caller can
    persist the returned survivors; a crash in that window loses the
    batch on replay (replay matches itself in the index and returns
    empty). Durable pipelines use ``dedup_incremental_prepare`` →
    write corpus → ``commit()`` instead. ``commit=False`` skips the
    index append (dry-run). The append is idempotent: replaying a
    committed batch cannot double-insert fingerprints. Returns the
    surviving rows of ``new_df`` (text rejoins by id — text itself
    never shuffles)."""
    batch = dedup_incremental_prepare(new_df, index_path, text_col, id_col, normalize)
    if commit:
        batch.commit()
    return batch.survivors


def dedup_minhash_incremental_prepare(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    method: str = "perm",
) -> IncrementalBatch:
    """Crash-safe two-step variant of ``dedup_minhash_incremental``:
    runs the whole probe/verify against the CURRENT index state and
    materializes the fresh (id, hs) sets and (id, bucket) rows without
    touching the index, so the caller writes ``survivors`` to the
    corpus first and then ``commit()``s (see ``IncrementalBatch`` for
    the ordering contract). The materialization also means the heavy
    within-batch LSH pass runs exactly once — survivors and both index
    upserts reuse the cached frames."""
    _minhash_kernel(method)  # an unknown method fails before the guard writes meta
    spark = new_df.sparkSession
    buckets_path = index_path.rstrip("/") + "/buckets"
    sets_path = index_path.rstrip("/") + "/sets"
    _index_meta_guard(
        spark, buckets_path, index_path.rstrip("/") + "/index",
        {
            "num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n,
            "seed": seed, "oph": int(method == "oph"), "hs_bits": 64,
        },
        "minhash-dedup",
    )

    # within-batch near-dup collapse (keeps min id of every near-pair).
    # Checkpoint IMMEDIATELY: sh, new_buckets, the probe, and the
    # returned survivors frame all branch off this result — without the
    # pin, the heavy signature/band/verify pass would re-execute once
    # per downstream action (~3x per batch, measured in review).
    survivors = dedup_minhash(
        new_df, text_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold, seed=seed, method=method,
    ).localCheckpoint(eager=True)
    sh = _shingle_sets(survivors, text_col, id_col, shingle_n)
    new_buckets = minhash_signature(sh, "hs", num_hashes, seed, method).select(
        "id", F.explode(lsh_band_keys(F.col("sig"), bands)).alias("bucket")
    )
    try:
        old_buckets = spark.read.parquet(buckets_path)
        # candidate historical ids per new id: shared band bucket
        cand = (
            new_buckets.alias("n")
            .join(old_buckets.alias("o"), "bucket")
            .select(F.col("n.id").alias("id"), F.col("o.id").alias("old_id"))
            .distinct()
        )
        old_sets = spark.read.parquet(sets_path)
        # verify exactly against ONLY the candidate old ids' sets
        matched = (
            cand.join(
                old_sets.select(F.col("id").alias("old_id"), F.col("hs").alias("hs_o")),
                "old_id",
            )
            .join(sh.select("id", F.col("hs").alias("hs_n")), "id")
            .withColumn("inter", F.size(F.array_intersect("hs_n", "hs_o")))
            .where(
                F.col("inter")
                / (F.size("hs_n") + F.size("hs_o") - F.col("inter"))
                >= threshold
            )
            .select("id")
            .distinct()
        )
        fresh = sh.join(matched, "id", "left_anti")
    except Exception as e:
        from thundercats_spark.physical.io import _is_path_not_found

        if not _is_path_not_found(e):
            raise
        fresh = sh
    # Eager lineage truncation (see dedup_incremental_prepare): both
    # frames' plans read the index paths, so a post-commit recompute
    # would match the batch against itself. The checkpoint pins the
    # pre-commit snapshot; the LSH pass itself was already pinned by
    # the survivors checkpoint above, so these only re-run the cheap
    # probe joins over the pinned frames.
    fresh = fresh.localCheckpoint(eager=True)
    fresh_buckets = new_buckets.join(
        fresh.select("id"), "id", "left_semi"
    ).localCheckpoint(eager=True)
    return IncrementalBatch(
        # a NULL text has no shingles to index or match: it survives
        survivors=survivors.join(
            fresh.select(F.col("id").alias(id_col)), id_col, "inner"
        ).unionByName(survivors.where(F.col(text_col).isNull())),
        _upserts=[
            (fresh.select("id", "hs"), sets_path, ["id"]),
            (fresh_buckets, buckets_path, ["id", "bucket"]),
        ],
    )


def dedup_minhash_incremental(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    method: str = "perm",
    commit: bool = True,
) -> DataFrame:
    """NEAR-dup dedupe of a NEW batch against everything ever ingested —
    the rolling-ingestion twin of ``dedup_incremental`` for the
    MinHash-LSH family. History is never rescanned: the persisted index
    at ``index_path`` holds two compact tables —
    ``<index>/buckets`` (id, bucket): the exploded LSH band keys, and
    ``<index>/sets`` (id, hs): the hashed shingle sets for verification
    — so each increment costs one bucket-key join against the index plus
    an exact-Jaccard verify against only the candidate ids' sets
    (semi-join pruned), never the historical text.

    Batch flow: drop within-batch near-dups (greedy min-id survivor,
    same rule as ``dedup_minhash``), probe surviving signatures against
    the historical buckets, verify candidates exactly, drop matches
    >= ``threshold``, then append survivors' (id, hs) and (id, bucket)
    rows. Appends are id-upserts, so replaying a COMMITTED batch cannot
    double-insert (``commit=False`` = dry run). Returns the surviving
    rows of ``new_df``. Sketch parameters must stay constant across the
    index's lifetime — they define the bucket space.

    NOTE this one-shot form commits the index BEFORE the caller can
    persist the returned survivors; a crash in that window loses the
    batch on replay (replay matches itself in the index and returns
    empty). Durable pipelines use ``dedup_minhash_incremental_prepare``
    → write corpus → ``commit()`` instead.

    Scale shape: the buckets table grows as n_docs × bands 16-byte rows
    and is only ever hash-joined on its bucket key; the sets table is
    read column-pruned for candidate ids. At 100 TB, partition both by
    a bucket/id prefix so the probe and verify prune partitions."""
    batch = dedup_minhash_incremental_prepare(
        new_df, index_path, text_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold, seed=seed, method=method,
    )
    if commit:
        batch.commit()
    return batch.survivors


def dedup_rate_by_source(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Dedup PLANNING report: per source, how much mass exact dedup
    would remove — (n_docs, n_distinct, n_dupes, dup_rate). The number
    a curation run publishes before deciding where to spend near-dup
    budget. One group agg with a distinct-count partial; text never
    shuffles (the distinct runs over the 64-bit fingerprint).

    NULL texts count toward ``n_docs`` but never toward ``n_distinct``
    (they carry no content), matching SQL ``COUNT(DISTINCT text)``
    semantics — the fingerprint is nulled for null keys, since
    ``xxhash64(NULL)`` would otherwise mint a real hash and count the
    null family as one distinct document."""
    key = F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    fp = F.when(key.isNull(), F.lit(None)).otherwise(F.xxhash64(key))
    per = df.select(F.col(source_col).alias("source"), fp.alias("__fp"))
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__fp").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dupes"),
            F.round(
                (F.col("n_docs") - F.col("n_distinct"))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )
