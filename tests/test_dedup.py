"""Dedup operator semantics on synthetic docs with known duplicates,
plus LSH-vs-exact recall checks on the driver's documents table."""

import pyspark.sql.functions as F
import pytest

from thundercats_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    other = "completely different text about spark queries and shuffle partitions here"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, "  " + base.upper() + " "),  # normalized dup of 1
        (4, near),  # near dup of 1
        (5, other),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(docs):
    out = dedup.dedup_exact(docs, "text", "doc_id")
    kept = {r["doc_id"]: r["n_copies"] for r in out.collect()}
    # 1,2,3 collapse (lower+trim normalize); 4 and 5 survive alone
    assert kept == {1: 3, 4: 1, 5: 1}


def test_dedup_exact_no_normalize(docs):
    out = dedup.dedup_exact(docs, "text", "doc_id", normalize=False)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    out = df.select(dedup.word_shingles(F.col("t"), 3).alias("sh")).first()["sh"]
    assert sorted(out) == ["a b c", "b c d"]


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical
    assert (1, 4) in got and (2, 4) in got  # near-dup
    assert not any(5 in p for p in got)


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 4) in got


def test_dedup_minhash_survivors(docs):
    out = dedup.dedup_minhash(docs, "text", "doc_id", threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 1 in ids and 5 in ids and 2 not in ids and 4 not in ids


def test_simhash_deterministic_and_near(docs):
    hs = {r["doc_id"]: r["sh"] for r in dedup.simhash(docs, "text").collect()}
    assert hs[1] == hs[2]  # identical text → identical hash
    assert all(v >= 0 for v in hs.values())  # 60-bit, no sign wrap


def test_simhash_pairs(docs):
    pairs = dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    # the 4x15-bit banding cannot guarantee candidates beyond Hamming 3
    # — asking for more must fail loudly, not under-recall silently
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=4)


def test_minhash_recall_vs_exact_on_documents(spark, sf_dir):
    """On the driver's documents table, banded MinHash (16x4) must
    recover most true Jaccard>=0.5 pairs and verify exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    approx = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    truth = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    found = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    assert found <= truth  # verification step guarantees precision 1.0
    if truth:
        recall = len(found & truth) / len(truth)
        assert recall >= 0.8, f"recall {recall} over {len(truth)} pairs"


# Plain-Python references for the signature kernels. Spark computes the
# xxhash64 values; only the fold under test runs here.
def _perm_minhash_ref(hs, num_hashes=64, seed=42):
    P = dedup._P
    return [min((a * (h % P) + b) % P for h in hs) for a, b in dedup._perm_params(num_hashes, seed)]


def _oph_bins(hs, seed=42):
    """(bin, value) of each shingle hash under one permutation."""
    P = dedup._P
    a, b = dedup._perm_params(1, seed)[0]
    return [((a * (h % P) + b) % P % 64, (a * (h % P) + b) % P // 64) for h in hs]


def _oph_ref(hs, k=64, seed=42):
    P, empty = dedup._P, 2**62
    m = [empty] * k
    for b, v in _oph_bins(hs, seed):
        m[b] = min(m[b], v)
    filled = [i for i in range(k) if m[i] != empty]
    if filled and len(filled) < k:
        # densify: each empty bin takes the last filled bin's value,
        # mixed with its circular distance from that bin
        d = filled[-1]
        m = [v if v != empty else (m[d] * 40503 + (i - d) % k * 69069 + 1) % P
             for i, v in enumerate(m)]
    return m


def _simhash_ref(tok_hashes, bits=60):
    n = len(tok_hashes)
    return sum(1 << i for i in range(bits) if 2 * sum((h >> i) & 1 for h in tok_hashes) > n)


LONG_TEXT = " ".join(f"w{i}" for i in range(1000))  # 998 shingles: OPH fills every bin
SHORT_TEXT = "a b c d e f g h"  # 6 shingles: OPH leaves empty bins
EDGE_TEXTS = ["", "single", "two words", SHORT_TEXT, LONG_TEXT, None]


def test_signature_kernels_match_python_references(spark, sf_dir):
    """Each signature kernel (perm MinHash, OPH, SimHash) equals its
    plain-Python reference on 100 corpus documents plus edge texts; a
    NULL text gets a NULL signature."""
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(100)
    )
    edge = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    docs = corpus.unionByName(edge)
    long_id, short_id = (-1 - EDGE_TEXTS.index(t) for t in (LONG_TEXT, SHORT_TEXT))

    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(dedup.shingle_hashes(dedup.word_shingles(F.col("text"), 3))).alias("hs"),
    )
    hs = {r["id"]: r["hs"] for r in sh.collect()}
    assert len({b for b, _ in _oph_bins(hs[long_id])}) == 64
    assert len({b for b, _ in _oph_bins(hs[short_id])}) < 64
    for method, ref in (("perm", _perm_minhash_ref), ("oph", _oph_ref)):
        got = {r["id"]: r["sig"] for r in dedup.minhash_signature(sh, "hs", method=method).collect()}
        assert got == {i: None if h is None else ref(h) for i, h in hs.items()}, method

    tok = docs.select(
        "doc_id",
        F.transform(F.split(F.trim("text"), r"\s+"), lambda t: F.xxhash64(t)).alias("th"),
    )
    th = {r["doc_id"]: r["th"] for r in tok.collect()}
    got = {r["doc_id"]: r["sh"] for r in dedup.simhash(docs, "text").collect()}
    assert got == {i: None if t is None else _simhash_ref(t) for i, t in th.items()}


def test_dedup_keep_best_policy(spark):
    from thundercats_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            (1, "dup text", 0.2),
            (2, "DUP TEXT  ", 0.9),  # normalized duplicate, best score
            (3, "dup text", 0.9),  # ties with 2 -> keep min id 2
            (4, "solo", 0.5),
        ],
        "doc_id long, text string, sc double",
    )
    import pyspark.sql.functions as F

    out = {r["doc_id"]: r for r in dedup_keep_best(docs, F.col("sc"), ids_only=True).collect()}
    assert set(out) == {2, 4}
    assert out[2]["n_copies"] == 3 and out[2]["best_score"] == 0.9
    assert out[4]["n_copies"] == 1
    # full-row mode returns the surviving original rows
    full = dedup_keep_best(docs, F.col("sc"))
    assert {r["doc_id"] for r in full.collect()} == {2, 4}
    assert "text" in full.columns


def test_dedup_incremental_across_batches(spark, tmp_path):
    from thundercats_spark.operators.dedup import dedup_incremental

    idx = str(tmp_path / "fp_index")
    b1 = spark.createDataFrame(
        [(1, "first doc"), (2, "second doc"), (3, "first doc")],
        "doc_id long, text string",
    )
    out1 = dedup_incremental(b1, idx)
    assert sorted(r["doc_id"] for r in out1.collect()) == [1, 2]
    # batch 2: one repeat of history, one internal dup, one new
    b2 = spark.createDataFrame(
        [(10, "second doc"), (11, "new doc"), (12, "NEW DOC")],
        "doc_id long, text string",
    )
    out2 = dedup_incremental(b2, idx)
    assert sorted(r["doc_id"] for r in out2.collect()) == [11]
    # replaying the same batch is a no-op against the committed index
    out2_replay = dedup_incremental(b2, idx)
    assert out2_replay.count() == 0
    # dry-run leaves the index untouched
    b3 = spark.createDataFrame([(20, "dry")], "doc_id long, text string")
    assert dedup_incremental(b3, idx, commit=False).count() == 1
    assert dedup_incremental(b3, idx, commit=False).count() == 1  # still fresh


def test_simhash_bucket_cap_trades_hot_clusters_only(spark):
    from thundercats_spark.operators.dedup import simhash_pairs

    hot = [(i, "identical hot cluster document body repeated verbatim") for i in range(100)]
    cool = [
        (200, "a completely different pair of documents about spark physical plans"),
        (201, "a completely different pair of documents about spark physical plans"),
    ]
    df = spark.createDataFrame(hot + cool, "doc_id long, text string")
    # default plan (signature collapse + auto cap): the hot cluster is
    # ONE distinct signature, so no bucket is hot and the output stays
    # exact — all 4950 within-group pairs at hamming 0, plus the cool pair
    uncapped = simhash_pairs(df, max_hamming=3)
    up = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert (200, 201) in up
    assert sum(1 for a, b in up if a < 100 and b < 100) == 100 * 99 // 2
    assert all(r["hamming"] == 0 for r in uncapped.collect() if r["id_a"] < 100)
    # fixed cap on the UNCOLLAPSED plan: hot buckets (|b|=100 > 50) are
    # dropped, the cool bucket (|b|=2) survives — the recall trade the
    # cap buys when duplicates are NOT collapsed first
    capped = simhash_pairs(
        df, max_hamming=3, max_bucket_size=50, collapse_exact=False
    )
    cp = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (200, 201) in cp  # cool pair survives the cap
    assert not any(a < 100 and b < 100 for a, b in cp)  # hot buckets skipped


def test_pair_miner_collapse_is_output_identical(spark, sf_dir):
    """The exact-collapse rewrite must be invisible in the output: on a
    corpus with heavy exact duplication, collapse on == collapse off for
    all three miners (ids AND measure values)."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    import pyspark.sql.functions as F

    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    nulls = spark.createDataFrame([(200001, None), (200002, None)], base.schema)
    corpus = base.unionByName(dup).unionByName(nulls)

    def pairs(df_fn, **kw):
        return {
            (r[0], r[1], round(float(r[2]), 9))
            for r in df_fn(corpus, "text", "doc_id", **kw).collect()
        }

    on = pairs(dedup.ngram_jaccard_pairs, n=3, threshold=0.5, collapse_exact=True)
    off = pairs(dedup.ngram_jaccard_pairs, n=3, threshold=0.5, collapse_exact=False)
    assert on == off and len(on) >= base.count()  # every dup pair present
    s_on = pairs(dedup.simhash_pairs, max_hamming=3, collapse_exact=True)
    s_off = pairs(dedup.simhash_pairs, max_hamming=3, collapse_exact=False,
                  max_bucket_size=None)
    assert s_on == s_off
    m_on = pairs(dedup.minhash_lsh_pairs, threshold=0.5, collapse_exact=True)
    m_off = pairs(dedup.minhash_lsh_pairs, threshold=0.5, collapse_exact=False)
    assert m_on == m_off
    # a NULL text has no shingles or tokens: it pairs with nothing
    assert not any({a, b} & {200001, 200002} for a, b, _ in on | s_on | m_on)


def test_unknown_minhash_method_raises(docs, tmp_path):
    """Only 'perm' and 'oph' select a kernel; anything else fails before
    a job runs or the incremental guard records index metadata."""
    idx = tmp_path / "idx"
    for method in ("OPH", "minhash"):
        with pytest.raises(ValueError, match="minhash_signature.*'perm' or 'oph'"):
            dedup.minhash_lsh_pairs(docs, method=method)
        with pytest.raises(ValueError, match="minhash_signature.*'perm' or 'oph'"):
            dedup.dedup_minhash_incremental_prepare(docs, str(idx), method=method)
    assert not idx.exists()


def test_simhash_auto_cap_exact_on_small_corpora(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    auto = {tuple(r) for r in dedup.simhash_pairs(docs).collect()}
    exact = {tuple(r) for r in dedup.simhash_pairs(docs, max_bucket_size=None).collect()}
    assert auto == exact


def test_minhash_oph_recall_and_determinism(spark, sf_dir):
    """One-permutation hashing: same banding/verify, O(n) signatures.
    Precision stays exact (verify step); recall must hold up."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    oph = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5, method="oph")
    truth = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    found = {(r["id_a"], r["id_b"]) for r in oph.collect()}
    assert found <= truth
    if truth:
        recall = len(found & truth) / len(truth)
        assert recall >= 0.8, f"recall {recall} over {len(truth)} pairs"
    again = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs.repartition(11), "text", "doc_id", threshold=0.5, method="oph"
        ).collect()
    }
    assert again == found  # deterministic under repartitioning


def test_ngram_jaccard_join_cross_frame_exact(spark, docs):
    # R-S join vs the self-join ground truth: joining docs against
    # itself must yield every self-pair plus both orientations of every
    # ngram_jaccard_pairs pair — the prefix scheme loses nothing R-S.
    self_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).collect()
    }
    rs = dedup.ngram_jaccard_join(docs, docs, "text", "doc_id", 3, 0.5)
    got = {(r["id_a"], r["id_b"]) for r in rs.collect()}
    ids = {r["doc_id"] for r in docs.collect()}
    expect = {(i, i) for i in ids} | self_pairs | {(b, a) for a, b in self_pairs}
    assert got == expect
    # jaccard of a self-pair is exactly 1.0
    ones = {r["jaccard"] for r in rs.collect() if r["id_a"] == r["id_b"]}
    assert ones == {1.0}


def test_ngram_jaccard_join_disjoint_frames(spark):
    a = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy cat"),
            (101, "completely unrelated words in this different sentence here"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_join(a, b, threshold=0.5).collect()
    }
    assert got == {(1, 100)}


def test_ngram_jaccard_join_collapse_is_output_identical(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    import pyspark.sql.functions as F

    corpus = base.unionByName(base.withColumn("doc_id", F.col("doc_id") + 100000))
    bench = base.limit(50)

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"], round(float(r["jaccard"]), 9))
            for r in dedup.ngram_jaccard_join(
                corpus, bench, threshold=0.5, **kw
            ).collect()
        }

    on, off = pairs(collapse_exact=True), pairs(collapse_exact=False)
    assert on == off and len(on) >= 100  # every dup copy matches its bench twin


def test_dedup_minhash_incremental_across_batches(spark, tmp_path):
    from thundercats_spark.operators.dedup import dedup_minhash_incremental

    idx = str(tmp_path / "lsh_index")
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    other = "completely different text about spark queries and shuffle partitions here"
    b1 = spark.createDataFrame(
        [(1, base), (2, other), (3, None)], "doc_id long, text string"
    )
    out1 = dedup_minhash_incremental(b1, idx, threshold=0.5)
    # a NULL text has nothing to match or index: it survives
    assert sorted(r["doc_id"] for r in out1.collect()) == [1, 2, 3]

    near_base = base.replace("today", "tonight")  # J >= 0.5 of doc 1
    fresh_txt = "entirely novel document mentioning streaming watermarks and stateful session windows"
    b2 = spark.createDataFrame(
        [
            (10, near_base),            # near-dup of HISTORY (doc 1) -> drop
            (11, fresh_txt),            # new -> keep
            (12, fresh_txt + " extra"), # within-batch near-dup of 11 -> drop
        ],
        "doc_id long, text string",
    )
    out2 = dedup_minhash_incremental(b2, idx, threshold=0.5)
    assert sorted(r["doc_id"] for r in out2.collect()) == [11]
    # replaying the committed batch is a no-op: 11 now matches itself
    assert dedup_minhash_incremental(b2, idx, threshold=0.5).count() == 0
    # dry run: nothing committed, result reproducible
    b3 = spark.createDataFrame(
        [(20, "yet another brand new sentence about broadcast joins and bucketing")],
        "doc_id long, text string",
    )
    assert dedup_minhash_incremental(b3, idx, commit=False).count() == 1
    assert dedup_minhash_incremental(b3, idx, commit=False).count() == 1
    # index holds exactly the survivors' sets: 1, 2, 11
    assert sorted(
        r["id"] for r in spark.read.parquet(idx + "/sets").collect()
    ) == [1, 2, 11]

def test_incremental_two_step_survives_crash_before_commit(spark, tmp_path):
    """The prepare → write-corpus → commit ordering must make a crash
    between the corpus write and the index commit recoverable: the
    replayed batch sees the UNCOMMITTED index, reproduces the same
    survivors, the corpus upsert is id-idempotent, and only then does
    the index commit land. (The one-shot form commits first, so a crash
    in its window permanently drops the batch — the reason the two-step
    API exists.)"""
    from thundercats_spark.operators.dedup import (
        dedup_incremental_prepare,
        dedup_minhash_incremental_prepare,
    )
    from thundercats_spark.physical.io import Write

    fp_idx = str(tmp_path / "fp_index")
    lsh_idx = str(tmp_path / "lsh_index")
    corpus = str(tmp_path / "corpus")
    b1 = spark.createDataFrame(
        [(1, "seed history document about broadcast joins and shuffle behavior")],
        "doc_id long, text string",
    )
    ex = dedup_incremental_prepare(b1, fp_idx)
    near = dedup_minhash_incremental_prepare(ex.survivors, lsh_idx, threshold=0.5)
    Write.upsert_parquet(near.survivors, corpus, ["doc_id"]).get
    ex.commit()
    near.commit()

    batch = spark.createDataFrame(
        [
            (10, "a genuinely new document that must survive the crash replay"),
            (11, "a genuinely new document that must survive the crash replay"),  # exact dup in batch
        ],
        "doc_id long, text string",
    )
    # attempt 1: corpus written, then CRASH before either index commit
    ex1 = dedup_incremental_prepare(batch, fp_idx)
    near1 = dedup_minhash_incremental_prepare(ex1.survivors, lsh_idx, threshold=0.5)
    assert sorted(r["doc_id"] for r in near1.survivors.collect()) == [10]
    Write.upsert_parquet(near1.survivors, corpus, ["doc_id"]).get
    # (no commit — simulated crash; prepare-time caches deliberately leak)

    # replay: the index never saw the batch, so survivors reproduce
    ex2 = dedup_incremental_prepare(batch, fp_idx)
    near2 = dedup_minhash_incremental_prepare(ex2.survivors, lsh_idx, threshold=0.5)
    assert sorted(r["doc_id"] for r in near2.survivors.collect()) == [10]
    Write.upsert_parquet(near2.survivors, corpus, ["doc_id"]).get  # idempotent
    ex2.commit()
    near2.commit()

    got = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert got == [1, 10]  # batch ingested exactly once, never dropped
    # committed replay is now a no-op (self-match), and the index holds
    # exactly the survivor ids
    ex3 = dedup_incremental_prepare(batch, fp_idx)
    assert ex3.survivors.count() == 0
    assert sorted(
        r["id"] for r in spark.read.parquet(lsh_idx + "/sets").collect()
    ) == [1, 10]


def test_dedup_keep_best_string_ids(spark):
    """Tie-breaks must work for NON-numeric ids (URL hashes etc.) —
    regression for the negated-id ordering that crashed/null-cast."""
    from thundercats_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [("doc-b", "same text", 5.0), ("doc-a", "same text", 5.0),
         ("doc-c", "same text", 9.0), ("doc-z", "other", 1.0)],
        "doc_id string, text string, q double",
    )
    rows = {r["doc_id"]: r for r in
            dedup_keep_best(df, F.col("q"), ids_only=True).collect()}
    assert set(rows) == {"doc-c", "doc-z"}  # best score wins
    assert rows["doc-c"]["n_copies"] == 3
    # pure score tie -> lexicographically smallest id survives
    tie = spark.createDataFrame(
        [("doc-b", "t", 1.0), ("doc-a", "t", 1.0)],
        "doc_id string, text string, q double",
    )
    [r] = dedup_keep_best(tie, F.col("q"), ids_only=True).collect()
    assert r["doc_id"] == "doc-a"


def test_incremental_index_meta_validated(spark, tmp_path):
    """A dedup index probed with different hyperparameters than its
    build must fail loudly — a silent mismatch would ignore ALL history
    (zero recall) with no error."""
    from thundercats_spark.operators.dedup import (
        dedup_incremental,
        dedup_minhash_incremental,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with shared words common to all") for i in range(8)],
        "doc_id long, text string",
    )
    mh_idx = str(tmp_path / "mh_idx")
    dedup_minhash_incremental(docs, mh_idx, threshold=0.9)
    with pytest.raises(ValueError, match="seed"):
        dedup_minhash_incremental(docs, mh_idx, threshold=0.9, seed=7)
    with pytest.raises(ValueError, match="bands"):
        dedup_minhash_incremental(docs, mh_idx, threshold=0.9, bands=8)
    with pytest.raises(ValueError, match="oph"):
        dedup_minhash_incremental(docs, mh_idx, threshold=0.9, method="oph")
    # matching params still probe fine (replay returns empty)
    assert dedup_minhash_incremental(docs, mh_idx, threshold=0.9).count() == 0

    ex_idx = str(tmp_path / "ex_idx")
    dedup_incremental(docs, ex_idx, normalize=True)
    with pytest.raises(ValueError, match="normalize"):
        dedup_incremental(docs, ex_idx, normalize=False)
    assert dedup_incremental(docs, ex_idx).count() == 0


def test_dedup_keep_best_int64_above_2_53(spark):
    """int64 scores whose distinction lives above double precision
    (2^53) must still pick the true max — regression for the blanket
    double cast that collapsed them to the same ordering key."""
    from thundercats_spark.operators.dedup import dedup_keep_best

    lo = (1 << 60) + 0
    hi = (1 << 60) + 1  # same double as lo, different int64
    assert float(lo) == float(hi)
    df = spark.createDataFrame(
        [("a", "same", lo), ("b", "same", hi)],
        "doc_id string, text string, sc long",
    )
    [r] = dedup_keep_best(df, F.col("sc"), ids_only=True).collect()
    assert r["doc_id"] == "b"  # true max-score winner, not the min-id double-tie
    assert r["best_score"] == hi


def test_dedup_rate_by_source(spark):
    from thundercats_spark.operators.dedup import dedup_rate_by_source

    df = spark.createDataFrame(
        [(1, "web", "x"), (2, "web", "x"), (3, "web", "y"),
         (4, "book", "z"), (5, "book", " Z  ")],  # normalizes equal
        "doc_id long, source string, text string",
    )
    rep = {r["source"]: r for r in dedup_rate_by_source(df).collect()}
    assert rep["web"]["n_docs"] == 3 and rep["web"]["n_distinct"] == 2
    assert rep["web"]["n_dupes"] == 1 and abs(rep["web"]["dup_rate"] - 1/3) < 1e-6
    assert rep["book"]["n_distinct"] == 1 and rep["book"]["n_dupes"] == 1
    # normalize=False: ' Z  ' and 'z' distinct
    raw = {r["source"]: r for r in
           dedup_rate_by_source(df, normalize=False).collect()}
    assert raw["book"]["n_dupes"] == 0


def test_dedup_rate_ignores_null_text_in_distinct(spark):
    """NULL texts count as docs but never as distinct content —
    matching SQL COUNT(DISTINCT) so the oracle agrees (review r05)."""
    from thundercats_spark.operators.dedup import dedup_rate_by_source

    df = spark.createDataFrame(
        [(1, "web", "x"), (2, "web", None), (3, "web", None)],
        "doc_id long, source string, text string",
    )
    [r] = dedup_rate_by_source(df).collect()
    assert r["n_docs"] == 3 and r["n_distinct"] == 1 and r["n_dupes"] == 2


def test_dedup_lineage_full_map(docs):
    m = {
        r["doc_id"]: (r["kept_id"], r["group_size"])
        for r in dedup.dedup_lineage(docs).collect()
    }
    # 1,2,3 collapse under lower+trim; 4 and 5 map to themselves
    assert m == {
        1: (1, 3), 2: (1, 3), 3: (1, 3), 4: (4, 1), 5: (5, 1)
    }


def test_dedup_lineage_dups_only_and_consistency(docs):
    out = dedup.dedup_lineage(docs, dups_only=True).collect()
    assert {r["doc_id"] for r in out} == {1, 2, 3}
    assert all(r["kept_id"] == 1 and r["group_size"] == 3 for r in out)
    # the kept ids are exactly what dedup_exact keeps, on every group
    kept_ids = {
        r["doc_id"]
        for r in dedup.dedup_exact(docs, ids_only=True).collect()
    }
    full = dedup.dedup_lineage(docs).collect()
    assert {r["kept_id"] for r in full} == kept_ids


def test_dedup_lineage_custom_key(docs):
    # group on the first word: everything but doc 5 starts with 'the'
    key = F.lower(F.split(F.trim(F.col("text")), r"\s+").getItem(0))
    m = {
        r["doc_id"]: (r["kept_id"], r["group_size"])
        for r in dedup.dedup_lineage(docs, key=key).collect()
    }
    assert m[5] == (5, 1)
    assert all(m[i] == (1, 4) for i in (1, 2, 3, 4))


def test_select_exploded_matches_plain_explode(spark):
    # select_exploded must drop empty/null arrays exactly like explode
    # (its explode_outer + isNotNull rewrite exists only to block
    # InferFiltersFromGenerate from re-evaluating the array upstream).
    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, None), (4, "x")], "id long, t string"
    )
    arr = dedup.word_shingles(F.col("t"), 2)
    got = dedup.select_exploded(df, arr, "g", "id")
    want = df.select("id", F.explode(arr).alias("g"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the rewritten plan must not carry the generator's input expression
    # in any Filter (that is the pushback being prevented)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if line.strip().startswith("+- Filter") or line.strip().startswith("Filter"):
            assert "slice" not in line and "split" not in line


def test_spread_candidates_row_identical_and_not_coalescible(spark, docs):
    # r11: the candidate dedupe+verify stage is repartitioned on the
    # pair key to defaultParallelism so AQE's byte-based coalescing
    # cannot serialize the CPU-dense exact-verify work. Must be (a)
    # row-identical, (b) a user repartition (exempt from coalescing),
    # and (c) free: the distinct that follows adds NO further exchange.
    cand = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    got = dedup._spread_candidates(cand)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, cand.collect()))
    p = spark.sparkContext.defaultParallelism
    assert got.rdd.getNumPartitions() == p
    plan = (
        dedup._spread_candidates(cand)
        .distinct()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one exchange: the pinned repartition; distinct reuses it
    assert plan.count("Exchange hashpartitioning") == 1
    assert f"REPARTITION_BY_NUM" in plan or f"REPARTITION_BY_COL" in plan


def test_mined_pairs_unchanged_by_spread(docs):
    # the spread must not change the mined pair set (same distinct, same
    # verify) — pin the full ngram output on the known-duplicates corpus
    out = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id").collect()
    )
    # exact dup pair at J=1.0 (doc 3 is uppercased — different shingles),
    # near-dup pairs cross the 0.5 bar; nothing else
    assert out == [
        (1, 2, 1.0),
        (1, 4, 0.846154),
        (2, 4, 0.846154),
    ]
