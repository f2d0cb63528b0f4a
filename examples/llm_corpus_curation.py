"""Example app — end-to-end LLM training-corpus curation over the
driver's ``documents`` table, composing the engine's curation family:

  1. quality gate      — length/punct/stopword score + repetition
                         signals, all JVM expressions (scan-speed)
  2. language bucket   — n-gram/stopword language id
  3. exact dedup       — hash-groupBy, keeps min doc_id per text
  4. near dedup        — MinHash-LSH candidate pairs → connected
                         components → one survivor per duplicate group
  5. decontamination   — drop docs near-duplicating the eval set
                         (exact cross-frame PPJoin, recall 1.0)
  6. source rebalance  — seeded sampleBy toward a uniform source mix
  7. fingerprint+stats — stable ids and corpus accounting
  8. leakage-safe split— train/val/test where near-dup groups
                         co-travel (no test doc has a train near-dup)
  9. token quotas      — temperature-mixed per-source budgets, best
                         quality first (bucketed, no global sort)
  10. chunking         — fixed 32-token training windows (narrow map)

Every stage stays declarative (no collect in the data path), so the
same code runs at 100 TB: filters fuse into the parquet scan, dedup
shuffles only 64-bit keys, and rebalancing samples in the scan stage.

Run: python examples/llm_corpus_curation.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import pyspark.sql.functions as F

from thundercats_spark.functions import text_analysis as T
from thundercats_spark.operators import (
    corpus_split_leakage_safe,
    decontaminate_fuzzy,
    dedup_groups,
    minhash_lsh_pairs,
    rebalance_to_mix,
    source_mix,
)
from thundercats_spark.operators.dedup import dedup_exact
from thundercats_spark.session import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("llm-corpus-curation")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()

    # 1-2) quality + repetition + language, one projection — no shuffle.
    scored = docs.select(
        "doc_id",
        "text",
        "source",
        T.quality_score(F.col("text")).alias("quality"),
        T.distinct_word_ratio(F.col("text")).alias("diversity"),
        T.duplicate_ngram_fraction(F.col("text"), 2).alias("repetition"),
        T.lang_id(F.col("text")).alias("lang"),
        T.token_count(F.col("text")).alias("n_tokens"),
    )
    # Every later stage and its count reads this frame: persist it so the
    # scoring projection runs once, not once per count.
    kept = scored.where(
        (F.col("quality") >= 0.3)
        & (F.col("repetition") <= 0.98)
        & (F.col("n_tokens") >= 8)
    ).persist()
    n1 = kept.count()

    # 3) exact dedup (content hash; survivor = min doc_id).
    exact = dedup_exact(kept, "text", "doc_id")
    n2 = exact.count()

    # 4) near dedup: LSH candidates → transitive groups → survivors.
    pairs = minhash_lsh_pairs(exact, "text", "doc_id", threshold=0.5)
    groups = dedup_groups(exact.select("doc_id"), pairs, "doc_id")
    survivors = exact.join(
        groups.where(F.col("doc_id") == F.col("group_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    n3 = survivors.count()

    # 5) benchmark decontamination: treat src0 as the held-out eval
    # set — drop training docs that near-duplicate it (J >= 0.8).
    bench = docs.where(F.col("source") == "src0")
    clean = decontaminate_fuzzy(
        survivors, bench, threshold=0.8, mode="filter"
    ).where(F.col("source") != "src0")
    n4 = clean.count()

    # 6) rebalance sources toward uniform.
    sources = [r["source"] for r in clean.select("source").distinct().collect()]
    balanced = rebalance_to_mix(
        clean, {s: 1.0 / len(sources) for s in sources}, seed=13
    )
    n5 = balanced.count()

    # 6b) per-source token quotas: temperature-smoothed target mix x
    # a global token budget -> each source keeps its best-quality docs
    # until its own quota fills (bucketed selection, no global sort).
    from thundercats_spark.operators.curation import (
        chunk_documents,
        select_token_budget_grouped,
        temperature_mix,
    )

    counts = {r["source"]: r["n_docs"] for r in source_mix(balanced).collect()}
    mix = temperature_mix(counts, temperature=2.0)
    total_budget = 20_000  # tokens at example scale
    quotas = {src: int(p_src * total_budget) for src, p_src in mix.items()}
    budgeted = select_token_budget_grouped(
        balanced, quotas, F.col("quality"), group_col="source",
        token_col=F.col("n_tokens"),
    )
    n6 = budgeted.count()

    # 7) stable fingerprints.
    final = budgeted.select(
        "doc_id", "text", "source", "lang", "n_tokens",
        T.doc_fingerprint(F.col("text")).alias("fingerprint"),
    )

    # 8) leakage-safe train/val/test: reuse the near-dup pair graph so
    # a group never straddles splits.
    split = corpus_split_leakage_safe(
        final, pairs, {"train": 0.9, "val": 0.05, "test": 0.05}, "doc_id"
    )

    # 9) long docs -> fixed training windows (stateless narrow map;
    # each chunk inherits its doc's split so leakage safety survives).
    chunks = chunk_documents(split, chunk_tokens=32, overlap=8).drop(
        "text", "chunk_text"
    )
    n_chunks = chunks.count()
    split = split.drop("text")

    print(f"corpus:    {n0} docs")
    print(f"quality:   {n1} kept ({n0 - n1} filtered)")
    print(f"exact-dup: {n2} kept ({n1 - n2} removed)")
    print(f"near-dup:  {n3} kept ({n2 - n3} removed)")
    print(f"decontam:  {n4} kept ({n3 - n4} removed)")
    print(f"rebalance: {n5} kept ({n4 - n5} sampled out)")
    print(f"quota:     {n6} kept under per-source token budgets {quotas}")
    print(f"chunks:    {n_chunks} training windows (32 tok, 8 overlap)")
    print("final mix:")
    for r in source_mix(split, "source").collect()[:8]:
        print(f"  {r['source']}: {r['n_docs']} ({r['fraction']:.3f})")
    print("split sizes:")
    for r in split.groupBy("split").count().orderBy("split").collect():
        print(f"  {r['split']}: {r['count']}")
    split.orderBy("doc_id").show(5, truncate=False)
    kept.unpersist()


if __name__ == "__main__":
    main()
