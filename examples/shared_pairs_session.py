"""Example app — the shared-pairs SESSION composition (VERDICT r09 #2).

The near-dup pair graph is the expensive artifact of corpus hygiene:
mining it (shingle → Jaccard verify) dominates every consumer built on
it. The registry's entries each stay self-contained (the driver runs
them in isolation), but a real pipeline session runs ALL the
consumers over one corpus — so the session-shaped pattern is:

  mine ONCE  →  localCheckpoint (cut the mining lineage)  →  feed
    1. dedup_groups            — the deduplicated corpus (survivors)
    2. corpus_split_leakage_safe — train/val/test where near-dup
                                   groups co-travel (no leakage)
    3. cluster-size histogram  — the dedup QA report (how duplicated
                                   is the corpus, at what depth)

All three consumers run over the SAME checkpointed pair frame; the
mining pass executes exactly once. PERF_NOTES.md ("r10: shared-pairs
A/B extended") records the saving (independent vs shared) at sf0.1;
this example is the documented composition, with the invariants
asserted:

  - the composition is EQUAL to self-mined runs (pairs are pairs —
    survivors and split labels are pinned identical),
  - survivors = corpus − (duplicate-group members beyond their rep),
  - no near-duplicate pair straddles a split boundary (the leakage
    guarantee, re-proven here over the mined graph itself),
  - histogram mass = exactly the docs that belong to some dup group.

At 100 TB: the pair graph is O(near-dup docs) — tiny next to the
corpus — so the checkpoint is cheap, and the saving scales with the
mining cost (the corpus-sized scan), not with the graph.

Run: python examples/shared_pairs_session.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from thundercats_spark.operators import dedup
from thundercats_spark.operators.components import (
    connected_components,
    dedup_groups,
)
from thundercats_spark.operators.curation import corpus_split_leakage_safe
from thundercats_spark.session import get_spark

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("shared-pairs-session")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    # -- mine ONCE, checkpoint: every consumer below reuses this frame
    mine = lambda: dedup.ngram_jaccard_pairs(  # noqa: E731
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    pairs = mine().localCheckpoint(eager=True)
    n_pairs = pairs.count()

    # -- consumer 1: the deduplicated corpus
    survivors = dedup_groups(docs, pairs, "doc_id")
    n_surv = survivors.count()

    # -- consumer 2: leakage-safe split over the SAME pairs
    split = corpus_split_leakage_safe(docs, pairs, WEIGHTS, "doc_id")
    split_of = {
        r["doc_id"]: r["split"]
        for r in split.select("doc_id", "split").collect()
    }

    # -- consumer 3: dedup QA — cluster-size histogram, same pairs
    comp = connected_components(pairs)
    hist = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )
    hist_rows = hist.collect()

    # -- invariant: composition == independent (pairs are pairs)
    surv_again = {
        r["doc_id"] for r in dedup_groups(docs, mine(), "doc_id")
        .select("doc_id").collect()
    }
    assert {r["doc_id"] for r in survivors.select("doc_id").collect()} \
        == surv_again, "shared-pairs dedup drifted from self-mined"

    # -- invariant: survivors = corpus - (dup-group members - reps)
    n_dup_docs = comp.count()
    n_dup_groups = comp.select("component").distinct().count()
    assert n_surv == n_docs - (n_dup_docs - n_dup_groups), (
        n_surv, n_docs, n_dup_docs, n_dup_groups
    )

    # -- invariant: NO mined pair straddles a split boundary
    straddlers = [
        (a, b) for a, b in pairs.select("id_a", "id_b").collect()
        if split_of[a] != split_of[b]
    ]
    assert not straddlers, f"leakage: {straddlers[:5]}"

    # -- invariant: histogram mass = docs in some dup group
    assert sum(r["cluster_size"] * r["n_clusters"] for r in hist_rows) \
        == n_dup_docs

    by_split = (
        split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    print(f"corpus {n_docs} docs; mined {n_pairs} near-dup pairs ONCE")
    print(f"dedup_groups: {n_surv} survivors "
          f"({n_dup_docs - n_dup_groups} dropped)")
    print("split sizes:", {r["split"]: r["n"] for r in by_split})
    print("cluster-size histogram:",
          [(r["cluster_size"], r["n_clusters"]) for r in hist_rows])
    print("shared-pairs session OK: 3 consumers, 1 mining pass, "
          "all invariants hold")


if __name__ == "__main__":
    main()
