"""Example app — a business-analytics SESSION over the TPC-H-ish
tables plus the shared-pairs composition pattern for the dedup graph.
Two lessons a 100 TB user needs that no single registry query can
show (registry entries are deliberately self-contained):

  1. Reuse expensive intermediates ACROSS consumers. The near-dup
     pair graph feeds both transitive dedup grouping AND the
     leakage-safe split; mining it twice is ~80% of both queries'
     cost. Mine once, ``localCheckpoint`` (cuts the mining lineage so
     neither consumer re-executes it), feed both — measured 1.46x at
     sf0.1 (PERF_NOTES.md, "r07: shared-pairs composition" and "r10:
     shared-pairs A/B extended").

  2. Rank at scale without the single-sort-partition trap. The RFM
     scorecard needs three whole-table NTILEs; ``NTILE(4) OVER
     (ORDER BY metric)`` puts every row on ONE task. The distributed
     formulation (global_row_number + exact ntile_from_rn) keeps all
     three rankings partition-parallel — and the moving-average
     window is safe as-is because it partitions by customer.

Run: python examples/session_analytics.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from thundercats_spark.operators import dedup
from thundercats_spark.operators.components import dedup_groups
from thundercats_spark.operators.curation import corpus_split_leakage_safe
from thundercats_spark.queries.analytics4 import (
    customer_order_moving_avg,
    customer_rfm_scores,
    part_affinity_lift,
)
from thundercats_spark.session import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("session-analytics")
    spark.sparkContext.setLogLevel("ERROR")

    # -- 1. analytics scorecards ------------------------------------
    mv = customer_order_moving_avg(spark, sf_dir)
    n_mv = mv.count()
    full = mv.where(F.col("mv_n") == 3).count()  # complete 3-order windows
    assert 0 < full < n_mv  # first 2 orders per customer have partial frames
    print(f"moving avg: {n_mv} rows, {full} full windows")

    rfm = customer_rfm_scores(spark, sf_dir)
    seg = rfm.groupBy("rfm").count()
    n_segments = seg.count()
    assert n_segments > 1, "RFM must spread customers across segments"
    whales = rfm.where(F.col("rfm") == 444).count()
    print(f"rfm: {n_segments} segments, {whales} top-quartile-everything")

    lift = part_affinity_lift(spark, sf_dir)
    top = lift.orderBy(F.desc("lift"), "part_a", "part_b").limit(5).collect()
    assert all(r["n_ab"] >= 2 for r in top)
    print(f"affinity: top lift {top[0]['lift']:.1f} over {lift.count()} pairs")

    # -- 2. shared-pairs composition over the document corpus --------
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=0.5
    ).localCheckpoint(eager=True)  # mine ONCE for both consumers

    survivors = dedup_groups(d, pairs, "doc_id")
    split = corpus_split_leakage_safe(
        d, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id"
    )
    n_docs, n_kept = d.count(), survivors.count()
    sh = {r["split"]: r["n"] for r in
          split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert n_kept <= n_docs and sum(sh.values()) == n_docs
    print(f"dedup: {n_docs} -> {n_kept} docs; split shares {sh}")

    # no near-dup pair may straddle the train/test boundary
    lab = split.select("doc_id", "split")
    leak = (
        pairs.join(lab.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("split", "sa"), "id_a")
        .join(lab.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("split", "sb"), "id_b")
        .where(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leak == 0, f"{leak} near-dup pairs cross split boundaries"
    print("leakage check: 0 cross-split near-dup pairs")
    print("session_analytics: OK")


if __name__ == "__main__":
    main()
