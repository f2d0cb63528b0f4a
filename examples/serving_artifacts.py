"""Example app — the persisted serving-artifact lifecycle a training
platform runs around this engine (no reference counterpart; this is
the r05 LLM-pipeline surface):

1. build an int8-quantized IVF ANN index from the embeddings table,
2. fold a late-arriving batch in WITHOUT a rebuild (ann_index_append),
3. read the cell-balance health report (rebuild-cadence signal),
4. serve a partition-pruned integer-domain top-k probe — then the
   THROUGHPUT shape: a whole query batch amortizing ONE pruned scan
   (ann_batch_topk_indexed),
5. run the automated maintenance loop (maintain_ann_index): append,
   check drift, rebuild with retrained centroids only when degraded,
6. train a BPE tokenizer, persist it as a parquet artifact, restore it
   from disk, and encode + QA-report the corpus with the SHIPPED
   vocabulary (never a retrained one).

Run: python examples/serving_artifacts.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, ".")

import pyspark.sql.functions as F

from thundercats_spark.functions.bpe import (
    bpe_fertility,
    bpe_load,
    bpe_save,
    bpe_train,
)
from thundercats_spark.operators import similarity
from thundercats_spark.session import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("serving-artifacts-example")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="tc_serving_")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    history = emb.where(F.col("vec_id") % 10 != 0)
    late_batch = emb.where(F.col("vec_id") % 10 == 0)

    # 1. quantized index: 4x smaller cells, partition-pruned probes
    idx = f"{work}/emb_q8_idx"
    similarity.ann_index_build(history, idx, n_clusters=8, quantize=True)

    # 2. incremental maintenance: one batch, touched cells only
    appended = similarity.ann_index_append(spark, late_batch, idx)
    print(f"appended {appended} vectors without a rebuild")

    # 3. health report — watch skew_ratio drift to schedule rebuilds
    stats = similarity.ann_index_stats(spark, idx)
    print(
        f"index: {stats['n_vectors']} vectors / {stats['n_cells']} cells, "
        f"skew {stats['skew_ratio']}, int8={stats['quantized']}"
    )

    # 4. serve: integer-domain cosine over the probed cells only
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    top = similarity.ann_topk_indexed(spark, idx, qv, k=5, nprobe=3)
    print("top-5 neighbors:")
    top.show(truncate=False)

    # 4b. serving throughput: N queries -> ONE partition-pruned scan
    # (union of their probe cells), per-query exact rerank
    qbatch = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    batched = similarity.ann_batch_topk_indexed(spark, idx, qbatch, k=3, nprobe=3)
    print(f"batch probe: {batched.count()} result rows for {len(qbatch)} queries")

    # 5. automated maintenance: append-then-decide. A healthy index
    # just reports; past the skew/empty thresholds it rebuilds with
    # centroids retrained on the full corpus (the float source — the
    # int8 index stores only codes).
    report = similarity.maintain_ann_index(
        spark, None, idx, source=emb, max_skew_ratio=4.0
    )
    print(
        f"maintenance: degraded={report['degraded']} "
        f"rebuilt={report['rebuilt']} "
        f"skew={report['stats']['skew_ratio']}"
    )

    # 6. tokenizer: train once, ship the artifact, encode from disk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = f"{work}/tokenizer.parquet"
    bpe_save(spark, bpe_train(docs, n_merges=200), tok)
    merges = bpe_load(spark, tok)
    print(f"restored tokenizer: {len(merges)} merges")
    bpe_fertility(docs, merges, group_col="lang").orderBy("group").show()

    spark.stop()


if __name__ == "__main__":
    main()
