"""Scale rehearsal for the dedup family (VERDICT r01 #8).

No sf1 testdata exists in the container, so this builds a 10x
near-duplicate-realistic replica of sf0.1 documents under .scale/
(gitignored): replica 0 is verbatim, replicas 1..9 append a replica
token to ~each doc (still J >= 0.5 near-dups of the original), ids are
offset. Then it measures what actually breaks sketch dedup at scale:
LSH bucket-size distribution (the candidate blowup is sum over buckets
of |b|^2) and wall-clock for the full pair pipelines + connected
components.

Writes tools-local ``scale_stats.json`` which bench.py inlines into its
JSON line (key ``scale_check``) so the round's BENCH artifact records
the scale posture without re-running this per bench invocation.

Usage: python tools/scale_check.py [replicas]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from thundercats_spark.operators import dedup  # noqa: E402
from thundercats_spark.operators.components import connected_components  # noqa: E402
from thundercats_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_DIR = os.path.join(REPO, ".scale")


def build_replica(spark, sf_dir: str, replicas: int) -> str:
    """Duplication-realistic xN corpus (v2). Crawled corpora concentrate
    duplicate multiplicity on a bounded set of variants (mirrors and
    re-posts of the same page, plus a few boilerplate-perturbed copies)
    — they do NOT produce N pairwise-distinct variants per document. So
    replica r of a doc is: verbatim when r % 3 == 0 (exact-dup
    multiplicity grows with N — what exact-collapse absorbs), else the
    doc + variant token v{r % 3} (a bounded set of 2 near-dup variants,
    each still J >= 0.5 of the original). Distinct docs per original
    stay ~3 at ANY replica factor, so pair-MINING work should scale
    ~linearly with N while raw rows (and the emitted pair count) still
    multiply — the profile that separates a collapse-aware plan from a
    naive one. (v1 made every replica pairwise-distinct, a worst case
    no production corpus shows, and its x30 pair blowup measured output
    inherence rather than plan quality.)"""
    path = os.path.join(SCALE_DIR, f"documents_x{replicas}_v2.parquet")
    if os.path.exists(path):
        return path
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = d.agg(F.max("doc_id")).first()[0] + 1
    r = spark.range(replicas).withColumnRenamed("id", "rep")
    big = (
        d.crossJoin(F.broadcast(r))
        .select(
            (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
            F.when(F.col("rep") % 3 == 0, F.col("text"))
            .otherwise(
                F.concat_ws(
                    " ", F.col("text"), F.concat(F.lit("v"), F.col("rep") % 3)
                )
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
    )
    big.write.mode("overwrite").parquet(path)
    return path


def build_tpch_replica(spark, sf_dir: str, replicas: int) -> str:
    """A 10x fact-table replica of the TPC-H-ish tables (sf1-equivalent
    facts when sf_dir=sf0.1): orders/lineitem replicated with offset
    order keys (each replica joins within itself — same join fan-out
    per key as the original), events replicated with offset event ids,
    dims copied verbatim (same dim cardinality → broadcast stays the
    right plan, fact:dim ratio grows 10x as it would at sf1)."""
    out_dir = os.path.join(SCALE_DIR, f"sf_x{replicas}")
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    r = spark.range(replicas).withColumnRenamed("id", "rep")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_ok = o.agg(F.max("o_orderkey")).first()[0] + 1
    o.crossJoin(F.broadcast(r)).select(
        (F.col("o_orderkey") + F.col("rep") * n_ok).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.crossJoin(F.broadcast(r)).select(
        (F.col("l_orderkey") + F.col("rep") * n_ok).alias("l_orderkey"),
        "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))
    from thundercats_spark.queries import load as load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    n_ev = ev.agg(F.max("event_id")).first()[0] + 1
    ev.crossJoin(F.broadcast(r)).select(
        (F.col("event_id") + F.col("rep") * n_ev).alias("event_id"),
        "ts", "user_id", "event_type", "value", "props",
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))
    open(marker, "w").close()
    return out_dir


def bucket_stats(df) -> dict:
    """size distribution of a (.., bucket) frame grouped on bucket."""
    sizes = df.groupBy("bucket").count()
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("count").alias("max"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.avg("count").alias("mean"),
        F.sum(F.col("count") * F.col("count")).alias("sum_sq"),
    ).first()
    return {
        "n_buckets": row["n_buckets"],
        "max_bucket": int(row["max"]),
        "p99_bucket": int(row["p99"]),
        "mean_bucket": round(float(row["mean"]), 2),
        "candidate_pairs_bound": int(row["sum_sq"]),  # sum |b|^2 upper bound
    }


def main():
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scale-check")
    spark.sparkContext.setLogLevel("ERROR")

    path = build_replica(spark, sf_dir, replicas)
    d = spark.read.parquet(path)
    n_docs = d.count()
    out = {"replicas": replicas, "n_docs": n_docs, "source_sf_dir": sf_dir}

    # MinHash LSH: bucket distribution of the banded signature — both the
    # raw per-row banding and the EFFECTIVE mining input (identical
    # shingle sets collapsed to reps, the default plan since r03)
    sh = dedup._shingle_sets(d, "text", "doc_id", 3)

    def minhash_buckets(frame):
        sig = dedup.minhash_signature(frame, "hs", 64, 42)
        return sig.select(
            "id", F.explode(dedup.lsh_band_keys(F.col("sig"), 16)).alias("bucket")
        )

    out["minhash_buckets_raw"] = bucket_stats(minhash_buckets(sh))
    reps = dedup._collapse_groups(
        sh.withColumn("__gfp", F.xxhash64(F.array_sort("hs"))), "__gfp"
    ).select(F.col("rep").alias("id"), "hs")
    out["minhash_buckets"] = bucket_stats(minhash_buckets(reps))

    # SimHash: band-key distribution of the REAL mining input (collapse +
    # auto cap — simhash_banded is exactly what simhash_pairs self-joins)
    # and of the raw uncollapsed banding for comparison
    def simhash_bucket_stats(max_bucket_size, collapse_exact):
        bands, _ = dedup.simhash_banded(
            d, "text", "doc_id", max_bucket_size, collapse_exact
        )
        return bucket_stats(
            bands.select("id", F.concat_ws(":", "band", "key").alias("bucket"))
        )

    out["simhash_buckets_raw"] = simhash_bucket_stats(None, False)
    out["simhash_buckets"] = simhash_bucket_stats("auto", True)

    # wall-clock of the full pipelines at 10x
    for name, fn in [
        ("dedup_exact", lambda: dedup.dedup_exact(d, ids_only=True)),
        ("dedup_minhash_lsh", lambda: dedup.minhash_lsh_pairs(d, threshold=0.5)),
        (
            "dedup_minhash_oph",  # one-permutation-hashing signature kernel
            lambda: dedup.minhash_lsh_pairs(d, threshold=0.5, method="oph"),
        ),
        ("dedup_simhash", lambda: dedup.simhash_pairs(d, max_hamming=3)),
        (
            "dedup_simhash_uncollapsed",  # legacy plan: no collapse, no cap
            lambda: dedup.simhash_pairs(
                d, max_hamming=3, max_bucket_size=None, collapse_exact=False
            ),
        ),
        ("ngram_jaccard_pairs", lambda: dedup.ngram_jaccard_pairs(d, threshold=0.5)),
        (
            "ngram_jaccard_uncollapsed",  # legacy plan: mine on raw rows
            lambda: dedup.ngram_jaccard_pairs(d, threshold=0.5, collapse_exact=False),
        ),
    ]:
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        out[f"secs_{name}"] = round(time.time() - t0, 3)

    t0 = time.time()
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.5)
    # force the distributed pointer-halving plan: the rehearsal must
    # exercise the 100 TB path, not the small-graph driver fast path
    cc = connected_components(pairs, small_graph_rows=None)
    n_groups = cc.select("component").distinct().count()
    out["secs_connected_components"] = round(time.time() - t0, 3)
    out["n_components"] = n_groups

    # round-2 curation family at 10x
    from thundercats_spark.functions.text_analysis import distinct_word_ratio
    from thundercats_spark.operators.curation import (
        decontaminate,
        decontaminate_fuzzy,
        pack_sequences,
    )

    bench_docs = d.where(F.col("source") == "src0")
    corpus = d.where(F.col("source") != "src0")
    for name, fn in [
        (
            "decontaminate",
            lambda: decontaminate(corpus, bench_docs, n=8, mode="flag").select(
                "doc_id", "n_contaminated"
            ),
        ),
        (
            "decontaminate_fuzzy",
            lambda: decontaminate_fuzzy(
                corpus, bench_docs, threshold=0.5, mode="flag"
            ).select("doc_id", "n_bench_matches"),
        ),
        ("pack_sequences", lambda: pack_sequences(d, budget=2048, n_groups=64)),
        (
            "dedup_keep_best",
            lambda: dedup.dedup_keep_best(
                d, distinct_word_ratio(F.col("text")), ids_only=True
            ),
        ),
    ]:
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        out[f"secs_{name}"] = round(time.time() - t0, 3)

    # substring-dedup (span) family at 10x: the replica corpus is
    # span-heavy by construction (replicas share every 10-gram with
    # their original), so this is a worst-case duplication profile.
    from thundercats_spark.operators.spans import (
        remove_repeated_spans,
        repeated_spans,
        span_dup_fraction,
        span_hash_stream,
    )

    occ = span_hash_stream(d, "text", "doc_id", 10)
    dupset = (
        occ.groupBy("span_h")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") >= 2)
    )
    out["span_stream_rows"] = occ.count()
    out["span_dup_hashes"] = dupset.count()
    for name, fn in [
        ("repeated_spans", lambda: repeated_spans(d, top_k=100)),
        ("span_dup_fraction", lambda: span_dup_fraction(d)),
        ("remove_repeated_spans", lambda: remove_repeated_spans(d)),
    ]:
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        out[f"secs_{name}"] = round(time.time() - t0, 3)

    # round-3 operators (VERDICT r03 #4): token-budget selection,
    # incremental minhash dedup, indexed LSH ANN probe.
    import shutil
    import tempfile

    from thundercats_spark.functions.text_analysis import token_count
    from thundercats_spark.operators import similarity
    from thundercats_spark.operators.curation import select_token_budget

    # (a) select_token_budget — the scale question is "how big is the
    # boundary bucket" (the ONLY slice that runs an exact ordered
    # window). Reproduce the prep to locate it, then time the full op.
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("score"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).persist()
    total_rows = scored.count()
    total_tokens = scored.agg(F.sum("n_tokens")).first()[0]
    budget = int(total_tokens * 0.5)
    n_buckets = 256
    qs_frac = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(scored.stat.approxQuantile("score", qs_frac, 0.01)))
    b_arr = F.array(*[F.lit(float(b)) for b in bounds])
    bucketed = scored.withColumn(
        "__bkt", F.size(F.filter(b_arr, lambda b: F.col("score") > b))
    )
    totals = {
        r["__bkt"]: (r["t"], r["n"])
        for r in bucketed.groupBy("__bkt")
        .agg(F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    running, boundary_rows = 0, 0
    for bkt in sorted(totals, reverse=True):
        t, n = totals[bkt]
        if running + t <= budget:
            running += t
        else:
            boundary_rows = n
            break
    t0 = time.time()
    n_kept = select_token_budget(
        d, budget, F.col("n_chars").cast("double"), ids_only=True
    ).count()
    out["token_budget"] = {
        "n_rows": total_rows,
        "budget_tokens": budget,
        "n_kept": n_kept,
        "n_score_buckets": len(bounds) + 1,
        "boundary_bucket_rows": boundary_rows,
        "boundary_bucket_frac": round(boundary_rows / total_rows, 5),
        "secs": round(time.time() - t0, 3),
    }
    scored.unpersist()

    # (b) dedup_minhash_incremental — equal-size batches ingested into a
    # fresh index; per-batch secs must track BATCH size (flat curve),
    # not accumulated history (the index holds 8-byte hashes + shingle
    # sets, probed by bucket join; historical text is never rescanned).
    n_batches = 6
    idx_dir = tempfile.mkdtemp(prefix="scale_mh_idx_")
    per_batch = []
    for b in range(n_batches):
        batch = d.where(F.pmod(F.col("doc_id"), F.lit(n_batches)) == b)
        t0 = time.time()
        surv = dedup.dedup_minhash_incremental(batch, idx_dir, threshold=0.5)
        n_s = surv.count()
        per_batch.append(
            {"batch": b, "secs": round(time.time() - t0, 3), "survivors": n_s}
        )
    out["minhash_incremental_batches"] = per_batch
    shutil.rmtree(idx_dir, ignore_errors=True)

    # (c) ann_topk_lsh_indexed — what fraction of the index does one
    # probe actually read? (planning-time partition pruning on __sig)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ann_dir = tempfile.mkdtemp(prefix="scale_ann_idx_")
    qv = [float(x) for x in emb.select("embedding").first()["embedding"]]
    t0 = time.time()
    similarity.ann_lsh_index_build(emb, ann_dir, n_planes=8, seed=7, dim=len(qv))
    build_secs = round(time.time() - t0, 3)
    probe = similarity._lsh_probe_set(qv, 8, 7, 2)
    idx = spark.read.parquet(ann_dir)
    n_parts = idx.select("__sig").distinct().count()
    n_vecs = idx.count()
    rows_scanned = idx.where(F.col("__sig").isin(*sorted(probe))).count()
    t0 = time.time()
    similarity.ann_topk_lsh_indexed(spark, ann_dir, qv, k=10).collect()
    out["ann_lsh_indexed"] = {
        "n_vectors": n_vecs,
        "n_partitions": n_parts,
        "n_probe_buckets": len(probe),
        "rows_scanned": rows_scanned,
        "scan_frac": round(rows_scanned / max(n_vecs, 1), 5),
        "build_secs": build_secs,
        "probe_secs": round(time.time() - t0, 3),
    }
    shutil.rmtree(ann_dir, ignore_errors=True)

    # relational headline shapes at 10x facts (sf1-equivalent when the
    # source is sf0.1): same registered queries, replica dir as sf_dir.
    from thundercats_spark.queries import all_queries

    tpch_dir = build_tpch_replica(spark, sf_dir, replicas)
    qs = all_queries()
    rel = {}
    for name in (
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "q9_product_profit", "q18_large_orders", "events_daily_rollup",
        "asof_join_events_orders", "events_sessionize",
    ):
        t0 = time.time()
        qs[name].spark_fn(spark, tpch_dir).write.format("noop").mode("overwrite").save()
        rel[name] = round(time.time() - t0, 3)
    out["relational_x10_secs"] = rel

    # round-4 operators: temperature sampling, int8 quantization,
    # model-based quality filter, BPE train/encode — all timed on the
    # same x-replica corpus so curves are comparable across rounds.
    from thundercats_spark.functions.bpe import bpe_encode, bpe_train
    from thundercats_spark.operators.curation import temperature_sample
    from thundercats_spark.operators.embeddings import quantize_embeddings
    from thundercats_spark.quality.classifier import (
        score_quality,
        train_quality_classifier,
    )

    t0 = time.time()
    temperature_sample(d, 2.0, source_col="lang").write.format("noop").mode(
        "overwrite"
    ).save()
    out["secs_temperature_sample"] = round(time.time() - t0, 3)

    emb_x = emb.select(
        F.explode(F.array(*[F.lit(i) for i in range(replicas)])).alias("__r"),
        "vec_id",
        "embedding",
    ).select(
        (F.col("vec_id") * replicas + F.col("__r")).alias("vec_id"), "embedding"
    )
    t0 = time.time()
    quantize_embeddings(emb_x).write.format("noop").mode("overwrite").save()
    out["secs_quantize_embeddings"] = {
        "n_vectors": emb.count() * replicas,
        "secs": round(time.time() - t0, 3),
    }

    labeled = d.withColumn("label", (F.col("lang") == "en").cast("int"))
    t0 = time.time()
    model = train_quality_classifier(labeled, max_iter=20)
    train_secs = round(time.time() - t0, 3)
    t0 = time.time()
    score_quality(model, d).write.format("noop").mode("overwrite").save()
    out["quality_classifier"] = {
        "n_docs": n_docs,
        "train_secs": train_secs,
        "score_secs": round(time.time() - t0, 3),
    }

    t0 = time.time()
    merges = bpe_train(d, n_merges=500, top_n=100_000)
    bpe_train_secs = round(time.time() - t0, 3)
    t0 = time.time()
    n_tok = (
        bpe_encode(d, merges)
        .agg(F.sum(F.size("bpe_tokens")).alias("t"))
        .first()["t"]
    )
    enc_secs = round(time.time() - t0, 3)
    out["bpe"] = {
        "n_merges": len(merges),
        "train_secs": bpe_train_secs,
        "encode_secs": enc_secs,
        "tokens": int(n_tok),
        "tokens_per_sec": int(n_tok / max(enc_secs, 1e-9)),
    }

    # round-5: int8-quantized persisted IVF index vs the float index —
    # the serving trade: index bytes on disk (the replicated-storage
    # cost at 100 TB) vs probe latency at the same nprobe.
    f_dir = tempfile.mkdtemp(prefix="scale_ivf_f_")
    q_dir = tempfile.mkdtemp(prefix="scale_ivf_q8_")
    t0 = time.time()
    cents = similarity.ann_index_build(emb_x, f_dir, n_clusters=16)
    f_build = round(time.time() - t0, 3)
    t0 = time.time()
    similarity.ann_index_build(emb_x, q_dir, centroids=cents, quantize=True)
    q_build = round(time.time() - t0, 3)

    def du(path):
        return sum(
            os.path.getsize(os.path.join(r, fn))
            for r, _, fs in os.walk(path)
            for fn in fs
        )

    t0 = time.time()
    similarity.ann_topk_indexed(spark, f_dir, qv, k=10, nprobe=4).collect()
    f_probe = round(time.time() - t0, 3)
    t0 = time.time()
    similarity.ann_topk_indexed(spark, q_dir, qv, k=10, nprobe=4).collect()
    q_probe = round(time.time() - t0, 3)
    out["ivf_quantized_index"] = {
        "n_vectors": emb.count() * replicas,
        "float_bytes": du(f_dir),
        "q8_bytes": du(q_dir),
        "bytes_ratio": round(du(q_dir) / max(du(f_dir), 1), 3),
        "float_build_secs": f_build,
        "q8_build_secs": q_build,
        "float_probe_secs": f_probe,
        "q8_probe_secs": q_probe,
    }
    # round-5: incremental index append — fold a 1-replica batch into
    # the x(N-1)-replica float index; cost must track the BATCH (plus
    # touched-partition rewrite), not the index size.
    app_dir = tempfile.mkdtemp(prefix="scale_ivf_app_")
    hist = emb_x.where(F.col("vec_id") % replicas != 0)
    batch = emb_x.where(F.col("vec_id") % replicas == 0)
    cents = similarity.ann_index_build(hist, app_dir, n_clusters=16)
    t0 = time.time()
    n_app = similarity.ann_index_append(spark, batch, app_dir)
    out["ann_index_append"] = {
        "index_rows_before": emb.count() * (replicas - 1),
        "batch_rows": n_app,
        "append_secs": round(time.time() - t0, 3),
        "full_build_secs_same_data": f_build,  # from the block above
    }
    shutil.rmtree(app_dir, ignore_errors=True)

    # round-6: batch probe vs the one-at-a-time loop on the x-replica
    # int8 index — the serving-throughput claim: N queries amortize ONE
    # partition-pruned scan instead of paying a scan each.
    qvecs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.limit(32).collect()
    ]
    t0 = time.time()
    for _qid, v in qvecs:
        similarity.ann_topk_indexed(spark, q_dir, v, k=10, nprobe=4).collect()
    loop_secs = round(time.time() - t0, 3)
    t0 = time.time()
    similarity.ann_batch_topk_indexed(
        spark, q_dir, qvecs, k=10, nprobe=4
    ).collect()
    batch_secs = round(time.time() - t0, 3)
    out["ann_batch_probe"] = {
        "n_queries": len(qvecs),
        "per_query_loop_secs": loop_secs,
        "batch_secs": batch_secs,
        "loop_qps": round(len(qvecs) / max(loop_secs, 1e-9), 2),
        "batch_qps": round(len(qvecs) / max(batch_secs, 1e-9), 2),
        "speedup": round(loop_secs / max(batch_secs, 1e-9), 2),
    }

    # round-6: LSH persisted-index append (the same ann_index_append
    # as the IVF block); cost must track the batch, not the index.
    lsh_dir = tempfile.mkdtemp(prefix="scale_lsh_app_")
    t0 = time.time()
    similarity.ann_lsh_index_build(hist, lsh_dir)
    lsh_build = round(time.time() - t0, 3)
    t0 = time.time()
    n_lsh = similarity.ann_index_append(spark, batch, lsh_dir)
    out["ann_lsh_index_append"] = {
        "index_rows_before": emb.count() * (replicas - 1),
        "batch_rows": n_lsh,
        "append_secs": round(time.time() - t0, 3),
        "full_build_secs_same_data": lsh_build,
    }
    # round-6: LSH batch probe vs the per-query loop on the same index
    # (multiprobe union of all 32 queries' buckets → one pruned scan)
    t0 = time.time()
    for _qid, v in qvecs:
        similarity.ann_topk_lsh_indexed(spark, lsh_dir, v, k=10).collect()
    lsh_loop_secs = round(time.time() - t0, 3)
    t0 = time.time()
    similarity.ann_batch_topk_lsh_indexed(spark, lsh_dir, qvecs, k=10).collect()
    lsh_batch_secs = round(time.time() - t0, 3)
    out["ann_lsh_batch_probe"] = {
        "n_queries": len(qvecs),
        "per_query_loop_secs": lsh_loop_secs,
        "batch_secs": lsh_batch_secs,
        "loop_qps": round(len(qvecs) / max(lsh_loop_secs, 1e-9), 2),
        "batch_qps": round(len(qvecs) / max(lsh_batch_secs, 1e-9), 2),
        "speedup": round(lsh_loop_secs / max(lsh_batch_secs, 1e-9), 2),
    }
    shutil.rmtree(lsh_dir, ignore_errors=True)

    shutil.rmtree(f_dir, ignore_errors=True)
    shutil.rmtree(q_dir, ignore_errors=True)

    # round-5: bucketed fact-fact join rehearsal — the q3 headline
    # shape with orders/lineitem pre-bucketed on orderkey. Records the
    # exchange counts (bucketed plan must have zero) and wall-clock for
    # both variants at x10 facts.
    from thundercats_spark.queries.bucketed import (
        build_bucketed_facts,
        q3_shipping_priority_bucketed,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t0 = time.time()
        build_bucketed_facts(spark, tpch_dir, num_buckets=32, prefix="tc_bkt_scale")
        bkt_build = round(time.time() - t0, 3)
        bq3 = q3_shipping_priority_bucketed(spark, tpch_dir, prefix="tc_bkt_scale")
        bkt_plan = bq3._jdf.queryExecution().executedPlan().toString()
        t0 = time.time()
        bq3.write.format("noop").mode("overwrite").save()
        bkt_secs = round(time.time() - t0, 3)
        plain = qs["q3_shipping_priority"].spark_fn(spark, tpch_dir)
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        t0 = time.time()
        plain.write.format("noop").mode("overwrite").save()
        plain_secs = round(time.time() - t0, 3)
        out["bucketed_q3"] = {
            "build_secs": bkt_build,
            "bucketed_exchanges": bkt_plan.count("Exchange hashpartitioning"),
            "plain_exchanges": plain_plan.count("Exchange hashpartitioning"),
            "bucketed_q3_secs": bkt_secs,
            "plain_q3_secs": plain_secs,
        }
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS tc_bkt_scale_orders")
        spark.sql("DROP TABLE IF EXISTS tc_bkt_scale_lineitem")

    # round-6 late additions: the planning/provenance reports. Each is
    # one groupBy / one Arrow matmul over the scan, so the xN
    # wall-clock IS the scale story — any superlinear bend here means a
    # shuffle crept into the report path.
    from thundercats_spark.operators.curation import packing_efficiency_report
    from thundercats_spark.operators.skew import key_skew_report
    from thundercats_spark.operators.similarity import cluster_corpus_map

    t0 = time.time()
    packing_efficiency_report(d).write.format("noop").mode("overwrite").save()
    packing_secs = round(time.time() - t0, 3)

    # the replica corpus has true exact-dup multiplicity (verbatim
    # copies at r % 3 == 0), so the default full-text lineage is real
    t0 = time.time()
    lineage_rows = dedup.dedup_lineage(d, dups_only=True).count()
    lineage_secs = round(time.time() - t0, 3)

    orders_x = spark.read.parquet(f"{tpch_dir}/orders.parquet")
    t0 = time.time()
    skew_top = key_skew_report(
        orders_x, ["o_custkey"], n_partitions=32
    ).collect()
    skew_secs = round(time.time() - t0, 3)

    t0 = time.time()
    cmap = cluster_corpus_map(emb_x, n_clusters=16).collect()
    cmap_secs = round(time.time() - t0, 3)

    # balanced shards: three passes over the (doc_id, weight) projection
    # (count+nullcheck, boundary sample, bucket sums) + the assignment —
    # linear in rows, never a single-partition sort
    from thundercats_spark.functions.text_analysis import token_count
    from thundercats_spark.operators.curation import assign_balanced_shards

    t0 = time.time()
    sh = assign_balanced_shards(
        d.select("doc_id", token_count(F.col("text")).alias("w")), 64, "w"
    )
    masses = [
        r["m"]
        for r in sh.groupBy("shard").agg(F.sum("w").alias("m")).collect()
    ]
    shards_secs = round(time.time() - t0, 3)
    shard_imbalance = round(
        (max(masses) - min(masses)) / (sum(masses) / len(masses)), 4
    )

    # robust quality outliers (operators/robust.py, quantized path):
    # ONE (source, rounded-score) histogram agg + driver math. The
    # histogram is bounded by distinct quantized scores — the replica
    # corpus multiplies ROWS (xN) but its bounded variant set adds ~2
    # new scores per original, so hist rows must stay ~flat while the
    # scan grows xN: any superlinear bend means the histogram stopped
    # bounding the driver work.
    from thundercats_spark.functions.text_analysis import quality_score
    from thundercats_spark.operators.robust import mad_outlier_stats_quantized

    scored_x = d.select(
        "source", F.round(quality_score(F.col("text")), 6).alias("q")
    ).persist()  # one quality-expression scan feeds both measurements
    try:
        t0 = time.time()
        outl = mad_outlier_stats_quantized(scored_x, ["source"], "q", k=3.0)
        n_outl = outl.count()
        outlier_secs = round(time.time() - t0, 3)
        hist_rows = scored_x.groupBy("source", "q").count().count()
    finally:
        scored_x.unpersist()

    out["r06_reports"] = {
        "quality_outliers_secs": outlier_secs,
        "quality_outliers_hist_rows": int(hist_rows),
        "quality_outliers_groups": int(n_outl),
        "balanced_shards_secs": shards_secs,
        "balanced_shards_imbalance": shard_imbalance,
        "n_docs": n_docs,
        "packing_efficiency_secs": packing_secs,
        "dedup_lineage_secs": lineage_secs,
        "dedup_lineage_rows": int(lineage_rows),
        "key_skew_orders_rows": orders_x.count(),
        "key_skew_secs": skew_secs,
        "key_skew_max_suggested_salt": int(skew_top[0]["suggested_salt"]),
        "cluster_map_n_vectors": emb_x.count(),
        "cluster_map_secs": cmap_secs,
        "cluster_map_clusters": len(cmap),
    }

    fname = "scale_stats.json" if replicas == 10 else f"scale_stats_x{replicas}.json"
    dest = os.path.join(REPO, "tools", fname)
    # merge-preserve: other rehearsal tools (layout_stats.py) own keys in
    # the same file — a fresh overwrite would silently wipe them from the
    # BENCH record. Same formatting as layout_stats to keep diffs small.
    merged = {}
    if os.path.exists(dest):
        with open(dest) as f:
            merged = json.load(f)
    merged.update(out)
    with open(dest, "w") as f:
        json.dump(merged, f, indent=2, sort_keys=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
