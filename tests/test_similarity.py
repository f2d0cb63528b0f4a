"""Similarity-search operators: exactness of brute force, recall of LSH."""

import math

import pyspark.sql.functions as F
import pytest

from thundercats_spark.functions import vectors as V
from thundercats_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_vector_functions(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 4.0, 4.0])], "a array<double>, b array<double>")
    row = df.select(
        V.dot(F.col("a"), F.col("b")).alias("dot"),
        V.norm(F.col("a")).alias("na"),
        V.cosine(F.col("a"), F.col("b")).alias("cos"),
        V.euclidean(F.col("a"), F.col("b")).alias("eu"),
    ).first()
    assert row["dot"] == 18.0
    assert row["na"] == 3.0
    assert abs(row["cos"] - 1.0) < 1e-12
    assert abs(row["eu"] - 3.0) < 1e-12


def test_l2_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "a array<double>")
    out = df.select(V.l2_normalize(F.col("a")).alias("n")).first()["n"]
    assert abs(math.hypot(*out) - 1.0) < 1e-12


def test_bruteforce_topk_exact(emb):
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    out = similarity.ann_topk_bruteforce(emb, qv, k=5).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 0 and abs(out[0]["cos"] - 1.0) < 1e-5
    cosines = [r["cos"] for r in out]
    assert cosines == sorted(cosines, reverse=True)


def test_lsh_topk_recall(emb):
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in similarity.ann_topk_bruteforce(emb, qv, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.ann_topk_lsh(emb, qv, k=10).collect()]
    # the query vector itself must always be recalled from its own bucket
    assert 0 in approx
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.3, f"LSH top-10 overlap {overlap}"


def test_cosine_pairs_lsh_subset_of_bruteforce(emb):
    brute = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs_bruteforce(emb, threshold=0.45).collect()
    }
    # threshold 0.45 is far from 1 → short signatures + many tables
    # (collision prob (1-θ/π)^b per table; b=4, 12 tables → ~0.9 recall)
    lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs_lsh(
            emb, threshold=0.45, n_planes=4, n_tables=12
        ).collect()
    }
    assert lsh <= brute  # cosine verification → precision 1.0
    if brute:
        assert len(lsh) / len(brute) >= 0.5, f"pair recall {len(lsh)}/{len(brute)}"


def test_hyperplane_signature_deterministic(emb):
    sig = similarity.hyperplane_signature(F.col("embedding"), 64, 8, seed=7)
    a = emb.select(sig.alias("s")).collect()
    b = emb.select(sig.alias("s")).collect()
    assert [r["s"] for r in a] == [r["s"] for r in b]


def test_ivf_exhaustive_probe_equals_bruteforce(emb):
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    exact = [(r["vec_id"], r["cos"]) for r in similarity.ann_topk_bruteforce(emb, qv, k=10).collect()]
    cents = similarity.ivf_train(emb, n_clusters=8, iters=3)
    full = [
        (r["vec_id"], r["cos"])
        for r in similarity.ann_topk_ivf(
            emb, qv, k=10, n_clusters=8, nprobe=8, centroids=cents
        ).collect()
    ]
    assert full == exact  # nprobe = n_clusters degrades to exact search


def test_ivf_recenter_arrow_equals_expr(emb):
    """The fused Arrow partial-sum re-center (the large-dim plan) must
    train the same quantizer as the historical expression path — same
    init, same assignment rule, same mean, differing only in float
    summation order."""
    import numpy as np

    ce = similarity.ivf_train(emb, n_clusters=8, iters=3, recenter="expr")
    ca = similarity.ivf_train(emb, n_clusters=8, iters=3, recenter="arrow")
    assert np.allclose(np.array(ce), np.array(ca), atol=1e-9)
    # and the assignments they induce are identical
    ae = similarity.ivf_assign(emb, ce).select("vec_id", "__cluster")
    aa = similarity.ivf_assign(emb, ca).select("vec_id", "__cluster")
    assert ae.exceptAll(aa).count() == 0 and aa.exceptAll(ae).count() == 0
    with pytest.raises(ValueError, match="recenter"):
        similarity.ivf_train(emb, n_clusters=4, iters=1, recenter="bogus")


def test_ivf_recall_and_determinism(emb):
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    exact = [r["vec_id"] for r in similarity.ann_topk_bruteforce(emb, qv, k=10).collect()]
    cents = similarity.ivf_train(emb, n_clusters=8, iters=3)
    cents2 = similarity.ivf_train(emb, n_clusters=8, iters=3)
    assert cents == cents2  # deterministic init + Lloyd
    approx = [
        r["vec_id"]
        for r in similarity.ann_topk_ivf(
            emb, qv, k=10, n_clusters=8, nprobe=3, centroids=cents
        ).collect()
    ]
    # the query's own cell is always probed → its exact neighbors inside
    # that cell are found; labeled clusters make recall non-trivial
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, recall


def test_ann_indexed_prunes_partitions_and_matches_ivf(emb, tmp_path_factory):
    """The persisted-index probe must (a) return exactly what the
    per-query ivf path returns with the same centroids, and (b) plan a
    partition-pruned scan — the __cluster filter shows up as a
    PartitionFilter and only nprobe partitions are read."""
    spark = emb.sparkSession
    idx = str(tmp_path_factory.mktemp("annidx") / "emb_idx")
    cents = similarity.ann_index_build(emb, idx, n_clusters=8)
    assert similarity.ann_index_centroids(spark, idx) == cents

    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    indexed = similarity.ann_topk_indexed(spark, idx, qv, k=10, nprobe=3)

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cluster" in plan.split("PartitionFilters", 1)[1][:200], plan
    _assert_single_probe_plan(plan)
    # only the probed clusters are scanned
    scanned = spark.read.parquet(idx).where(F.col("__cluster").isin(
        *_probed(cents, qv, 3))).count()
    full = spark.read.parquet(idx).count()
    assert scanned < full

    via_ivf = [
        (r["vec_id"], r["cos"])
        for r in similarity.ann_topk_ivf(
            emb, qv, k=10, n_clusters=8, nprobe=3, centroids=cents
        ).collect()
    ]
    via_index = [(r["vec_id"], r["cos"]) for r in indexed.collect()]
    assert via_index == via_ivf


def _assert_single_probe_plan(plan):
    """A single-query probe keeps the query as literals: one
    TakeOrderedAndProject over the pruned scan, no join (the batch
    prober's broadcast join measured slower for one query)."""
    assert "TakeOrderedAndProject" in plan and "Join" not in plan, plan


def _probed(cents, qv, nprobe):
    import numpy as np

    cmat = np.array(cents, dtype=np.float64)
    cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    q = np.asarray(qv, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    return [int(i) for i in np.argsort(-(cmat @ q))[:nprobe]]


def test_ivf_assign_covers_all_clusters(emb):
    cents = similarity.ivf_train(emb, n_clusters=4, iters=3)
    counts = similarity.ivf_assign(emb, cents).groupBy("__cluster").count().collect()
    assert sum(r["count"] for r in counts) == emb.count()
    assert {r["__cluster"] for r in counts} <= set(range(4))


def test_ann_batch_topk_matches_per_query_bruteforce(emb):
    qs = emb.where(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    data = emb.where(F.col("vec_id") > 2)
    batch = similarity.ann_batch_topk(data, qs, k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], r["cos"]))
    for qid in [0, 1, 2]:
        qv = [float(x) for x in emb.where(F.col("vec_id") == qid).first()["embedding"]]
        exact = similarity.ann_topk_bruteforce(data, qv, k=5).collect()
        expect = [(i + 1, r["vec_id"], r["cos"]) for i, r in enumerate(exact)]
        assert sorted(got[qid]) == expect, qid


def test_semantic_dedup_single_cell_is_exact(emb):
    from thundercats_spark.operators.components import connected_components
    from thundercats_spark.operators.similarity import (
        cosine_pairs_bruteforce,
        semantic_dedup,
    )

    t = 0.45
    # expected survivors from the exact pair rule
    pairs = cosine_pairs_bruteforce(emb, threshold=t)
    comp = connected_components(pairs)
    dropped = {r["id"] for r in comp.collect() if r["id"] != r["component"]}
    all_ids = {r["vec_id"] for r in emb.collect()}
    expected = all_ids - dropped
    got = {r["vec_id"] for r in semantic_dedup(emb, threshold=t, n_clusters=1).collect()}
    assert got == expected
    assert len(got) < len(all_ids)  # something was actually deduped


def test_semantic_dedup_clustered_recall(emb, spark):
    import pyspark.sql.functions as F

    from thundercats_spark.operators.similarity import semantic_dedup

    # plant exact duplicate vectors (ids +1000): they always land in
    # the SAME cell, so clustering must drop every planted copy
    dups = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    planted = emb.union(dups)
    survivors = {
        r["vec_id"]
        for r in semantic_dedup(planted, threshold=0.999, n_clusters=4).collect()
    }
    assert all(1000 + i not in survivors for i in range(20))  # copies dropped
    assert all(i in survivors for i in range(20))  # min-id originals kept
    assert len(survivors) == emb.count()


def test_ann_lsh_indexed_prunes_partitions_and_matches_lsh(emb, tmp_path_factory):
    """The persisted LSH index probe must (a) return exactly what the
    per-query signature-recompute path returns with the same
    (n_planes, seed, multiprobe_bits), and (b) plan a partition-pruned
    scan — the __sig IN-list shows up as a PartitionFilter and only the
    probed buckets are read."""
    spark = emb.sparkSession
    idx = str(tmp_path_factory.mktemp("annlsh") / "emb_lsh_idx")
    dim = similarity.ann_lsh_index_build(emb, idx, n_planes=8, seed=7)
    assert dim == len(emb.first()["embedding"])

    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    indexed = similarity.ann_topk_lsh_indexed(
        spark, idx, qv, k=10, n_planes=8, seed=7, multiprobe_bits=2
    )

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__sig" in plan.split("PartitionFilters", 1)[1][:300], plan
    _assert_single_probe_plan(plan)
    # the probe set is a strict subset of buckets → pruned scan is smaller
    probe = similarity._lsh_probe_set(qv, 8, 7, 2)
    scanned = spark.read.parquet(idx).where(F.col("__sig").isin(*probe)).count()
    assert 0 < scanned < emb.count()

    via_lsh = [
        (r["vec_id"], r["cos"])
        for r in similarity.ann_topk_lsh(
            emb, qv, k=10, n_planes=8, seed=7, multiprobe_bits=2
        ).collect()
    ]
    via_index = [(r["vec_id"], r["cos"]) for r in indexed.collect()]
    assert via_index == via_lsh

def test_index_meta_validates_hyperparameters(emb, tmp_path_factory):
    """The persisted indexes carry (dim, n_planes/n_clusters, seed)
    metadata; probing with drifted hyperparameters must raise — a wrong
    (n_planes, seed) silently probes the wrong LSH buckets otherwise."""
    import pytest

    spark = emb.sparkSession
    idx = str(tmp_path_factory.mktemp("annmeta") / "lsh_idx")
    dim = similarity.ann_lsh_index_build(emb, idx, n_planes=8, seed=7)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]

    # param assertions that agree pass; drifted ones fail loudly
    similarity.ann_topk_lsh_indexed(spark, idx, qv, n_planes=8, seed=7)
    with pytest.raises(ValueError, match="n_planes=9"):
        similarity.ann_topk_lsh_indexed(spark, idx, qv, n_planes=9)
    with pytest.raises(ValueError, match="seed=8"):
        similarity.ann_topk_lsh_indexed(spark, idx, qv, seed=8)
    # a query vector of the wrong dimensionality can't silently hash
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_topk_lsh_indexed(spark, idx, qv + [0.0])
    # an index directory without metadata is unprobeable, not assumed
    bare = str(tmp_path_factory.mktemp("annmeta") / "bare_idx")
    emb.withColumn("__sig", F.lit(0)).write.partitionBy("__sig").parquet(bare)
    with pytest.raises(ValueError, match="no metadata"):
        similarity.ann_topk_lsh_indexed(spark, bare, qv)

    # IVF: persisted meta + query-dim validation
    ividx = str(tmp_path_factory.mktemp("annmeta") / "ivf_idx")
    similarity.ann_index_build(emb, ividx, n_clusters=4)
    meta = spark.read.parquet(ividx + "_meta").first().asDict()
    assert meta == {"dim": dim, "n_clusters": 4, "seed": 7}
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_topk_indexed(spark, ividx, qv + [0.0])


def test_lsh_index_build_accepts_known_dim(emb, tmp_path_factory):
    """Passing dim skips the discovery first() and must produce the
    byte-identical index (same hyperplanes → same signatures)."""
    spark = emb.sparkSession
    dim = len(emb.first()["embedding"])
    a = str(tmp_path_factory.mktemp("anndim") / "a")
    b = str(tmp_path_factory.mktemp("anndim") / "b")
    similarity.ann_lsh_index_build(emb, a)
    assert similarity.ann_lsh_index_build(emb, b, dim=dim) == dim
    sig_a = {(r["vec_id"], r["__sig"]) for r in spark.read.parquet(a).collect()}
    sig_b = {(r["vec_id"], r["__sig"]) for r in spark.read.parquet(b).collect()}
    assert sig_a == sig_b


def test_quantized_index_recall_size_and_pruning(emb, tmp_path_factory):
    """int8 IVF index: (a) probe plan is partition-pruned; (b) ranking
    recall vs the FLOAT index at the same centroids stays high (the
    only divergence is bounded quantization error); (c) the index is
    materially smaller on disk than the float index."""
    import os

    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annq8")
    fidx, qidx = str(base / "float_idx"), str(base / "q8_idx")
    cents = similarity.ann_index_build(emb, fidx, n_clusters=8)
    assert similarity.ann_index_build(
        emb, qidx, centroids=cents, quantize=True
    ) == cents

    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    qres = similarity.ann_topk_indexed(spark, qidx, qv, k=10, nprobe=3)
    plan = qres._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cluster" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan
    _assert_single_probe_plan(plan)

    fl = [r["vec_id"] for r in
          similarity.ann_topk_indexed(spark, fidx, qv, k=10, nprobe=3).collect()]
    qt = [r["vec_id"] for r in qres.collect()]
    overlap = len(set(fl) & set(qt)) / 10
    assert overlap >= 0.8, f"quantized-vs-float top-10 overlap {overlap}"
    assert qt[0] == 1  # the query's own vector still ranks first

    def du(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path) for f in fs
        )

    assert du(qidx) < 0.6 * du(fidx), (du(qidx), du(fidx))


def test_ivf_prober_serves_both_codecs_and_checks_dim(emb, tmp_path_factory):
    """One IVF prober reads the codec from the index metadata: float
    rows rank by the float cosine, int8 rows by the integer cosine
    (the query's own vector first either way); a wrong query dim fails
    loudly on both."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annq8meta")
    fidx, qidx = str(base / "float_idx"), str(base / "q8_idx")
    cents = similarity.ann_index_build(emb, fidx, n_clusters=4)
    similarity.ann_index_build(emb, qidx, centroids=cents, quantize=True)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    fl = similarity.ann_topk_indexed(spark, fidx, qv, k=5, nprobe=4).collect()
    qt = similarity.ann_topk_indexed(spark, qidx, qv, k=5, nprobe=4).collect()
    exact = similarity.ann_topk_bruteforce(emb, qv, k=5).collect()
    assert [tuple(r) for r in fl] == [tuple(r) for r in exact]
    assert qt[0]["vec_id"] == 1 and len(qt) == 5
    assert [r["cos"] for r in qt] != [r["cos"] for r in fl]  # int8 scores
    for idx in (fidx, qidx):
        with pytest.raises(ValueError, match="dim"):
            similarity.ann_topk_indexed(spark, idx, qv + [0.0])


def test_quantized_query_codes_match_stored_rule(spark):
    """The driver-side query quantization must follow the same
    half-away-from-zero rule as quantize_embeddings, or query codes
    would systematically disagree with stored codes at .5 boundaries."""
    from thundercats_spark.operators.embeddings import quantize_embeddings

    vec = [2.54, -2.54, 1.27, -1.27, 0.0, 5.08]  # scale = .04: exact .5 hits
    df = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    stored = quantize_embeddings(df).first()
    s = stored["q_scale"]
    import math

    qq = [int(math.copysign(math.floor(abs(x / s) + 0.5), x)) for x in vec]
    assert qq == list(stored["q"])


def test_ann_index_append_matches_full_rebuild(emb, tmp_path_factory):
    """Folding new vectors into a persisted index (frozen centroids,
    touched-partition merge) must yield exactly the index a full
    rebuild with the same centroids produces — for the float AND the
    int8 layout — and replaying the same batch must be a no-op
    (upsert-by-id idempotence)."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annapp")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 2).first()["embedding"]]

    def probe(p):
        return similarity.ann_topk_indexed(spark, p, qv, k=10, nprobe=3)

    for kind, quantize in (("float", False), ("q8", True)):
        inc, full = str(base / f"{kind}_inc"), str(base / f"{kind}_full")
        cents = similarity.ann_index_build(
            half_a, inc, n_clusters=4, quantize=quantize
        )
        similarity.ann_index_build(emb, full, centroids=cents, quantize=quantize)
        n = similarity.ann_index_append(spark, half_b, inc)
        assert n == half_b.count()
        got = [(r["vec_id"], r["cos"]) for r in probe(inc).collect()]
        want = [(r["vec_id"], r["cos"]) for r in probe(full).collect()]
        assert got == want, kind
        # replay the same batch: idempotent, index unchanged
        similarity.ann_index_append(spark, half_b, inc)
        rows_inc = sorted(
            r["vec_id"] for r in spark.read.parquet(inc).collect()
        )
        rows_full = sorted(
            r["vec_id"] for r in spark.read.parquet(full).collect()
        )
        assert rows_inc == rows_full, kind


def test_ann_index_append_validates(emb, tmp_path_factory):
    import pytest

    spark = emb.sparkSession
    idx = str(tmp_path_factory.mktemp("annappv") / "idx")
    similarity.ann_index_build(emb, idx, n_clusters=4)
    bad = emb.select("vec_id", F.slice("embedding", 1, 3).alias("embedding"))
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_index_append(spark, bad, idx)
    # appending to a directory that isn't an index fails loudly
    with pytest.raises(ValueError, match="no metadata"):
        similarity.ann_index_append(
            spark, emb, str(tmp_path_factory.mktemp("annappv") / "nope")
        )


def test_ann_index_append_update_moves_cluster(spark, tmp_path_factory):
    """A re-sent id whose UPDATED vector assigns to a different cluster
    must not leave its stale row behind in the old cluster — the index
    must never hold duplicate ids (review finding r05)."""
    import numpy as np

    # two well-separated directions -> two stable clusters
    rng = np.random.RandomState(3)
    rows = []
    for i in range(40):
        base = [10.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 10.0, 0.0]
        rows.append((i, [float(b + rng.uniform(-0.5, 0.5)) for b in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path_factory.mktemp("annmove") / "idx")
    similarity.ann_index_build(df, idx, n_clusters=2)
    before = spark.read.parquet(idx)
    old_cluster = before.where("vec_id = 0").first()["__cluster"]

    # re-send id 0 with a vector pointing the opposite direction of
    # wherever it currently sits -> assigns to the other cluster
    target = [0.0, 10.0, 0.0] if before.where("vec_id = 0").first()[
        "embedding"][0] > 5 else [10.0, 0.0, 0.0]
    moved = spark.createDataFrame(
        [(0, target)], "vec_id long, embedding array<double>"
    )
    similarity.ann_index_append(spark, moved, idx)
    after = spark.read.parquet(idx)
    dup = after.groupBy("vec_id").count().where("count > 1").collect()
    assert dup == [], dup  # no duplicate ids anywhere
    got = after.where("vec_id = 0").collect()
    assert len(got) == 1 and got[0]["__cluster"] != old_cluster
    assert after.count() == 40  # nothing else lost


def test_ann_index_append_rejects_in_batch_duplicate_ids(emb, tmp_path_factory):
    import pytest

    spark = emb.sparkSession
    idx = str(tmp_path_factory.mktemp("anndup") / "idx")
    similarity.ann_index_build(emb, idx, n_clusters=4)
    row = emb.where("vec_id = 1").first()
    dup_batch = spark.createDataFrame(
        [(999, list(row["embedding"]), 0), (999, list(row["embedding"]), 0)],
        emb.schema,
    )
    with pytest.raises(ValueError, match="duplicate"):
        similarity.ann_index_append(spark, dup_batch, idx)


def test_ann_index_stats_reports_health(emb, tmp_path_factory):
    spark = emb.sparkSession
    idx = str(tmp_path_factory.mktemp("annstats") / "idx")
    similarity.ann_index_build(emb, idx, n_clusters=4)
    s = similarity.ann_index_stats(spark, idx)
    assert s["n_vectors"] == emb.count()
    assert s["n_cells"] + s["empty_cells"] == 4 == s["declared_clusters"]
    assert sum(s["cells"].values()) == s["n_vectors"]
    assert s["skew_ratio"] >= 1.0 and not s["quantized"]
    # append shifts the counts the report sees
    extra = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    similarity.ann_index_append(spark, extra, idx, assume_new_ids=True)
    s2 = similarity.ann_index_stats(spark, idx)
    assert s2["n_vectors"] == 2 * emb.count()
    # the int8 layout carries the flag
    qidx = str(tmp_path_factory.mktemp("annstats") / "qidx")
    similarity.ann_index_build(emb, qidx, n_clusters=4, quantize=True)
    assert similarity.ann_index_stats(spark, qidx)["quantized"]


def test_ann_index_stats_covers_both_layouts(emb, tmp_path_factory):
    """ann_index_stats reads the LSH ``__sig`` layout too (r05 verdict:
    it used to reject it) — cell universe 2^n_planes, same balance
    report; IVF indexes keep reporting as before."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annstats2")
    lsh = str(base / "lsh")
    similarity.ann_lsh_index_build(emb, lsh, n_planes=6)
    s = similarity.ann_index_stats(spark, lsh)
    assert s["layout"] == "lsh"
    assert s["declared_clusters"] == 2**6
    assert s["n_vectors"] == emb.count()
    assert sum(s["cells"].values()) == s["n_vectors"]
    ivf = str(base / "ivf")
    similarity.ann_index_build(emb, ivf, n_clusters=4)
    assert similarity.ann_index_stats(spark, ivf)["layout"] == "ivf"


def test_ann_lsh_index_append_matches_full_rebuild(emb, tmp_path_factory):
    """LSH persisted-index append: signatures are pure functions of
    (vector, n_planes, seed), so appending half the corpus into an
    index built from the other half must reproduce the full-build index
    EXACTLY — same (id, __sig) rows, same probe results — and replaying
    the batch must be a no-op (upsert idempotence)."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("lshapp")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 2).first()["embedding"]]
    inc, full = str(base / "inc"), str(base / "full")
    similarity.ann_lsh_index_build(half_a, inc)
    similarity.ann_lsh_index_build(emb, full)
    n = similarity.ann_index_append(spark, half_b, inc)
    assert n == half_b.count()
    got = [
        (r["vec_id"], r["cos"])
        for r in similarity.ann_topk_lsh_indexed(spark, inc, qv, k=10).collect()
    ]
    want = [
        (r["vec_id"], r["cos"])
        for r in similarity.ann_topk_lsh_indexed(spark, full, qv, k=10).collect()
    ]
    assert got == want
    similarity.ann_index_append(spark, half_b, inc)  # replay
    pairs = lambda p: sorted(  # noqa: E731
        (r["vec_id"], r["__sig"]) for r in spark.read.parquet(p).collect()
    )
    assert pairs(inc) == pairs(full)


def test_ann_lsh_index_append_update_moves_bucket_and_validates(
    emb, tmp_path_factory
):
    """A re-sent id whose updated vector hashes to a DIFFERENT bucket
    must not leave its stale row behind (same stale-row hunt as the IVF
    append); a dim mismatch fails loudly."""
    import pytest

    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("lshmove")
    idx = str(base / "idx")
    similarity.ann_lsh_index_build(emb, idx)
    row = emb.where("vec_id = 5").first()
    old_sig = (
        spark.read.parquet(idx).where("vec_id = 5").first()["__sig"]
    )
    # negating the vector flips every hyperplane sign bit -> a
    # guaranteed different signature
    moved = spark.createDataFrame(
        [(5, [-float(x) for x in row["embedding"]], int(row["label"]))],
        emb.schema,
    )
    similarity.ann_index_append(spark, moved, idx)
    after = spark.read.parquet(idx)
    assert after.groupBy("vec_id").count().where("count > 1").collect() == []
    got = after.where("vec_id = 5").collect()
    assert len(got) == 1 and got[0]["__sig"] != old_sig
    assert after.count() == emb.count()

    bad = emb.select("vec_id", F.slice("embedding", 1, 3).alias("embedding"))
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_index_append(spark, bad, idx)


def test_ann_batch_topk_indexed_parity_and_single_scan(emb, tmp_path_factory):
    """The batch probe must return, per query, exactly the per-query
    prober's rows (float AND int8 layouts) while planning ONE
    partition-pruned scan of the index for the whole batch."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annbatch")
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(0, 3, 7)).collect()
    ]
    def probe_one(p, v):
        return similarity.ann_topk_indexed(spark, p, v, k=5, nprobe=2)

    for kind, quantize in (("float", False), ("q8", True)):
        idx = str(base / kind)
        similarity.ann_index_build(emb, idx, n_clusters=4, quantize=quantize)
        out = similarity.ann_batch_topk_indexed(spark, idx, qs, k=5, nprobe=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1, (kind, plan)
        assert "PartitionFilters" in plan and "__cluster" in plan.split(
            "PartitionFilters", 1
        )[1][:200], (kind, plan)
        got = {}
        for r in out.collect():
            got.setdefault(r["q_id"], []).append(
                (r["rank"], r["vec_id"], r["cos"])
            )
        for qid, v in qs:
            per = probe_one(idx, v).collect()
            expect = [(i + 1, r["vec_id"], r["cos"]) for i, r in enumerate(per)]
            assert sorted(got[qid]) == expect, (kind, qid)


def test_ann_batch_topk_indexed_validates(emb, tmp_path_factory):
    import pytest

    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annbatchv")
    idx = str(base / "idx")
    similarity.ann_index_build(emb, idx, n_clusters=4)
    qv = [float(x) for x in emb.first()["embedding"]]
    with pytest.raises(ValueError, match="max_queries"):
        similarity.ann_batch_topk_indexed(
            spark, idx, [(i, qv) for i in range(5)], max_queries=3
        )
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_batch_topk_indexed(spark, idx, [(0, qv[:3])])
    # DataFrame-shaped query batches work too (same schema as
    # ann_batch_topk's query side)
    q_df = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = similarity.ann_batch_topk_indexed(spark, idx, q_df, k=3, nprobe=4)
    assert {r["q_id"] for r in out.collect()} == {0, 1}
    lsh = str(base / "lsh")
    similarity.ann_lsh_index_build(emb, lsh)
    with pytest.raises(ValueError, match="LSH layout"):
        similarity.ann_batch_topk_indexed(spark, lsh, [(0, qv)])


def test_maintain_ann_index_rebuilds_on_drift(spark, tmp_path_factory):
    """Appending a drifted batch (all mass in a direction the original
    centroids never saw) degrades cell balance past the threshold; the
    maintenance operator must detect it, rebuild with retrained
    centroids from the source, and the post-rebuild stats must
    recover. Without a source it only flags."""
    import numpy as np

    rng = np.random.RandomState(5)
    base_rows = [
        (i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(200)
    ]
    # drifted batch: a tight far-away cluster the quantizer never saw
    drift_rows = [
        (1000 + i, [float(x + 50.0) for x in rng.normal(0, 1.0, 8)])
        for i in range(600)
    ]
    schema = "vec_id long, embedding array<double>"
    base_df = spark.createDataFrame(base_rows, schema)
    drift_df = spark.createDataFrame(drift_rows, schema)
    idx = str(tmp_path_factory.mktemp("maint") / "idx")
    similarity.ann_index_build(base_df, idx, n_clusters=8)

    source = base_df.unionByName(drift_df)
    flagged = similarity.maintain_ann_index(
        spark, drift_df, idx, source=None, max_skew_ratio=2.0,
        assume_new_ids=True,
    )
    assert flagged["appended"] == 600 and flagged["degraded"]
    assert not flagged["rebuilt"]

    report = similarity.maintain_ann_index(
        spark, None, idx, source=source, max_skew_ratio=2.0
    )
    assert report["degraded"] and report["rebuilt"]
    assert report["stats_after"]["n_vectors"] == 800
    assert report["stats_after"]["skew_ratio"] < report["stats"]["skew_ratio"]
    # healthy index + no batch -> pure no-op report
    calm = similarity.maintain_ann_index(spark, None, idx, source=source)
    assert not calm["degraded"] and not calm["rebuilt"] and calm["appended"] == 0


def test_ann_index_append_serves_both_families(emb, tmp_path_factory):
    """One appender reads the family from the index's own metadata: an
    IVF index and an LSH index each take the same batch, and a metadata
    doc naming neither family is a loud error (never a guessed
    fallback)."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annauto")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)

    ivf = str(base / "ivf")
    similarity.ann_index_build(half_a, ivf, n_clusters=4)
    assert similarity.ann_index_append(spark, half_b, ivf) == half_b.count()
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(ivf).select("vec_id").collect()
    ) == sorted(r["vec_id"] for r in emb.select("vec_id").collect())

    lsh = str(base / "lsh")
    similarity.ann_lsh_index_build(half_a, lsh, n_planes=6)
    assert similarity.ann_index_append(spark, half_b, lsh) == half_b.count()
    assert spark.read.parquet(lsh).count() == emb.count()

    bogus = str(base / "bogus")
    spark.range(1).write.parquet(bogus)
    similarity._write_index_meta(spark, bogus, {"dim": 8})
    with pytest.raises(ValueError, match="neither"):
        similarity.ann_index_append(spark, half_b, bogus)


def test_maintain_ann_index_rejects_lsh_layout(emb, tmp_path_factory):
    """The maintenance automation retrains IVF centroids; pointed at an
    LSH index (whose natural bucket sparsity would trip the empty-cell
    threshold on EVERY healthy index) it must refuse loudly rather than
    silently overwrite the LSH layout with an IVF rebuild."""
    spark = emb.sparkSession
    lsh = str(tmp_path_factory.mktemp("maintlsh") / "lsh")
    similarity.ann_lsh_index_build(emb, lsh, n_planes=6)
    before = sorted(r["vec_id"] for r in spark.read.parquet(lsh).collect())
    with pytest.raises(ValueError, match="not an IVF layout"):
        similarity.maintain_ann_index(spark, None, lsh, source=emb)
    # the index is untouched
    after = sorted(r["vec_id"] for r in spark.read.parquet(lsh).collect())
    assert after == before


def test_ann_batch_topk_indexed_rejects_duplicate_q_ids(emb, tmp_path_factory):
    """Two vectors under one q_id would rank the union of both
    candidate sets in a single window — ambiguous, so rejected loudly
    (same rule as the upsert engine's in-batch duplicate ids)."""
    spark = emb.sparkSession
    idx = str(tmp_path_factory.mktemp("batchdup") / "idx")
    similarity.ann_index_build(emb, idx, n_clusters=4)
    v1 = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    v2 = [float(x) for x in emb.where(F.col("vec_id") == 2).first()["embedding"]]
    with pytest.raises(ValueError, match="duplicate q_id"):
        similarity.ann_batch_topk_indexed(spark, idx, [(7, v1), (7, v2)], k=3)
    dup_df = spark.createDataFrame(
        [(7, v1), (7, v2)], "q_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="duplicate q_id"):
        similarity.ann_batch_topk_indexed(spark, idx, dup_df, k=3)


def test_ann_batch_topk_lsh_indexed_parity_and_single_scan(emb, tmp_path_factory):
    """The LSH batch probe must return, per query, exactly the
    per-query LSH prober's rows while planning ONE partition-pruned
    scan of the __sig index for the whole batch; layout crosses are
    loud errors in both directions."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annbatchlsh")
    idx = str(base / "lsh")
    similarity.ann_lsh_index_build(emb, idx, n_planes=8)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(0, 3, 7)).collect()
    ]
    out = similarity.ann_batch_topk_lsh_indexed(
        spark, idx, qs, k=5, multiprobe_bits=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "PartitionFilters" in plan and "__sig" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan
    got = {}
    for r in out.collect():
        got.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], r["cos"]))
    for qid, v in qs:
        per = similarity.ann_topk_lsh_indexed(
            spark, idx, v, k=5, multiprobe_bits=1
        ).collect()
        expect = [(i + 1, r["vec_id"], r["cos"]) for i, r in enumerate(per)]
        assert sorted(got[qid]) == expect, qid
    # shared validation: duplicate q_ids and dim mismatches are loud
    import pytest

    with pytest.raises(ValueError, match="duplicate q_id"):
        similarity.ann_batch_topk_lsh_indexed(
            spark, idx, [(1, qs[0][1]), (1, qs[1][1])]
        )
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_batch_topk_lsh_indexed(spark, idx, [(0, qs[0][1][:3])])
    # pointing the LSH batch prober at an IVF index is a loud error
    ivf = str(base / "ivf")
    similarity.ann_index_build(emb, ivf, n_clusters=4)
    with pytest.raises(ValueError, match="IVF layout"):
        similarity.ann_batch_topk_lsh_indexed(spark, ivf, qs)


def test_ann_index_stats_bounds_driver_cost(emb, tmp_path_factory):
    """With more occupied cells than max_cells, the report's scalars
    stay exact (computed distributed) while `cells` truncates to the
    HEAVIEST max_cells and says so — the LSH occupied-bucket count
    tracks corpus size, so the full dict can't always come back."""
    spark = emb.sparkSession
    lsh = str(tmp_path_factory.mktemp("annstats3") / "lsh")
    similarity.ann_lsh_index_build(emb, lsh, n_planes=8)
    full = similarity.ann_index_stats(spark, lsh)
    assert full["cells_complete"]
    capped = similarity.ann_index_stats(spark, lsh, max_cells=5)
    assert not capped["cells_complete"]
    assert len(capped["cells"]) == 5
    # scalar stats identical to the complete report
    for k in ("n_vectors", "n_cells", "min_cell", "max_cell",
              "mean_cell", "skew_ratio", "empty_cells"):
        assert capped[k] == full[k], k
    # the capped dict is exactly the heaviest 5 of the full dict
    heaviest = sorted(
        full["cells"].items(), key=lambda kv: (-kv[1], kv[0])
    )[:5]
    assert capped["cells"] == dict(heaviest)


def test_lsh_quantized_index_recall_size_pruning_and_rejections(
    emb, tmp_path_factory
):
    """int8 LSH index — the last corner of the float/int8 x IVF/LSH
    layout matrix: (a) probe plan partition-pruned on __sig; (b) its
    candidate set is BY CONSTRUCTION the float LSH prober's (same
    float-vector signatures), so top-10 overlap stays high with only
    quantization-error rank divergence; (c) materially smaller on
    disk; (d) the one prober serves both codecs and rejects a wrong
    query dim on either."""
    import os

    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("lshq8")
    fidx, qidx = str(base / "float_lsh"), str(base / "q8_lsh")
    similarity.ann_lsh_index_build(emb, fidx, n_planes=8)
    similarity.ann_lsh_index_build(emb, qidx, n_planes=8, quantize=True)

    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    qres = similarity.ann_topk_lsh_indexed(spark, qidx, qv, k=10)
    plan = qres._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__sig" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan
    _assert_single_probe_plan(plan)

    fl = [r["vec_id"] for r in
          similarity.ann_topk_lsh_indexed(spark, fidx, qv, k=10).collect()]
    qt = [r["vec_id"] for r in qres.collect()]
    overlap = len(set(fl) & set(qt)) / 10
    assert overlap >= 0.8, f"int8-vs-float LSH top-10 overlap {overlap}"
    assert qt[0] == 1  # the query's own vector still ranks first

    def du(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path) for f in fs
        )

    # size: measure on a COARSE bucket layout (n_planes=4 → ~16
    # buckets) where payload bytes dominate — at 8 planes these 500
    # rows fragment over ~250 tiny files and parquet per-file overhead
    # swamps the int8 saving (at corpus scale the payload dominates)
    fc, qc = str(base / "float_coarse"), str(base / "q8_coarse")
    similarity.ann_lsh_index_build(emb, fc, n_planes=4)
    similarity.ann_lsh_index_build(emb, qc, n_planes=4, quantize=True)
    assert du(qc) < 0.6 * du(fc), (du(qc), du(fc))
    # both codecs go through the one prober (float rows above, int8
    # rows in qres); a wrong query dim fails loudly on either
    for idx in (fidx, qidx):
        with pytest.raises(ValueError, match="dim"):
            similarity.ann_topk_lsh_indexed(spark, idx, qv + [0.0])


def test_lsh_quantized_append_and_batch_probe_parity(emb, tmp_path_factory):
    """ann_index_append detects the int8 LSH layout (quantizes the
    batch, signatures from the float vectors) — append equals a full
    rebuild, replay is a no-op — and the batch prober ranks int8 rows
    identically to the single-query prober."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("lshq8app")
    inc, full = str(base / "inc"), str(base / "full")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    similarity.ann_lsh_index_build(half_a, inc, n_planes=8, quantize=True)
    similarity.ann_lsh_index_build(emb, full, n_planes=8, quantize=True)
    n = similarity.ann_index_append(spark, half_b, inc)
    assert n == half_b.count()
    qv = [float(x) for x in emb.where(F.col("vec_id") == 2).first()["embedding"]]
    got = [(r["vec_id"], r["cos"]) for r in
           similarity.ann_topk_lsh_indexed(spark, inc, qv, k=10).collect()]
    want = [(r["vec_id"], r["cos"]) for r in
            similarity.ann_topk_lsh_indexed(spark, full, qv, k=10).collect()]
    assert got == want
    # replay: idempotent
    similarity.ann_index_append(spark, half_b, inc)
    assert sorted(r["vec_id"] for r in spark.read.parquet(inc).collect()) == \
        sorted(r["vec_id"] for r in spark.read.parquet(full).collect())
    # batch probe over the int8 LSH layout: per-query parity
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(0, 3, 7)).collect()
    ]
    out = similarity.ann_batch_topk_lsh_indexed(spark, full, qs, k=5)
    grouped = {}
    for r in out.collect():
        grouped.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], r["cos"]))
    for qid, v in qs:
        per = similarity.ann_topk_lsh_indexed(spark, full, v, k=5).collect()
        expect = [(i + 1, r["vec_id"], r["cos"]) for i, r in enumerate(per)]
        assert sorted(grouped[qid]) == expect, qid


def _int8_reference(spark, path, part_col, cells, qv, k):
    """Plain-Python int8 probe: read the index parquet, keep the probed
    cells, quantize the query with the half-away-from-zero rule, rank by
    integer-dot cosine rounded to 6 places, ties by (-cos, id)."""
    scale = max(abs(x) for x in qv) / 127.0
    qq = [int(math.copysign(math.floor(abs(x / scale) + 0.5), x)) for x in qv]
    qnorm = math.sqrt(sum(x * x for x in qq))
    scored = []
    for r in spark.read.parquet(path).collect():
        if r[part_col] not in cells:
            continue
        codes = list(r["q"])
        denom = math.sqrt(sum(x * x for x in codes)) * qnorm
        cos = 0.0 if denom == 0.0 else sum(a * b for a, b in zip(codes, qq)) / denom
        scored.append((-round(cos, 6), r["vec_id"]))
    return [(vid, -neg) for neg, vid in sorted(scored)[:k]]


def test_int8_single_probers_match_python_reference(emb, tmp_path_factory):
    """Both families' single-query probers on an int8 index return the
    plain-Python ranking over the same probed cells (not just parity
    with the batch prober, which shares their scoring helper)."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("q8ref")
    ivf, lsh = str(base / "ivf"), str(base / "lsh")
    cents = similarity.ann_index_build(emb, ivf, n_clusters=8, quantize=True)
    similarity.ann_lsh_index_build(emb, lsh, n_planes=8, quantize=True)
    for qid in (1, 4):
        qv = [float(x) for x in emb.where(F.col("vec_id") == qid).first()["embedding"]]
        cases = (
            (similarity.ann_topk_indexed(spark, ivf, qv, k=10, nprobe=3),
             _int8_reference(spark, ivf, "__cluster", set(_probed(cents, qv, 3)), qv, 10)),
            (similarity.ann_topk_lsh_indexed(spark, lsh, qv, k=10),
             _int8_reference(spark, lsh, "__sig", similarity._lsh_probe_set(qv, 8, 7, 2), qv, 10)),
        )
        for got_df, want in cases:
            got = [(r["vec_id"], r["cos"]) for r in got_df.collect()]
            assert [g[0] for g in got] == [w[0] for w in want], (qid, got, want)
            assert all(abs(g[1] - w[1]) < 1e-9 for g, w in zip(got, want)), (qid, got, want)


def test_probers_name_the_right_family_entry_point(emb, tmp_path_factory):
    """Each family's single and batch prober, pointed at the other
    family's index, raises naming the entry point that serves it; the
    IVF prober reads the metadata even when handed centroids, so a
    directory without metadata is never probed blind."""
    spark = emb.sparkSession
    base = tmp_path_factory.mktemp("annfamily")
    ivf, lsh = str(base / "ivf"), str(base / "lsh")
    cents = similarity.ann_index_build(emb, ivf, n_clusters=4)
    similarity.ann_lsh_index_build(emb, lsh, n_planes=6)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    wrong = (
        (lambda: similarity.ann_topk_indexed(spark, lsh, qv), "ann_topk_lsh_indexed"),
        (lambda: similarity.ann_topk_lsh_indexed(spark, ivf, qv), "ann_topk_indexed"),
        (lambda: similarity.ann_batch_topk_indexed(spark, lsh, [(0, qv)]),
         "ann_batch_topk_lsh_indexed"),
        (lambda: similarity.ann_batch_topk_lsh_indexed(spark, ivf, [(0, qv)]),
         "ann_batch_topk_indexed"),
    )
    for call, right in wrong:
        with pytest.raises(ValueError, match=rf"{right}$"):
            call()
    # pinned centroids must agree with the index metadata
    with pytest.raises(ValueError, match="n_clusters"):
        similarity.ann_topk_indexed(spark, ivf, qv, centroids=cents[:3])
    bare = str(base / "bare")
    emb.withColumn("__cluster", F.lit(0)).write.partitionBy("__cluster").parquet(bare)
    with pytest.raises(ValueError, match="no metadata"):
        similarity.ann_topk_indexed(spark, bare, qv)
    with pytest.raises(ValueError, match="no metadata"):
        similarity.ann_topk_indexed(spark, bare, qv, centroids=cents)


def test_cluster_corpus_map_hand_built(spark):
    import math

    # two tight 2-D clusters around (1,0) and (0,1); labels mostly
    # track the cluster, with one dissenter in cluster A
    a = [(i, [1.0, 0.05 * i], "news") for i in range(4)]
    a[3] = (3, [1.0, 0.15], "web")  # dissenter
    b = [(10 + i, [0.05 * i, 1.0], "web") for i in range(3)]
    df = spark.createDataFrame(
        a + b, "vec_id long, embedding array<float>, label string"
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = similarity.cluster_corpus_map(
        df, label_col="label", centroids=cents
    ).collect()
    assert [r["cluster"] for r in out] == [0, 1]  # n desc, 4 vs 3
    c0, c1 = out
    assert c0["n_vecs"] == 4 and c1["n_vecs"] == 3
    assert abs(c0["share"] - 4 / 7) < 1e-6 and abs(c1["share"] - 3 / 7) < 1e-6
    assert (c0["dominant_label"], c1["dominant_label"]) == ("news", "web")
    assert abs(c0["label_purity"] - 0.75) < 1e-6
    assert abs(c1["label_purity"] - 1.0) < 1e-6
    # cohesion = mean cos to the assigned centroid, hand-computed
    want0 = sum(1.0 / math.hypot(1.0, y) for y in (0.0, 0.05, 0.1, 0.15)) / 4
    assert abs(c0["cohesion"] - want0) < 1e-4
    # unlabeled variant drops the label columns
    cols = similarity.cluster_corpus_map(df, centroids=cents).columns
    assert "dominant_label" not in cols and "label_purity" not in cols
    assert {"cluster", "n_vecs", "cohesion", "share"} <= set(cols)


def test_cluster_corpus_map_dominant_tie_breaks_min_label(spark):
    rows = [(1, [1.0, 0.0], "b"), (2, [1.0, 0.01], "a"),
            (3, [0.0, 1.0], "z")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = similarity.cluster_corpus_map(
        df, label_col="label", centroids=[[1.0, 0.0], [0.0, 1.0]]
    ).collect()
    assert out[0]["dominant_label"] == "a"  # 1-1 tie -> min label
    assert abs(out[0]["label_purity"] - 0.5) < 1e-6


def test_ivf_assign_with_cos_matches_plain_assignment(emb):
    cents = similarity.ivf_train(emb, n_clusters=4)
    plain = {
        r["vec_id"]: r["__cluster"]
        for r in similarity.ivf_assign(emb, cents).collect()
    }
    rich = similarity.ivf_assign(emb, cents, with_cos=True).collect()
    assert {r["vec_id"]: r["__cluster"] for r in rich} == plain
    assert all(-1.0 - 1e-9 <= r["__cos"] <= 1.0 + 1e-9 for r in rich)


def test_cluster_share_drift_hand_built(spark):
    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    # old: 3 in c0, 1 in c1, 1 in c2; new: 1 in c0, 3 in c1, c2 VANISHED
    old = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(3)]
        + [(3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    new = spark.createDataFrame(
        [(10, [1.0, 0.1])] + [(11 + i, [0.1, 1.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["cluster"]: r
        for r in similarity.cluster_share_drift(old, new, cents).collect()
    }
    assert set(out) == {0, 1, 2}
    assert (out[0]["n_old"], out[0]["n_new"]) == (3, 1)
    assert abs(out[0]["share_old"] - 0.6) < 1e-6
    assert abs(out[0]["share_new"] - 0.25) < 1e-6
    assert abs(out[0]["delta"] + 0.35) < 1e-6
    # vanished cluster: zero-filled, full share lost
    assert (out[2]["n_new"], out[2]["share_new"]) == (0, 0.0)
    assert abs(out[2]["delta"] + 0.2) < 1e-6
    # TVD from the frame = 0.5 * sum |delta|
    tvd = 0.5 * sum(abs(r["delta"]) for r in out.values())
    assert abs(tvd - 0.55) < 1e-6  # 0.5 * (0.35 + 0.55 + 0.2)
    # no drift against itself
    self_drift = similarity.cluster_share_drift(old, old, cents).collect()
    assert all(r["delta"] == 0.0 for r in self_drift)


def test_cluster_corpus_map_null_labels_never_dominate(spark):
    # cluster 0: 1 untagged + 1 'a' (tie by count) -> 'a' must win;
    # cluster 1: fully untagged -> NULL dominant, NULL purity
    rows = [(1, [1.0, 0.0], None), (2, [1.0, 0.01], "a"),
            (3, [0.0, 1.0], None)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = {
        r["cluster"]: r
        for r in similarity.cluster_corpus_map(
            df, label_col="label", centroids=[[1.0, 0.0], [0.0, 1.0]]
        ).collect()
    }
    assert out[0]["dominant_label"] == "a"
    # purity over the TAGGED population: 1 of 1 tagged rows
    assert abs(out[0]["label_purity"] - 1.0) < 1e-6
    assert out[0]["n_vecs"] == 2  # untagged still counted
    assert out[1]["dominant_label"] is None
    assert out[1]["label_purity"] is None


def test_cluster_exemplars_hand_built(spark):
    # cluster 0: cos to centroid orders 1 > 2 > 3; id 4 alone in c1
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, [1.0, 0.3]),
            (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = similarity.cluster_exemplars(df, cents, k=2).collect()
    got = [(r["cluster"], r["rank"], r["vec_id"]) for r in out]
    assert got == [(0, 1, 1), (0, 2, 2), (1, 1, 4)]
    assert abs(out[0]["centroid_cos"] - 1.0) < 1e-6
    # ties broken by min id: two identical vectors
    tie = spark.createDataFrame(
        [(9, [1.0, 0.0]), (5, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    t = similarity.cluster_exemplars(tie, cents, k=1).collect()
    assert [(r["rank"], r["vec_id"]) for r in t] == [(1, 5)]
    with pytest.raises(ValueError, match="positive"):
        similarity.cluster_exemplars(df, cents, k=0)


def test_ivf_train_empty_input_fails_loudly(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no rows"):
        similarity.ivf_train(empty, n_clusters=4)
