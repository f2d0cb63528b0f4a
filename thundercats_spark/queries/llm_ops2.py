"""Round-4 LLM-pipeline registrations: temperature source rebalancing,
embedding quantization/geometry, model-based quality scoring, and the
dedup cluster-size report. Every entry pairs the Spark operator with a
DuckDB oracle that reproduces it bit-for-bit (doubles round(6)-pinned
per the llm_ops.py precision notes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from thundercats_spark.queries import load, register

# --------------------------------------------------------------------------
# Temperature-based source rebalancing (alpha-sampling), deterministic.
# keep_s = min(1, min_t(c_t^e) / c_s^e), e = 1 - 1/T; rows kept by the
# engine-portable md5 bucket rule. T=2 ⇒ e=0.5 ⇒ POW(c, 0.5), which
# libm evaluates identically from integer counts in both engines.
# --------------------------------------------------------------------------

TEMPERATURE_SAMPLE_SQL = """
WITH counts AS (
  SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
),
m AS (SELECT MIN(POW(c, 0.5)) AS mw FROM counts),
keep AS (
  -- GREATEST(1, ...) mirrors sample_to_fractions' clamp: a positive
  -- keep-fraction below 1/buckets keeps one bucket, never zero.
  SELECT lang,
         GREATEST(1, CAST(FLOOR(LEAST(1.0, m.mw / POW(c, 0.5)) * 10000) AS INT))
           AS thresh
  FROM counts, m
)
SELECT d.doc_id, d.lang
FROM documents d JOIN keep k USING (lang)
WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 6))::BIGINT
      % 10000 < k.thresh
ORDER BY d.doc_id
"""


@register("corpus_temperature_sample", TEMPERATURE_SAMPLE_SQL)
def corpus_temperature_sample_q(spark, sf_dir):
    from thundercats_spark.operators.curation import temperature_sample

    # group on lang — the driver corpus' skewed axis (en ≈ 3x fr), so
    # the T=2 smoothing visibly downsamples the over-represented langs.
    d = load(spark, sf_dir, "documents")["documents"]
    out = temperature_sample(d, temperature=2.0, source_col="lang")
    return out.select("doc_id", "lang").orderBy("doc_id")


# --------------------------------------------------------------------------
# Embedding geometry + symmetric int8 quantization. The fold is
# sequential float64 (list_reduce ≡ F.aggregate), so norms agree to the
# last ulp and the quantized ints are exact in both engines.
# --------------------------------------------------------------------------

EMB_NORMS_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)), 6)
         AS l2_norm,
       ROUND(list_reduce(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b)), 6)
         AS max_abs,
       ROUND(list_reduce(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b)) / 127.0, 9)
         AS q_scale
FROM embeddings ORDER BY vec_id
"""


@register("embedding_norm_stats", EMB_NORMS_SQL)
def embedding_norm_stats_q(spark, sf_dir):
    from thundercats_spark.operators.embeddings import embedding_norms

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    return embedding_norms(e).orderBy("vec_id")


EMB_QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
         list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                     (a, b) -> greatest(a, b)) / 127.0 AS sc
  FROM embeddings
)
SELECT vec_id,
       ROUND(sc, 9) AS q_scale,
       array_to_string(
         CASE WHEN sc = 0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) / sc) AS INT))
         END, ',') AS q_csv
FROM s ORDER BY vec_id
"""


@register("embedding_quantize", EMB_QUANTIZE_SQL)
def embedding_quantize_q(spark, sf_dir):
    from thundercats_spark.operators.embeddings import quantize_embeddings

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    out = quantize_embeddings(e)
    # q is array<int>; the driver's pandas canonicalizer cannot hash list
    # cells (r04 driver ERR), so the registered output serializes it to a
    # scalar CSV string — mirrored by array_to_string in EMB_QUANTIZE_SQL.
    return out.select(
        "vec_id",
        F.round("q_scale", 9).alias("q_scale"),
        F.array_join(F.col("q").cast("array<string>"), ",").alias("q_csv"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Linear quality-classifier scoring (the serving shape of the trained
# HashingTF+LR filter in quality/classifier.py, with md5-derived fixed
# weights so the whole scoring path is oracle-checkable).
# token_id = md5-hash(token||'tok') % 1024; w(id) ∈ [-1,1] md5-derived;
# score = sigmoid(mean w). round(6) absorbs any 1-ulp exp() divergence.
# --------------------------------------------------------------------------

CLASSIFIER_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN TRIM(text) = '' THEN []
              ELSE regexp_split_to_array(TRIM(text), '\s+') END AS t
  FROM documents
),
w AS (
  SELECT doc_id,
         list_transform(t, tok ->
           CAST((('0x' || substring(md5(
                   'w:' || CAST(('0x' || substring(md5(tok || 'tok'), 1, 6))::BIGINT % 65536
                        AS VARCHAR)), 1, 6))::BIGINT % 2001) - 1000 AS DOUBLE)
           / 1000.0) AS ws
  FROM toks
),
z AS (
  SELECT doc_id,
         CASE WHEN len(ws) > 0
              THEN list_reduce(ws, (a, b) -> a + b) / len(ws)
              ELSE 0.0 END AS mean_w
  FROM w
)
SELECT doc_id, ROUND(1.0 / (1.0 + exp(-mean_w)), 6) AS quality_prob
FROM z ORDER BY doc_id
"""


@register("doc_quality_classifier_score", CLASSIFIER_SCORE_SQL)
def doc_quality_classifier_score_q(spark, sf_dir):
    from thundercats_spark.operators.dedup import ensure_parallelism
    from thundercats_spark.quality.classifier import linear_quality_score

    # r11: the documents table arrives as ONE parquet split while the
    # scorer burns two md5s per token — spread the scan over the
    # cluster before the expression work (guide §2.5 input skew /
    # §1.2 step 1). No-op at scale when the input is already wide.
    d = ensure_parallelism(load(spark, sf_dir, "documents")["documents"])
    return d.select(
        "doc_id",
        F.round(
            linear_quality_score(F.col("text"), vocab_size=65536, salt="w"), 6
        ).alias("quality_prob"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Dedup cluster-size histogram: how many near-dup groups of each size
# the corpus contains — the report a dedup run publishes (mass removed,
# largest clusters). Same pair graph + recursive-CTE components as
# dedup_connected_groups, aggregated to (cluster_size, n_clusters).
# Singleton docs (no near-dup edge) are excluded, as in the pair graph.
# --------------------------------------------------------------------------

CLUSTER_SIZES_SQL = r"""
WITH RECURSIVE
sh AS (
  SELECT doc_id,
         list_transform(
           list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)]),
           s -> hash(s)
         ) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM documents)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id
 AND 2 * least(len(a.shingles), len(b.shingles)) >= greatest(len(a.shingles), len(b.shingles))
  WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
        (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk(id, comp) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, w.comp FROM edges e JOIN walk w ON e.b = w.id
),
comp AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


@register("dedup_cluster_sizes", CLUSTER_SIZES_SQL)
def dedup_cluster_sizes_q(spark, sf_dir):
    from thundercats_spark.operators import dedup
    from thundercats_spark.operators.components import connected_components

    d = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# int8-quantized ANN top-k: score the whole corpus with the integer-
# domain dot kernel (exact given the quantized inputs, so fully
# oracle-checkable — the scoring path an SQ8 index runs before optional
# full-precision re-ranking). Both engines quantize in-engine, so the
# integer sums agree bit-for-bit.
# --------------------------------------------------------------------------

QUANTIZED_TOPK_SQL = """
WITH q AS (
  SELECT vec_id, embedding,
         list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                     (a, b) -> greatest(a, b)) / 127.0 AS sc
  FROM embeddings
),
qz AS (
  SELECT vec_id, sc,
         CASE WHEN sc = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) / sc) AS BIGINT))
         END AS qv
  FROM q
),
tgt AS (SELECT sc AS sq, qv AS qq FROM qz WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(e.sc * t.sq * list_reduce(
         list_transform(list_zip(e.qv, t.qq), p -> p[1] * p[2]),
         (a, b) -> a + b), 6) AS score
FROM qz e, tgt t
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id
LIMIT 10
"""


@register("ann_quantized_topk", QUANTIZED_TOPK_SQL)
def ann_quantized_topk_q(spark, sf_dir):
    from thundercats_spark.operators.embeddings import (
        quantize_embeddings,
        quantized_dot,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    qz = quantize_embeddings(e)
    tgt = qz.where(F.col("vec_id") == 0).select(
        F.col("q_scale").alias("sq"), F.col("q").alias("qq")
    )
    scored = (
        qz.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(tgt))
        .select(
            "vec_id",
            F.round(
                quantized_dot(F.col("q"), F.col("q_scale"), F.col("qq"), F.col("sq")),
                6,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)


# --------------------------------------------------------------------------
# Snapshot integrity: order-independent per-source content manifest +
# content-level diff between two snapshots. The 48-bit md5-prefix hash
# and bit_xor aggregation are engine-portable, so a rebuild audit in
# ANY engine produces the identical manifest.
# --------------------------------------------------------------------------

MANIFEST_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       bit_xor(('0x' || substring(md5(text), 1, 12))::BIGINT) AS content_xor,
       bit_xor(doc_id) AS id_xor
FROM documents GROUP BY source ORDER BY source
"""


@register("corpus_manifest", MANIFEST_SQL)
def corpus_manifest_q(spark, sf_dir):
    from thundercats_spark.operators.curation import corpus_manifest

    d = load(spark, sf_dir, "documents")["documents"]
    return corpus_manifest(d)


# Snapshot b is derived deterministically from the base table in BOTH
# engines: drop doc_id%97==0 (removals), append ' [rev2]' to text for
# doc_id%89==0 (changes), clone doc_id%101==0 under id+1000000 (adds).
CORPUS_DIFF_SQL = """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 101 = 0
),
ha AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 12))::BIGINT AS h_a
       FROM documents),
hb AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 12))::BIGINT AS h_b FROM b)
SELECT COALESCE(ha.doc_id, hb.doc_id) AS doc_id,
       CASE WHEN ha.doc_id IS NULL THEN 'added'
            WHEN hb.doc_id IS NULL THEN 'removed'
            WHEN h_a <> h_b THEN 'changed' END AS status,
       h_a, h_b
FROM ha FULL OUTER JOIN hb ON ha.doc_id = hb.doc_id
WHERE (ha.doc_id IS NULL OR hb.doc_id IS NULL OR h_a <> h_b)
ORDER BY doc_id
"""


@register("corpus_snapshot_diff", CORPUS_DIFF_SQL)
def corpus_snapshot_diff_q(spark, sf_dir):
    from thundercats_spark.operators.curation import corpus_diff

    a = load(spark, sf_dir, "documents")["documents"]
    changed = F.when(
        F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    b = a.where(F.col("doc_id") % 97 != 0).select(
        "doc_id", changed.alias("text")
    ).unionByName(
        a.where(F.col("doc_id") % 101 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return corpus_diff(a, b).orderBy("doc_id")


# --------------------------------------------------------------------------
# int8-quantized PERSISTED IVF index — the serving shape the int8 work
# exists for: the index partitions store only (id, q_scale, q) 4x
# smaller than float, the probe is planning-time partition-pruned, and
# ranking runs entirely in the integer domain (scales cancel in
# cosine). Approximate by design (IVF probe + quantization error), so
# rows-only here; recall-vs-float and the pruned plan are pytest-pinned
# in tests/test_similarity.py.
# --------------------------------------------------------------------------


@register("ann_ivf_quantized", None)
def ann_ivf_quantized_q(spark, sf_dir):
    from thundercats_spark.operators import similarity
    from thundercats_spark.queries.llm_ops import (
        _cached_index_dir,
        _publish_index,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    qv = [
        float(x)
        for x in e.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    idx, built = _cached_index_dir("ivf_q8", sf_dir)
    if not built:
        _publish_index(
            idx,
            lambda d: similarity.ann_index_build(
                e.where(F.col("vec_id") != 0), d, n_clusters=8, quantize=True
            ),
        )
    return similarity.ann_topk_indexed(spark, idx, qv, k=10, nprobe=3)


# --------------------------------------------------------------------------
# Batch probe against the persisted int8 index — the serving-throughput
# shape: N query vectors amortize ONE partition-pruned scan (union of
# their probe cells), per-query exact rerank. Rows-only: approximate by
# design; per-query parity with ann_topk_indexed and the
# single-pruned-scan plan are pytest-pinned (tests/test_similarity.py).
# --------------------------------------------------------------------------


@register("ann_batch_indexed", None)
def ann_batch_indexed_q(spark, sf_dir):
    from thundercats_spark.operators import similarity
    from thundercats_spark.queries.llm_ops import (
        _cached_index_dir,
        _publish_index,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.where(F.col("vec_id") < 3).orderBy("vec_id").collect()
    ]
    idx, built = _cached_index_dir("ivf_q8", sf_dir)
    if not built:
        _publish_index(
            idx,
            lambda d: similarity.ann_index_build(
                e.where(F.col("vec_id") != 0), d, n_clusters=8, quantize=True
            ),
        )
    out = similarity.ann_batch_topk_indexed(spark, idx, qs, k=5, nprobe=3)
    return out.orderBy("q_id", "rank")


@register("ann_batch_lsh_indexed", None)
def ann_batch_lsh_indexed_q(spark, sf_dir):
    """LSH twin of ann_batch_indexed: N queries against the persisted
    __sig-partitioned index in one job — union of multiprobe buckets
    drives ONE pruned scan, per-query exact rerank. Rows-only:
    approximate by design; per-query parity with ann_topk_lsh_indexed
    and the single-pruned-scan plan are pytest-pinned
    (tests/test_similarity.py)."""
    from thundercats_spark.operators import similarity
    from thundercats_spark.queries.llm_ops import (
        _cached_index_dir,
        _publish_index,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.where(F.col("vec_id") < 3).orderBy("vec_id").collect()
    ]
    idx, built = _cached_index_dir("lsh", sf_dir)
    if not built:
        _publish_index(
            idx,
            lambda d: similarity.ann_lsh_index_build(
                e.where(F.col("vec_id") != 0), d
            ),
        )
    out = similarity.ann_batch_topk_lsh_indexed(spark, idx, qs, k=5)
    return out.orderBy("q_id", "rank")


# --------------------------------------------------------------------------
# Persisted-tokenizer encode: train-once/ship-everywhere BPE — the
# merge list is saved as a parquet artifact and RESTORED from disk
# before encoding, so the registered path exercises the same
# artifact round-trip a training pipeline runs (tokenize with the
# shipped tokenizer, never a retrained one). Rows-only: greedy BPE
# segmentation is not SQL-expressible; save/load identity and
# hand-computed merges are pytest-pinned (tests/test_bpe.py).
# --------------------------------------------------------------------------


def _bpe_artifact(spark, sf_dir, d) -> list[tuple[str, str]]:
    """Shared tokenizer artifact for every persisted-BPE query: build
    the 200-merge vocabulary ONCE per sf_dir into the deterministic
    cache slot, restore it from disk on every use. The recipe lives
    only here — the queries sharing the cache slot can't drift apart."""
    from thundercats_spark.functions.bpe import bpe_load, bpe_save, bpe_train
    from thundercats_spark.operators.similarity import _write_index_meta
    from thundercats_spark.queries.llm_ops import (
        _cached_index_dir,
        _publish_index,
    )

    art, built = _cached_index_dir(
        "bpe", sf_dir, table="documents", recipe="merges200"
    )
    if not built:
        def build(p):
            merges = bpe_train(d, n_merges=200)
            bpe_save(spark, merges, p)
            _write_index_meta(spark, p, {"n_merges": len(merges)})

        _publish_index(art, build)
    return bpe_load(spark, art)


@register("doc_bpe_encode_persisted", None)
def doc_bpe_encode_persisted_q(spark, sf_dir):
    from thundercats_spark.functions.bpe import bpe_encode

    d = load(spark, sf_dir, "documents")["documents"]
    merges = _bpe_artifact(spark, sf_dir, d)
    return (
        bpe_encode(d, merges)
        .select(
            "doc_id",
            F.size("bpe_tokens").alias("n_bpe_tokens"),
            F.array_join(F.slice("bpe_tokens", 1, 5), " ").alias("head_tokens"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Dedup planning report: per-source exact-dup mass. Spark counts
# distinct 64-bit fingerprints (text never shuffles); the oracle counts
# distinct normalized text directly — identical up to xxhash64
# collisions (~n²/2⁶⁵, irrelevant at any real corpus size and exact at
# the gate's sf).
# --------------------------------------------------------------------------

DEDUP_RATE_SQL = """
SELECT lang AS source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT LOWER(TRIM(text))) AS n_distinct,
       COUNT(*) - COUNT(DISTINCT LOWER(TRIM(text))) AS n_dupes,
       ROUND((COUNT(*) - COUNT(DISTINCT LOWER(TRIM(text))))
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM documents GROUP BY lang ORDER BY source
"""


@register("corpus_dedup_rate_by_source", DEDUP_RATE_SQL)
def corpus_dedup_rate_by_source_q(spark, sf_dir):
    from thundercats_spark.operators.dedup import dedup_rate_by_source

    d = load(spark, sf_dir, "documents")["documents"]
    return dedup_rate_by_source(d, source_col="lang").orderBy("source")


# --------------------------------------------------------------------------
# Tokenizer QA: per-lang fertility/fallback report with the PERSISTED
# vocabulary (same artifact as doc_bpe_encode_persisted — built once
# per sf_dir, restored from disk here). Rows-only: BPE segmentation is
# not SQL-expressible; the report math is a plain group agg over the
# pytest-pinned encoder.
# --------------------------------------------------------------------------


@register("corpus_tokenizer_fertility", None)
def corpus_tokenizer_fertility_q(spark, sf_dir):
    from thundercats_spark.functions.bpe import bpe_fertility

    d = load(spark, sf_dir, "documents")["documents"]
    merges = _bpe_artifact(spark, sf_dir, d)
    return bpe_fertility(d, merges, group_col="lang").orderBy("group")


# --------------------------------------------------------------------------
# Per-benchmark-item leakage report — the QA view run BEFORE deciding
# what decontamination drops: for every eval item, how many training
# docs share >=1 distinct 8-gram with it and how many of its 8-grams
# appear anywhere in the corpus. Zero-hit items are reported as zeros.
# Exact integer counts over the same hashed-n-gram machinery as
# doc_decontaminate (curation.py), so the DuckDB oracle mirrors that
# query's gram construction.
# --------------------------------------------------------------------------

DECON_REPORT_SQL = r"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(TRIM(text), '\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, source,
         list_distinct([array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t)-6)]) AS gs
  FROM toks WHERE len(t) >= 8
), bench AS (
  SELECT doc_id AS bench_id, unnest(gs) AS g FROM grams WHERE source = 'src0'
), corpus AS (
  SELECT doc_id, unnest(gs) AS g FROM grams WHERE source <> 'src0'
), hits AS (
  SELECT b.bench_id,
         CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_docs_hit,
         CAST(COUNT(DISTINCT b.g) AS BIGINT) AS n_shared_grams
  FROM bench b JOIN corpus c USING (g)
  GROUP BY b.bench_id
)
SELECT d.doc_id,
       COALESCE(h.n_docs_hit, 0) AS n_docs_hit,
       COALESCE(h.n_shared_grams, 0) AS n_shared_grams
FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
LEFT JOIN hits h ON d.doc_id = h.bench_id
ORDER BY d.doc_id
"""


@register("doc_decontamination_report", DECON_REPORT_SQL)
def doc_decontamination_report_q(spark, sf_dir):
    from thundercats_spark.operators.curation import decontamination_report

    d = load(spark, sf_dir, "documents")["documents"]
    bench = d.where(F.col("source") == "src0")
    corpus = d.where(F.col("source") != "src0")
    out = decontamination_report(corpus, bench, "text", "doc_id", n=8)
    return out.select(
        "doc_id",
        F.col("n_docs_hit").cast("long").alias("n_docs_hit"),
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
    ).orderBy("doc_id")


@register("ann_lsh_quantized", None)
def ann_lsh_quantized_q(spark, sf_dir):
    """int8 LSH serving probe — the last corner of the float/int8 x
    IVF/LSH layout matrix: build the quantized __sig-partitioned index
    once per sf_dir, probe partition-pruned, rank by the shared
    integer-domain cosine. Rows-only: approximate by design; recall
    vs the float LSH index, a plain-Python reference and plan pruning are
    pytest-pinned (tests/test_similarity.py)."""
    from thundercats_spark.operators import similarity
    from thundercats_spark.queries.llm_ops import (
        _cached_index_dir,
        _publish_index,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    qv = [
        float(x)
        for x in e.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    idx, built = _cached_index_dir("lsh_q8", sf_dir)
    if not built:
        _publish_index(
            idx,
            lambda d: similarity.ann_lsh_index_build(
                e.where(F.col("vec_id") != 0), d, quantize=True
            ),
        )
    return similarity.ann_topk_lsh_indexed(spark, idx, qv, k=10)


# --------------------------------------------------------------------------
# Sequence-length planning: padding-waste bounds per candidate seq_len
# (operators/curation.py packing_efficiency_report) — the planning
# report run BEFORE committing a corpus to one training sequence
# length. Integer-exact everywhere (DIV/MOD), fractions rounded.
# --------------------------------------------------------------------------

PACKING_EFF_SQL = r"""
WITH t AS (
  -- blank-doc guard (repo convention, see CLASSIFIER_SCORE_SQL):
  -- DuckDB splits '' into [''] (1 token) where Spark counts 0
  SELECT CASE WHEN TRIM(text) = '' THEN 0
         ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS t
  FROM documents
), e AS (
  SELECT t.t, L.seq_len
  FROM t CROSS JOIN (VALUES (512), (1024), (2048), (4096)) AS L(seq_len)
), a AS (
  SELECT seq_len,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(t) AS BIGINT) AS total_tokens,
         CAST(SUM(t // seq_len) AS BIGINT) AS full_chunks,
         CAST(SUM(t % seq_len) AS BIGINT) AS remainder_tokens,
         CAST(SUM(CASE WHEN t % seq_len > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_remainders
  FROM e GROUP BY seq_len
), s AS (
  SELECT *,
         full_chunks + (remainder_tokens + seq_len - 1) // seq_len AS min_seqs,
         full_chunks + n_remainders AS max_seqs
  FROM a
)
SELECT seq_len, n_docs, total_tokens, full_chunks, remainder_tokens,
       n_remainders, min_seqs, max_seqs,
       ROUND(CASE WHEN min_seqs > 0
             THEN 1.0 - total_tokens * 1.0 / (min_seqs * seq_len)
             ELSE 0.0 END, 6) AS min_padding_frac,
       ROUND(CASE WHEN max_seqs > 0
             THEN 1.0 - total_tokens * 1.0 / (max_seqs * seq_len)
             ELSE 0.0 END, 6) AS max_padding_frac
FROM s ORDER BY seq_len
"""


@register("corpus_packing_efficiency", PACKING_EFF_SQL)
def corpus_packing_efficiency_q(spark, sf_dir):
    from thundercats_spark.operators.curation import packing_efficiency_report

    d = load(spark, sf_dir, "documents")["documents"]
    return packing_efficiency_report(d)


# --------------------------------------------------------------------------
# Embedding-space corpus map: k-means domain discovery with cohesion
# and label purity (operators/similarity.py cluster_corpus_map).
# Rows-only: k-means is not SQL-expressible; the report math (counts,
# share, purity, dominant-label tie-breaks) is pytest-pinned on
# hand-built clusters, and determinism comes from the seeded init.
# --------------------------------------------------------------------------


@register("corpus_embedding_clusters", None)
def corpus_embedding_clusters_q(spark, sf_dir):
    from thundercats_spark.operators.similarity import cluster_corpus_map

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    return cluster_corpus_map(e, n_clusters=8, label_col="label")


# --------------------------------------------------------------------------
# Embedding-space drift between two snapshots (similarity.py
# cluster_share_drift): both halves of the embeddings table assigned
# against centroids FROZEN on the reference half, per-cluster share
# deltas. Rows-only (k-means); the share/delta/outer-join math is
# pytest-pinned on hand-built snapshots with a vanished cluster.
# --------------------------------------------------------------------------


@register("embedding_cluster_drift", None)
def embedding_cluster_drift_q(spark, sf_dir):
    from thundercats_spark.operators.similarity import (
        cluster_share_drift,
        ivf_train,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    old = e.where(F.col("vec_id") % 2 == 0)
    new = e.where(F.col("vec_id") % 2 == 1)
    cents = ivf_train(old, n_clusters=8)
    return cluster_share_drift(old, new, cents)


# --------------------------------------------------------------------------
# Cluster exemplars: the k most central vectors per discovered domain
# (similarity.py cluster_exemplars) — what a human reads to NAME the
# clusters the corpus map found. Rows-only (k-means); exemplar
# selection is pytest-pinned on hand-built clusters.
# --------------------------------------------------------------------------


@register("corpus_cluster_exemplars", None)
def corpus_cluster_exemplars_q(spark, sf_dir):
    from thundercats_spark.operators.similarity import (
        cluster_exemplars,
        ivf_train,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = ivf_train(e, n_clusters=8)
    return cluster_exemplars(e, cents, k=3)


# --------------------------------------------------------------------------
# Balanced training shards (operators/curation.py
# assign_balanced_shards over ranking.global_running_sum): every doc
# placed along the engine-portable md5 order, cut at exact
# total/n_shards token-mass boundaries. The report aggregates to
# (shard, n_docs, tokens) so the oracle checks both the assignment and
# the balance. Integer-exact end-to-end (long weights, _idiv).
# --------------------------------------------------------------------------

BALANCED_SHARDS_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN TRIM(text) = '' THEN 0
              ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS w,
         md5(CAST(doc_id AS VARCHAR) || ':shards') AS ord
  FROM documents
), c AS (
  SELECT doc_id, w,
         SUM(w) OVER (ORDER BY ord, doc_id ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER () AS total
  FROM t
), s AS (
  SELECT CAST(LEAST(7, ((cum - w) * 8) // total) AS INT) AS shard, w FROM c
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS tokens
FROM s GROUP BY shard ORDER BY shard
"""


@register("corpus_balanced_shards", BALANCED_SHARDS_SQL)
def corpus_balanced_shards_q(spark, sf_dir):
    from thundercats_spark.functions.text_analysis import token_count
    from thundercats_spark.operators.curation import assign_balanced_shards

    d = load(spark, sf_dir, "documents")["documents"]
    out = assign_balanced_shards(
        d.select("doc_id", token_count(F.col("text")).alias("w")), 8, "w"
    )
    return (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").cast("long").alias("tokens"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Robust per-source quality outliers (operators/robust.py): discrete
# median + MAD of the quality score per source, docs strictly beyond
# 3*MAD counted. DISC percentile semantics deliberately: med and mad
# are actual data values, so both engines run the identical IEEE ops
# (|v-med|, 3*mad, >) on identical inputs — an interpolated (cont)
# median could flip a boundary row's classification by one ulp. The
# quality expression is text_quality_score's oracle-proven CTE.
# --------------------------------------------------------------------------


def _quality_outliers_sql() -> str:
    from thundercats_spark.queries.llm_ops import QUALITY_SQL

    return f"""
WITH q AS ({QUALITY_SQL}),
sc AS (
  SELECT d.source, q.quality AS v
  FROM q JOIN documents d USING (doc_id)
),
m AS (SELECT source, quantile_disc(v, 0.5) AS med FROM sc GROUP BY source),
dv AS (
  SELECT sc.source, v, med, ABS(v - med) AS dev
  FROM sc JOIN m USING (source)
),
md AS (SELECT source, quantile_disc(dev, 0.5) AS mad FROM dv GROUP BY source)
SELECT dv.source,
       COUNT(*) AS n,
       ROUND(ANY_VALUE(dv.med), 6) AS med,
       ROUND(ANY_VALUE(md.mad), 6) AS mad,
       COUNT(*) FILTER (WHERE dev > 3.0 * mad) AS n_outliers,
       ROUND(COUNT(*) FILTER (WHERE dev > 3.0 * mad) / COUNT(*), 6)
         AS outlier_rate
FROM dv JOIN md USING (source)
GROUP BY dv.source
ORDER BY dv.source
"""


@register("doc_quality_outliers", _quality_outliers_sql())
def doc_quality_outliers_q(spark, sf_dir):
    """Rides the QUANTIZED histogram path: quality is round(·, 6) by
    construction, so the (source, score) histogram is bounded by
    sources x 1e6 at ANY corpus size — one scan, one narrow shuffle,
    all medians driver-derived (vs two ranking pipelines on the
    generic path; equality between the paths is pytest-pinned)."""
    from thundercats_spark.functions import text_analysis as T
    from thundercats_spark.operators.robust import mad_outlier_stats_quantized

    d = load(spark, sf_dir, "documents")["documents"]
    scored = d.select(
        "source",
        F.round(T.quality_score(F.col("text")), 6).alias("q"),
    )
    out = mad_outlier_stats_quantized(scored, ["source"], "q", k=3.0)
    return out.select(
        "source",
        "n",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        "n_outliers",
        F.round("outlier_rate", 6).alias("outlier_rate"),
    )


# --------------------------------------------------------------------------
# Per-source token-count percentiles (robust.percentiles_grouped_quantized):
# the seq_len-planning report — integer token counts are quantized by
# construction, so ONE (source, n_tokens) histogram agg replaces a
# grouped ranking pipeline; disc semantics (actual counts, exact ranks)
# so quantile_disc mirrors it bit-for-bit. p=0.37 keeps the adversarial
# decimal-integral rank class under the driver gate here too. Token
# expression carries the blank-doc CASE guard (DuckDB splits '' into
# one token, Spark's token_count yields 0).
# --------------------------------------------------------------------------

TOKEN_PCT_SQL = r"""
WITH t AS (
  SELECT source,
         CASE WHEN TRIM(text) = '' THEN 0
              ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS w
  FROM documents
)
SELECT source, p, CAST(v AS DOUBLE) AS value FROM (
  SELECT source, 0.37 AS p, quantile_disc(w, 0.37) AS v FROM t GROUP BY source
  UNION ALL
  SELECT source, 0.5, quantile_disc(w, 0.5) FROM t GROUP BY source
  UNION ALL
  SELECT source, 0.9, quantile_disc(w, 0.9) FROM t GROUP BY source
  UNION ALL
  SELECT source, 0.99, quantile_disc(w, 0.99) FROM t GROUP BY source
)
ORDER BY source, p
"""


@register("corpus_token_percentiles", TOKEN_PCT_SQL)
def corpus_token_percentiles_q(spark, sf_dir):
    from thundercats_spark.functions.text_analysis import token_count
    from thundercats_spark.operators.robust import percentiles_grouped_quantized

    d = load(spark, sf_dir, "documents")["documents"]
    out = percentiles_grouped_quantized(
        d.select("source", token_count(F.col("text")).alias("w")),
        ["source"], "w", [0.37, 0.5, 0.9, 0.99], mode="disc",
    )
    return out.orderBy("source", "p")
