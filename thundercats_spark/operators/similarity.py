"""Similarity search over embedding columns (``array<float>``).

Ad-hoc search (recomputes its partitioning per call):

- ``ann_topk_bruteforce``: exact top-k cosine against a literal query
  vector. One scan, no shuffle (TakeOrdered for the top-k). The
  correctness baseline. ``ann_batch_topk`` is its N-query form.
- ``ann_topk_lsh``: random-hyperplane LSH — embeddings hash to sign
  buckets; search probes the query's bucket plus 1-bit-flip neighbors
  (multiprobe) and reranks exactly.
- ``ann_topk_ivf``: IVF — probe the ``nprobe`` cells of a k-means
  coarse quantizer (``ivf_train``/``ivf_assign``) nearest the query.

Persisted indexes: one parquet directory partitioned by its cell
column plus ``<path>_meta``, in two families and two codecs:

- IVF (``__cluster`` cells, centroids at ``<path>_centroids``) built by
  ``ann_index_build``; LSH (``__sig`` buckets) built by
  ``ann_lsh_index_build``. ``quantize=True`` stores int8 codes
  ``(id, q_scale, q)`` instead of the float vectors (meta
  ``quantized=1``).
- ``ann_topk_indexed`` / ``ann_topk_lsh_indexed`` probe one query and
  ``ann_batch_topk_indexed`` / ``ann_batch_topk_lsh_indexed`` a batch,
  each over a scan pruned to the probed cells at planning time;
  ``ann_index_append`` upserts a batch into either family;
  ``ann_index_stats`` and ``maintain_ann_index`` watch cell balance.
  Every one of them reads the family and codec from the index's own
  metadata (``_open_index``), so the int8 and float layouts share one
  entry point each.

Pairs and dedup: ``cosine_pairs_bruteforce`` (exact, quadratic — the
oracle), ``cosine_pairs_lsh`` (shared hyperplane buckets,
cosine-verified), ``cosine_pairs_clustered`` and ``semantic_dedup``
(pairs within IVF cells).

Hyperplanes are deterministic (seeded) so results reproduce.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thundercats_spark.functions.vectors import cosine as vcos
from thundercats_spark.operators.components import SMALL_GRAPH_ROWS
from thundercats_spark.operators.dedup import ensure_parallelism
from thundercats_spark.physical.util import local_frame


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _lit_vec(v: list[float]):
    return F.array(*[F.lit(float(x)) for x in v])


def hyperplane_signature(vec, dim: int, n_planes: int = 16, seed: int = 7):
    """Integer bucket id from sign bits of <v, plane_i>."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec, _lit_vec(p), lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def ann_topk_bruteforce(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k by cosine. ``orderBy().limit(k)`` → TakeOrdered (per-
    partition heap + driver merge), no global sort shuffle."""
    cos = vcos(F.col(vec_col), _lit_vec(query_vec))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        df.select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def _probe_set_from_planes(
    planes: list[list[float]], query_vec: list[float], multiprobe_bits: int
) -> set[int]:
    """Core of ``_lsh_probe_set`` over PRE-computed hyperplanes — the
    batch prober derives the planes once and probes N times."""
    n_planes = len(planes)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) > 0:
            qsig |= 1 << i
    probe = {qsig}
    if multiprobe_bits >= 1:
        probe |= {qsig ^ (1 << i) for i in range(n_planes)}
    if multiprobe_bits >= 2:
        probe |= {
            qsig ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        }
    return probe


def _lsh_probe_set(
    query_vec: list[float], n_planes: int, seed: int, multiprobe_bits: int
) -> set[int]:
    """Driver-side probe buckets: the query's signature plus all
    signatures within ``multiprobe_bits`` sign flips (multiprobe)."""
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    return _probe_set_from_planes(planes, query_vec, multiprobe_bits)


def ann_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 7,
    multiprobe_bits: int = 2,
) -> DataFrame:
    """Approximate top-k: prune to the query's LSH bucket (+ neighbors
    within ``multiprobe_bits`` bit flips), then exact-rerank. This
    variant recomputes the signature column over the full table per
    query (fine for one-shot jobs); for repeated queries persist the
    signature-partitioned index once with ``ann_lsh_index_build`` and
    probe with ``ann_topk_lsh_indexed`` — a partition-pruned scan that
    reads only the probed buckets."""
    dim = len(query_vec)
    probe = _lsh_probe_set(query_vec, n_planes, seed, multiprobe_bits)
    sig = hyperplane_signature(F.col(vec_col), dim, n_planes, seed)
    bucketed = df.withColumn("__sig", sig).where(F.col("__sig").isin(*probe))
    return ann_topk_bruteforce(bucketed, query_vec, k, vec_col, id_col).select(
        id_col, "cos"
    )


def _meta_path(path: str) -> str:
    return path.rstrip("/") + "_meta"


def _write_index_meta(spark, path: str, meta: dict) -> None:
    """Persist index hyperparameters next to the index (1-row parquet —
    same mechanism as the IVF centroids table, so it works on any
    Hadoop-visible filesystem, not just local disk)."""
    fields = ", ".join(f"{k} long" for k in sorted(meta))
    spark.createDataFrame(
        [tuple(int(meta[k]) for k in sorted(meta))], fields
    ).coalesce(1).write.mode("overwrite").parquet(_meta_path(path))


def _check_index_meta(spark, path: str, kind: str, caller: dict) -> dict:
    """Read the persisted meta and fail LOUDLY if the caller pinned a
    hyperparameter that disagrees — probing an LSH index with a
    different (n_planes, seed) than the build silently lands in wrong
    buckets and quietly destroys recall, so a mismatch is an error,
    never a fallback. Caller values of ``None`` mean "use the index's
    own"; returns the effective meta dict."""
    try:
        row = spark.read.parquet(_meta_path(path)).first()
    except Exception as e:
        from thundercats_spark.physical.io import _is_path_not_found

        if _is_path_not_found(e):
            raise ValueError(
                f"{kind} index at {path!r} has no metadata file "
                f"({_meta_path(path)!r}) — rebuild it with the current "
                "index builder; probing with assumed hyperparameters is "
                "unsafe (wrong params silently probe wrong buckets)."
            ) from e
        raise
    meta = row.asDict()
    for key, val in caller.items():
        if val is not None and key in meta and int(val) != int(meta[key]):
            raise ValueError(
                f"{kind} index hyperparameter mismatch at {path!r}: "
                f"caller {key}={val} but the index was built with "
                f"{key}={meta[key]}. Rebuild the index or drop the "
                "argument to use the index's own parameters."
            )
    return meta


def _open_index(
    spark,
    path: str,
    family: str | None,
    instead: str = "",
    caller: dict | None = None,
) -> tuple[dict, bool]:
    """Decide a persisted index's layout from its own metadata — the ONE
    place that does. The family is ``"ivf"`` when the meta has
    ``n_clusters`` and ``"lsh"`` when it has ``n_planes``; the codec is
    int8 when it has ``quantized=1``. ``family`` is what the entry point
    serves (``None`` accepts either); an index of the other family is a
    loud error that ends with ``instead``, which names the entry point
    that serves it. ``caller`` pins hyperparameters as assertions (see
    ``_check_index_meta``). Returns ``(meta, quantized)``, the family
    under ``meta["layout"]``."""
    kind = family.upper() if family else "ANN"
    meta = _check_index_meta(spark, path, kind, caller or {})
    if "n_clusters" in meta:
        meta["layout"] = "ivf"
    elif "n_planes" in meta:
        meta["layout"] = "lsh"
    else:
        raise ValueError(
            f"index at {path!r} has neither n_clusters nor n_planes in "
            "its metadata — not a persisted ANN index layout"
        )
    if family is not None and meta["layout"] != family:
        raise ValueError(
            f"index at {path!r} is an {meta['layout'].upper()} layout, not "
            f"an {kind} layout; {instead}"
        )
    return meta, int(meta.get("quantized", 0)) == 1


def _check_query_dim(query_vec: list[float], meta: dict, path: str) -> None:
    if len(query_vec) != int(meta["dim"]):
        raise ValueError(
            f"query vector has dim {len(query_vec)} but the "
            f"{meta['layout'].upper()} index at {path!r} was built for "
            f"dim {meta['dim']}"
        )


def _encode(
    rows: DataFrame, quantized: bool, vec_col: str, id_col: str, part_col: str
) -> DataFrame:
    """What an index partition stores per row, given ``rows`` with the
    cell key already computed from the FLOAT vector: every column as
    is, or for int8 only ``(id, part_col, q_scale, q array<int>)`` —
    ~0.4x the bytes of the float layout, with the same pruning."""
    if not quantized:
        return rows
    from thundercats_spark.operators.embeddings import quantize_embeddings

    return quantize_embeddings(
        rows, vec_col=vec_col, id_col=id_col, keep_cols=(part_col,)
    )


def _cos_expr(
    quantized: bool,
    vec_col: str,
    query_vec: list[float] | None = None,
    round_digits: int | None = 6,
):
    """The cosine every persisted prober ranks by. With ``query_vec``
    the query enters as literals (single-query plan); with ``None`` it
    comes from the batch's joined ``__qv`` (float) or ``__qq`` /
    ``__qnorm`` (int8) columns. int8 rows rank in the code domain
    (``_int8_cos``), the query quantized by ``_quantize_query``."""
    if quantized:
        if query_vec is None:
            cos = _int8_cos(F.col("__qq"), F.col("__qnorm"))
        else:
            qq, qnorm = _quantize_query(query_vec)
            cos = _int8_cos(F.array(*[F.lit(int(x)) for x in qq]), F.lit(qnorm))
    else:
        qv = F.col("__qv") if query_vec is None else _lit_vec(query_vec)
        cos = vcos(F.col(vec_col), qv)
    return cos if round_digits is None else F.round(cos, round_digits)


def _probe_one(
    spark,
    path: str,
    part_col: str,
    cells,
    quantized: bool,
    query_vec: list[float],
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Single-query body of both families' probers: a scan of ONLY the
    probed ``cells`` (the IN-list is on the partition column, so the
    parquet source prunes at planning time — PartitionFilters in
    explain), the query as literals, and ``orderBy().limit(k)`` →
    TakeOrderedAndProject with no join. A batch of one through
    ``_probe_batch`` returns the same rows but measured slower (0.39-
    0.41 s against 0.34-0.36 s for an 8-cell IVF index over 2,000
    vectors at sf0.1 on local[3]). → (vec_id, cos)."""
    scanned = spark.read.parquet(path).where(F.col(part_col).isin(*sorted(cells)))
    cos = _cos_expr(quantized, vec_col, query_vec)
    return (
        scanned.select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def ann_lsh_index_build(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
    quantize: bool = False,
) -> int:
    """Build the persisted hyperplane-LSH index: compute each vector's
    sign signature once and write parquet PARTITIONED BY ``__sig`` (the
    LSH twin of the IVF ``ann_index_build``). Queries probe via
    ``ann_topk_lsh_indexed`` with a partition-pruned scan — only the
    multiprobe buckets are read, instead of re-signing the full table
    per query. The hyperplanes are fully determined by (dim, n_planes,
    seed); those are persisted at ``<path>_meta`` and validated at probe
    time so a drifted caller fails loudly instead of probing the wrong
    buckets. ``quantize=True`` stores int8 codes instead of the float
    vectors (see ``_encode``; the signature still comes from the float
    vector, so bucketing is unaffected) and records ``quantized=1``.
    Pass ``dim`` when known to skip the discovery job (else one
    ``first()`` reads a single vector). One distributed pass, no
    shuffle besides the write; returns ``dim``."""
    if dim is None:
        row = df.select(F.size(vec_col).alias("d")).first()
        if row is None:
            raise ValueError(
                "cannot build an LSH index from an empty frame without "
                "an explicit dim= (nothing to discover the width from)"
            )
        dim = row["d"]
    sig = hyperplane_signature(F.col(vec_col), dim, n_planes, seed)
    rows = _encode(df.withColumn("__sig", sig), quantize, vec_col, id_col, "__sig")
    rows.write.mode("overwrite").partitionBy("__sig").parquet(path)
    meta = {"dim": dim, "n_planes": n_planes, "seed": seed}
    if quantize:
        meta["quantized"] = 1
    _write_index_meta(df.sparkSession, path, meta)
    return dim


def ann_topk_lsh_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
    seed: int | None = None,
    multiprobe_bits: int = 2,
) -> DataFrame:
    """Approximate top-k against a persisted LSH index, float or int8
    (see ``ann_lsh_index_build``): compute the probe-bucket set on the
    driver (pure arithmetic on the seeded hyperplanes, from the float
    query), then scan ONLY those ``__sig=`` partitions and exact-rerank
    (``_probe_one``; int8 rows rank by the integer cosine). The
    hyperplane parameters come from the index's own metadata; passing
    ``n_planes``/``seed`` explicitly is allowed only as an assertion
    (mismatch raises — see ``_check_index_meta``). A query vector whose
    length differs from the indexed ``dim`` also raises. The per-query
    cost drops from O(table) signature recompute to O(probed buckets)
    scan."""
    meta, quantized = _open_index(
        spark, path, "lsh", "probe it with ann_topk_indexed",
        {"n_planes": n_planes, "seed": seed},
    )
    _check_query_dim(query_vec, meta, path)
    probe = _lsh_probe_set(
        query_vec, int(meta["n_planes"]), int(meta["seed"]), multiprobe_bits
    )
    return _probe_one(
        spark, path, "__sig", probe, quantized, query_vec, k, vec_col, id_col
    )


def _normalize_rows(centroids: list[list[float]]) -> "np.ndarray":
    cmat = np.array(centroids, dtype=np.float64)
    cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    return cmat


def _ivf_partial_sums(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """Fused assign + per-partition partial-sum Arrow kernel for the
    Lloyd's re-center pass: each partition emits at most ``n_clusters``
    rows (cluster, raw-vector sum, count) — the map-side combine the
    expression path gets from Spark's partial aggregation, but with the
    dim-wide sum done as one numpy reduction instead of ``dim`` codegen
    sum expressions. No shuffle: the final combine over
    n_partitions × n_clusters tiny rows happens on the driver."""
    cmat = _normalize_rows(centroids)
    k, dim = cmat.shape

    def part(batches):
        sums = np.zeros((k, dim), dtype=np.float64)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].apply(lambda x: np.asarray(x, dtype=np.float64)))
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            a = np.argmax(mn @ cmat.T, axis=1)
            np.add.at(sums, a, m)
            counts += np.bincount(a, minlength=k)
        nz = np.nonzero(counts)[0]
        yield pd.DataFrame(
            {
                "__cluster": nz.astype("int32"),
                "vsum": [sums[i].tolist() for i in nz],
                "n": counts[nz],
            }
        )

    return df.select(vec_col).mapInPandas(
        part, "__cluster int, vsum array<double>, n long"
    )


def ivf_train(
    df: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 5,
    seed: int = 7,
    recenter: str = "auto",
) -> list[list[float]]:
    """Train an IVF coarse quantizer: Lloyd's k-means with deterministic
    init (the ``n_clusters`` rows with smallest ``xxhash64(id, seed)`` —
    a seeded pseudo-random sample that reproduces across runs).

    Each iteration is one distributed pass: assign (Arrow kernel,
    argmax dot against the centroid matrix) + sum/count re-center.
    Only the (n_clusters × dim) centroid matrix ever reaches the
    driver — the index build streams at any scale.

    ``recenter`` picks the re-center plan: ``"expr"`` = ``dim`` codegen
    sum expressions through Spark's partial aggregation (exact JVM-side
    combine order — the historical path, fine at embedding dims);
    ``"arrow"`` = the fused ``_ivf_partial_sums`` kernel (one numpy
    reduction per partition — avoids dim-many generated expressions,
    the right plan at 1k+ dims); ``"auto"`` = expr up to dim 256, arrow
    above. Both converge to the same centroids up to float summation
    order (equivalence pinned in tests)."""
    df = ensure_parallelism(df)
    init = (
        df.select(id_col, vec_col)
        .withColumn("__h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("__h", id_col)
        .limit(n_clusters)
        .collect()
    )
    if not init:
        raise ValueError(
            "ivf_train: no rows to train on (empty input frame)"
        )
    centroids = _normalize_rows([list(r[vec_col]) for r in init])
    if recenter == "auto":
        recenter = "expr" if centroids.shape[1] <= 256 else "arrow"
    if recenter not in ("expr", "arrow"):
        raise ValueError(f"unknown recenter mode {recenter!r}")

    for _ in range(iters):
        if recenter == "arrow":
            agg = _ivf_partial_sums(df, centroids.tolist(), vec_col).collect()
        else:
            assigned = ivf_assign(df, centroids.tolist(), vec_col)
            agg = (
                assigned.groupBy("__cluster")
                .agg(
                    F.array(*[
                        F.sum(F.col(vec_col).getItem(i).cast("double"))
                        for i in range(centroids.shape[1])
                    ]).alias("vsum"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
        sums = np.zeros_like(centroids)
        counts = np.zeros(centroids.shape[0], dtype=np.int64)
        for r in agg:
            sums[r["__cluster"]] += np.array(r["vsum"], dtype=np.float64)
            counts[r["__cluster"]] += r["n"]
        new = centroids.copy()
        for i in np.nonzero(counts)[0]:
            mean = sums[i] / counts[i]
            nrm = np.linalg.norm(mean)
            if nrm > 1e-12:
                new[i] = mean / nrm
        if np.allclose(new, centroids):
            break
        centroids = new
    return centroids.tolist()


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    with_cos: bool = False,
) -> DataFrame:
    """Add ``__cluster`` = argmax cosine(v, centroid). Vectorized Arrow
    kernel: one matmul per batch against the (small) centroid matrix
    captured in the UDF closure — no shuffle, no per-row Python.
    ``with_cos=True`` additionally emits ``__cos`` — the cosine to the
    ASSIGNED centroid, read off the same matmul for free (cluster
    cohesion for the map/stats reports)."""
    from pyspark.sql.functions import pandas_udf

    cmat = _normalize_rows(centroids)

    if not with_cos:

        @pandas_udf("int")
        def nearest(v: pd.Series) -> pd.Series:
            m = np.stack(v.apply(lambda x: np.asarray(x, dtype=np.float64)))
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return pd.Series(np.argmax(m @ cmat.T, axis=1).astype("int32"))

        return df.withColumn("__cluster", nearest(F.col(vec_col)))

    @pandas_udf("__cluster int, __cos double")
    def nearest_cos(v: pd.Series) -> pd.DataFrame:
        m = np.stack(v.apply(lambda x: np.asarray(x, dtype=np.float64)))
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cmat.T
        best = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                "__cluster": best.astype("int32"),
                "__cos": sims[np.arange(len(best)), best],
            }
        )

    out = df.withColumn("__a", nearest_cos(F.col(vec_col)))
    return out.select(
        *df.columns, F.col("__a.__cluster").alias("__cluster"),
        F.col("__a.__cos").alias("__cos")
    )


def cluster_corpus_map(
    df: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = None,
    iters: int = 5,
    seed: int = 7,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Domain discovery over an embedded corpus: k-means the vectors
    (deterministic seeded ``ivf_train``) and report one row per
    non-empty cluster — ``n_vecs``, corpus ``share``, ``cohesion``
    (mean cosine to the assigned centroid: low cohesion = a grab-bag
    cluster worth re-splitting), and, when ``label_col`` is given
    (source / lang / topic tags), the ``dominant_label`` and its
    ``label_purity`` — how well the unsupervised clusters recover the
    labeled structure. Untagged rows (NULL label) count toward
    ``n_vecs``/``cohesion`` but never compete for dominance, and purity
    is measured over the tagged population (a fully-untagged cluster
    reports NULL for both). The report answers "what IS in this
    corpus" before choosing mixture weights.

    Scale shape: assignment is the zero-shuffle Arrow matmul kernel;
    the only shuffles are map-side-combined group aggs whose wire rows
    are bounded by k (and k x |labels| for the purity leg — labels are
    categorical tags, not free text); the grand total for ``share`` is
    a broadcast cross-join of the 1-row re-aggregate. Vectors never
    shuffle. Deterministic: seeded init, tie-broken dominant label
    (max count, then min label)."""
    if centroids is None:
        centroids = ivf_train(
            df, n_clusters, vec_col, id_col, iters=iters, seed=seed
        )
    assigned = ivf_assign(df, centroids, vec_col, with_cos=True)
    if label_col is None:
        per = assigned.groupBy("__cluster").agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("__cos"), 6).alias("cohesion"),
        )
    else:
        # one pass over the assign kernel: aggregate at (cluster,
        # label) grain, then roll up — the kernel (the expensive leg)
        # runs once instead of once per report facet
        lab = assigned.groupBy("__cluster", label_col).agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum("__cos").alias("__sc"),
        )
        # dominant = max count among REAL tags, ties -> min label
        # (struct orders ascending, so negate the count). Untagged rows
        # (NULL label) count toward n_vecs/cohesion but never compete
        # for dominance — a null label would sort before every real tag
        # and "win" ties otherwise. Purity is measured over the TAGGED
        # population; a fully-untagged cluster reports NULL for both.
        tagged = F.col(label_col).isNotNull()
        pick = F.struct(
            F.when(tagged, -F.col("__cnt"))
            .otherwise(F.lit(2**63 - 1))
            .alias("nc"),
            F.col(label_col).alias("l"),
        )
        per = (
            lab.groupBy("__cluster")
            .agg(
                F.sum("__cnt").alias("n_vecs"),
                F.round(F.sum("__sc") / F.sum("__cnt"), 6).alias("cohesion"),
                F.min_by(
                    F.when(tagged, F.col(label_col)), pick
                ).alias("dominant_label"),
                F.max(F.when(tagged, F.col("__cnt"))).alias("__dom_cnt"),
                F.sum(F.when(tagged, F.col("__cnt"))).alias("__n_tagged"),
            )
            .withColumn(
                "label_purity",
                F.round(F.col("__dom_cnt") / F.col("__n_tagged"), 6),
            )
            .drop("__dom_cnt", "__n_tagged")
        )
    from thundercats_spark.physical.util import with_grand_total

    return (
        with_grand_total(per, "n_vecs", "__total")
        .withColumn("share", F.round(F.col("n_vecs") / F.col("__total"), 6))
        .drop("__total")
        .withColumnRenamed("__cluster", "cluster")
        .orderBy(F.desc("n_vecs"), F.asc("cluster"))
    )


def cluster_exemplars(
    df: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The ``k`` most central members of every cluster — what a human
    reads to NAME the domains ``cluster_corpus_map`` discovered (the
    map says cluster 7 is 12% of the corpus with low purity; the
    exemplars say it's markdown changelogs). Returns
    ``(cluster, rank, id, centroid_cos)``, rank 1 = most central,
    ties broken by min id.

    Scale shape: one zero-shuffle Arrow assign, then a row_number
    window PARTITIONED BY cluster (never a no-partition window) and an
    early ``centroid_cos`` rank filter — the shuffle carries (id,
    cluster, cos) triples, never the vectors or text; join exemplar
    ids back to the corpus for display."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    assigned = ivf_assign(df, centroids, vec_col, with_cos=True)
    w = Window.partitionBy("__cluster").orderBy(
        F.desc("__cos"), F.asc(id_col)
    )
    return (
        assigned.select(id_col, "__cluster", "__cos")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__cluster").alias("cluster"),
            "rank",
            F.col(id_col),
            F.round("__cos", 6).alias("centroid_cos"),
        )
        .orderBy("cluster", "rank")
    )


def cluster_share_drift(
    df_old: DataFrame,
    df_new: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between two corpus snapshots: assign BOTH
    against the same FROZEN centroids (train once — on the reference
    snapshot or the union — or reuse a persisted index's centroids via
    ``ann_index_centroids``) and compare per-cluster shares. Catches
    distribution shift that source/lang tags can't see (a crawl that
    quietly went 2x code-heavy has identical tags and a very different
    cluster histogram). Freezing matters: retraining on the new
    snapshot would let the clusters chase the drift and hide it.

    One row per cluster present in either snapshot:
    ``(cluster, n_old, n_new, share_old, share_new, delta)`` with
    ``delta = share_new - share_old`` (rounded 6); total variation
    distance is ``0.5 * sum(abs(delta))`` if a scalar is wanted.
    Scale shape: two zero-shuffle Arrow assigns, two k-bounded group
    aggs, totals via broadcast cross-joins of 1-row re-aggregates, one
    k-row outer join."""

    from thundercats_spark.physical.util import with_grand_total

    def shares(df: DataFrame, n_name: str, s_name: str) -> DataFrame:
        per = (
            ivf_assign(df, centroids, vec_col)
            .groupBy("__cluster")
            .agg(F.count(F.lit(1)).alias(n_name))
        )
        return with_grand_total(per, n_name, "__t").select(
            "__cluster",
            n_name,
            (F.col(n_name) / F.col("__t")).alias(s_name),
        )

    old = shares(df_old, "n_old", "__so")
    new = shares(df_new, "n_new", "__sn")
    joined = old.join(new, "__cluster", "full_outer").select(
        F.col("__cluster").alias("cluster"),
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        F.coalesce("__so", F.lit(0.0)).alias("__so"),
        F.coalesce("__sn", F.lit(0.0)).alias("__sn"),
    )
    return joined.select(
        "cluster",
        "n_old",
        "n_new",
        F.round("__so", 6).alias("share_old"),
        F.round("__sn", 6).alias("share_new"),
        F.round(F.col("__sn") - F.col("__so"), 6).alias("delta"),
    ).orderBy("cluster")


def ann_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` centroids nearest the
    query, exact-rerank inside those cells. This variant recomputes the
    assignment per query (fine for one-shot jobs); for repeated queries
    build the persisted index once with ``ann_index_build`` and probe
    with ``ann_topk_indexed`` — a partition-pruned scan of
    nprobe/n_clusters of the data. ``nprobe = n_clusters`` degrades
    gracefully to exact search."""
    if centroids is None:
        centroids = ivf_train(df, n_clusters, vec_col, id_col, seed=seed)
    probe = _nearest_cells(centroids, query_vec, nprobe)

    cells = ivf_assign(df, centroids, vec_col).where(F.col("__cluster").isin(probe))
    return ann_topk_bruteforce(cells, query_vec, k, vec_col, id_col).select(id_col, "cos")


def ann_index_build(
    df: DataFrame,
    path: str,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    centroids: list[list[float]] | None = None,
    quantize: bool = False,
) -> list[list[float]]:
    """Build the persisted IVF index: assign every vector to its nearest
    centroid and write parquet PARTITIONED BY ``__cluster``, plus the
    centroid matrix at ``<path>_centroids``. Queries then probe via
    ``ann_topk_indexed`` with a partition-pruned scan — only
    nprobe/n_clusters of the data is ever read, instead of recomputing
    assignments over the full table per query. ``quantize=True`` is the
    SQ8 serving shape: the coarse quantizer still trains and assigns on
    the FLOAT vectors, but each cell stores only int8 codes (see
    ``_encode``) — the dominant cost of replicating an embedding table
    into an index at 100 TB — and the meta records ``quantized=1``.
    Build is one distributed pass (Arrow argmax kernel, no shuffle
    besides the write)."""
    spark = df.sparkSession
    if centroids is None:
        centroids = ivf_train(df, n_clusters, vec_col, id_col, seed=seed)
    assigned = ivf_assign(df, centroids, vec_col)
    rows = _encode(assigned, quantize, vec_col, id_col, "__cluster")
    rows.write.mode("overwrite").partitionBy("__cluster").parquet(path)
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + "_centroids")
    # the meta goes LAST: it is the 'built' marker the cache layer checks
    meta = {"dim": len(centroids[0]), "n_clusters": len(centroids), "seed": seed}
    if quantize:
        meta["quantized"] = 1
    _write_index_meta(spark, path, meta)
    return centroids


def _nearest_cells_normed(
    cmat: "np.ndarray", query_vec: list[float], nprobe: int
) -> list[int]:
    """Core of ``_nearest_cells`` over a PRE-normalized centroid matrix
    — the batch prober normalizes once and probes N times (the matrix
    never changes between queries)."""
    q = np.asarray(query_vec, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    return [int(i) for i in np.argsort(-(cmat @ q))[:nprobe]]


def _nearest_cells(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` centroid indices nearest the query by cosine —
    ONE implementation shared by every IVF prober (single-query, batch,
    ad-hoc), so batch and per-query paths probe byte-identical cell
    sets (their parity is test-pinned on that)."""
    return _nearest_cells_normed(_normalize_rows(centroids), query_vec, nprobe)


def _quantize_query(query_vec: list[float]) -> tuple[list[int], float]:
    """Driver-side int8 codes + code-vector norm for a query, using the
    SAME symmetric half-away-from-zero rule as the stored codes (numpy
    rounds half-to-even; Spark/DuckDB round half away from zero — query
    codes must line up with what quantize_embeddings emits)."""
    import math

    s_q = float(np.max(np.abs(np.asarray(query_vec, dtype=np.float64)))) / 127.0
    if s_q == 0.0:
        qq = [0] * len(query_vec)
    else:
        qq = [
            int(math.copysign(math.floor(abs(x / s_q) + 0.5), x))
            for x in query_vec
        ]
    return qq, float(np.linalg.norm(np.asarray(qq, dtype=np.float64)))


def _int8_cos(qq_col, qnorm_col):
    """Cosine between a stored code vector (column ``q``) and a query's
    int8 codes/code-norm given as Column expressions — the per-vector
    scales cancel in cosine, so this is an exact integer dot over int8
    codes with two float ops at the end. Every int8 probe ranks by it
    through ``_cos_expr``."""
    idot = F.aggregate(
        F.zip_with(F.col("q"), qq_col, lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    inorm = F.sqrt(
        F.aggregate(
            F.col("q"),
            F.lit(0).cast("long"),
            lambda s, x: s + x.cast("long") * x.cast("long"),
        ).cast("double")
    )
    denom = inorm * qnorm_col
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(
        idot.cast("double") / denom
    )


def ann_index_centroids(spark, path: str) -> list[list[float]]:
    rows = (
        spark.read.parquet(path.rstrip("/") + "_centroids")
        .orderBy("cluster")
        .collect()
    )
    return [list(r["centroid"]) for r in rows]


def ann_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k against a persisted IVF index, float or int8
    (see ``ann_index_build``): pick the ``nprobe`` centroids nearest the
    query on the driver (tiny matrix), then scan ONLY those
    ``__cluster=`` partitions and exact-rerank (``_probe_one``). Same
    results as ``ann_topk_ivf`` with the same centroids; the scan cost
    drops from O(table) to O(probed cells). An int8 index ranks by
    cosine in the quantized domain — the per-vector scales cancel, so
    the score is an exact integer dot over the codes with two float ops
    at the end; ranking differs from the float index only by the
    bounded quantization error. Passing ``centroids`` skips reading
    them back; their count and width must match the index metadata."""
    pinned = (
        {"n_clusters": len(centroids), "dim": len(centroids[0])}
        if centroids is not None
        else None
    )
    meta, quantized = _open_index(
        spark, path, "ivf", "probe it with ann_topk_lsh_indexed", pinned
    )
    _check_query_dim(query_vec, meta, path)
    if centroids is None:
        centroids = ann_index_centroids(spark, path)
    probe = _nearest_cells(centroids, query_vec, nprobe)
    return _probe_one(
        spark, path, "__cluster", probe, quantized, query_vec, k, vec_col, id_col
    )


def ann_index_append(
    spark,
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assume_new_ids: bool = False,
) -> int:
    """Fold a batch of new vectors into a persisted index of either
    family, float or int8 — all read from the index's own metadata, so
    a caller that maintains an index it didn't build (the streaming
    sink ``streaming.windows.stream_ann_index``) keeps working if the
    layout is swapped under it — WITHOUT a full rebuild. The batch's
    cell keys come from the FLOAT vectors: IVF assigns against the
    index's frozen centroids, LSH computes the signature from the
    meta's (dim, n_planes, seed), so appended vectors land in exactly
    the buckets a full rebuild would use. Only the touched partitions
    are rewritten (``_upsert_partitions``) — the same O(batch + touched
    partitions) maintenance shape as
    ``rollup_update``/``dedup_*_incremental``; the corpus-scale vector
    data is never rescanned.

    Merge is an UPSERT on ``id_col`` (a re-sent id replaces its old
    row), which makes replay idempotent: re-running the same batch
    converges to the same index, so a crash between two partition swaps
    is repaired by replaying the batch — no per-partition journal
    needed (unlike sum-like rollups, where re-merging corrupts). A
    re-sent id whose UPDATED vector lands in a different cell is
    handled: one column-pruned scan over the index's (id, cell) pair —
    never the vectors — locates stale rows in other cells, and those
    cells are rewritten too. ``assume_new_ids=True`` skips that scan
    for strictly-append-only ingestion (fresh ids guaranteed by the
    caller — e.g. monotonic ingest keys).

    IVF centroids stay FROZEN (standard IVF practice — the coarse
    quantizer is trained once; appending never moves cells, so old
    vectors never need re-assigning). Under real distribution drift
    cell balance degrades and the index should be rebuilt; compare
    cell-size skew over time (``ann_index_stats``) to decide. Returns
    the number of rows appended."""
    meta, quantized = _open_index(spark, path, None)
    first = batch.select(F.size(vec_col).alias("d")).first()
    if first is None:
        return 0
    if first["d"] != int(meta["dim"]):
        raise ValueError(
            f"batch vectors have dim {first['d']} but the "
            f"{meta['layout'].upper()} index at {path!r} was built for "
            f"dim {meta['dim']}"
        )
    if meta["layout"] == "ivf":
        part_col = "__cluster"
        rows = ivf_assign(batch, ann_index_centroids(spark, path), vec_col)
    else:
        part_col = "__sig"
        sig = hyperplane_signature(
            F.col(vec_col), int(meta["dim"]), int(meta["n_planes"]),
            int(meta["seed"]),
        )
        rows = batch.withColumn(part_col, sig)
    return _upsert_partitions(
        spark, _encode(rows, quantized, vec_col, id_col, part_col), path,
        part_col, id_col, assume_new_ids,
    )


def _upsert_partitions(
    spark,
    assigned: DataFrame,
    path: str,
    part_col: str,
    id_col: str,
    assume_new_ids: bool,
) -> int:
    """Upsert-into-touched-partitions engine behind ``ann_index_append``
    for both families (IVF ``__cluster`` and LSH ``__sig`` layouts):
    ``assigned`` is the batch with its partition key already
    computed as a pure function of the vector. Merge is an UPSERT on
    ``id_col`` over ONLY the touched partitions (plus a column-pruned
    stale-row hunt unless ``assume_new_ids``); per-partition atomic
    swap; replay-idempotent by construction."""
    import os
    import shutil

    from thundercats_spark.operators.incremental import (
        _recover_partition_swaps,
        _swap_dir,
    )

    # repair any interrupted prior swap BEFORE reading the index back —
    # a crash mid-_swap_dir leaves a partition's only history in .old
    _recover_partition_swaps(path)
    # one materialization: the touched-partition collect and the staging
    # write both consume the assignment (Arrow kernel — don't run twice)
    assigned = assigned.persist()
    try:
        n_new = assigned.count()
        if n_new == 0:
            return 0
        # an id sent twice IN ONE batch is ambiguous (which vector
        # wins?) and would re-introduce the duplicate-id corruption the
        # upsert exists to prevent — reject loudly; dedup upstream.
        dup = (
            assigned.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"batch contains duplicate {id_col} values (e.g. "
                f"{dup[0][id_col]!r}); deduplicate the batch before "
                "appending — which copy wins is ambiguous"
            )
        touched = {
            r[0] for r in assigned.select(part_col).distinct().collect()
        }
        batch_ids = assigned.select(id_col).distinct()
        if not assume_new_ids:
            # stale-row hunt: a re-sent id whose new vector lands in a
            # DIFFERENT partition leaves its old row outside the batch's
            # partitions; those must be rewritten too or the index grows
            # duplicate ids. Column-pruned scan — only the
            # (id, partition key) pair is read, never the vectors.
            stale = (
                spark.read.parquet(path)
                .select(id_col, part_col)
                .join(F.broadcast(batch_ids), id_col, "left_semi")
                .select(part_col)
                .distinct()
                .collect()
            )
            touched |= {r[0] for r in stale}
        touched = sorted(touched)
        existing = spark.read.parquet(path).where(
            F.col(part_col).isin(touched)  # partition-pruned read-back
        )
        merged = existing.join(batch_ids, id_col, "left_anti").unionByName(
            assigned.select(*existing.columns)
        )
        staging = path.rstrip("/") + ".staging"
        merged.write.mode("overwrite").partitionBy(part_col).parquet(staging)
        # a partition whose only rows were stale duplicates writes no
        # staged dir; swap from the touched list so it still gets
        # REPLACED (emptied), not left holding the stale rows.
        for value in touched:
            entry = f"{part_col}={value}"
            staged = os.path.join(staging, entry)
            target = os.path.join(path, entry)
            if os.path.isdir(staged):
                _swap_dir(staged, target)
            elif os.path.isdir(target):
                shutil.rmtree(target)
        shutil.rmtree(staging, ignore_errors=True)
        return n_new
    finally:
        assigned.unpersist()


def ann_index_stats(spark, path: str, max_cells: int = 4096) -> dict:
    """Index health report — the rebuild-cadence signal the append
    docstring points at: per-cell row counts from a column-pruned scan
    (only the partition column is read; vectors never load), balance
    ratios, and the index's own metadata. Supports BOTH persisted
    layouts, detected from the metadata: IVF (``__cluster`` partitions,
    cell universe = ``n_clusters``) and LSH (``__sig`` partitions, cell
    universe = ``2^n_planes`` — LSH buckets are naturally sparse, so
    ``empty_cells`` is informational there, not a drift signal; watch
    ``skew_ratio`` instead). An index maintained by
    ``ann_index_append`` under distribution drift shows its skew here
    (``max_cell / mean_cell`` growing); rebuild when probes slow down
    or the ratio drifts far from the build-time value. ``layout`` in
    the report says which family the index is.

    Driver cost is BOUNDED: the balance scalars come from a
    distributed two-level aggregation (one row to the driver), and the
    per-cell breakdown in ``cells`` is complete only up to
    ``max_cells`` occupied cells — beyond that (easy for LSH, whose
    occupied-bucket count tracks corpus size) it holds the
    ``max_cells`` HEAVIEST cells and ``cells_complete`` is False (the
    hot tail is what rebuild decisions look at; IVF layouts are
    bounded by n_clusters and stay complete)."""
    meta, quantized = _open_index(spark, path, None)
    layout = meta["layout"]
    if layout == "ivf":
        part_col, universe = "__cluster", int(meta["n_clusters"])
    else:
        part_col, universe = "__sig", 2 ** int(meta["n_planes"])
    per_cell = (
        spark.read.parquet(path)
        .groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # one probing job first: if every occupied cell fits under
    # max_cells (all IVF layouts, small LSH), the scalars derive
    # driver-side from the complete rows — the pre-r06 one-job cost
    probe_rows = per_cell.limit(max_cells + 1).collect()
    complete = len(probe_rows) <= max_cells
    if complete:
        ns = [int(r["n"]) for r in probe_rows]
        n_cells, total = len(ns), sum(ns)
        mn, mx = (min(ns), max(ns)) if ns else (0, 0)
        cell_rows = probe_rows
    else:
        # truncated: exact balance scalars via a second-level agg (ONE
        # row to the driver) + the heaviest max_cells (TakeOrdered —
        # per-partition heap, no global sort)
        agg = per_cell.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
            F.min("n").alias("mn"),
            F.max("n").alias("mx"),
        ).first()
        n_cells, total = int(agg["n_cells"]), int(agg["total"])
        mn, mx = int(agg["mn"]), int(agg["mx"])
        cell_rows = (
            per_cell.orderBy(F.desc("n"), F.asc(part_col))
            .limit(max_cells)
            .collect()
        )
    mean = total / n_cells if n_cells else 0.0
    counts = sorted((r[part_col], r["n"]) for r in cell_rows)
    return {
        "layout": layout,
        "n_vectors": total,
        "n_cells": n_cells,
        "declared_clusters": universe,
        "empty_cells": universe - n_cells,
        "min_cell": mn if n_cells else 0,
        "max_cell": mx if n_cells else 0,
        "mean_cell": round(mean, 2),
        "skew_ratio": round(mx / mean, 3) if n_cells and mean else 0.0,
        "dim": int(meta["dim"]),
        "quantized": quantized,
        "cells": dict(counts),
        "cells_complete": complete,
    }


def _parse_query_batch(
    queries, vec_col: str, q_id_col: str, max_queries: int, dim: int, path: str
):
    """Shared driver-side batch parsing/validation for BOTH persisted
    batch probers: accepts a list of ``(q_id, vector)`` tuples or a
    small DataFrame with (``q_id_col``, ``vec_col``); enforces the
    ``max_queries`` bound (the batch becomes probe literals + a
    broadcast table), the index's ``dim``, and q_id uniqueness — two
    vectors under one q_id would rank the UNION of both candidate sets
    in one window, silently-merged garbage, so it's a loud error (same
    rule as the upsert engine's in-batch dup ids). Returns
    ``(qlist, qid_type)``."""
    from pyspark.sql.types import LongType, StringType

    qid_type = None
    if isinstance(queries, DataFrame):
        qid_type = queries.schema[q_id_col].dataType
        queries = queries.select(q_id_col, vec_col).limit(max_queries + 1).collect()
    qlist = [(qid, [float(x) for x in v]) for qid, v in queries]
    if len(qlist) > max_queries:
        raise ValueError(
            f"query batch exceeds max_queries={max_queries}; shard the "
            "batch or raise the bound explicitly (the batch is "
            "driver-resident and broadcast)"
        )
    if qid_type is None:
        qid_type = (
            LongType() if qlist and isinstance(qlist[0][0], int) else StringType()
        )
    seen_ids = set()
    for qid, v in qlist:
        if len(v) != dim:
            raise ValueError(
                f"query {qid!r} has dim {len(v)} but the index at "
                f"{path!r} was built for dim {dim}"
            )
        if qid in seen_ids:
            raise ValueError(
                f"query batch contains duplicate {q_id_col}={qid!r}; "
                "query ids must be unique — which vector owns the "
                "result rows is ambiguous"
            )
        seen_ids.add(qid)
    return qlist, qid_type


def _probe_batch(
    spark,
    path: str,
    meta: dict,
    quantized: bool,
    queries,
    part_col: str,
    part_type,
    probe_cells,
    k: int,
    vec_col: str,
    id_col: str,
    q_id_col: str,
    round_digits: int | None,
    max_queries: int,
) -> DataFrame:
    """Batch body of both families' batch probers. ``probe_cells(v)``
    gives one query's cells with the same driver-side arithmetic as the
    single-query prober; the (q_id, cell, query payload) rows become a
    broadcast table, the UNION of all cells drives ONE planning-time
    partition-pruned scan, the scanned rows join the queries on
    ``part_col`` (each stored row meets only the queries probing its
    cell — never a nested loop), and a per-query window keeps the top k
    — result rows identical to the single-query prober's (parity
    test-pinned). ``part_type`` is the cell column's Spark type."""
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    qlist, qid_type = _parse_query_batch(
        queries, vec_col, q_id_col, max_queries, int(meta["dim"]), path
    )
    qrows, cells = [], set()
    for qid, v in qlist:
        probe = probe_cells(v)
        cells.update(probe)
        payload = _quantize_query(v) if quantized else (v,)
        qrows.extend((qid, int(c), *payload) for c in probe)
    payload_fields = (
        [
            StructField("__qq", ArrayType(IntegerType()), False),
            StructField("__qnorm", DoubleType(), False),
        ]
        if quantized
        else [StructField("__qv", ArrayType(DoubleType()), False)]
    )
    q_schema = StructType(
        [
            StructField(q_id_col, qid_type, False),
            StructField(part_col, part_type, False),
            *payload_fields,
        ]
    )
    # driver-built query batch: Arrow LocalTableScan, not a pickled
    # RDD re-executed (with Python workers) by every consuming stage
    q_df = local_frame(spark, qrows, q_schema)

    pred = F.col(part_col).isin(sorted(cells)) if cells else F.lit(False)
    scanned = spark.read.parquet(path).where(pred)  # ONE pruned scan
    joined = scanned.join(F.broadcast(q_df), part_col)
    cos = _cos_expr(quantized, vec_col, None, round_digits)
    scored = joined.select(F.col(q_id_col), F.col(id_col), cos.alias("cos"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ann_batch_topk_indexed(
    spark,
    path: str,
    queries,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    nprobe: int = 4,
    round_digits: int | None = 6,
    max_queries: int = 100_000,
) -> DataFrame:
    """Serving-throughput probe: N query vectors against a persisted
    IVF index (float OR int8 — detected from the index metadata) in ONE
    job (``_probe_batch``). Per-query probe cells come from the same
    ``_nearest_cells_normed`` as ``ann_topk_indexed``, over the
    centroid matrix normalized once; result rows are identical to
    calling ``ann_topk_indexed`` once per query, while the scan cost is
    amortized across the whole batch instead of paid per query.
    → (q_id, vec_id, cos, rank).

    ``queries`` is a list of ``(q_id, vector)`` tuples or a small
    DataFrame with (``q_id_col``, ``vec_col``); either way the batch is
    driver-resident (it becomes probe literals + a broadcast table), so
    batches above ``max_queries`` are rejected loudly — shard the query
    set and run several calls, or use the exact ``ann_batch_topk``."""
    from pyspark.sql.types import IntegerType

    meta, quantized = _open_index(
        spark, path, "ivf", "batch-probe it with ann_batch_topk_lsh_indexed"
    )
    cmat = _normalize_rows(ann_index_centroids(spark, path))
    return _probe_batch(
        spark, path, meta, quantized, queries, "__cluster", IntegerType(),
        lambda v: _nearest_cells_normed(cmat, v, nprobe),
        k, vec_col, id_col, q_id_col, round_digits, max_queries,
    )


def ann_batch_topk_lsh_indexed(
    spark,
    path: str,
    queries,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    multiprobe_bits: int = 2,
    round_digits: int | None = 6,
    max_queries: int = 100_000,
) -> DataFrame:
    """LSH twin of ``ann_batch_topk_indexed``: N query vectors against
    a persisted ``__sig``-partitioned index (float OR int8) in ONE job.
    Per-query probe buckets come from the same arithmetic as
    ``ann_topk_lsh_indexed`` (``_probe_set_from_planes``), with the
    hyperplanes derived once for the batch — they are a pure function
    of (dim, n_planes, seed) from the index's own metadata. Result rows
    are identical to the per-query prober's.
    → (q_id, vec_id, cos, rank).

    Batch limits and validation are the IVF prober's: driver-resident
    batch, loud rejection of oversize batches, dim mismatches, and
    duplicate q_ids."""
    from pyspark.sql.types import LongType

    meta, quantized = _open_index(
        spark, path, "lsh", "batch-probe it with ann_batch_topk_indexed"
    )
    planes = _hyperplanes(
        int(meta["dim"]), int(meta["n_planes"]), int(meta["seed"])
    )
    # long, not int: a signature is an n_planes-bit value
    return _probe_batch(
        spark, path, meta, quantized, queries, "__sig", LongType(),
        lambda v: _probe_set_from_planes(planes, v, multiprobe_bits),
        k, vec_col, id_col, q_id_col, round_digits, max_queries,
    )


def maintain_ann_index(
    spark,
    batch: DataFrame | None,
    path: str,
    source: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_skew_ratio: float = 4.0,
    max_empty_frac: float = 0.25,
    assume_new_ids: bool = False,
    seed: int = 7,
) -> dict:
    """Append-then-decide index maintenance for the persisted IVF
    layouts: fold ``batch`` into the index (``ann_index_append``), read
    the cell-balance report (``ann_index_stats``), and when drift has
    degraded the index past the thresholds — ``skew_ratio`` above
    ``max_skew_ratio`` or more than ``max_empty_frac`` of the declared
    cells empty — REBUILD it with centroids retrained on ``source``
    (the full corpus including the appended rows; training reads float
    vectors, so a rebuild needs the source table — the int8 index
    stores only codes). With ``source=None`` the report still flags
    ``degraded`` but no rebuild runs (wire the corpus in for the
    automated path). The rebuild overwrites the index in place, in the
    same codec — single-maintenance-writer assumption, same as the
    append path.

    IVF layouts only: an LSH index has no centroids to retrain (its
    buckets are a fixed function of the hyperplanes) and its empty-cell
    fraction is naturally high, so the drift thresholds here would
    flag every healthy LSH index and a "rebuild" would overwrite it
    with an IVF layout — rejected loudly instead; maintain LSH indexes
    with ``ann_index_append`` + the ``skew_ratio`` from
    ``ann_index_stats``.

    Returns ``{"appended", "stats", "degraded", "rebuilt"}`` plus
    ``"stats_after"`` when a rebuild ran."""
    _open_index(
        spark, path, "ivf",
        "maintain_ann_index retrains centroids, which LSH has none of — "
        "append with ann_index_append and watch ann_index_stats "
        "skew_ratio instead",
    )
    appended = 0
    if batch is not None:
        appended = ann_index_append(
            spark, batch, path, vec_col, id_col, assume_new_ids
        )
    stats = ann_index_stats(spark, path)
    universe = stats["declared_clusters"]
    degraded = stats["skew_ratio"] > max_skew_ratio or (
        universe > 0 and stats["empty_cells"] / universe > max_empty_frac
    )
    report = {
        "appended": appended,
        "stats": stats,
        "degraded": degraded,
        "rebuilt": False,
    }
    if degraded and source is not None:
        ann_index_build(
            source, path, n_clusters=universe, vec_col=vec_col,
            id_col=id_col, seed=seed, quantize=stats["quantized"],
        )
        report["rebuilt"] = True
        report["stats_after"] = ann_index_stats(spark, path)
    return report


def ann_batch_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one job:
    broadcast-join the (small) query table against the data, score
    cosine in the scan stage, keep k per query with a window.
    → (q_id, vec_id, cos, rank).

    Scale shape: the only shuffle is (q_id, vec_id, cos) triples — ~20
    bytes/row — partitioned by query id; AQE's skew split handles hot
    queries. For query batches too large to broadcast, pre-bucket both
    sides with the IVF index (``ann_index_build``) and join per cell."""
    from pyspark.sql import Window

    q = queries.select(F.col(q_id_col).alias("__qid"), F.col(vec_col).alias("__qv"))
    cos = vcos(F.col(vec_col), F.col("__qv"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = data.join(F.broadcast(q)).select(
        F.col("__qid").alias(q_id_col),
        F.col(id_col),
        cos.alias("cos"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_pairs_bruteforce(
    df: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """All pairs with cosine >= threshold — exact. O(n²) compare (block
    nested loop join); keep for oracle verification and small dims; the
    scale path is ``cosine_pairs_lsh``."""
    df = ensure_parallelism(df)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = vcos(F.col("va"), F.col("vb"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 4,
    round_digits: int | None = 6,
) -> DataFrame:
    """Near-pair candidates = pairs sharing a bucket in ANY of
    ``n_tables`` independent hyperplane tables (OR-construction boosts
    recall), cosine-verified. Shuffles on (table, signature) — never
    materializes n² pairs; the pair-dedup shuffle carries ~20-byte
    (id_a, id_b, cos) rows, never the vectors (cos is verified at the
    join output, where both vectors are already in the row)."""
    dim_row = df.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:  # empty input → empty pair frame, not a crash
        return df.sparkSession.createDataFrame(
            [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                f"id_b {df.schema[id_col].dataType.simpleString()}, cos double"
        )
    dim = dim_row["d"]
    tables = [
        hyperplane_signature(F.col(vec_col), dim, n_planes, seed=7 + 1000 * t)
        for t in range(n_tables)
    ]
    df = ensure_parallelism(df)
    sigs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), s.alias("sig"))
                for t, s in enumerate(tables)
            ])
        ).alias("b"),
    ).select("id", "v", F.col("b.t").alias("t"), F.col("b.sig").alias("sig"))
    # cosine + threshold BEFORE dropDuplicates: cos is deterministic
    # per pair, so the result is identical — but the dedup shuffle then
    # moves 20-byte triples instead of dragging both full embedding
    # vectors (2 x dim floats per candidate) through the exchange.
    cos = vcos(F.col("x.v"), F.col("y.v"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        sigs.alias("x")
        .join(sigs.alias("y"), ["t", "sig"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def cosine_pairs_clustered(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Cosine pairs WITHIN coarse k-means cells: assign each vector to
    its nearest centroid, self-join per cell, verify cosine. The
    SemDeDup candidate rule — semantic near-dups land in the same cell,
    and the pair space shrinks from n² to Σ|cell|². Misses only pairs
    straddling a cell boundary (raise n_clusters recall by probing
    fewer, bigger cells; see ``cosine_pairs_lsh`` for the
    OR-construction alternative)."""
    assigned = ivf_assign(df, centroids, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "__cluster"
    )
    cos = vcos(F.col("x.v"), F.col("y.v"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        assigned.alias("x")
        .join(assigned.alias("y"), "__cluster")
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
    seed: int = 7,
    small_graph_rows: int | None = SMALL_GRAPH_ROWS,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings with
    the IVF coarse quantizer, mine cosine>=threshold pairs within each
    cell, connect them into duplicate groups, keep the min-id row per
    group. Returns surviving rows of ``df``.

    Scale shape: k-means touches only (k x dim) on the driver; the
    pair space is cell-bounded (never n²); connected components works
    on id pairs only (``small_graph_rows`` tunes/disables its driver
    union-find fast path). ``n_clusters=1`` degrades to the exact
    brute-force pair rule (useful as its own oracle in tests)."""
    from thundercats_spark.operators.components import connected_components

    cents = ivf_train(df, n_clusters, vec_col, id_col, iters=iters, seed=seed)
    pairs = cosine_pairs_clustered(df, cents, threshold, vec_col, id_col)
    comp = connected_components(pairs, small_graph_rows=small_graph_rows)
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
