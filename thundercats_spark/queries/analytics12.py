"""Fifteenth query wave (r11, second tranche): five surfaces with no
prior registry representative.

1. error-BURST islands: maximal runs of consecutive same-type events
   per user (the rn − rn_by_type gaps-and-islands identity on a
   CONDITION, not a time gap — the shape monitoring pipelines use for
   "N consecutive failures" alerts), reported as a burst-length
   histogram. Pure integer arithmetic.
2. event-type TRIGRAM paths: the top-20 consecutive (t1, t2, t3)
   sequences across users (two LEADs on one user exchange) — the
   order-k path-mining report under every funnel design.
3. embedding LABEL COMPACTNESS: per label, RMS distance to the label
   centroid via the E||x||² − ||μ||² identity — no join-back of the
   centroid, just two aggregations; the intra-class geometry QA that
   decides whether labels are separable before training a probe.
4. n-gram CONTAINMENT pairs: asymmetric near-dup detection
   (C(A→B) = |A∩B| / |A|) over distinct 2-gram shingles with a
   document-frequency stop-shingle cap — the TEMPLATE direction
   near-dup that symmetric Jaccard under-scores (a boilerplate
   wrapper containing a short doc scores high A→B, low B→A).
5. supplier-part bipartite DEGREES: distinct-partner histogram from
   the lineitem edge list — the degree-skew screen before any
   supplier-side co-occurrence mining.

Cross-engine exactness discipline: see analytics8-11 headers.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from thundercats_spark.queries import load, register

# --------------------------------------------------------------------------
# 1. Error-burst islands (runs of consecutive same-type events).
# --------------------------------------------------------------------------

ERROR_BURSTS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rnt
  FROM events
), runs AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM seq WHERE event_type = 'error'
  GROUP BY user_id, rn - rnt
)
SELECT run_len,
       CAST(COUNT(*) AS BIGINT) AS n_bursts,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM runs GROUP BY run_len ORDER BY run_len
"""


@register("events_error_bursts", ERROR_BURSTS_SQL)
def events_error_bursts(spark, sf_dir):
    """Burst-length histogram of CONSECUTIVE 'error' events per user —
    gaps-and-islands on a condition: within a user's (ts, event_id)
    order, rn − rn_by_type is constant exactly along a maximal run of
    one type. Both window functions share the user_id partitioning
    (one exchange, one sort); the island group-by and histogram are
    integer-exact map-side-combined aggregations."""
    ev = load(spark, sf_dir, "events")["events"]
    # lag + cumulative flag keeps BOTH windows on the single user_id
    # partitioning (one exchange, one sort — the oracle's rn − rnt
    # identity needs a second (user, type) exchange; same islands)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flag = F.when(
        F.lag("event_type").over(wu).isNull()
        | (F.lag("event_type").over(wu) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = (
        ev.select(
            "user_id", "event_type",
            F.sum(flag).over(wrun).alias("island"),
        )
        .where(F.col("event_type") == "error")
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
    )
    return (
        runs.groupBy("run_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bursts"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("run_len")
    )


# --------------------------------------------------------------------------
# 2. Top event-type trigram paths.
# --------------------------------------------------------------------------

TRIGRAMS_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS t1,
         LEAD(event_type, 1) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
         LEAD(event_type, 2) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS t3
  FROM events
)
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3
LIMIT 20
"""


@register("events_user_trigrams", TRIGRAMS_SQL)
def events_user_trigrams(spark, sf_dir):
    """Top-20 consecutive event-type trigrams across users — the
    path-mining report behind funnel design. Two LEADs share ONE
    user_id window (single exchange + sort, both evaluated in one
    window pass); counting is a k³-bounded group-by and the top-20 is
    TakeOrdered, never a global sort."""
    ev = load(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(20)
    )


# --------------------------------------------------------------------------
# 3. Embedding label compactness (RMS distance to label centroid).
# --------------------------------------------------------------------------

LABEL_COMPACTNESS_SQL = """
WITH norms AS (
  SELECT label, vec_id,
         list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             (a, b) -> a + b) AS norm2
  FROM embeddings
), dims AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cent AS (
  SELECT label, dim, SUM(x) / COUNT(*) AS mu FROM dims GROUP BY 1, 2
), mu2 AS (
  SELECT label, SUM(mu * mu) AS mu_norm2 FROM cent GROUP BY label
), agg AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         SUM(norm2) / COUNT(*) AS e_norm2
  FROM norms GROUP BY label
)
SELECT a.label, a.n_vecs,
       ROUND(sqrt(GREATEST(a.e_norm2 - m.mu_norm2, 0)), 6) AS rms_dist,
       ROUND(sqrt(m.mu_norm2), 6) AS centroid_norm
FROM agg a JOIN mu2 m ON m.label = a.label
ORDER BY a.label
"""


@register("embedding_label_compactness", LABEL_COMPACTNESS_SQL)
def embedding_label_compactness(spark, sf_dir):
    """Intra-class compactness per label: RMS distance to the label
    centroid through the E||x||² − ||μ||² identity — the centroid
    never joins back to the vectors (at 100 TB that join-back is a
    second full pass; the identity needs only the per-dim means and
    the per-row norms). Per-row norm² is a SEQUENTIAL double fold
    (F.aggregate ≡ list_reduce — last-ulp cross-engine agreement, the
    embedding_norm_stats precedent); the cross-row sums carry
    ROUND(6). GREATEST(·, 0) guards the identity's tiny negative
    noise at perfect compactness."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    norm2 = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    agg = e.select("label", norm2.alias("norm2")).groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        (F.sum("norm2") / F.count(F.lit(1))).alias("e_norm2"),
    )
    dims = e.select(
        "label", F.posexplode("embedding").alias("pos", "xf")
    ).select("label", (F.col("pos") + 1).alias("dim"),
             F.col("xf").cast("double").alias("x"))
    mu2 = (
        dims.groupBy("label", "dim")
        .agg((F.sum("x") / F.count(F.lit(1))).alias("mu"))
        .groupBy("label")
        .agg(F.sum(F.col("mu") * F.col("mu")).alias("mu_norm2"))
    )
    return (
        agg.join(mu2, "label")
        .select(
            "label", "n_vecs",
            F.round(
                F.sqrt(F.greatest(
                    F.col("e_norm2") - F.col("mu_norm2"), F.lit(0.0)
                )), 6
            ).alias("rms_dist"),
            F.round(F.sqrt("mu_norm2"), 6).alias("centroid_norm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# 4. Asymmetric n-gram containment pairs (template detection).
# --------------------------------------------------------------------------

CONTAINMENT_SQL = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+1], ' ')
                        FOR i IN range(1, len(toks))]) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
        FROM documents)
  WHERE len(toks) >= 2
), ex AS (
  SELECT doc_id, unnest(shingles) AS sh FROM sh
), df AS (
  SELECT sh FROM ex GROUP BY sh HAVING COUNT(*) <= 100
), kept AS (
  SELECT ex.doc_id, ex.sh FROM ex JOIN df ON df.sh = ex.sh
), sz AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM kept GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.common, s.n_sh AS n_sh_a,
       ROUND(CAST(i.common AS DOUBLE) / s.n_sh, 6) AS containment
FROM inter i JOIN sz s ON s.doc_id = i.doc_a
WHERE CAST(i.common AS DOUBLE) / s.n_sh >= 0.6
ORDER BY doc_a, doc_b
"""


@register("doc_containment_pairs", CONTAINMENT_SQL)
def doc_containment_pairs(spark, sf_dir):
    """Directed near-dup pairs by n-gram CONTAINMENT C(A→B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ 0.6 — the template
    direction symmetric Jaccard under-scores (a short doc wholly
    embedded in a boilerplate wrapper is A→B ≈ 1 but Jaccard small).
    Shingles are DISTINCT word 2-grams (the shared word_shingles
    expression — kept as strings: counts, not hash values, surface,
    and strings remove even the within-engine collision tail);
    shingles appearing in more than 100 documents are dropped in BOTH
    engines (the stop-shingle cap that keeps the inverted-index
    self-join's per-shingle fan-out bounded at any corpus size —
    without it one boilerplate shingle joins n² rows). Candidate
    generation is the shingle-keyed equi-join, never doc × doc.
    Integer division only at the edge.

    r11 shape: ONE pass over the exploded (sh, doc_id) table. The naive
    df-filter join + self-join consumed that subtree six times (12
    parquet scans / 22 exchanges in the before plan — each branch
    re-parsed and re-exploded the corpus). Now the df cap is a window
    COUNT over sh (buffers spill-safely per shingle — a raw
    collect_list-then-filter would buffer an unbounded hot boilerplate
    shingle), the inverted-index groupBy reuses the window's
    hashpartitioning(sh) with lists bounded at 100 post-filter, ordered
    pairs come from a double explode of the per-shingle doc list
    INCLUDING the diagonal, and n_sh_a = the (a,a) diagonal count read
    back via a window over doc_a — no join back to a recomputed sizes
    table. Guide §2.4 (share one exchange) + §1.2 step 1 (fix the
    distributed algorithm before anything else)."""
    from thundercats_spark.functions.text_analysis import token_count, word_shingles
    from thundercats_spark.operators.dedup import ensure_parallelism

    # r11 second pass: stage-isolated timing showed the shingle
    # explode ALONE at 6.5s of the query's 7.9s — the documents table
    # arrives as ONE parquet split, so the whole shingling expression
    # ran in a single task (guide §2.5 input skew). Spread before the
    # heavy expressions; no-op on already-wide inputs.
    d = ensure_parallelism(load(spark, sf_dir, "documents")["documents"])
    sh = (
        d.where(token_count(F.col("text")) >= 2)
        .select(
            "doc_id",
            word_shingles(F.col("text"), 2).alias("shingles"),
        )
    )
    # explode_OUTER: a plain explode lets InferFiltersFromGenerate
    # derive size(shingles)>0 AND isnotnull(shingles) and push the
    # FULL shingling expression (twice) below the spread exchange into
    # the single scan task — measured 6.5s of the 7.9s query (guide
    # §4.4's duplicated-evaluation trap in JVM-expression form). The
    # rule skips outer generates; identical rows because word_shingles
    # is provably non-null and non-empty for docs with >= 2 tokens.
    ex = sh.select("doc_id", F.explode_outer("shingles").alias("sh"))
    w_sh = Window.partitionBy("sh")
    kept = ex.withColumn(
        "df", F.count(F.lit(1)).over(w_sh)
    ).where(F.col("df") <= 100)
    # same hashpartitioning(sh) as the window: no second exchange
    index = kept.groupBy("sh").agg(F.collect_list("doc_id").alias("docs"))
    pairs = (
        index.select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    w_a = Window.partitionBy("doc_a")
    return (
        pairs.withColumn(
            "n_sh",
            F.max(
                F.when(F.col("doc_a") == F.col("doc_b"), F.col("common"))
            ).over(w_a),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .withColumn(
            "containment",
            F.col("common").cast("double") / F.col("n_sh"),
        )
        .where(F.col("containment") >= 0.6)
        .select(
            "doc_a", "doc_b", "common",
            F.col("n_sh").alias("n_sh_a"),
            F.round("containment", 6).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# 5. Supplier-part bipartite degree histogram.
# --------------------------------------------------------------------------

SUPPLIER_DEGREES_SQL = """
WITH deg AS (
  SELECT l_suppkey, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS degree
  FROM lineitem GROUP BY l_suppkey
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_suppliers
FROM deg GROUP BY degree ORDER BY degree
"""


@register("supplier_part_degrees", SUPPLIER_DEGREES_SQL)
def supplier_part_degrees(spark, sf_dir):
    """Bipartite degree histogram of the supplier→part edge list —
    the skew screen run before any supplier-side co-occurrence
    mining (a super-connected supplier is the hot key that melts a
    naive self-join). Distinct-partner counting is a two-level
    aggregation (dedup on (supp, part) first — partial map-side —
    then count per supplier); the histogram is integer-exact."""
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    deg = (
        li.select("l_suppkey", "l_partkey").distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_suppliers"))
        .orderBy("degree")
    )
