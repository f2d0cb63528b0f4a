"""Corpus curation operators: source-mix measurement and rebalancing,
benchmark decontamination, deterministic splits, and quality funnels.

Training-data pipelines control the proportion each source (crawl,
books, code, ...) contributes to the final corpus. ``source_mix``
measures the current mix (one partial-agg pass); ``rebalance_to_mix``
computes per-source Bernoulli sampling fractions that hit a target mix
and applies them with ``DataFrame.sampleBy`` — deterministic under a
seed, no shuffle (sampling happens in the scan stage), any scale.

``decontaminate`` removes/flags training docs that share word n-grams
with an evaluation benchmark (test-set contamination — standard
pretraining hygiene). ``corpus_split`` is the deterministic
hash-bucketed train/val/test assignment (stable across runs, engines,
and cluster sizes — no randomness, no shuffle). ``quality_funnel``
reports how many docs survive each successive quality gate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from thundercats_spark.functions.text_analysis import word_ngram_hashes
from thundercats_spark.operators.components import SMALL_GRAPH_ROWS


def source_mix(df: DataFrame, source_col: str = "source") -> DataFrame:
    """Per-source row count and fraction of corpus (exact int counts;
    fraction = count/total in double)."""
    from thundercats_spark.physical.util import with_grand_total

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        with_grand_total(counts, "n_docs", "total")
        .select(
            source_col,
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("total")).alias("fraction"),
        )
        .orderBy(source_col)
    )


def rebalance_fractions(
    counts: dict[str, int], target: dict[str, float]
) -> dict[str, float]:
    """Per-source keep-fractions achieving ``target`` proportions with
    the largest corpus no source can over-fill: N = min(c_s / t_s);
    keep_s = t_s * N / c_s. Pure driver math over the (tiny) per-source
    count map."""
    norm = sum(target.values())
    t = {s: v / norm for s, v in target.items()}
    n_max = min(counts[s] / t[s] for s in t if t[s] > 0 and s in counts)
    return {
        s: min(1.0, (t[s] * n_max) / counts[s]) for s in t if s in counts and counts[s]
    }


def temperature_mix(counts: dict[str, int], temperature: float = 1.0) -> dict[str, float]:
    """Target mix from observed counts with temperature smoothing
    (the multilingual-pretraining alpha-sampling rule): p_s ∝
    c_s^(1/T). T=1 keeps natural proportions; T→∞ approaches uniform —
    upweighting small sources without hand-set targets. Feed the result
    to ``rebalance_to_mix``/``rebalance_fractions``. Driver math over
    the tiny per-source count map."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    w = {s: c ** (1.0 / temperature) for s, c in counts.items() if c > 0}
    z = sum(w.values())
    return {s: v / z for s, v in w.items()}


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
    mode: str = "flag",
) -> DataFrame:
    """Benchmark decontamination: count, per training doc, the distinct
    word ``n``-grams it shares with ``benchmark``; docs with
    ``n_contaminated >= min_hits`` are flagged (``mode='flag'``) or
    dropped (``mode='filter'``).

    Scale shape: both sides explode to DISTINCT hashed n-grams (8-byte
    keys — the text never shuffles), join on the hash, count per doc.
    The benchmark side is an eval set — tiny next to a 100 TB corpus —
    so AQE broadcasts it; the corpus side streams through the scan
    stage. One shuffle (the per-doc count)."""
    from thundercats_spark.operators.dedup import ensure_parallelism, select_exploded

    # n-grams reduced to 64-bit hashes INSIDE the projection via
    # token-hash slices (word_ngram_hashes) — no n-gram strings are
    # ever built; both sides compare hashes only, at the same ~2^-64
    # collision odds the previous string-then-hash route accepted
    # (r11: 3.4x cheaper scan stage). The explode + hash is scan-stage
    # work: a single-file input would run it on one thread (measured
    # 23s vs 2s at sf0.1) — widen BEFORE the heavy expressions, and
    # explode via select_exploded so InferFiltersFromGenerate cannot
    # push the gram construction back below the spread exchange (r11:
    # that re-evaluation cost 2x the whole build, single-task).
    grams = F.array_distinct(word_ngram_hashes(F.col(text_col), n))
    doc_grams = select_exploded(
        ensure_parallelism(df.select(id_col, text_col)), grams, "__gh", id_col
    ).select(id_col, "__gh")
    bench_grams = (
        select_exploded(
            ensure_parallelism(benchmark.select(text_col)), grams, "__gh"
        )
        .select("__gh")
        .distinct()
    )
    hits = (
        doc_grams.join(bench_grams, "__gh")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_contaminated"))
    )
    out = df.join(hits, id_col, "left").withColumn(
        "n_contaminated", F.coalesce(F.col("n_contaminated"), F.lit(0))
    )
    if mode == "filter":
        return out.where(F.col("n_contaminated") < min_hits).drop("n_contaminated")
    return out.withColumn("contaminated", F.col("n_contaminated") >= min_hits)


def decontamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str | None = None,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Per-benchmark-ITEM leakage QA — the report twin of
    ``decontaminate``, answering "which eval items leak into the
    training corpus, and how widely" BEFORE deciding what to drop:
    for every benchmark row, how many training docs share at least
    ``min_hits`` distinct word ``n``-grams with it (``n_docs_hit``)
    and how many of its distinct n-grams appear anywhere in the corpus
    (``n_shared_grams``). Items with zero hits are reported (zeros),
    so the output is one row per benchmark item.

    Scale shape: same as ``decontaminate`` — both sides reduce to
    8-byte hashed n-grams in the scan stage (text never shuffles),
    the eval-set side is tiny so AQE broadcasts it. With the default
    ``min_hits=1`` both counts are distinct-aggregates of one groupBy,
    so the corpus-scale gram explode runs ONCE; a higher ``min_hits``
    needs the per-(item, doc) gram counts and pays the explode twice
    (two aggregation subtrees over the same join — Spark plans no
    reused exchange there)."""
    from thundercats_spark.operators.dedup import ensure_parallelism

    bid = bench_id_col or id_col
    # same token-hash-slice gram hashing as ``decontaminate`` — both
    # sides of the join must agree on the hash, and neither outputs
    # the gram text
    grams = F.array_distinct(word_ngram_hashes(F.col(text_col), n))
    doc_grams = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("__did"), F.explode(grams).alias("__gh")
    )
    bench_grams = benchmark.select(
        F.col(bid).alias("__bid"), F.explode(grams).alias("__gh")
    ).distinct()
    pairs = bench_grams.join(doc_grams, "__gh")
    if min_hits <= 1:
        hits = pairs.groupBy("__bid").agg(
            F.count_distinct("__did").alias("n_docs_hit"),
            F.count_distinct("__gh").alias("n_shared_grams"),
        )
    else:
        docs_hit = (
            pairs.groupBy("__bid", "__did")
            .agg(F.count_distinct("__gh").alias("__n"))
            .where(F.col("__n") >= min_hits)
            .groupBy("__bid")
            .agg(F.count(F.lit(1)).alias("n_docs_hit"))
        )
        grams_hit = pairs.groupBy("__bid").agg(
            F.count_distinct("__gh").alias("n_shared_grams")
        )
        hits = grams_hit.join(docs_hit, "__bid", "left")
    return (
        benchmark.select(F.col(bid).alias("__bid"))
        .distinct()
        .join(hits, "__bid", "left")
        .select(
            F.col("__bid").alias(bid),
            F.coalesce(F.col("n_docs_hit"), F.lit(0)).alias("n_docs_hit"),
            F.coalesce(F.col("n_shared_grams"), F.lit(0)).alias(
                "n_shared_grams"
            ),
        )
    )


def decontaminate_fuzzy(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    mode: str = "flag",
) -> DataFrame:
    """Near-duplicate benchmark decontamination: flag (or drop)
    training docs whose n-gram Jaccard similarity to ANY benchmark doc
    is >= ``threshold`` — catches paraphrased/reformatted test-set
    copies that exact n-gram overlap (``decontaminate``) misses.

    EXACT (recall 1.0): built on the cross-frame PPJoin
    (``ngram_jaccard_join``), so a doc is flagged iff a true
    J >= threshold benchmark match exists — no sketch false negatives
    in a hygiene gate where misses become eval leakage. Adds
    ``n_bench_matches`` and ``max_jaccard`` per doc.

    Scale shape: the benchmark prefix index is eval-set-sized (tiny →
    AQE broadcast); the corpus side shuffles only prefix hash triples;
    corpus text never moves. One count-per-doc shuffle after the
    verify."""
    from thundercats_spark.operators.dedup import ngram_jaccard_join

    pairs = ngram_jaccard_join(df, benchmark, text_col, id_col, n, threshold)
    hits = pairs.groupBy(F.col("id_a").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_bench_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    out = df.join(hits, id_col, "left").withColumn(
        "n_bench_matches", F.coalesce(F.col("n_bench_matches"), F.lit(0))
    )
    if mode == "filter":
        return out.where(F.col("n_bench_matches") == 0).drop(
            "n_bench_matches", "max_jaccard"
        )
    return out.withColumn("contaminated", F.col("n_bench_matches") > 0)


def split_bucket(key: Column, salt: str = "split", buckets: int = 10000) -> Column:
    """Deterministic bucket in [0, buckets): first 6 hex digits of
    md5(key || salt) → int. Engine-portable (DuckDB computes the same
    md5 hex), stable across runs/partitioning — the property a
    train/test split must have so no example ever migrates between
    splits when data is re-ingested."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % buckets).cast("int")


def corpus_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to one of ``weights``'
    keys (e.g. train/val/test) by deterministic hash bucketing of
    ``key_col``. Zero shuffle — the assignment is a scan-stage
    expression; proportions are exact in expectation and drift-free."""
    return df.withColumn("split", _split_assign(F.col(key_col), weights, salt))


def _split_assign(
    key: Column, weights: dict[str, float], salt: str, buckets: int = 10000
) -> Column:
    """The split-name expression for a hash-bucketed assignment of
    ``key`` — shared by ``corpus_split`` (bucket the row key) and
    ``corpus_split_leakage_safe`` (bucket the dedup-group
    representative)."""
    total = sum(weights.values())
    b = split_bucket(key, salt, buckets)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = b < int(acc * buckets)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def corpus_split_leakage_safe(
    df: DataFrame,
    dup_pairs: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split",
    small_graph_rows: int | None = SMALL_GRAPH_ROWS,
) -> DataFrame:
    """Group-aware train/val/test split: any two documents connected in
    ``dup_pairs`` (near-duplicate edges ``id_a``/``id_b``, e.g. from
    ``ngram_jaccard_pairs`` or ``minhash_lsh_pairs``) always land in
    the SAME split, so no test document has a near-duplicate in train
    — the leakage a per-row hash split cannot prevent.

    Adds ``group_rep`` (the group's min key; the doc's own key for
    singletons) and ``split`` = hash bucket of ``group_rep``.

    Scale: ``connected_components`` runs only over the dup graph
    (O(dup docs), a tiny fraction of the corpus); the label table
    joins back on ``key_col`` — two slim long columns, so AQE
    broadcasts it when it fits and the corpus itself never shuffles
    in that case. No forced broadcast: a pathologically duplicated
    corpus falls back to a shuffle join instead of an OOM.
    ``small_graph_rows`` tunes/disables the CC driver union-find fast
    path for small-driver deployments. (Reference has no counterpart;
    standard pretraining hygiene — split by dedup cluster, not by
    document.)"""
    from thundercats_spark.operators.components import connected_components

    labels = connected_components(
        dup_pairs, small_graph_rows=small_graph_rows
    ).withColumnRenamed("id", key_col)
    labeled = df.join(labels, key_col, "left")
    rep = F.coalesce(F.col("component"), F.col(key_col))
    return labeled.withColumn("group_rep", rep).drop("component").withColumn(
        "split", _split_assign(F.col("group_rep"), weights, salt)
    )


def quality_funnel(
    df: DataFrame, gates: Sequence[tuple[str, Column]]
) -> DataFrame:
    """Survival counts through successive quality gates: row i reports
    how many docs pass gates[0..i]. One aggregate pass — each gate is a
    conditional count, no per-gate scan, no shuffle beyond the final
    1-row reduce. → (stage_idx, stage, n_pass)."""
    aggs = []
    cum = None
    for i, (name, cond) in enumerate(gates):
        cum = cond if cum is None else (cum & cond)
        aggs.append(
            F.sum(F.when(cum, 1).otherwise(0)).cast("long").alias(f"__g{i}")
        )
    row = df.agg(*aggs)
    stages = F.array(*[
        F.struct(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col(f"__g{i}").alias("n_pass"),
        )
        for i, (name, _) in enumerate(gates)
    ])
    return row.select(F.explode(stages).alias("s")).select("s.*")


def rebalance_to_mix(
    df: DataFrame,
    target: dict[str, float],
    source_col: str = "source",
    seed: int = 7,
) -> DataFrame:
    """Downsample each source so the corpus approaches the ``target``
    mix. Sources absent from ``target`` are dropped. ``sampleBy`` is a
    per-row Bernoulli filter evaluated in the scan stage — one count
    job + one sampled pass, no shuffle, reproducible under ``seed``."""
    counts = {
        r[source_col]: r["n"]
        for r in df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    fractions = rebalance_fractions(counts, target)
    return df.sampleBy(source_col, fractions, seed=seed)


def temperature_keep_fractions(
    counts: dict[str, int], temperature: float = 2.0
) -> dict[str, float]:
    """Per-source keep-fractions that move the corpus to the
    temperature-smoothed mix (``temperature_mix`` ∘
    ``rebalance_fractions``) in one Z-free closed form:

        keep_s = min(1, min_t(c_t^e) / c_s^e),   e = 1 - 1/T

    The normalizer Z cancels, so no float summation appears anywhere —
    every term is a pow/division over a single integer count, which
    any engine (or an oracle) reproduces bit-for-bit. T=1 keeps the
    corpus unchanged; T→∞ levels every source to the smallest one;
    T<1 runs the other alpha-sampling regime — sharpening toward the
    LARGEST source (it anchors at 1.0 and smaller sources are cut)."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    e = 1.0 - 1.0 / temperature
    pos = {s: c for s, c in counts.items() if c > 0}
    if not pos:
        return {}
    m = min(c**e for c in pos.values())
    return {s: min(1.0, m / (c**e)) for s, c in pos.items()}


def sample_to_fractions(
    df: DataFrame,
    fractions: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix",
    buckets: int = 10000,
) -> DataFrame:
    """Deterministic per-source downsample: keep a row iff
    ``split_bucket(key, salt) < floor(frac_source * buckets)``.
    Unlike ``sampleBy`` (RNG-stream based, partitioning-sensitive),
    the kept set is a pure function of the row key — identical across
    runs, engines, and re-ingests, so a replayed batch selects the
    same rows. Scan-stage filter, zero shuffle. Sources absent from
    ``fractions`` are dropped — including NULL sources (a null can't
    key the fraction map; filter or impute upstream to keep them).

    A POSITIVE fraction below ``1/buckets`` is clamped up to one
    bucket (keep ≈ 1/buckets of the source) rather than floored to
    zero — under extreme skew (count ratio ≥ ~buckets^T at temperature
    T) the floor would silently DROP the largest source entirely,
    which inverts the operator's intent. 1/buckets is therefore the
    minimum representable keep-rate; raise ``buckets`` if the mix
    needs finer resolution."""
    import math

    named = {s: f for s, f in fractions.items() if s is not None}
    if not named:
        return df.where(F.lit(False))
    thresh = F.create_map(
        *[
            x
            for s, f in sorted(named.items())
            for x in (
                F.lit(s),
                F.lit(max(1, int(math.floor(f * buckets))) if f > 0 else 0),
            )
        ]
    )
    b = split_bucket(F.col(key_col), salt, buckets)
    t = thresh[F.col(source_col)]
    return df.where(t.isNotNull() & (b < t))


def temperature_sample(
    df: DataFrame,
    temperature: float = 2.0,
    source_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Temperature-based source rebalancing end-to-end: count per
    source (one partial-agg pass over an 8-byte column), derive
    keep-fractions with ``temperature_keep_fractions``, apply them as
    a deterministic hash filter. The count map is per-source — tiny at
    any corpus size — so the collect is bounded by source cardinality,
    not rows."""
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["s"] is not None  # null sources can't be rebalanced; dropped
    }
    fracs = temperature_keep_fractions(counts, temperature)
    return sample_to_fractions(df, fracs, source_col, key_col, salt)


def corpus_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot-over-snapshot drift report — the freeze check a rolling
    ingest runs before promoting a new corpus snapshot: per source,
    doc counts, token sums, corpus-fraction in each snapshot, and the
    fraction delta (b − a). A source present in only one snapshot
    reports 0 on the other side, so appearing/vanishing sources
    surface as full-magnitude deltas. All metrics are exact integer /
    rational arithmetic (engine-portable; no sketches), one
    partial-agg pass per snapshot + a tiny per-source outer join."""
    from thundercats_spark.functions.text_analysis import token_count

    def per_source(df, tag):
        return df.groupBy(F.col(source_col).alias("source")).agg(
            F.count(F.lit(1)).alias(f"n_docs_{tag}"),
            F.sum(token_count(F.col(text_col)).cast("long")).alias(f"n_tokens_{tag}"),
        )
    a, b = per_source(df_a, "a"), per_source(df_b, "b")
    joined = a.join(b, "source", "full").na.fill(
        {c: 0 for c in ("n_docs_a", "n_tokens_a", "n_docs_b", "n_tokens_b")}
    )
    totals = joined.agg(
        F.sum("n_docs_a").alias("__ta"), F.sum("n_docs_b").alias("__tb")
    )
    frac_a = F.col("n_docs_a") / F.col("__ta")
    frac_b = F.col("n_docs_b") / F.col("__tb")
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "source", "n_docs_a", "n_docs_b", "n_tokens_a", "n_tokens_b",
            frac_a.alias("frac_a"),
            frac_b.alias("frac_b"),
            (frac_b - frac_a).alias("frac_delta"),
        )
    )


def repeat_corpus(
    df: DataFrame,
    factors: dict | float,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "repeat",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Data-repetition factors — the epoch-upsampling companion to
    mixture weights ("books ×3.2 epochs, crawl ×0.8"): every doc in
    source ``s`` is emitted ``floor(f_s)`` times, plus one extra copy
    for a deterministic ``frac(f_s)`` share of the source's docs
    (md5-bucketed on id, so which docs get the extra epoch is stable
    across runs, engines, and partitioning — no RNG state). Factors
    below 1 downsample the same way (0 full copies + a frac(f) share).
    Copies carry ``epoch_col`` = 0..n-1 so a downstream shuffle
    (``epoch_shuffle(df, epoch)``) can de-interleave repeats.

    ``factors`` is a ``{source: factor}`` map (missing sources get 0 —
    dropped) or one float for every source. Scale shape: a broadcast
    map expression + ``posexplode(sequence)`` in the scan stage — no
    shuffle, no count job; output size = sum_s f_s·|s| by
    construction."""
    if isinstance(factors, dict):
        if not factors:
            raise ValueError("factors must not be empty")
        pairs = [x for kv in factors.items() for x in kv]
        f_expr = F.coalesce(
            F.element_at(
                F.create_map(*[F.lit(x) for x in pairs]),
                F.col(source_col).cast("string"),
            ),
            F.lit(0.0),
        ).cast("double")
    else:
        f_expr = F.lit(float(factors))
    full = F.floor(f_expr).cast("int")
    frac = f_expr - full
    # same engine-portable md5 bucket as corpus_split: extra epoch iff
    # bucket/10000 < frac(f)
    extra = (
        split_bucket(F.col(id_col), salt).cast("double") / 10000.0 < frac
    ).cast("int")
    n_copies = (full + extra).alias("__n")
    out = (
        df.withColumn("__n", n_copies)
        .where(F.col("__n") > 0)
        .select(
            "*", F.posexplode(F.sequence(F.lit(0), F.col("__n") - 1)).alias(epoch_col, "__e")
        )
        .drop("__n", "__e")
    )
    return out


def sample_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """EXACTLY min(k, group size) rows per group, chosen by a
    deterministic hash order — "k examples per domain" with no RNG
    state, stable across runs, engines, and cluster sizes (md5 keys
    are engine-portable, like ``corpus_split``). Bernoulli sampling
    (``sampleBy``) can't promise exact counts; this can.

    Plan: one shuffle on ``group_col`` for the per-group rank window.
    Skew note: a giant group funnels through one task — for k small
    and groups huge, pre-thin with a Bernoulli pass at a few times the
    expected fraction, then rank exactly (two scans, no hot task)."""
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(group_col).orderBy(h, key_col)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: Column | None = None,
    n_groups: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each doc to a
    fixed-token-budget training sequence (the GPT-style "concatenate
    the corpus, slice every ``budget`` tokens" policy — a doc belongs
    to the pack where its start offset lands). Adds
    ``(n_tokens, pack_group, pack_seq)``; the pack key is the pair.

    Scale shape: docs are hash-bucketed into ``n_groups`` independent
    streams (deterministic md5 bucket — same property as
    ``corpus_split``), so the running-total window is per-group, not a
    single global sort: one shuffle, parallelism = ``n_groups``. Size
    ``n_groups`` ~ executor count; packing quality is unaffected since
    every group produces full packs except its last."""
    from pyspark.sql import Window

    toks = (token_col if token_col is not None else _token_count(F.col(text_col)))
    base = df.withColumn("n_tokens", toks.cast("long")).withColumn(
        "pack_group", split_bucket(F.col(id_col), salt, n_groups)
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.withColumn(
        "pack_seq", F.floor(start / F.lit(float(budget))).cast("long")
    )


def _token_count(text: Column) -> Column:
    from thundercats_spark.functions.text_analysis import token_count

    return token_count(text)


def packing_efficiency_report(
    df: DataFrame,
    seq_lens: Sequence[int] = (512, 1024, 2048, 4096),
    text_col: str = "text",
    token_col: Column | None = None,
) -> DataFrame:
    """Padding-waste planner for choosing the training sequence
    length — the report twin of ``pack_sequences``/``chunk_documents``,
    answering "what does each candidate ``seq_len`` cost in padding"
    BEFORE committing a corpus to one. For a doc of ``t`` tokens and
    length ``L``: ``t DIV L`` FULL chunks are free (zero padding) and
    the ``t MOD L`` remainder is what packing fights over. Rather than
    simulate a packer, the report bounds every packer at once:
    ``min_seqs`` assumes perfect remainder packing
    (``full_chunks + ceil(remainder_tokens / L)``), ``max_seqs``
    assumes none (one padded sequence per remainder); the padding
    fractions derive. All arithmetic stays in the integer domain
    until the final rounded fractions.

    Scale shape: ONE narrow explode of the candidate list
    (``|seq_lens|`` rows per doc — token counts only, text never
    leaves the scan stage) and one groupBy over ``|seq_lens|`` keys —
    the only shuffle, ~|seq_lens| x 6 longs. Output is
    ``|seq_lens|`` rows, ordered by ``seq_len``."""
    if not seq_lens:
        raise ValueError("seq_lens must be non-empty")
    if any(int(s) <= 0 for s in seq_lens):
        raise ValueError(f"seq_lens must be positive, got {list(seq_lens)}")
    toks = token_col if token_col is not None else _token_count(F.col(text_col))
    lens = F.array(*[F.lit(int(s)) for s in sorted(set(int(s) for s in seq_lens))])
    e = df.select(toks.cast("long").alias("__t")).select(
        "__t", F.explode(lens).alias("seq_len")
    )
    agg = e.groupBy("seq_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__t").alias("total_tokens"),
        F.sum(F.expr("__t DIV seq_len")).alias("full_chunks"),
        F.sum(F.expr("__t % seq_len")).alias("remainder_tokens"),
        F.sum(F.when(F.expr("__t % seq_len") > 0, 1).otherwise(0)).alias(
            "n_remainders"
        ),
    )
    min_seqs = F.col("full_chunks") + F.expr(
        "(remainder_tokens + seq_len - 1) DIV seq_len"
    )
    max_seqs = F.col("full_chunks") + F.col("n_remainders")
    frac = lambda seqs: F.round(  # noqa: E731
        F.when(
            seqs > 0,
            1.0 - F.col("total_tokens") / (seqs * F.col("seq_len")),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        agg.withColumn("min_seqs", min_seqs)
        .withColumn("max_seqs", max_seqs)
        .withColumn("min_padding_frac", frac(F.col("min_seqs")))
        .withColumn("max_padding_frac", frac(F.col("max_seqs")))
        .orderBy("seq_len")
    )


def assign_balanced_shards(
    df: DataFrame,
    n_shards: int,
    weight: Column | str,
    id_col: str = "doc_id",
    out_col: str = "shard",
    key: Column | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Assign every row a training-shard id in ``[0, n_shards)`` such
    that shards carry near-equal WEIGHT (token mass, bytes), not equal
    row counts — the step before writing shard files that equal-sized
    readers consume in lockstep (a row-count split leaves the shard
    that drew the long documents still running while the others idle).
    Rows are placed along a deterministic pseudo-random order (md5 of
    the id by default — engine-portable and reproducible; override
    ``key`` to shard along time or any other axis) and cut at exact
    total/n_shards mass boundaries: shard = floor(mass_before_row x
    n_shards / total), so a row lands in the shard where its first
    token falls. |shard size - ideal| < max row weight, the best any
    contiguous cut can do.

    Scale shape: rides ``global_running_sum`` (boundary-literal
    buckets, partitioned cumulative window, driver prefix offsets —
    never a single-partition sort); the shard id is then a pure
    integer expression (exact via ``_idiv`` for integral weights;
    ``(total - w) * n_shards`` must fit a long — fine through ~1e14
    tokens x 10k shards). All-zero total puts every row in shard 0
    rather than dividing by zero."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from thundercats_spark.operators.ranking import (
        _idiv,
        _require_free_columns,
        global_running_sum,
    )

    # Loud collision check (ADVICE r06): the staging withColumns would
    # silently replace pre-existing __ord/__w/__cum/__tot columns and
    # the final drop would delete the caller's data; the out_col
    # default 'shard' could likewise clobber a real column.
    _require_free_columns(
        df, ["__ord", "__w", "__cum", "__tot", out_col],
        "assign_balanced_shards",
    )

    from pyspark.sql import types as T

    wcol = F.col(weight) if isinstance(weight, str) else weight
    wtype = df.select(wcol.alias("__w")).schema["__w"].dataType
    if not isinstance(
        wtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"weight must be an integral column (got {wtype.simpleString()})"
            " — the mass arithmetic is integer-exact by contract; scale "
            "fractional weights to integer units (e.g. bytes, tokens, "
            "milli-scores) upstream"
        )
    ordkey = (
        key
        if key is not None
        else F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":shards")))
    )
    staged = df.withColumn("__ord", ordkey).withColumn(
        "__w", wcol.cast("long")
    )
    cum = global_running_sum(
        staged,
        ["__ord", id_col],
        "__w",
        out_col="__cum",
        total_col="__tot",
        n_partitions=n_partitions,
        non_negative=True,
    )
    klit = F.lit(int(n_shards)).cast("long")
    shard = F.least(
        klit - 1, _idiv((F.col("__cum") - F.col("__w")) * klit, F.col("__tot"))
    )
    return cum.withColumn(
        out_col,
        F.when(F.col("__tot") > 0, shard).otherwise(F.lit(0)).cast("int"),
    ).drop("__ord", "__w", "__cum", "__tot")


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
) -> DataFrame:
    """Split every document into fixed-size sliding token windows —
    the long-document treatment before packing/training (and the
    retrieval-chunking shape): window ``c`` starts at token
    ``c * (chunk_tokens - overlap)``, consecutive windows share
    ``overlap`` tokens, every token is covered, the final window may
    be shorter. Documents with no tokens emit no rows. Adds
    ``(chunk_id, chunk_text, chunk_n_tokens)`` — one output row per
    window, all input columns preserved (drop ``text_col`` downstream
    if only the chunks matter).

    Scale shape: a pure narrow per-row transformation — split +
    ``sequence`` of window starts + ``posexplode`` + ``slice``, all
    JVM-side, NO shuffle; output rows inherit the input partitioning.
    Fan-out is ~n_tokens/stride rows per doc; follow with
    ``repartition`` only if a downstream shuffle needs rebalancing."""
    from thundercats_spark.functions.text_analysis import tokens

    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be > 0")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    # last start = largest multiple of stride below max(n - overlap, 1)
    n = F.size("__toks")
    last = (
        F.floor((F.greatest(n - F.lit(overlap), F.lit(1)) - 1) / F.lit(stride))
        * F.lit(stride)
    ).cast("int")
    starts = F.when(n > 0, F.sequence(F.lit(0), last, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    chunk = F.slice(F.col("__toks"), F.col("__st") + 1, chunk_tokens)
    return (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .select("*", F.posexplode(starts).alias("chunk_id", "__st"))
        .withColumn("chunk_text", F.array_join(chunk, " "))
        .withColumn("chunk_n_tokens", F.size(chunk))
        .drop("__toks", "__st")
    )


def materialize_packed_sequences(
    df: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 65536,
    n_groups: int = 64,
    salt: str = "pack",
    ids_col: Column | None = None,
) -> DataFrame:
    """Emit the ACTUAL training artifact: fixed-length token-id
    sequences under the GPT concat-and-chunk policy (the realization
    of ``pack_sequences``' assignment). Per hash group, documents
    concatenate in id order into one token stream sliced every
    ``budget`` tokens; each output row is one training sequence
    (``pack_group``, ``pack_seq``, ``ids``, ``n_tokens``) with
    ``len(ids) == budget`` everywhere except each group's final
    partial sequence. Token ids come from ``token_ids`` (hash
    vocabulary) unless ``ids_col`` supplies a real tokenizer's output
    (``array<int>``).

    Scale shape: one per-group offset window (same shuffle as
    ``pack_sequences``), a posexplode to (group, global-pos, id)
    triples, and ONE groupBy (group, pos div budget) whose rows are
    budget-bounded by construction — ~2048 ints each, regardless of
    corpus size. No group-wide collect anywhere; parallelism =
    n_groups × sequences."""
    from thundercats_spark.functions.text_analysis import token_ids

    ids = ids_col if ids_col is not None else token_ids(F.col(text_col), vocab_size)
    base = (
        df.select(F.col(id_col), ids.alias("__ids"))
        .withColumn("n_tokens", F.size("__ids"))
        # NULL text ⇒ NULL id array ⇒ size() = -1 (legacy sizeOfNull):
        # a -1 entering the running-sum offsets would shift every later
        # doc's global position in the group, colliding token slots.
        # Token-less docs contribute nothing to a token stream — drop.
        .where(F.col("n_tokens") > 0)
        .withColumn("pack_group", split_bucket(F.col(id_col), salt, n_groups))
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = base.withColumn("__start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    # r11: a doc's tokens occupy the contiguous global range
    # [__start, __start + n), so instead of exploding one row PER TOKEN
    # into the assembly shuffle (guide §2.3 — that shuffled ~corpus
    # token count (group, gpos, tid) rows and array_sorted `budget`
    # structs per sequence), slice the id array into one PIECE per
    # overlapped sequence (≤ ceil(n/budget)+1 per doc) and shuffle the
    # pieces: same token bytes, orders of magnitude fewer rows and agg
    # states. Sequence k covers [k·budget, (k+1)·budget); the float
    # floor(pos/budget) matches the previous per-token expression
    # exactly (same IEEE quotient family as the original). Pieces of
    # distinct docs cover disjoint ranges, so the in-sequence offset is
    # a unique, deterministic sort key.
    b = F.lit(int(budget))
    start, n = F.col("__start"), F.col("n_tokens")
    k_lo = F.floor(start / b).cast("long")
    k_hi = F.floor((start + n - F.lit(1)) / b).cast("long")
    pieces = F.transform(
        F.sequence(k_lo, k_hi),
        lambda k: F.struct(
            k.alias("pack_seq"),
            (F.greatest(k * b, start) - k * b).alias("__off"),
            F.slice(
                F.col("__ids"),
                (F.greatest(k * b, start) - start + F.lit(1)).cast("int"),
                (
                    F.least((k + F.lit(1)) * b, start + n)
                    - F.greatest(k * b, start)
                ).cast("int"),
            ).alias("__piece"),
        ),
    )
    stream = base.select(
        "pack_group", F.explode(pieces).alias("__pc")
    ).select(
        "pack_group",
        F.col("__pc.pack_seq").alias("pack_seq"),
        F.col("__pc.__off").alias("__off"),
        F.col("__pc.__piece").alias("__piece"),
    )
    return (
        stream.groupBy("pack_group", "pack_seq")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__off", "__piece"))),
                    lambda s: s["__piece"],
                )
            ).alias("ids")
        )
        .withColumn("n_tokens", F.size("ids"))
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """Lines that occur in >= ``min_docs`` DISTINCT docs (headers,
    footers, nav chrome — CCNet-style boilerplate). Returns
    ``(__lh, n_docs, line)`` keyed by the 64-bit line hash.

    Scale shape: explode → (doc, line-hash) pairs, distinct, count per
    hash. Only 8-byte hashes shuffle for the count (one representative
    line string rides along via ``any_value`` for reporting)."""
    from thundercats_spark.operators.dedup import ensure_parallelism

    line = F.explode(F.split(F.col(text_col), F.lit(sep))).alias("__line")
    norm = F.lower(F.trim(F.col("__line")))
    pairs = (
        ensure_parallelism(df.select(id_col, text_col)).select(F.col(id_col), line)
        .where(F.length(F.trim(F.col("__line"))) > 0)
        .select(
            F.col(id_col),
            F.xxhash64(norm).alias("__lh"),
            F.col("__line").alias("line"),
        )
    )
    return (
        pairs.groupBy("__lh")
        .agg(
            F.count_distinct(id_col).alias("n_docs"),
            F.any_value("line").alias("line"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """Strip lines shared by >= ``min_docs`` docs from every doc and
    reassemble the text in original line order. Docs reduced to nothing
    survive with empty text (filter downstream if unwanted).

    Scale shape: anti-join at the line level on 8-byte hashes — AQE
    broadcasts the boilerplate side when it fits and falls back to a
    shuffle join when a low ``min_docs`` makes it huge (no forced
    broadcast: at corpus scale the set of lines shared by >=10 docs is
    unbounded); reassembly is one shuffle of the surviving lines
    grouped by doc id, ordered by the original line position
    (array_sort on (pos, line) structs — no per-group sort memory
    beyond the doc itself)."""
    boiler = boilerplate_lines(df, text_col, id_col, min_docs, sep).select("__lh")
    from thundercats_spark.operators.dedup import ensure_parallelism

    pos_line = F.posexplode(F.split(F.col(text_col), F.lit(sep)))
    lines = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), pos_line
    ).select(
        id_col,
        "pos",
        F.col("col").alias("__line"),
        F.xxhash64(F.lower(F.trim(F.col("col")))).alias("__lh"),
    )
    kept = lines.join(boiler, "__lh", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "__line"))),
                    lambda s: s["__line"],
                ),
                sep,
            ).alias(text_col)
        )
    )
    others = [c for c in df.columns if c != text_col]
    return df.select(*others).join(rebuilt, id_col, "left").withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(""))
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    key_col: str = "doc_id",
    n_partitions: int | None = None,
    key: Column | None = None,
) -> DataFrame:
    """Deterministic training-order shuffle for one epoch: orders rows
    by ``xxhash64(key, epoch)`` — a different but reproducible
    permutation per epoch, identical across runs and cluster sizes
    (same property as ``corpus_split``; no RNG state to manage).
    ``key`` overrides the shuffle key expression (e.g. an md5-derived
    key when the permutation must be reproducible outside Spark).

    Scale shape: NOT a global sort — rows are range-partitioned on the
    hash then sorted within partitions, so each output partition is an
    independent sorted run and reading partitions in order yields the
    full permutation. One shuffle."""
    h = (key if key is not None else F.xxhash64(F.col(key_col), F.lit(epoch))).alias(
        "__shuffle_key"
    )
    out = df.withColumn("__shuffle_key", h)
    if n_partitions is not None:
        out = out.repartitionByRange(n_partitions, "__shuffle_key")
    else:
        out = out.repartitionByRange("__shuffle_key")
    return out.sortWithinPartitions("__shuffle_key").drop("__shuffle_key")


def calibrate_threshold(
    df: DataFrame,
    score: Column,
    keep_frac: float,
    relative_error: float = 0.001,
) -> float:
    """Score cutoff that keeps the TOP ``keep_frac`` of rows by
    ``score`` — e.g. "keep the best 60% of the corpus by quality".
    Uses Spark's Greenwald-Khanna approximate quantile (single pass,
    driver gets one number); ``relative_error`` trades accuracy for
    memory exactly as ``approxQuantile`` does. Filter with
    ``df.where(score >= cutoff)`` afterwards."""
    q = max(0.0, min(1.0, 1.0 - keep_frac))
    out = df.select(score.cast("double").alias("__s")).approxQuantile(
        "__s", [q], relative_error
    )
    return float(out[0])


def _budget_ids(
    scored: DataFrame,
    budget_tokens: int,
    id_col: str,
    n_buckets: int,
    boundaries: Sequence[float] | None,
    bucket_totals: dict | None,
    max_exact_rows: int,
    depth: int,
    max_depth: int = 4,
) -> DataFrame:
    """Core of ``select_token_budget`` over a (id, score, n_tokens)
    frame. See the public docstring for the plan; this level adds the
    recursion guard — a boundary bucket bigger than ``max_exact_rows``
    is re-bucketed by its own sub-quantiles instead of sorted in one
    partition, so the exact-window input stays bounded at any corpus
    size (each level shrinks it ~n_buckets×; all-equal scores can't
    split and fall through to the window, where order is by id only)."""
    managed = boundaries is None or bucket_totals is None
    if managed:
        # quantiles, totals, and the final filters each re-read this
        # frame: one materialization instead of recomputing the token
        # count + score over the corpus per action.
        scored = scored.persist()
    if boundaries is None:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        boundaries = sorted(set(scored.stat.approxQuantile("score", qs, 0.01)))
    b_arr = F.array(*[F.lit(float(b)) for b in boundaries])
    bucketed = scored.withColumn(
        "__bkt", F.size(F.filter(b_arr, lambda b: F.col("score") > b))
    )
    if bucket_totals is None:
        bucket_totals = {
            r["__bkt"]: (r["t"], r["n"])
            for r in bucketed.groupBy("__bkt")
            .agg(F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
    # driver prefix sum over the tiny per-bucket table, best bucket
    # first; injected totals may be plain token sums (row count unknown
    # -> recursion guard off, the inert-plan mode used by plan tests)
    running, keep_whole, boundary_bkt, offset, boundary_rows = 0, set(), None, 0, None
    for bkt in sorted(bucket_totals, reverse=True):
        t = bucket_totals[bkt]
        t, n = t if isinstance(t, (tuple, list)) else (t, None)
        if running + t <= budget_tokens:
            keep_whole.add(bkt)
            running += t
        else:
            boundary_bkt, offset, boundary_rows = bkt, running, n
            break
    out = bucketed.where(
        F.col("__bkt").isin(*keep_whole) if keep_whole else F.lit(False)
    ).select(id_col, "n_tokens", "score")
    child_cached = None
    if boundary_bkt is not None:
        edge_src = bucketed.where(F.col("__bkt") == boundary_bkt).drop("__bkt")
        can_split = len(bucket_totals) > 1 and depth < max_depth
        if boundary_rows is not None and boundary_rows > max_exact_rows and can_split:
            edge = _budget_ids(
                edge_src, budget_tokens - offset, id_col, n_buckets,
                None, None, max_exact_rows, depth + 1, max_depth,
            )
            child_cached = edge  # recursive levels persist their result
        else:
            w = (
                Window.orderBy(F.desc("score"), F.asc(id_col))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            edge = (
                edge_src.withColumn("__cum", F.sum("n_tokens").over(w))
                .where(F.lit(offset) + F.col("__cum") <= budget_tokens)
                .drop("__cum")
            )
        out = out.unionByName(edge.select(id_col, "n_tokens", "score"))
    if managed:
        # materialize the (budget-bounded) survivor ids, then release
        # the corpus-sized cache — callers get a cheap cached frame.
        out = out.persist()
        out.count()
        scored.unpersist()
        if child_cached is not None:
            child_cached.unpersist()  # folded into out; don't pin twice
    return out


def select_token_budget(
    df: DataFrame,
    budget_tokens: int,
    score: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: Column | None = None,
    n_buckets: int = 256,
    ids_only: bool = False,
    boundaries: Sequence[float] | None = None,
    bucket_totals: dict | None = None,
    max_exact_rows: int = 50_000_000,
) -> DataFrame:
    """Data selection under a token budget: keep the best-scoring docs
    until ``budget_tokens`` fills (the curation step after quality
    scoring). Ranking is (score DESC, id ASC); a doc survives iff the
    cumulative token count through its own rank stays within budget —
    the greedy prefix policy.

    Scale plan: the naive ordered cumulative sum is a single-partition
    global window — a non-starter. Instead: (1) bucket docs by
    driver-fetched approximate score quantiles (a scan-stage comparison
    against a literal boundary array; equal scores always share a
    bucket, so bucket order is consistent with rank order and boundary
    precision never affects CORRECTNESS, only balance), (2) one
    partial-agg pass sums tokens per bucket and the tiny per-bucket
    table prefix-sums on the driver to locate the boundary bucket,
    (3) better buckets keep everything with no sort at all; ONLY the
    boundary bucket (~1/n_buckets of the corpus) runs the exact ordered
    cumsum window, offset by the better-buckets total — and if that
    bucket still exceeds ``max_exact_rows`` it is re-bucketed
    recursively, so the window input is bounded at any corpus size.
    The (id, score, n_tokens) projection is persisted across the
    prep actions and released once the survivor ids materialize; text
    never shuffles. Output is identical to the naive global cumsum
    (oracle-checked).

    ``boundaries`` / ``bucket_totals`` inject the two driver-fetched
    prep artifacts (bucket_totals values: token sum, or (sum, rows)
    tuples); with both given the final plan builds with NO driver
    actions — the mode plan-health tests use to assert the physical
    plan (no global sort) inertly.

    Returns (id, n_tokens, score) with ``ids_only``, else the surviving
    input rows (joined back by id — text never shuffles)."""
    from thundercats_spark.functions.text_analysis import token_count

    toks = token_col if token_col is not None else token_count(F.col(text_col))
    # a row with a null score or null token count is unrankable — it
    # cannot compete for budget, and letting it through would land it
    # in an arbitrary bucket (filter comparisons against NULL keep
    # nothing -> bucket 0) and NULL the per-bucket token sums the
    # driver prefix-sums over. Excluded, explicitly.
    scored = df.select(
        F.col(id_col),
        score.cast("double").alias("score"),
        toks.cast("long").alias("n_tokens"),
    ).where(F.col("score").isNotNull() & F.col("n_tokens").isNotNull())
    out = _budget_ids(
        scored, budget_tokens, id_col, n_buckets,
        boundaries, bucket_totals, max_exact_rows, depth=0,
    )
    if ids_only:
        return out
    return df.join(out.select(id_col), id_col, "inner")


def select_token_budget_grouped(
    df: DataFrame,
    budgets: int | dict,
    score: Column,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: Column | None = None,
    n_buckets: int = 256,
    ids_only: bool = False,
    max_exact_rows: int = 50_000_000,
) -> DataFrame:
    """Per-group token-budget selection: within every group (a source,
    a language, a domain), keep the best-scoring docs until that
    GROUP's budget fills — the grouped twin of ``select_token_budget``
    and the shape data-mixing recipes need (per-source token quotas
    from ``temperature_mix`` / ``rebalance_fractions`` × a global
    budget). ``budgets`` is one int for every group or a
    ``{group: budget}`` map (groups absent from the map get budget 0 —
    dropped entirely). Ranking within a group is (score DESC, id ASC);
    a doc survives iff its group's cumulative token count through its
    own rank stays within that group's budget.

    Scale plan mirrors ``select_token_budget``: one shared
    approxQuantile pass fetches GLOBAL score boundaries (equal scores
    always share a bucket, so boundary precision affects balance,
    never correctness), one partial-agg pass totals tokens per
    (group, bucket), the tiny n_groups × n_buckets table prefix-sums
    per group on the driver, whole-kept buckets pass with no sort at
    all, and ONLY each group's boundary-bucket rows run the exact
    ordered window — partitioned by group, so the window input is
    ~1/n_buckets of each group, never a global sort. The per-group
    plan (boundary bucket, edge budget) broadcast-joins back; text
    never shuffles. A group whose boundary bucket still exceeds
    ``max_exact_rows`` is routed through ``_budget_ids``'s recursive
    re-bucketing instead of the window (same guard as the global
    selector), so the exact-window input stays bounded for any group
    size. Output equals the naive per-group cumsum (oracle-checked).

    Returns (id, group, n_tokens, score) with ``ids_only``, else the
    surviving input rows (joined back by id)."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from thundercats_spark.functions.text_analysis import token_count

    toks = token_col if token_col is not None else token_count(F.col(text_col))
    # null score / null token count = unrankable -> excluded (same
    # policy and reasons as select_token_budget)
    scored = (
        df.select(
            F.col(id_col),
            F.col(group_col).alias("__grp"),
            score.cast("double").alias("score"),
            toks.cast("long").alias("n_tokens"),
        )
        .where(F.col("score").isNotNull() & F.col("n_tokens").isNotNull())
        .persist()
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(scored.stat.approxQuantile("score", qs, 0.01)))
    b_arr = F.array(*[F.lit(float(b)) for b in bounds])
    bucketed = scored.withColumn(
        "__bkt", F.size(F.filter(b_arr, lambda b: F.col("score") > b))
    )
    totals = (
        bucketed.groupBy("__grp", "__bkt")
        .agg(F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per: dict = {}
    for r in totals:
        per.setdefault(r["__grp"], {})[r["__bkt"]] = (r["t"], r["n"])
    plan = []
    oversized = []  # (group, boundary bucket, remaining budget)
    for g, buckets in per.items():
        bud = budgets if isinstance(budgets, int) else int(budgets.get(g, 0))
        running, boundary, offset, edge_rows = 0, None, 0, 0
        for bkt in sorted(buckets, reverse=True):
            t, n = buckets[bkt]
            if running + t <= bud:
                running += t
            else:
                boundary, offset, edge_rows = bkt, running, n
                break
        if boundary is not None and edge_rows > max_exact_rows and len(buckets) > 1:
            # recursion guard: this group's edge is re-bucketed via
            # _budget_ids, not window-sorted; the broadcast plan keeps
            # its whole buckets but hands the edge nothing (budget -1)
            oversized.append((g, boundary, bud - offset))
            plan.append((g, boundary, -1))
        else:
            # boundary None → the whole group fits; -1 keeps every bucket
            plan.append((g, -1 if boundary is None else boundary, bud - offset))
    from thundercats_spark.physical.util import local_frame

    spark = df.sparkSession
    pmap = local_frame(
        spark,
        plan,
        StructType(
            [
                StructField("__grp", scored.schema["__grp"].dataType),
                StructField("__bnd", IntegerType()),
                StructField("__edge_budget", LongType()),
            ]
        ),
    )
    joined = bucketed.join(F.broadcast(pmap), "__grp")
    keep = joined.where(F.col("__bkt") > F.col("__bnd"))
    w = (
        Window.partitionBy("__grp")
        .orderBy(F.desc("score"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    edge = (
        # exclude oversized groups (__edge_budget = -1) BEFORE the
        # window: their boundary rows go through _budget_ids below, and
        # letting them into the per-group sort first would pay exactly
        # the single-partition exact-sort cost the guard exists to avoid
        joined.where(
            (F.col("__bkt") == F.col("__bnd")) & (F.col("__edge_budget") >= 0)
        )
        .withColumn("__cum", F.sum("n_tokens").over(w))
        .where(F.col("__cum") <= F.col("__edge_budget"))
    )
    cols = [F.col("__grp").alias(group_col), id_col, "n_tokens", "score"]
    out = keep.select(*cols).unionByName(edge.select(*cols))
    picked_caches = []
    for g, bkt, remaining in oversized:
        sub = bucketed.where(
            (F.col("__grp") == F.lit(g)) & (F.col("__bkt") == F.lit(bkt))
        ).select(id_col, "score", "n_tokens")
        picked = _budget_ids(
            sub, remaining, id_col, n_buckets, None, None,
            max_exact_rows, depth=1,
        )
        picked_caches.append(picked)
        out = out.unionByName(
            picked.select(
                F.lit(g).alias(group_col), id_col, "n_tokens", "score"
            )
        )
    out = out.persist()
    out.count()
    scored.unpersist()
    for p in picked_caches:
        p.unpersist()  # folded into out; release the child caches
    if ids_only:
        return out
    return df.join(out.select(id_col), id_col, "inner")


# --------------------------------------------------------------------------
# Snapshot integrity: content manifests and content-level diffs
# --------------------------------------------------------------------------


def content_hash48(col: Column) -> Column:
    """48-bit content hash (first 12 hex digits of md5) as a BIGINT —
    engine-portable (any SQL engine reproduces it from the same bytes)
    and safely inside the signed-64 range so XOR-aggregation never
    overflows. 48 bits keeps the whole-corpus XOR collision probability
    negligible for manifest purposes (this is an integrity checksum,
    not a dedup key — dedup uses the full fingerprint family)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def corpus_manifest(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source reproducibility manifest: doc count, char sum, and
    ORDER-INDEPENDENT content/id checksums (bit_xor of per-row
    hashes). Two corpus builds match iff their manifests match —
    regardless of partitioning, file layout, or row order — so a
    rebuild audit is one tiny frame compare instead of a corpus diff.
    One partial-agg pass; only 8-byte hashes shuffle."""
    # hashes projected first via the Column API (no SQL-string column
    # interpolation — names needing backquotes would break an expr),
    # then XOR-aggregated; bit_xor has no python DSL wrapper so the
    # agg references the projected columns by their safe aliases.
    base = df.select(
        F.col(source_col).alias("source"),
        F.length(text_col).alias("__len"),
        content_hash48(F.col(text_col)).alias("__ch"),
        F.col(id_col).alias("__id"),
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__len").alias("n_chars"),
            F.expr("bit_xor(__ch)").alias("content_xor"),
            F.expr("bit_xor(__id)").alias("id_xor"),
        )
        .orderBy("source")
    )


def corpus_diff(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-level diff between two corpus snapshots: which doc ids
    were added, removed, or changed (same id, different content hash).
    Unchanged docs are excluded — at 100 TB the output is the CHANGE
    set, not the corpus. Only (id, 8-byte hash) pairs shuffle through
    the full outer join; the text never moves. ``id_col`` must be
    unique within each snapshot (run ``dedup_exact`` first if not) —
    duplicate ids would cross-multiply in the join."""
    ha = df_a.select(
        F.col(id_col).alias("doc_id"), content_hash48(F.col(text_col)).alias("h_a")
    )
    hb = df_b.select(
        F.col(id_col).alias("doc_id"), content_hash48(F.col(text_col)).alias("h_b")
    )
    j = ha.join(hb, "doc_id", "full")
    status = (
        F.when(F.col("h_a").isNull(), F.lit("added"))
        .when(F.col("h_b").isNull(), F.lit("removed"))
        .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select("doc_id", "status", "h_a", "h_b")
    )
