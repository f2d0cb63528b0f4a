"""Physical-plan regression gates: the scale posture (broadcasts land,
filters push down, nothing goes cartesian, Python stays out of the hot
path) must survive refactors. Plans are built, never executed."""

import re

import pytest

from pyspark.sql import functions as F

from thundercats_spark.queries import all_queries, load

# intentionally-quadratic brute-force oracles: their plans SHOULD be
# the exhaustive compare, so the scale gates don't apply
SKIP = {"dedup_embedding_cosine", "dedup_semantic"}
# tiny-broadcast cross joins legitimately plan as BNLJ
SCALAR_BNLJ_OK = {
    "q11_important_parts",
    "q22_idle_customers",
    "doc_bigram_logprob",
    "events_funnel_conversion",  # three 1-row stage counts
    "doc_source_mix",  # 1-row corpus total
    "corpus_drift_report",  # 1-row snapshot totals (frac denominators)
    "ann_batch_topk",  # broadcast query-vector table (a handful of rows)
    "dedup_simhash",  # 1-row mean-bucket-size stats for the auto hot-band cap
    "ann_quantized_topk",  # broadcast 1-row quantized query vector
    "orders_key_skew",  # 1-row grand total for the share denominator
    "customer_revenue_pareto",  # 1-row grand total for the share denominators
    "doc_len_quality_contingency",  # 1-row grand total N for the chi2 guard
    "events_dow_hour_heatmap",  # 1-row grand total for the share denominator
    "part_affinity_lift",  # 1-row n_baskets total (r08: was a separate action)
    "corpus_embedding_clusters",  # 1-row grand total for cluster share
    "embedding_cluster_drift",  # 1-row totals for both snapshot shares
}
# Arrow-kernel operators are allowed (designed) Python-boundary nodes
PY_EVAL_OK = {
    "dedup_minhash_lsh", "dedup_minhash_oph", "dedup_simhash",
    "ann_ivf_topk",  # Arrow argmax assign kernel (ivf_assign)
    # greedy merge-by-rank segmentation is a Python kernel by design:
    # Arrow-batched with per-batch word memoization (bpe.py bpe_encode)
    "doc_bpe_encode_persisted",
    "corpus_tokenizer_fertility",  # same bpe_encode kernel
    "corpus_embedding_clusters",  # Arrow argmax+cos assign kernel (ivf_assign)
    "embedding_cluster_drift",  # same assign kernel, both snapshots
    "corpus_cluster_exemplars",  # same assign kernel + per-cluster window
}


def _explain(spark, df):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _inert_overrides(spark, sf_dir):
    """Final plans for the prep-heavy queries, built the way a real
    pipeline builds them: the driver-action prep (quantile boundaries,
    k-means centroids, index construction) runs as its own up-front
    step here, and the PLAN under test is then constructed from the
    injected literals / persisted index alone — so the scale gates can
    assert the shape that actually runs at 100 TB (no global sort,
    partition-pruned probes) instead of skipping these queries."""
    from thundercats_spark.operators import similarity
    from thundercats_spark.operators.curation import select_token_budget
    from thundercats_spark.queries.llm_ops import _cached_index_dir

    out = {}
    docs = load(spark, sf_dir, "documents")["documents"]
    out["corpus_token_budget"] = select_token_budget(
        docs, 10_000, F.col("n_chars").cast("double"), ids_only=True,
        boundaries=[100.0, 500.0, 900.0],
        bucket_totals={0: 4000, 1: 4000, 2: 4000, 3: 4000},
    )

    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    # build with the SAME recipe as the registry queries (vec_id != 0):
    # the cache slot is shared, and an index built from the unfiltered
    # table would flip the oracle-checked query results depending on
    # which ran first.
    corpus = emb.where(F.col("vec_id") != 0)
    ivf_idx, built = _cached_index_dir("ivf", sf_dir)
    if not built:
        similarity.ann_index_build(corpus, ivf_idx, n_clusters=8)
    cents = similarity.ann_index_centroids(spark, ivf_idx)
    qv = [float(x) for x in cents[0]]
    out["ann_ivf_topk"] = similarity.ann_topk_ivf(
        emb, qv, k=10, centroids=cents, nprobe=3
    )
    out["ann_indexed_topk"] = similarity.ann_topk_indexed(
        spark, ivf_idx, qv, k=10, nprobe=3, centroids=cents
    )

    lsh_idx, built = _cached_index_dir("lsh", sf_dir)
    if not built:
        similarity.ann_lsh_index_build(corpus, lsh_idx)
    out["ann_lsh_indexed"] = similarity.ann_topk_lsh_indexed(
        spark, lsh_idx, qv, k=10
    )
    return out


@pytest.fixture(scope="module")
def plans(spark, sf_dir, query_df):
    overrides = _inert_overrides(spark, sf_dir)
    return {
        name: _explain(spark, overrides[name] if name in overrides else query_df(name))
        for name in all_queries()
        if name not in SKIP
    }


def test_no_cartesian_products(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, bad


def test_nested_loop_only_for_scalar_broadcasts(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in SCALAR_BNLJ_OK
    ]
    assert not bad, bad


def test_python_stays_out_of_hot_path(plans):
    markers = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    bad = [
        n
        for n, p in plans.items()
        if any(m in p for m in markers) and n not in PY_EVAL_OK
    ]
    assert not bad, bad


def test_dimension_joins_broadcast(plans):
    # the multi-dim TPC-H shapes must plan broadcast joins for dims
    for name in ("q5_local_supplier", "q7_nation_volume", "q8_market_share",
                 "q9_product_profit", "q3_shipping_priority"):
        assert "BroadcastHashJoin" in plans[name], name


def test_bigram_counts_join_not_hinted_broadcast(spark, sf_dir):
    """The bigram-counts side grows with the corpus — it must never carry
    a broadcast hint (AQE may still broadcast at runtime when it actually
    fits). Only the 1-row corpus total is allowed the hint."""
    q = all_queries()["doc_bigram_logprob"]
    df = q.spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    inner_joins = [ln for ln in plan.splitlines() if "Join Inner" in ln]
    assert inner_joins and all("broadcast" not in ln for ln in inner_joins), inner_joins
    assert plan.count("strategy=broadcast") == 1  # the scalar total only


def test_filters_reach_parquet_scans(plans):
    # selective scans must show pushed filters
    for name in ("q1_pricing_summary", "q6_forecast_revenue",
                 "q19_disjunctive_revenue", "q14_promo_share"):
        assert re.search(r"PushedFilters: \[[^\]]", plans[name]), name


def test_indexed_ann_plans_prune_partitions(plans):
    """The persisted-index probes must push the probe IN-list onto the
    partition column — planning-time pruning, not a full scan."""
    for name in ("ann_indexed_topk", "ann_lsh_indexed"):
        assert re.search(r"PartitionFilters: \[[^\]]", plans[name]), name


def test_token_budget_plan_sorts_only_the_boundary_bucket(plans):
    """The greedy-prefix selection must not plan a global sort: whole
    kept buckets pass through as filters, and the single Sort in the
    plan is the boundary bucket's exact-cumsum window."""
    p = plans["corpus_token_budget"]
    assert p.count("Sort (") <= 1, p
    assert "TakeOrderedAndProject" not in p


def test_grouped_token_budget_plan_sorts_within_groups_only(plans):
    """The per-group selection's only sort is the boundary-bucket
    window's partition-local one (partitioned by group) — never a
    global ordering of the corpus."""
    p = plans["corpus_token_budget_per_source"]
    assert "TakeOrderedAndProject" not in p
    # the edge window sorts within hash-partitioned groups; a global
    # sort would show as a rangepartitioning exchange
    assert "rangepartitioning" not in p, p


def test_rank_queries_avoid_single_sort_partition(plans):
    """The rank-family queries must number through the distributed
    bucket window (hashpartitioning on __b), never a no-partition
    window that drags the table onto one sort partition."""
    for name in ("customer_balance_rank_dist", "customer_balance_quartiles"):
        p = plans[name]
        assert "hashpartitioning(__b" in p, name
        # the only single-partition exchange allowed is the final
        # presentation sort's range exchange — no SinglePartition
        assert "Exchange SinglePartition" not in p, name
