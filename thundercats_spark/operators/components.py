"""Connected components over a pair-edge DataFrame — the exact
transitive closure for dedup grouping (the greedy min-id rule in
operators/dedup.py is its one-pass approximation).

Algorithm: alternating min-label propagation. Each iteration joins the
current labels to the edge list and takes the min label over each
node's neighborhood (including itself), until no label changes. This is
the standard DataFrame formulation (large-star/small-star's simple
cousin); convergence is O(graph diameter) iterations — near-dup
clusters are small and dense, so it converges in a handful of rounds.

Scale notes: each iteration is one shuffle (groupBy node). Lineage is
cut by checkpointing every iteration so the plan doesn't grow
unboundedly (the classic iterative-Spark trap). Early exit via a cheap
count of changed labels. Two checkpoint modes:

- ``reliable=False`` (default): ``localCheckpoint`` — executor
  memory/disk, fastest, but pinned to live executors and lost on
  failure. Right for minutes-long jobs.
- ``reliable=True``: ``checkpoint()`` to the SparkContext checkpoint
  dir (set one with ``spark.sparkContext.setCheckpointDir`` — HDFS/S3
  on a cluster), which survives executor loss; hours-long 100 TB dedup
  runs should use this so a lost executor doesn't restart the whole
  iteration chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thundercats_spark.physical.util import job_description, local_frame

# Edge-count gate of the graph operators: at or below it the edges are
# collected and the closure runs on the driver (same exact result, none
# of the per-iteration jobs); above it the distributed loop runs. 500k
# edges keeps the collected list well under driver memory.
SMALL_GRAPH_ROWS = 500_000


def _cut_lineage(df: DataFrame, reliable: bool) -> DataFrame:
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _components_driver(sym: DataFrame) -> DataFrame:
    """Union-find over a collected edge list — the exact same
    (id, component=min id) result as the iterative path, without the
    per-iteration job overhead that dominates on small graphs.
    Deterministic (pure integer set operations)."""
    with job_description(sym.sparkSession, "connected_components: collect edges"):
        rows = sym.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    out = sorted((x, comp_min[find(x)]) for x in parent)
    id_type = sym.schema["a"].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("id", id_type, True), StructField("component", id_type, True)]
    )
    # Arrow local frame, not createDataFrame(list): the labels feed an
    # orderBy (range sampling + sort = two consuming stages) or a join,
    # and the pickled-RDD path re-runs a Python worker per task per
    # consuming stage (measured r11: ~19 task-sec of pure wait at
    # sf0.1).
    return local_frame(sym.sparkSession, out, schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint_every: int = 3,
    reliable: bool = False,
    small_graph_rows: int | None = SMALL_GRAPH_ROWS,
    stats: dict | None = None,
) -> DataFrame:
    """→ (id, component) where component = min node id in the
    component. Nodes = every id appearing in ``edges``. Set
    ``reliable=True`` for fault-tolerant checkpoints (requires
    ``setCheckpointDir``); see module docstring.

    Adaptive execution: after the (always-materialized) symmetric edge
    list is built, a cheap count decides the plan — at or below
    ``small_graph_rows`` edges the transitive closure runs as
    driver-side union-find (same exact result, pinned by an
    equivalence test; skips ~5 iteration jobs whose fixed overhead
    dominates on the small dup graphs a collapsed corpus typically
    yields), above it the checkpointed pointer-halving loop runs
    distributed. ``small_graph_rows=None`` forces the distributed
    path. The default, ``SMALL_GRAPH_ROWS`` (500k), keeps the collected
    edge list well under driver memory; the 100 TB-scale graph takes the
    distributed path automatically. Pass a dict as ``stats`` to receive
    execution telemetry in-place: ``path`` ('driver' | 'iterative'),
    ``sym_edges`` (symmetric distinct edge count), and — iterative
    path only — ``iterations`` (rounds until the no-change probe,
    inclusive; the rehearsal gate asserting O(log diameter)
    convergence of pointer-halving reads this)."""
    spark = edges.sparkSession
    with job_description(spark, "connected_components: pin edges"):
        sym = _cut_lineage(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
            .distinct(),
            # materialize ONCE: the edge list feeds every iteration and every
            # convergence check — without this the upstream plan (often an
            # expensive pair-mining job) re-executes per iteration.
            reliable,
        )
    with job_description(spark, "connected_components: count edges"):
        n_sym = sym.count()
    if stats is not None:
        stats["sym_edges"] = n_sym
    if small_graph_rows is not None and n_sym <= small_graph_rows:
        if stats is not None:
            stats["path"] = "driver"
        return _components_driver(sym)
    if stats is not None:
        stats["path"] = "iterative"
    with job_description(spark, "connected_components: initial labels"):
        labels = _cut_lineage(
            sym.select(F.col("a").alias("id"))
            .distinct()
            .withColumn("component", F.col("id")),
            reliable,
        )
    for i in range(max_iter):
        neigh = sym.join(labels, sym.b == labels.id).select(
            F.col("a").alias("id"),
            F.col("component"),
            F.lit(None).cast(labels.schema["component"].dataType).alias("__old"),
        )
        # Carry each node's previous label through the same groupBy
        # (exactly one self row per id → max(__old) recovers it), so the
        # convergence probe below is a filter over the checkpointed
        # result — no extra join, no extra shuffle.
        new_labels = (
            labels.select("id", "component", F.col("component").alias("__old"))
            .unionByName(neigh)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max("__old").alias("__old"),
            )
        )
        # Pointer-halving (label-of-label): follow each node's label to
        # that NODE's label. Labels only decrease and every label is a
        # node id, so this contracts chains geometrically — convergence
        # becomes O(log diameter) rounds instead of O(diameter), which
        # is what makes long duplicate CHAINS (A~B~C~...) safe: plain
        # min-propagation moves one hop per round and silently returns
        # wrong labels once max_iter is hit.
        hop = new_labels.select(
            F.col("id").alias("component"), F.col("component").alias("__c2")
        )
        new_labels = new_labels.join(hop, "component").select(
            "id", F.col("__c2").alias("component"), "__old"
        )
        # checkpoint every round: the convergence check + next iteration
        # both consume new_labels, and the iteration plan would otherwise
        # deepen geometrically. (checkpoint_every kept for API compat.)
        _ = checkpoint_every
        with job_description(spark, f"connected_components: iteration {i + 1}"):
            new_labels = _cut_lineage(new_labels, reliable)
            changed = (
                new_labels.where(F.col("component") != F.col("__old"))
                .limit(1)
                .count()
            )
        labels = new_labels.select("id", "component")
        if stats is not None:
            stats["iterations"] = i + 1
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "raise max_iter (graph diameter exceeds 2^max_iter)"
        )
    return labels


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    reliable: bool = False,
    small_graph_rows: int | None = SMALL_GRAPH_ROWS,
) -> DataFrame:
    """Exact-transitive dedup: collapse every connected component of
    near-duplicate ``pairs`` to its min-id representative. Rows not in
    any pair survive untouched. Adds ``group_id``/``group_size``.
    ``small_graph_rows`` tunes (or, with ``None``, disables) the
    driver union-find fast path — lower it on small-driver
    deployments; see ``connected_components``."""
    comp = connected_components(
        pairs, "id_a", "id_b", reliable=reliable,
        small_graph_rows=small_graph_rows,
    )
    comp = comp.withColumnRenamed("id", id_col)
    sized = comp.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    comp = comp.join(sized, "component")
    labeled = df.join(comp, id_col, "left").select(
        df["*"],
        F.coalesce(F.col("component"), F.col(id_col)).alias("group_id"),
        F.coalesce(F.col("group_size"), F.lit(1)).alias("group_size"),
    )
    return labeled.where(F.col(id_col) == F.col("group_id"))
