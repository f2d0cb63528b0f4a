"""Hierarchy (forest) closure over a (child, parent) edge DataFrame —
the recursive-CTE workload (org charts, category trees, thread
reply-chains, folder layouts) that plain SQL engines express with
``WITH RECURSIVE`` and Spark has no built-in for.

Algorithm: pointer DOUBLING (path halving's read-only cousin). State is
one row per node ``(node, anc, d)`` — the farthest known ancestor and
the exact distance to it. Each iteration self-joins the state on
``anc = node`` and composes jumps: ``(node, anc', d + d')``. Jump
length doubles per round, so a forest of depth D converges in
ceil(log2(D)) + 1 iterations — NOT O(D) like the naive one-step walk
(the difference between 20 and ~1M joins on a degenerate chain).
Roots carry a self-pointer with distance 0, which is the fixpoint.

Scale notes: rows whose pointer already reaches a root are PARKED
(done/active split) — a node stops shuffling after ceil(log2(its OWN
depth)) iterations instead of riding all ceil(log2(max depth)) rounds,
so per-iteration shuffle is O(#nodes deeper than 2^k). On real
hierarchies (depth histograms dominated by shallow nodes with a deep
tail) that approaches O(n · log median-depth) total; the worst case —
every node on one chain — remains O(n · log max-depth), the
formulation's floor. Parked frames are touched per-iteration only as
checkpoint-block scans pruned by a semi-join. Live state totals
exactly |nodes| rows throughout (never the closure's |paths| ~
n·depth rows — the transitive-closure blowup a naive recursive-CTE
materializes).
Lineage is cut per iteration (the classic iterative-Spark trap);
convergence is the active count hitting zero. A ``max_iters`` ceiling
turns a CYCLE (which pointer doubling would chase forever) into a
loud error at ~log2-of-impossible-depth instead of a hung job.

Size gate: each distributed round costs a count and a checkpoint, a
fixed ~0.2-0.3 s of Spark jobs whatever the row count, so a 1,500-node
forest spent ~1.2 s in 34 jobs before its DataFrame existed. The guard
scan already counts the edges; at or below
``components.SMALL_GRAPH_ROWS`` (the threshold ``connected_components``
uses for its driver union-find) the pinned edges are collected once and
the same doubling loop runs in plain Python on the driver — same
rounds, same telemetry, same CYCLE tripwire — and the result comes back
as an Arrow local scan with the distributed path's exact schema: five
Spark jobs per call in all. Above the gate the distributed loop runs.

Reference parity: no counterpart (the reference has no recursive
operator); VERDICT r07 #5 named the hierarchy walk as the one
relational shape with no registry representative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thundercats_spark.operators import components
from thundercats_spark.operators.components import _cut_lineage
from thundercats_spark.physical.util import job_description, local_frame


def _union_all(frames: list[DataFrame]) -> DataFrame:
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), frames)


def _validated_dag_edges(edges, child_col: str, parent_col: str, reliable: bool):
    """Shared guard scan for the two DAG operators (review r09: the
    preamble was copy-pasted twice): project to (node, anc), cut
    lineage, raise on NULL links and exact-duplicate rows —
    multi-parent children are ALLOWED (they are these operators'
    point; the forest operator keeps its own stricter guard). Returns
    ``(e, n_edges)``."""
    e = edges.select(
        F.col(child_col).alias("node"), F.col(parent_col).alias("anc")
    )
    e = _cut_lineage(e, reliable)
    g = e.agg(
        F.sum(
            (F.col("node").isNull() | F.col("anc").isNull()).cast("int")
        ).alias("nulls"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("node"), F.col("anc")).alias("np"),
    ).first()
    if g["nulls"]:
        raise ValueError(
            f"{g['nulls']} edge(s) with NULL {child_col!r}/"
            f"{parent_col!r}: a NULL link is a data bug — roots are "
            "nodes with no parent-row, not NULL parents"
        )
    if g["n"] != g["np"]:
        raise ValueError(
            f"{g['n'] - g['np']} exact-duplicate edge row(s): min/max "
            "depths would survive duplicates, but the loud contract is "
            "shared across the hierarchy/DAG operators — .distinct() "
            "the edges first"
        )
    return e, g["n"]


def _dag_roots(e: DataFrame) -> DataFrame:
    """Nodes with no parent-row: the root set both DAG operators
    derive (one-column frame named ``node``)."""
    return (
        e.select(F.col("anc").alias("node"))
        .distinct()
        .join(e.select("node").distinct(), "node", "left_anti")
    )


def _no_convergence(max_iters: int) -> RuntimeError:
    return RuntimeError(
        f"hierarchy_paths did not converge in {max_iters} "
        f"doubling iterations (depth would exceed "
        f"2^{max_iters - 1}) — the edge set almost certainly "
        "contains a CYCLE (incl. self-loops)"
    )


def _paths_on_driver(e: DataFrame, schema, max_iters: int, stats) -> DataFrame:
    """The pointer-doubling loop of ``hierarchy_paths`` in plain Python
    over the collected ``(node, anc)`` edges: the same synchronous
    rounds, the same done/active split, the same telemetry and the same
    CYCLE tripwire, without a Spark job per round. Returns the rows
    as an Arrow local frame with the distributed path's ``schema``."""
    node_t = schema["node"].dataType
    anc_t = schema["root_key"].dataType
    with job_description(e.sparkSession, "hierarchy_paths: collect edges"):
        rows = e.select(
            F.col("node").cast(node_t), F.col("anc").cast(anc_t)
        ).collect()
    state = {node: (anc, 1) for node, anc in rows}
    # parents that never appear as children: self-pointer, distance 0
    roots = {anc for _, anc in rows} - state.keys()
    state.update((r, (r, 0)) for r in roots)
    active = {n: s for n, s in state.items() if s[0] not in roots}
    iterations = 0
    actives: list[int] = []
    while active:
        actives.append(len(active))
        if iterations >= max_iters:
            if stats is not None:
                stats["iterations"] = iterations
                stats["active_per_iteration"] = actives
            raise _no_convergence(max_iters)
        iterations += 1
        # every jump reads the pointers as they stood at the round's
        # start, like the distributed compose join
        nxt = {}
        for n, (a, d) in active.items():
            a2, d2 = state[a]
            nxt[n] = (a2, d + d2)
        state.update(nxt)
        active = {n: s for n, s in nxt.items() if s[0] not in roots}
    if stats is not None:
        stats["iterations"] = iterations
        stats["active_per_iteration"] = actives
    return local_frame(
        e.sparkSession, [(n, a, d) for n, (a, d) in state.items()], schema
    )


def hierarchy_paths(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_iters: int = 40,
    reliable: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve every node of a forest to its root: returns one row per
    node ``(node, root_key, depth)`` where ``depth`` is the exact edge
    count to the root (roots themselves appear with ``depth = 0``).

    ``edges`` holds one row per child→parent link; a node with no
    child-row is a root. Every parent value must itself appear as a
    node or a root — i.e. the edge set must be closed (parents that
    never appear as children are taken as roots automatically). NULL
    child or parent keys raise: a NULL link is a data bug, not a root
    marker. ``max_iters`` bounds the doubling loop; 40 covers depth
    2^39 — hitting it means a CYCLE, and the error says so.

    Adaptive execution, as in ``connected_components``: the guard scan
    already counts the edges, and at or below
    ``components.SMALL_GRAPH_ROWS`` the edges are collected and the same
    doubling loop runs on the driver (identical rows, schema and
    telemetry; five Spark jobs in all), above it the loop runs
    distributed.

    ``reliable=True`` swaps localCheckpoint for reliable checkpointing
    (set ``spark.sparkContext.setCheckpointDir`` first) — same
    trade-off as ``connected_components``. Pass a dict as ``stats`` to
    receive telemetry (``path``: 'driver' | 'iterative', the CC
    operator's convention; ``iterations``: k; ``active_per_iteration``):
    a depth-D forest must show k <= ceil(log2(D)) + 1, which the scale
    rehearsal pins.
    """
    spark = edges.sparkSession

    def step(what: str):
        return job_description(spark, f"hierarchy_paths: {what}")

    e = edges.select(
        F.col(child_col).alias("node"), F.col(parent_col).alias("anc")
    )
    # Pin the projection once: the guard aggregate, both root
    # distincts, and the initial state union would otherwise re-run
    # the caller's (possibly expensive) upstream plan ~4 times — the
    # same multi-rescan class part_affinity_lift's r08 rewire fixed.
    with step("pin edges"):
        e = _cut_lineage(e, reliable)
    # One guard scan: NULL links and multi-parent children both break
    # the forest contract (pointer doubling would silently multiply a
    # multi-parent node's rows per iteration — a DAG needs a different
    # operator, not a quiet wrong answer).
    with step("guard"):
        g = e.agg(
            F.sum(
                (F.col("node").isNull() | F.col("anc").isNull()).cast("int")
            ).alias("nulls"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("node")).alias("nd"),
            F.count_distinct(F.col("node"), F.col("anc")).alias("np"),
        ).first()
    if g["nulls"]:
        raise ValueError(
            f"{g['nulls']} edge(s) with NULL {child_col!r}/"
            f"{parent_col!r}: a NULL link is a data bug — roots are "
            "nodes with no child-row, not NULL parents"
        )
    if g["np"] != g["nd"]:
        # distinct (child, parent) pairs exceed distinct children →
        # some child has two DIFFERENT parents
        raise ValueError(
            f"{g['np'] - g['nd']} child key(s) with multiple distinct "
            "parents: that makes this a DAG, not a forest — "
            "hierarchy_paths requires at most one parent per node"
        )
    if g["n"] != g["np"]:
        # same (child, parent) link repeated — still a valid forest,
        # but duplicate state rows would multiply per iteration; the
        # fix is on the caller's side and the message says so
        raise ValueError(
            f"{g['n'] - g['np']} exact-duplicate edge row(s): the "
            "forest is valid but duplicate links would multiply state "
            "per iteration — .distinct() the edges first"
        )
    # Roots: parents that never appear as children. Self-pointer,
    # distance 0 — the doubling fixpoint.
    roots = (
        e.select(F.col("anc").alias("node"))
        .distinct()
        .join(e.select("node").distinct(), "node", "left_anti")
        .select("node", F.col("node").alias("anc"), F.lit(0).alias("d"))
    )
    initial = e.withColumn("d", F.lit(1)).unionByName(roots)
    if g["n"] <= components.SMALL_GRAPH_ROWS:
        if stats is not None:
            stats["path"] = "driver"
        # the distributed path's output schema, from analysis alone
        schema = initial.select(
            "node", F.col("anc").alias("root_key"), F.col("d").alias("depth")
        ).schema
        return _paths_on_driver(e, schema, max_iters, stats)
    if stats is not None:
        stats["path"] = "iterative"
    with step("initial state"):
        state = _cut_lineage(initial, reliable)
        # Root keys are constant across iterations. Small relative to
        # |nodes| in any real hierarchy, but never assumed broadcastable
        # (AQE decides). d == 0 matters: a SELF-LOOP edge also has
        # node == anc (at d=1) — that's a length-1 cycle, and it must
        # hit the max_iters tripwire, not masquerade as a converged root.
        root_anc = _cut_lineage(
            state.where(
                (F.col("node") == F.col("anc")) & (F.col("d") == 0)
            ).select(F.col("node").alias("anc")),
            reliable,
        )

    # DONE/ACTIVE split: a row whose pointer already reaches a root is
    # finished — re-joining it every iteration would shuffle the whole
    # table log(max depth) times. Each round checkpoints ONE frame
    # carrying a __root flag (computed in the same job as the compose
    # join — the split itself is then two pure FILTERS over checkpoint
    # blocks, never a re-executed join); finished slices are parked
    # and unioned at the end, so a node's shuffle cost ends at
    # ceil(log2(its own depth)) iterations. Real hierarchies are
    # shallow-heavy with a deep tail — the bulk parks in the first 2-3
    # rounds and the tail iterates alone (the single-chain worst case
    # keeps active ~ n and stays O(n log depth) — see module
    # docstring). Parked frames feed the pointer lookup per iteration
    # as checkpoint-block scans pruned by a semi-join before any
    # exchange.
    flagged_roots = root_anc.withColumn("__root", F.lit(True))

    def _mark(frame):
        # one left join against the (small, checkpointed) root set;
        # stays in the same stage chain as whatever produced `frame`
        return frame.join(flagged_roots, "anc", "left").withColumn(
            "__root", F.coalesce(F.col("__root"), F.lit(False))
        )

    with step("mark roots"):
        marked = _cut_lineage(_mark(state), reliable)
    finished = [marked.where("__root").drop("__root")]
    active = marked.where(~F.col("__root")).drop("__root")
    iterations = 0
    actives: list[int] = []
    while True:
        with step(f"active count {iterations}"):
            pending = active.count()
        if pending == 0:
            break
        actives.append(pending)
        if iterations >= max_iters:
            if stats is not None:
                # the active-count trajectory is the best cycle
                # diagnostic (a flat tail = the cycle's member count)
                # — hand it over even though we raise
                stats["iterations"] = iterations
                stats["active_per_iteration"] = actives
            raise _no_convergence(max_iters)
        iterations += 1
        # pointer rows for exactly the ancestors active references:
        # the referenced-anc set is <= |active|, so AQE broadcasts it
        # when small and the parked union is scanned, filtered, and
        # only the matches reach the compose join's exchange.
        refs = active.select(F.col("anc").alias("node")).distinct()
        lookup = (
            _union_all(finished + [active])
            .join(refs, "node", "left_semi")
            .select(
                F.col("node").alias("anc"),
                F.col("anc").alias("anc2"),
                F.col("d").alias("d2"),
            )
        )
        nxt = active.join(lookup, "anc").select(
            "node",
            F.col("anc2").alias("anc"),
            (F.col("d") + F.col("d2")).alias("d"),
        )
        with step(f"iteration {iterations}"):
            marked = _cut_lineage(_mark(nxt), reliable)
        finished.append(marked.where("__root").drop("__root"))
        active = marked.where(~F.col("__root")).drop("__root")
    if stats is not None:
        stats["iterations"] = iterations
        # joined rows per round — the parking evidence: entry k is
        # #nodes deeper than 2^k, so the shallow bulk vanishes early
        stats["active_per_iteration"] = actives
    return _union_all(finished).select(
        "node", F.col("anc").alias("root_key"), F.col("d").alias("depth")
    )


def dag_reachability(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_iters: int = 40,
    reliable: bool = False,
    stats: dict | None = None,
    roots_only: bool = True,
) -> DataFrame:
    """Ancestor reachability over a DAG — the multi-parent case
    ``hierarchy_paths`` loudly rejects (category graphs, citation DAGs,
    multi-inheritance taxonomies). Returns one row per (node, reachable
    ancestor): ``(node, root_key, min_depth, max_depth)`` with the
    shortest and longest edge-path lengths; with ``roots_only=True``
    (default) ancestors are filtered to ROOTS (nodes with no parent),
    and each root also appears as its own row at depth 0 — on a forest
    the output equals ``hierarchy_paths`` exactly (with
    min_depth == max_depth), which the tests pin.

    Algorithm: repeated SQUARING of the reachability relation under the
    (min,+)/(max,+) semirings — state_k holds every (node, ancestor)
    pair connected by a path of length ≤ 2^k with its min/max path
    length; one round composes state with itself (any path of length
    ≤ 2^(k+1) splits at its midpoint into two halves each ≤ 2^k) and
    re-aggregates, so depth-D DAGs converge in ceil(log2(D)) + 1
    iterations like the forest operator's pointer doubling.

    Scale notes: unlike the forest case (state pinned at |nodes|),
    multi-parent reachability's state IS the pair closure —
    O(Σ ancestors-per-node) rows. That is the OUTPUT's own magnitude
    (every pair is reported), so the memory floor is inherent to the
    question; what the squaring buys is log-depth rounds instead of
    depth rounds, each round one self-join + one (node, anc) partial
    aggregation. The honest per-round cost is the compose join's
    MIDPOINT-RELAY volume — Σ over midpoints of (pairs into the
    midpoint × pairs out of it) — which for dense layered graphs grows
    as closure × average-ancestry before the partial aggregation
    collapses it. For wide-fanout graphs where only root labels matter
    and the closure/relay volume is too big, aggregate labels
    level-by-level instead (O(depth) rounds, state O(node × roots),
    per-round volume O(edges crossing the frontier)) — a different
    cost model this operator deliberately does not hide behind one
    name. Lineage is cut per iteration; convergence is a fixpoint
    check (pair count + total max-depth both stable); ``max_iters``
    turns a CYCLE (closure never stabilizes) into a loud error.

    Same guard contract as ``hierarchy_paths``: NULL link keys raise;
    exact-duplicate edge rows raise (min/max would survive them, but a
    silently-tolerated dup here and a loud error there would make the
    two operators' contracts drift); multi-parent children are the
    POINT. ``stats`` receives ``{"iterations": k, "pairs_per_iteration":
    [...]}``.
    """
    e, _ = _validated_dag_edges(edges, child_col, parent_col, reliable)
    state = _cut_lineage(
        e.select(
            "node", "anc",
            F.lit(1).alias("min_d"), F.lit(1).alias("max_d"),
        ),
        reliable,
    )
    prev_pairs, prev_maxsum = -1, -1
    iterations = 0
    pairs_log: list[int] = []
    while True:
        snap = state.agg(
            F.count(F.lit(1)).alias("pairs"),
            F.sum("max_d").alias("maxsum"),
        ).first()
        pairs, maxsum = snap["pairs"], snap["maxsum"]
        pairs_log.append(pairs)
        if pairs == prev_pairs and maxsum == prev_maxsum:
            break
        if iterations >= max_iters:
            if stats is not None:
                stats["iterations"] = iterations
                stats["pairs_per_iteration"] = pairs_log
            raise RuntimeError(
                f"dag_reachability did not converge in {max_iters} "
                f"squaring iterations (depth would exceed "
                f"2^{max_iters - 1}) — the edge set almost certainly "
                "contains a CYCLE (incl. self-loops)"
            )
        iterations += 1
        prev_pairs, prev_maxsum = pairs, maxsum
        hop = state.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("min_d").alias("min_d2"),
            F.col("max_d").alias("max_d2"),
        )
        composed = state.join(hop, "anc").select(
            "node",
            F.col("anc2").alias("anc"),
            (F.col("min_d") + F.col("min_d2")).alias("min_d"),
            (F.col("max_d") + F.col("max_d2")).alias("max_d"),
        )
        state = _cut_lineage(
            state.unionByName(composed)
            .groupBy("node", "anc")
            .agg(
                F.min("min_d").alias("min_d"),
                F.max("max_d").alias("max_d"),
            ),
            reliable,
        )
    if stats is not None:
        stats["iterations"] = iterations
        stats["pairs_per_iteration"] = pairs_log
    out = state
    if roots_only:
        roots = _dag_roots(e)
        self_rows = roots.select(
            "node", F.col("node").alias("anc"),
            F.lit(0).alias("min_d"), F.lit(0).alias("max_d"),
        )
        out = state.join(
            roots.select(F.col("node").alias("anc")), "anc", "left_semi"
        ).unionByName(self_rows)
    return out.select(
        "node",
        F.col("anc").alias("root_key"),
        F.col("min_d").cast("long").alias("min_depth"),
        F.col("max_d").cast("long").alias("max_depth"),
    )


def dag_root_labels(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_iters: int = 200,
    reliable: bool = False,
    stats: dict | None = None,
    validate: bool = True,
) -> DataFrame:
    """Root labels over a DAG by LEVEL-BY-LEVEL propagation — the other
    cost model ``dag_reachability``'s docstring points to, implemented
    as its own operator: same output contract as
    ``dag_reachability(roots_only=True)`` (one row per (node, reachable
    root) with ``min_depth``/``max_depth``; roots self-labelled at 0),
    pinned equal in tests — but the state is ONLY the (node × roots)
    label table (never the full ancestor closure) and each round's join
    volume is the edges touched by last round's changed labels (no
    midpoint-relay blowup).

    The trade: O(longest-path) rounds instead of O(log depth). Choose
    THIS operator for wide, shallow, high-fanout graphs (citation /
    category graphs: depth tens, closure huge); choose
    ``dag_reachability`` for deep, narrow graphs (depth thousands,
    closure modest). ``max_iters`` bounds the walk at the longest path
    length — a root-REACHABLE cycle keeps stretching max_depth forever
    and hits that tripwire; a cycle UNREACHABLE from any root never
    enters the frontier, so a post-convergence check raises naming the
    unlabelled nodes (matching dag_reachability's loud contract on the
    same input) — one slim anti-join job, skippable with
    ``validate=False`` on known-good production DAGs.

    Per round: changed labels flow parent→child along the edge set
    (one equi-join), merge into the label table by (node, root)
    min/max (one union + partial-aggregated groupBy over
    labels + candidates), and the next frontier is exactly the rows
    the merge changed (left_anti on all four columns). Lineage cut per
    round; ``stats`` receives ``{"iterations": k,
    "changed_per_iteration": [...]}``. Same loud guard contract as the
    sibling operators (NULL links, exact-duplicate edges).
    """
    e, n_edges = _validated_dag_edges(edges, child_col, parent_col, reliable)
    roots = _dag_roots(e)
    labels = _cut_lineage(
        roots.select(
            "node", F.col("node").alias("root"),
            F.lit(0).alias("min_d"), F.lit(0).alias("max_d"),
        ),
        reliable,
    )
    # A non-empty edge set with NO roots means every node has a parent
    # — the graph is entirely cyclic. Without this guard the propagation
    # loop would exit immediately and return an EMPTY frame, the silent
    # twin of the cycle the max_iters tripwire exists to make loud
    # (dag_reachability catches this case via its fixpoint check).
    if n_edges and labels.limit(1).count() == 0:
        raise RuntimeError(
            "dag_root_labels found no roots: every node has a parent, "
            "so the edge set is entirely cyclic — root labels are "
            "undefined (a DAG must have at least one node with no "
            "parent)"
        )
    changed = labels
    iterations = 0
    changes: list[int] = []
    while True:
        pending = changed.count()
        if pending == 0:
            break
        changes.append(pending)
        if iterations >= max_iters:
            if stats is not None:
                stats["iterations"] = iterations
                stats["changed_per_iteration"] = changes
            raise RuntimeError(
                f"dag_root_labels did not converge in {max_iters} "
                "propagation rounds (one round per path-length level) "
                "— either the longest path exceeds max_iters (raise "
                "it) or the edge set contains a CYCLE (incl. "
                "self-loops), which stretches max_depth forever"
            )
        iterations += 1
        # changed labels flow parent -> child: edges keyed on anc
        cand = e.join(
            changed.select(
                F.col("node").alias("anc"), "root", "min_d", "max_d"
            ),
            "anc",
        ).select(
            "node", "root",
            (F.col("min_d") + 1).alias("min_d"),
            (F.col("max_d") + 1).alias("max_d"),
        )
        merged = _cut_lineage(
            labels.unionByName(cand)
            .groupBy("node", "root")
            .agg(
                F.min("min_d").alias("min_d"),
                F.max("max_d").alias("max_d"),
            ),
            reliable,
        )
        changed = merged.join(
            labels, ["node", "root", "min_d", "max_d"], "left_anti"
        )
        labels = merged
    if stats is not None:
        stats["iterations"] = iterations
        stats["changed_per_iteration"] = changes
    # A cycle UNREACHABLE from any root never enters the frontier, so
    # the loop converges normally with those nodes unlabelled — the
    # silent twin of the max_iters tripwire above, and a contract
    # drift from dag_reachability, which raises on the same input
    # (ADVICE r09). Cost: ONE extra job — a slim left_anti over the
    # edge nodes (anti-join semantics ignore right-side duplicates, so
    # neither side needs a distinct; review r10) + a bounded collect.
    # ``validate=False`` skips it on known-good production DAGs, the
    # scd2_intervals(sort=False) escape-hatch pattern.
    if validate:
        unlabelled = e.select("node").join(
            labels.select("node"), "node", "left_anti"
        )
        sample = sorted(
            {r["node"] for r in unlabelled.limit(50).collect()},
            key=repr,
        )
        if sample:
            shown = ", ".join(repr(s) for s in sample[:20])
            raise RuntimeError(
                "dag_root_labels converged with root-UNREACHABLE nodes "
                "(a cyclic subgraph no root can reach): "
                f"[{shown}{', ...' if len(sample) > 20 else ''}] — root "
                "labels are undefined for these nodes "
                "(dag_reachability raises on the same input)"
            )
    return labels.select(
        "node",
        F.col("root").alias("root_key"),
        F.col("min_d").cast("long").alias("min_depth"),
        F.col("max_d").cast("long").alias("max_depth"),
    )
