"""hierarchy_paths: pointer-doubling forest closure
(operators/hierarchy.py). Pins exactness vs a driver-side model walk,
the log2 iteration bound on a deep chain, and the loud contracts
(cycles, NULL links, multi-parent children) on both execution paths:
the driver walk small forests take and the distributed loop above the
edge-count gate, plus row, schema and telemetry parity between them."""

import random

import pytest

from thundercats_spark.operators import components
from thundercats_spark.operators.hierarchy import hierarchy_paths


@pytest.fixture
def path():
    """The path a forest test expects: test forests are far below the
    edge-count gate, so the driver walk. ``TestIterativePath`` below
    overrides this fixture to force the distributed loop."""
    return "driver"


def _model(edges):
    parent = dict(edges)

    def walk(n):
        d = 0
        while n in parent:
            n = parent[n]
            d += 1
        return n, d

    nodes = set(parent) | set(parent.values())
    return {n: walk(n) for n in nodes}


def test_forest_exact_vs_model(spark, path):
    # two trees + a chain, mixed fan-out
    edges = [
        (2, 1), (3, 1), (4, 2), (5, 2), (6, 4),   # tree rooted at 1
        (20, 10), (21, 20), (22, 21), (23, 22),   # chain rooted at 10
    ]
    df = spark.createDataFrame(edges, "child long, parent long")
    stats = {}
    got = {
        r["node"]: (r["root_key"], r["depth"])
        for r in hierarchy_paths(df, "child", "parent", stats=stats).collect()
    }
    assert got == _model(edges)
    assert stats["path"] == path


def test_deep_chain_converges_in_log_iterations(spark, path):
    """A 512-deep chain must converge in ceil(log2(512)) + a couple
    iterations — the pointer-doubling contract. max_iters=12 would be
    exceeded by any O(depth) formulation (512 steps)."""
    n = 512
    edges = [(i, i - 1) for i in range(1, n + 1)]
    df = spark.createDataFrame(edges, "child long, parent long")
    stats = {}
    out = hierarchy_paths(df, "child", "parent", max_iters=12, stats=stats)
    rows = {r["node"]: (r["root_key"], r["depth"]) for r in out.collect()}
    assert rows[n] == (0, n)
    assert rows[0] == (0, 0)
    assert rows[1] == (0, 1)
    assert len(rows) == n + 1
    assert stats["path"] == path
    assert stats["iterations"] <= 10  # ceil(log2(512)) + 1


def test_cycle_raises_loudly(spark, path):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (9, 1)], "child long, parent long"
    )
    stats = {}
    with pytest.raises(RuntimeError, match="CYCLE"):
        hierarchy_paths(df, "child", "parent", max_iters=8, stats=stats)
    # the flat active trajectory names the cycle: all four nodes, every round
    assert stats["path"] == path
    assert stats["iterations"] == 8
    assert stats["active_per_iteration"] == [4] * 9


def test_null_link_raises(spark, path):
    df = spark.createDataFrame(
        [(2, 1), (3, None)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="NULL"):
        hierarchy_paths(df, "child", "parent")


def test_multi_parent_raises(spark, path):
    df = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 1)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="DAG"):
        hierarchy_paths(df, "child", "parent")


def test_custom_column_names_and_string_keys(spark, path):
    df = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "a")], "kid string, boss string"
    )
    stats = {}
    got = {
        r["node"]: (r["root_key"], r["depth"])
        for r in hierarchy_paths(df, "kid", "boss", stats=stats).collect()
    }
    assert got == {
        "a": ("a", 0), "b": ("a", 1), "c": ("a", 2), "z": ("a", 1),
    }
    assert stats["path"] == path


def test_self_loop_is_a_cycle_not_a_root(spark, path):
    """A self-loop edge also satisfies node == anc — the root test must
    additionally require d == 0, or a length-1 cycle converges
    'successfully' with depth 1."""
    df = spark.createDataFrame(
        [(1, 1), (2, 1)], "child long, parent long"
    )
    with pytest.raises(RuntimeError, match="CYCLE"):
        hierarchy_paths(df, "child", "parent", max_iters=6)


def test_duplicate_edge_rows_get_their_own_message(spark, path):
    """Review r08: an exact-duplicate (child, parent) row is a valid
    forest with a caller-side fix (.distinct()) — it must not be
    misdiagnosed as a multi-parent DAG."""
    df = spark.createDataFrame(
        [(2, 1), (2, 1), (3, 1)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="duplicate edge"):
        hierarchy_paths(df, "child", "parent")


class TestIterativePath:
    """The forest tests again, with the edge-count gate lowered below
    any input so hierarchy_paths runs its distributed loop."""

    @pytest.fixture
    def path(self, monkeypatch):
        monkeypatch.setattr(components, "SMALL_GRAPH_ROWS", -1)
        return "iterative"

    test_forest_exact_vs_model = staticmethod(test_forest_exact_vs_model)
    test_deep_chain_converges_in_log_iterations = staticmethod(
        test_deep_chain_converges_in_log_iterations
    )
    test_cycle_raises_loudly = staticmethod(test_cycle_raises_loudly)
    test_null_link_raises = staticmethod(test_null_link_raises)
    test_multi_parent_raises = staticmethod(test_multi_parent_raises)
    test_custom_column_names_and_string_keys = staticmethod(
        test_custom_column_names_and_string_keys
    )
    test_self_loop_is_a_cycle_not_a_root = staticmethod(
        test_self_loop_is_a_cycle_not_a_root
    )
    test_duplicate_edge_rows_get_their_own_message = staticmethod(
        test_duplicate_edge_rows_get_their_own_message
    )


def _random_forest(seed: int, n_nodes: int, max_depth: int):
    """Seeded random forest over scattered keys: a spine of depth
    ``max_depth`` under the first root, a few dozen more roots, and
    every other node hung under a random node shallower than
    ``max_depth`` — depths 0..max_depth, uneven fan-out."""
    rng = random.Random(seed)
    keys = rng.sample(range(10**9), n_nodes)
    depth, edges = {}, []
    for i, k in enumerate(keys[: max_depth + 1]):
        depth[k] = i
        if i:
            edges.append((k, keys[i - 1]))
    for k in keys[max_depth + 1 : max_depth + 40]:
        depth[k] = 0
    placed = list(depth)
    for k in keys[max_depth + 40 :]:
        p = rng.choice(placed)
        while depth[p] >= max_depth:
            p = rng.choice(placed)
        depth[k] = depth[p] + 1
        edges.append((k, p))
        placed.append(k)
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("keys", ["long", "string"])
def test_driver_and_iterative_paths_agree(spark, monkeypatch, keys):
    """On a 2,400-node random forest (depths 0-12) the driver walk and
    the distributed loop return identical rows, the identical schema
    (names, types, nullability) and the identical iteration
    telemetry, and both equal the plain-Python model."""
    edges = _random_forest(61, 2400, 12)
    if keys == "string":
        edges = [(f"k{c}", f"k{p}") for c, p in edges]
    df = spark.createDataFrame(edges, f"child {keys}, parent {keys}")

    def run():
        stats = {}
        out = hierarchy_paths(df, "child", "parent", stats=stats)
        return sorted(tuple(r) for r in out.collect()), out.schema, stats

    rows_d, schema_d, stats_d = run()
    monkeypatch.setattr(components, "SMALL_GRAPH_ROWS", -1)
    rows_i, schema_i, stats_i = run()

    assert (stats_d["path"], stats_i["path"]) == ("driver", "iterative")
    assert rows_d == rows_i
    assert schema_d == schema_i
    assert [f.nullable for f in schema_d] == [True, True, False]
    assert stats_d["iterations"] == stats_i["iterations"]
    assert stats_d["active_per_iteration"] == stats_i["active_per_iteration"]
    assert {n: (r, d) for n, r, d in rows_d} == _model(edges)
    assert max(d for _, _, d in rows_d) == 12
    assert len(rows_d) >= 2000


def test_operator_jobs_keep_the_callers_group_and_description(spark, monkeypatch):
    """hierarchy_paths and connected_components label their eager jobs
    with a job description and restore the caller's afterwards; the
    caller's job group is never replaced, so jobs still count toward
    the caller's group."""
    from thundercats_spark.operators.components import connected_components

    sc = spark.sparkContext
    df = spark.createDataFrame([(2, 1), (3, 2)], "child long, parent long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    sc.setJobGroup("caller-group", "caller description")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup("caller-group"))
        hierarchy_paths(df, "child", "parent")
        monkeypatch.setattr(components, "SMALL_GRAPH_ROWS", -1)
        hierarchy_paths(df, "child", "parent")
        connected_components(pairs)
        connected_components(pairs, small_graph_rows=None)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        jobs = set(sc.statusTracker().getJobIdsForGroup("caller-group")) - before
        store = sc._jsc.sc().statusStore()
        labels = {store.job(j).description().getOrElse(None) for j in jobs}
        assert "hierarchy_paths: guard" in labels
        assert "hierarchy_paths: collect edges" in labels
        assert "hierarchy_paths: iteration 1" in labels
        assert "connected_components: collect edges" in labels
        assert "connected_components: iteration 1" in labels
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


# ---------------------------------------------------------------------------
# dag_reachability (VERDICT r08 #7): the multi-parent case.
# ---------------------------------------------------------------------------


def _brute_reachability(edges):
    """Python model: DFS over the child→parent DAG computing, per node,
    every reachable ancestor's min/max path length (roots = nodes with
    no parent; each root also maps to itself at 0/0)."""
    from collections import defaultdict

    parents = defaultdict(list)
    nodes = set()
    for c, p in edges:
        parents[c].append(p)
        nodes.update((c, p))
    roots = {n for n in nodes if n not in parents}

    memo = {}

    def anc(n):  # {ancestor: (min_d, max_d)} for paths of length >= 1
        if n in memo:
            return memo[n]
        out = {}
        for p in parents.get(n, ()):
            cand = {p: (1, 1)}
            for a, (lo, hi) in anc(p).items():
                cand[a] = (lo + 1, hi + 1)
            for a, (lo, hi) in cand.items():
                if a in out:
                    out[a] = (min(out[a][0], lo), max(out[a][1], hi))
                else:
                    out[a] = (lo, hi)
        memo[n] = out
        return out

    expected = set()
    for n in nodes:
        for a, (lo, hi) in anc(n).items():
            if a in roots:
                expected.add((n, a, lo, hi))
    for r in roots:
        expected.add((r, r, 0, 0))
    return expected


def test_dag_diamond_min_max_depths(spark):
    """Diamond d→{b,c}→a plus a shortcut d→a: min path 1, max path 2 —
    the multi-parent shape hierarchy_paths rejects, solved exactly."""
    from thundercats_spark.operators.hierarchy import dag_reachability

    edges = [(4, 2), (4, 3), (2, 1), (3, 1), (4, 1)]
    df = spark.createDataFrame(edges, "child long, parent long")
    stats = {}
    got = {
        tuple(r)
        for r in dag_reachability(df, "child", "parent", stats=stats).collect()
    }
    assert got == _brute_reachability(edges)
    # the shortcut makes node 4's (min, max) = (1, 2) to root 1
    assert (4, 1, 1, 2) in got
    assert stats["iterations"] <= 3


def test_dag_matches_brute_force_on_random_layered_dag(spark):
    """Model equality on a seeded random layered DAG (6 layers × 5
    nodes, each node wired to 1-3 random parents in earlier layers) —
    multi-root, multi-path, uneven depths."""
    import random

    from thundercats_spark.operators.hierarchy import dag_reachability

    rng = random.Random(42)
    layers = [[f"L{i}N{j}" for j in range(5)] for i in range(6)]
    edges = []
    for i in range(1, 6):
        for n in layers[i]:
            above = [m for lay in layers[:i] for m in lay]
            for p in rng.sample(above, rng.randint(1, 3)):
                edges.append((n, p))
    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, "child string, parent string")
    stats = {}
    got = {
        tuple(r)
        for r in dag_reachability(df, "child", "parent", stats=stats).collect()
    }
    assert got == _brute_reachability(edges)
    # depth <= 5 → ceil(log2(5)) + fixpoint-confirm rounds
    assert stats["iterations"] <= 4


def test_dag_forest_parity_with_hierarchy_paths(spark):
    """On a plain forest the DAG operator degenerates to
    hierarchy_paths exactly, with min == max == depth."""
    from thundercats_spark.operators.hierarchy import (
        dag_reachability,
        hierarchy_paths,
    )

    edges = [(2, 1), (3, 1), (4, 2), (5, 4), (7, 6)]
    df = spark.createDataFrame(edges, "child long, parent long")
    forest = {
        (r["node"], r["root_key"], r["depth"], r["depth"])
        for r in hierarchy_paths(df, "child", "parent").collect()
    }
    dag = {tuple(r) for r in dag_reachability(df, "child", "parent").collect()}
    assert dag == forest


def test_dag_log_iterations_on_deep_chain(spark):
    """A 100-deep chain converges in ~log2(100) squaring rounds, not
    100 — the telemetry pin mirroring the forest operator's."""
    from thundercats_spark.operators.hierarchy import dag_reachability

    df = spark.createDataFrame(
        [(i + 1, i) for i in range(100)], "child long, parent long"
    )
    stats = {}
    got = dag_reachability(df, "child", "parent", stats=stats)
    rows = {r["node"]: r for r in got.collect()}
    assert rows[100]["root_key"] == 0
    assert rows[100]["min_depth"] == rows[100]["max_depth"] == 100
    assert len(rows) == 101  # every node + the root self-row
    assert stats["iterations"] <= 8  # ceil(log2(100)) + fixpoint confirm

    # roots_only=False reports the FULL pair closure (chain: n*(n+1)/2)
    full = dag_reachability(
        spark.createDataFrame(
            [(i + 1, i) for i in range(10)], "child long, parent long"
        ),
        "child", "parent", roots_only=False,
    )
    assert full.count() == 10 * 11 // 2


def test_dag_cycle_and_guards_raise_loudly(spark):
    """Cycles hit the max_iters tripwire naming the cause; NULL links
    and duplicate edges reuse the forest operator's loud contract."""
    import pytest

    from thundercats_spark.operators.hierarchy import dag_reachability

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "child long, parent long"
    )
    with pytest.raises(RuntimeError, match="CYCLE"):
        dag_reachability(cyc, "child", "parent", max_iters=6)

    nul = spark.createDataFrame(
        [(1, None), (2, 1)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="NULL"):
        dag_reachability(nul, "child", "parent")

    dup = spark.createDataFrame(
        [(2, 1), (2, 1)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="duplicate edge"):
        dag_reachability(dup, "child", "parent")


def test_dag_root_labels_equals_squaring_operator(spark):
    """dag_root_labels (level propagation) and dag_reachability
    (squaring) are two cost models for ONE answer: pinned equal on the
    diamond-with-shortcut, the seeded random layered DAG, and a forest
    (where both equal hierarchy_paths)."""
    import random

    from thundercats_spark.operators.hierarchy import (
        dag_reachability,
        dag_root_labels,
    )

    def both(edges, schema):
        df = spark.createDataFrame(edges, schema)
        a = {tuple(r) for r in dag_root_labels(df, "child", "parent").collect()}
        b = {tuple(r) for r in dag_reachability(df, "child", "parent").collect()}
        return a, b

    a, b = both([(4, 2), (4, 3), (2, 1), (3, 1), (4, 1)], "child long, parent long")
    assert a == b and (4, 1, 1, 2) in a

    rng = random.Random(42)
    layers = [[f"L{i}N{j}" for j in range(5)] for i in range(6)]
    edges = []
    for i in range(1, 6):
        for n in layers[i]:
            above = [m for lay in layers[:i] for m in lay]
            for p in rng.sample(above, rng.randint(1, 3)):
                edges.append((n, p))
    a, b = both(sorted(set(edges)), "child string, parent string")
    assert a == b

    a, b = both([(2, 1), (3, 1), (4, 2), (5, 4), (7, 6)], "child long, parent long")
    assert a == b


def test_dag_root_labels_rounds_track_longest_path(spark):
    """The telemetry contract that distinguishes the two operators: on
    a depth-20 chain the level walk takes ~20 rounds (O(depth)) where
    the squaring operator takes ~6; on a depth-2 bush it takes ~3."""
    from thundercats_spark.operators.hierarchy import dag_root_labels

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(20)], "child long, parent long"
    )
    stats = {}
    out = {r["node"]: r for r in dag_root_labels(chain, "child", "parent", stats=stats).collect()}
    assert out[20]["min_depth"] == out[20]["max_depth"] == 20
    assert 20 <= stats["iterations"] <= 22, stats["iterations"]

    bush = spark.createDataFrame(
        [(i, 0) for i in range(1, 40)] + [(100 + i, i) for i in range(1, 40)],
        "child long, parent long",
    )
    stats = {}
    dag_root_labels(bush, "child", "parent", stats=stats).count()
    assert stats["iterations"] <= 3, stats["iterations"]


def test_dag_root_labels_cycle_and_guards(spark):
    import pytest

    from thundercats_spark.operators.hierarchy import dag_root_labels

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 0)], "child long, parent long"
    )
    with pytest.raises(RuntimeError, match="CYCLE"):
        dag_root_labels(cyc, "child", "parent", max_iters=10)

    dup = spark.createDataFrame([(2, 1), (2, 1)], "child long, parent long")
    with pytest.raises(ValueError, match="duplicate edge"):
        dag_root_labels(dup, "child", "parent")


def test_dag_root_labels_rootless_graph_raises(spark):
    """A fully cyclic edge set has no roots — the operator must raise
    rather than silently return an empty frame (the quiet twin of the
    max_iters cycle tripwire)."""
    import pytest

    from thundercats_spark.operators.hierarchy import dag_root_labels

    pure_cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "child long, parent long"
    )
    with pytest.raises(RuntimeError, match="no roots"):
        dag_root_labels(pure_cycle, "child", "parent")


def test_dag_root_labels_root_unreachable_cycle_raises(spark):
    """ADVICE r09: a cyclic SUBGRAPH unreachable from any root never
    enters the frontier, so the loop converges normally — the old code
    silently OMITTED those nodes while the pinned-equal twin
    dag_reachability raised on the same input. Both operators must now
    raise, naming the unlabelled nodes."""
    import pytest

    from thundercats_spark.operators.hierarchy import (
        dag_reachability,
        dag_root_labels,
    )

    # root 0 -> 1 is a healthy tree; 10 <-> 11 is an island cycle no
    # root can reach (both have parents, so neither is a root)
    edges = spark.createDataFrame(
        [(1, 0), (10, 11), (11, 10)], "child long, parent long"
    )
    with pytest.raises(RuntimeError, match="UNREACHABLE"):
        dag_root_labels(edges, "child", "parent")
    with pytest.raises(RuntimeError):  # sibling contract, same input
        dag_reachability(edges, "child", "parent", max_iters=8)

    # healthy forest with multiple roots still converges cleanly
    ok = spark.createDataFrame(
        [(1, 0), (2, 1), (5, 4)], "child long, parent long"
    )
    got = {tuple(r) for r in dag_root_labels(ok, "child", "parent").collect()}
    assert (2, 0, 2, 2) in got and (5, 4, 1, 1) in got
