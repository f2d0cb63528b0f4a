"""Every registry query runs on sf0.001 and returns a stable schema.
(The full DuckDB value-parity check is tools/verify_oracle.py + the
driver's t2 gate.)"""

import pytest
from pyspark.sql import functions as F

from thundercats_spark.queries import all_queries

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name, query_df):
    df = query_df(name)
    rows = df.limit(5).collect()
    assert df.columns, name
    # deterministic: same plan, same result on re-run
    again = QUERIES[name].spark_fn(spark, sf_dir).limit(5).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30


def test_oracle_query_output_is_scalar_only(query_df):
    """The driver canonicalizes results via pandas sort_values, which
    cannot hash list/dict cells — an array/map/struct output column
    makes an oracle-checked query driver-red even when its values are
    exact (r04: embedding_quantize). Gate: every oracle-registered
    query must emit only atomic columns; serialize nested values
    (e.g. F.array_join) before registering."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = {}
    for name, q in sorted(QUERIES.items()):
        if not q.oracle:
            continue
        df = query_df(name)
        nested = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nested:
            offenders[name] = nested
    assert not offenders, (
        f"oracle-checked queries emit non-scalar columns the driver's "
        f"pandas canonicalizer cannot hash: {offenders}"
    )


def test_registry_names_are_wellformed():
    import re

    for name in QUERIES:
        assert re.fullmatch(r"[a-z0-9_]+", name), name


def test_oracle_sql_mentions_known_tables_only():
    # every oracle must reference only the driver's pre-registered views
    import re

    known = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name, q in QUERIES.items():
        if not q.oracle:
            continue
        # \b: a column alias ending in "_from" (e.g. version_from) must
        # not count its own suffix as a FROM keyword (r10). LATERAL is
        # a join keyword, not a table name (r11: JOIN LATERAL (...)).
        froms = set(
            re.findall(
                r"\b(?:FROM|JOIN)\s+(?:LATERAL\s+)?([a-z_][a-z0-9_]*)",
                q.oracle,
                re.I,
            )
        )
        # "walk" = the recursive-CTE name; "lateral" = the join keyword
        # (the optional group above can backtrack and still capture it)
        unknown = {f.lower() for f in froms} - known - {"walk", "lateral"}
        # allow CTE names defined in the same statement
        ctes = {m.lower() for m in re.findall(r"(\w+)\s+AS\s*\(", q.oracle, re.I)}
        assert unknown <= ctes, (name, unknown - ctes)


def test_retirement_gate():
    """RETIREMENT POLICY enforcement (queries/__init__.py): every name
    in _RETIRED must (a) have GREEN driver rows in >= 3 distinct rounds,
    recounted here from the raw CORRECTNESS_r*.json artifacts — never
    from the claim in the comment — and (b) still be registered, so
    verify_oracle.py and the per-query pytest gates keep covering it.
    Retirement narrows the driver's sampling, never verification."""
    import glob
    import json
    import os

    from thundercats_spark.queries import _RETIRED

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green_rounds: dict[str, set[str]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        data = json.load(open(path))
        for name, row in data.items():
            ok = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and (row.get("spark_rows") or 0) > 0
            )
            if ok:
                green_rounds.setdefault(name, set()).add(
                    os.path.basename(path)
                )

    not_registered = _RETIRED - set(QUERIES)
    assert not not_registered, (
        f"retired entries must STAY registered: {not_registered}"
    )
    under_verified = {
        n: sorted(green_rounds.get(n, set()))
        for n in _RETIRED
        if len(green_rounds.get(n, set())) < 3
    }
    assert not under_verified, (
        f"retirement requires >= 3 green driver rounds: {under_verified}"
    )
    # retired entries sort at the registry tail (never re-enter the
    # first-50 driver window)
    names = list(QUERIES)
    tail = set(names[-len(_RETIRED):])
    assert tail == _RETIRED, (
        "retired entries must occupy the registry tail",
        _RETIRED - tail,
    )


# ---------------------------------------------------------------------------
# part_affinity_lift r08 rewire pins: single fact-table scan, broadcast
# n_baskets (no separate driver action), and the loud max_basket guard.
# ---------------------------------------------------------------------------


def _tiny_baskets(spark, tmp_path):
    """lineitem stand-in: basket 1 has 3 distinct parts, basket 2 has 2."""
    rows = [
        (1, 10), (1, 11), (1, 12),
        (2, 10), (2, 11),
        (3, 10), (3, 11),
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    return str(tmp_path)


def test_part_affinity_scans_lineitem_once(spark, sf_dir):
    """The (order, part) distinct is localCheckpointed, so the FINAL
    plan must not contain any lineitem file scan — the fact table was
    read exactly once, during the eager checkpoint (VERDICT r07 #1:
    without this, the aliased self-join branches re-derive the
    scan+distinct up to 4x)."""
    from thundercats_spark.queries.analytics4 import part_affinity_lift

    out = part_affinity_lift(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "final plan still rescans lineitem"
    # n_baskets rides the plan as a broadcast 1-row aggregate, not a
    # literal from a separate .count() action
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_part_affinity_max_basket_error_is_loud(spark, tmp_path):
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from thundercats_spark.queries.analytics4 import part_affinity_lift

    sf = _tiny_baskets(spark, tmp_path)
    with pytest.raises(SparkRuntimeException, match="max_basket"):
        part_affinity_lift(spark, sf, max_basket=2).collect()


def test_part_affinity_max_basket_drop_excludes_basket(spark, tmp_path):
    from thundercats_spark.queries.analytics4 import part_affinity_lift

    sf = _tiny_baskets(spark, tmp_path)
    rows = part_affinity_lift(spark, sf, max_basket=2, on_oversize="drop").collect()
    # basket 1 (3 parts) excluded everywhere: pair (10,11) counted in
    # baskets 2 and 3 only, n_baskets=2, marginals n_a=n_b=2
    assert len(rows) == 1
    r = rows[0]
    assert (r.part_a, r.part_b, r.n_ab, r.n_a, r.n_b) == (10, 11, 2, 2, 2)
    assert r.lift == (2 * 2) / (2 * 2)


def test_part_affinity_rejects_bad_on_oversize(spark, tmp_path):
    from thundercats_spark.queries.analytics4 import part_affinity_lift

    with pytest.raises(ValueError, match="on_oversize"):
        part_affinity_lift(spark, str(tmp_path), on_oversize="ignore")


# ---------------------------------------------------------------------------
# Wave-9 pins: exact sliding-window distinct counts (the contribution-
# interval algorithm vs a brute-force model) and grouped OLS closed forms.
# ---------------------------------------------------------------------------


def _brute_sliding(rows, window_days):
    """Model: rows = (type, user, day:int). Exact trailing-window distinct
    users per (type, day) over each type's [min_day, max_day] span."""
    from collections import defaultdict

    by_type = defaultdict(set)
    for t, u, d in rows:
        by_type[t].add((u, d))
    out = {}
    for t, act in by_type.items():
        days = [d for _, d in act]
        for d in range(min(days), max(days) + 1):
            users = {u for u, a in act if d - window_days + 1 <= a <= d}
            out[(t, d)] = len(users)
    return out


def test_sliding_distinct_matches_brute_force(spark):
    """Adversarial shape: a gap of exactly window_days (user drops out
    for one day then re-enters), a gap longer than the window, bursts
    inside one window, and a single-activity user."""
    import datetime

    from thundercats_spark.queries.analytics6 import sliding_distinct_users

    epoch = datetime.date(2024, 1, 1)
    rows = [
        # type a: user 1 active days 0,7 (gap == window: day 6 excludes
        # nothing — 0 still in [0..6]; day 7 window [1..7] catches only 7)
        ("a", 1, 0), ("a", 1, 7),
        # type a: user 2 active 0,1,2 (burst: counted once per window)
        ("a", 2, 0), ("a", 2, 1), ("a", 2, 2),
        # type a: user 3 active 0 and 20 (gap >> window: two islands)
        ("a", 3, 0), ("a", 3, 20),
        # type b: single activity
        ("b", 9, 5),
    ]
    ev = spark.createDataFrame(
        [
            (t, u, datetime.datetime.combine(
                epoch + datetime.timedelta(days=d), datetime.time(12, 0)))
            for t, u, d in rows
        ],
        "event_type string, user_id long, ts timestamp",
    )
    got = {
        (r.event_type, r.day): r.users_7d
        for r in sliding_distinct_users(ev).collect()
    }
    want = {
        (t, (epoch + datetime.timedelta(days=d)).isoformat()): n
        for (t, d), n in _brute_sliding(rows, 7).items()
    }
    assert got == want
    # spot-check the named adversarial cases (dates: 2024-01-01 is
    # day offset 0, so offset d surfaces as 2024-01-(d+1))
    assert got[("a", "2024-01-07")] == 3   # window [0..6]: users 1, 2, 3
    assert got[("a", "2024-01-08")] == 2   # window [1..7]: user 1 re-entry
                                           # (day 7) + user 2; user 3 aged out
    assert got[("a", "2024-01-15")] == 0   # dead zone between the islands
    assert got[("b", "2024-01-06")] == 1


def test_sliding_distinct_window_param_and_validation(spark):
    import datetime

    from thundercats_spark.queries.analytics6 import sliding_distinct_users

    epoch = datetime.date(2024, 1, 1)
    rows = [("a", 1, 0), ("a", 1, 3), ("a", 2, 1)]
    ev = spark.createDataFrame(
        [
            (t, u, datetime.datetime.combine(
                epoch + datetime.timedelta(days=d), datetime.time(0, 1)))
            for t, u, d in rows
        ],
        "event_type string, user_id long, ts timestamp",
    )
    for wd in (1, 2, 3):
        got = {
            (r.event_type, r.day): r.users_7d
            for r in sliding_distinct_users(ev, window_days=wd).collect()
        }
        want = {
            (t, (epoch + datetime.timedelta(days=d)).isoformat()): n
            for (t, d), n in _brute_sliding(rows, wd).items()
        }
        assert got == want, wd
    with pytest.raises(ValueError, match="window_days"):
        sliding_distinct_users(ev, window_days=0)


def test_sliding_distinct_null_semantics(spark):
    """COUNT(DISTINCT user) semantics, both halves: a NULL user is
    never COUNTED, but its activity day still anchors the day spine
    (the SQL spine CTE spans ALL activity) — review r08 wave 4 caught
    the first fix dropping NULL users from the spine too. NULL
    timestamps contribute to neither."""
    import datetime

    from thundercats_spark.queries.analytics6 import sliding_distinct_users

    d = lambda day: datetime.datetime(2024, 1, day, 12, 0)  # noqa: E731
    ev = spark.createDataFrame(
        [
            ("a", None, d(1)),     # NULL user: anchors spine day 1
            ("a", 7, d(9)),        # real user on day 9
            ("a", 8, None),        # NULL ts: contributes nothing
        ],
        "event_type string, user_id long, ts timestamp",
    )
    got = {
        (r.event_type, r.day): r.users_7d
        for r in sliding_distinct_users(ev).collect()
    }
    # spine spans day 1..9 (NULL user's day anchors the minimum)
    assert len(got) == 9
    assert got[("a", "2024-01-01")] == 0   # NULL user never counts
    assert got[("a", "2024-01-08")] == 0
    assert got[("a", "2024-01-09")] == 1   # only user 7


def test_brand_regression_exact_on_linear_data(spark, tmp_path):
    """y = 3x + 10 exactly → slope 3, intercept 10, r = 1. Degenerate
    brands (one row; zero x-variance) must yield NULL like the DuckDB
    oracle's 0/0 — NOT a Spark ANSI DIVIDE_BY_ZERO abort (review r08
    wave 3: the unguarded division killed the whole job on any brand
    with a single lineitem)."""
    li = spark.createDataFrame(
        [(1, float(x), float(3 * x + 10)) for x in (1, 2, 5, 8)]
        + [(2, 7.0, 42.0)]                       # single-row brand
        + [(3, 5.0, 10.0), (3, 5.0, 99.0)],      # flat-x brand
        "l_partkey long, l_quantity double, l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "B#1"), (2, "B#2"), (3, "B#3")],
        "p_partkey long, p_brand string",
    )
    li.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    part.write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    from thundercats_spark.queries.analytics6 import (
        part_brand_price_regression,
    )

    rows = {
        r.p_brand: r
        for r in part_brand_price_regression(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {"B#1", "B#2", "B#3"}
    r = rows["B#1"]
    assert r.n == 4
    assert r.slope == 3.0
    assert r.intercept == 10.0
    assert r.corr_qty_price == 1.0
    for brand, n in (("B#2", 1), ("B#3", 2)):
        r = rows[brand]
        assert r.n == n
        assert r.slope is None and r.intercept is None
        assert r.corr_qty_price is None, brand


def test_duckdb_division_semantics_match_oracle_assumptions():
    """ENVIRONMENT TRIPWIRE (ADVICE r08): part_brand_price_regression's
    degenerate-group equivalence (analytics6.py) relies on DuckDB
    returning NULL for float 0/0 — true on DuckDB 1.0.x, but DuckDB
    >= 1.1 defaults to IEEE semantics (0/0 -> NaN, 1/0 -> inf), which
    would silently flip the oracle's degenerate rows away from Spark's
    try_divide NULLs. If this test fails after a duckdb upgrade, either
    pin duckdb < 1.1 or have EVERY division-bearing oracle emit
    NULLIF-guarded divisions (and re-verify the whole registry)."""
    import duckdb

    got = duckdb.query(
        "SELECT 0.0/0.0 AS zz, 1.0/0.0 AS oz, "
        "CAST(0.0 AS DOUBLE)/CAST(0.0 AS DOUBLE) AS dzz"
    ).fetchall()[0]
    assert got == (None, None, None), (
        f"duckdb {duckdb.__version__} division semantics changed: {got}; "
        "oracle SQL for regression/ratio queries assumes 0/0 IS NULL"
    )


def test_scd2_intervals_hand_built(spark):
    """Gaps-and-islands semantics on a hand-built stream: runs collapse,
    a value RETURNING later opens a new segment (A,A,B,A = 3 segments),
    valid_to chains to the next segment's valid_from, the current
    segment stays open, and same-day ties break on the tiebreak key."""
    from datetime import datetime

    from thundercats_spark.queries.analytics7 import scd2_intervals

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    rows = [
        # key 1: A,A,B,A — the return to A must NOT merge with run 1
        (1, 10, d("2024-01-01"), "A"),
        (1, 11, d("2024-02-01"), "A"),
        (1, 12, d("2024-03-01"), "B"),
        (1, 13, d("2024-04-01"), "A"),
        # key 2: same-day tie — orderkey 21 then 22 on the same date;
        # the B observed by the LOWER key comes first, so segments are
        # B (from 01-01) then C (from 01-01) ... tie order decides
        (2, 22, d("2024-01-01"), "C"),
        (2, 21, d("2024-01-01"), "B"),
        (2, 23, d("2024-02-01"), "C"),
    ]
    ev = spark.createDataFrame(
        rows, "k long, ok long, ts timestamp, attr string"
    )
    got = [
        tuple(r)
        for r in scd2_intervals(
            ev, key="k", ts="ts", attr="attr", tiebreak="ok"
        ).collect()
    ]
    assert got == [
        (1, 1, "A", "2024-01-01", "2024-03-01", 2),
        (1, 2, "B", "2024-03-01", "2024-04-01", 1),
        (1, 3, "A", "2024-04-01", "9999-12-31", 1),
        (2, 1, "B", "2024-01-01", "2024-01-01", 1),
        (2, 2, "C", "2024-01-01", "9999-12-31", 2),
    ], got


def test_nested_lineitem_facts_hand_built(spark):
    """HOF facts vs hand-computed values, including the decimal fold
    (net_revenue must be the EXACT decimal sum regardless of array
    order) and the empty-ish edges (single-item order, no returns)."""
    from thundercats_spark.queries.analytics7 import nested_lineitem_facts

    rows = [
        # orderkey, linenumber, qty, price, disc, returnflag
        (1, 2, 40.0, 100.00, 0.10, "N"),
        (1, 1, 10.0, 50.00, 0.00, "R"),
        (2, 1, 30.0, 1000.00, 0.05, "N"),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_returnflag string",
    )
    got = {r["l_orderkey"]: tuple(r)[1:] for r in nested_lineitem_facts(li).collect()}
    # order 1: net = 50*1.00 + 100*0.90 = 140.0; max item net = 90.0
    assert got[1] == (2, 1, True, 140.0, 90.0), got[1]
    # order 2: single line, qty 30 counts as big (>= 30), no return
    assert got[2] == (1, 1, False, 950.0, 950.0), got[2]


def test_scd2_as_of_snapshot(spark):
    """scd2_as_of returns exactly one covering interval per key for any
    probe date >= the key's first observation, none before it, and its
    answer matches a per-key replay of the raw observations."""
    from datetime import datetime

    from thundercats_spark.queries.analytics7 import scd2_as_of, scd2_intervals

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    rows = [
        (1, 10, d("2024-01-01"), "A"),
        (1, 11, d("2024-03-01"), "B"),
        (1, 12, d("2024-05-01"), "A"),
        (2, 20, d("2024-02-15"), "C"),
    ]
    iv = scd2_intervals(
        spark.createDataFrame(rows, "k long, ok long, ts timestamp, attr string"),
        key="k", ts="ts", attr="attr", tiebreak="ok",
    ).localCheckpoint()

    def snap(at):
        return {
            r["k"]: r["priority"] for r in scd2_as_of(iv, at, key="k").collect()
        }

    assert snap("2024-01-15") == {1: "A"}          # key 2 not born yet
    assert snap("2024-03-01") == {1: "B", 2: "C"}  # boundary: new run wins
    assert snap("2024-04-30") == {1: "B", 2: "C"}
    assert snap("2027-12-31") == {1: "A", 2: "C"}  # open tails
    assert snap("2023-12-31") == {}
    # exactly one interval covers any in-range date (no overlaps/gaps)
    from pyspark.sql import functions as F

    probe = scd2_as_of(iv, "2024-03-01", key="k")
    assert probe.groupBy("k").count().where(F.col("count") > 1).count() == 0


def test_scd2_apply_batch_equals_full_rebuild(spark):
    """The incremental contract: apply_batch(build(prefix), suffix) ==
    build(prefix ∪ suffix) whenever the suffix is strictly later per
    key — covering merge-into-open (same attr), close-and-append
    (changed attr), multi-run batches, brand-new keys, and untouched
    keys."""
    from datetime import datetime

    from thundercats_spark.queries.analytics7 import (
        scd2_apply_batch,
        scd2_intervals,
    )

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    prefix = [
        (1, 10, d("2024-01-01"), "A"),
        (1, 11, d("2024-02-01"), "A"),
        (2, 20, d("2024-01-05"), "B"),
        (2, 21, d("2024-02-05"), "C"),
        (3, 30, d("2024-01-09"), "A"),  # untouched by the batch
    ]
    suffix = [
        (1, 12, d("2024-03-01"), "A"),  # merges into key 1's open run
        (1, 13, d("2024-04-01"), "B"),  # then a new run
        (1, 14, d("2024-05-01"), "A"),  # and another
        (2, 22, d("2024-03-05"), "D"),  # closes key 2's open C run
        (9, 90, d("2024-02-02"), "Z"),  # brand-new key
        (9, 91, d("2024-03-02"), "Z"),
    ]
    schema = "k long, ok long, ts timestamp, attr string"
    build = lambda rows: scd2_intervals(  # noqa: E731
        spark.createDataFrame(rows, schema),
        key="k", ts="ts", attr="attr", tiebreak="ok",
        with_last_seen=True,
    )
    incremental = scd2_apply_batch(
        build(prefix),
        spark.createDataFrame(suffix, schema),
        key="k", ts="ts", attr="attr", tiebreak="ok",
    )
    got = {tuple(r) for r in incremental.collect()}
    want = {tuple(r) for r in build(prefix + suffix).collect()}
    assert got == want, (
        f"only_incremental={sorted(got - want)} "
        f"only_rebuild={sorted(want - got)}"
    )


def test_scd2_apply_batch_guards(spark):
    """Late/same-day arrivals and replayed batches raise loudly with
    the rebuild remedy; a table built without last_seen is rejected."""
    from datetime import datetime

    import pytest

    from thundercats_spark.queries.analytics7 import (
        scd2_apply_batch,
        scd2_intervals,
    )

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    schema = "k long, ok long, ts timestamp, attr string"
    hist = spark.createDataFrame(
        [(1, 10, d("2024-01-01"), "A"), (1, 11, d("2024-02-01"), "A")],
        schema,
    )
    iv = scd2_intervals(
        hist, key="k", ts="ts", attr="attr", tiebreak="ok",
        with_last_seen=True,
    ).localCheckpoint()

    same_day = spark.createDataFrame([(1, 12, d("2024-02-01"), "B")], schema)
    with pytest.raises(ValueError, match="last_seen day"):
        scd2_apply_batch(iv, same_day, "k", "ts", "attr", "ok")

    batch = spark.createDataFrame([(1, 12, d("2024-03-01"), "B")], schema)
    iv2 = scd2_apply_batch(iv, batch, "k", "ts", "attr", "ok").localCheckpoint()
    with pytest.raises(ValueError, match="replayed batch|last_seen day"):
        scd2_apply_batch(iv2, batch, "k", "ts", "attr", "ok")  # replay

    no_ls = scd2_intervals(hist, key="k", ts="ts", attr="attr", tiebreak="ok")
    with pytest.raises(ValueError, match="with_last_seen"):
        scd2_apply_batch(no_ls, batch, "k", "ts", "attr", "ok")


def test_scd2_join_facts_point_in_time_enrichment(spark):
    """Each fact row joins the interval valid at ITS OWN timestamp:
    covering-interval uniqueness means no fan-out; facts before a
    key's first observation (or with unknown keys) keep NULL dims;
    the join plans as an equi-join on the key, never a BNLJ."""
    from datetime import datetime

    from thundercats_spark.queries.analytics7 import (
        scd2_intervals,
        scd2_join_facts,
    )

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    obs = [
        (1, 10, d("2024-01-01"), "A"),
        (1, 11, d("2024-03-01"), "B"),
        (2, 20, d("2024-02-01"), "C"),
    ]
    iv = scd2_intervals(
        spark.createDataFrame(obs, "k long, ok long, ts timestamp, attr string"),
        key="k", ts="ts", attr="attr", tiebreak="ok",
    ).localCheckpoint()
    facts = spark.createDataFrame(
        [
            (100, 1, d("2024-01-15")),  # inside key 1's A run
            (101, 1, d("2024-03-01")),  # boundary day -> B (half-open)
            (102, 1, d("2023-12-25")),  # before first obs -> NULL dims
            (103, 2, d("2024-06-01")),  # open tail -> C
            (104, 9, d("2024-06-01")),  # unknown key -> NULL dims
        ],
        "fact_id long, k long, fts timestamp",
    )
    out = scd2_join_facts(facts, iv, key="k", fact_ts="fts")
    got = {r["fact_id"]: r["dim_value"] for r in out.collect()}
    assert got == {100: "A", 101: "B", 102: None, 103: "C", 104: None}
    assert out.count() == 5  # exactly-one-covering-interval: no fan-out
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_scd2_plan_one_data_exchange(spark, sf_dir):
    """The SURVEY claim, pinned: all three windows + the segment agg of
    customer_scd2_intervals ride ONE custkey hash exchange; the only
    other exchange is the presentation range sort. The nested HOF query
    likewise: one hash exchange (the collect_list) + the final sort."""
    from thundercats_spark.queries import all_queries

    reg = all_queries()
    for name, hash_max in [
        ("customer_scd2_intervals", 1),
        ("orders_nested_lineitems", 2),  # partial+final collect_list
    ]:
        plan = (
            reg[name]
            .spark_fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_hash = plan.count("Exchange hashpartitioning")
        n_range = plan.count("Exchange rangepartitioning")
        assert n_hash <= hash_max, f"{name}: {n_hash} hash exchanges\n{plan[:2000]}"
        assert n_range <= 1, f"{name}: {n_range} range exchanges"


def test_scd2_sort_escape_hatch_drops_range_exchange(spark, tmp_path):
    """VERDICT r09 nit: the persisted path pays scd2_intervals' trailing
    presentation orderBy as a full range sort the swap-published parquet
    doesn't need. sort=False plans with ZERO range exchanges (pinned),
    scd2_update_parquet's first build uses it (content identical to the
    sorted build up to row order), and the registered query keeps its
    deterministic order (default sort=True still range-sorts)."""
    from datetime import datetime

    from thundercats_spark.operators.scd2 import (
        scd2_intervals,
        scd2_update_parquet,
    )

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    obs = [
        (1, 10, d("2024-01-01"), "A"),
        (1, 11, d("2024-03-01"), "B"),
        (2, 20, d("2024-02-01"), "C"),
        (2, 21, d("2024-04-01"), "C"),
    ]
    df = spark.createDataFrame(
        obs, "k long, ok long, ts timestamp, attr string"
    )

    def plan_of(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    unsorted = scd2_intervals(
        df, key="k", ts="ts", attr="attr", tiebreak="ok",
        with_last_seen=True, sort=False,
    )
    assert plan_of(unsorted).count("Exchange rangepartitioning") == 0
    sorted_ = scd2_intervals(
        df, key="k", ts="ts", attr="attr", tiebreak="ok",
        with_last_seen=True,
    )
    assert plan_of(sorted_).count("Exchange rangepartitioning") >= 1

    # content identical up to row order
    assert {tuple(r) for r in unsorted.collect()} == {
        tuple(r) for r in sorted_.collect()
    }

    # the persisted first build goes through the sort-free plan and
    # round-trips the same content
    path = str(tmp_path / "scd2_table")
    scd2_update_parquet(
        spark, df, path, key="k", ts="ts", attr="attr", tiebreak="ok"
    )
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == {
        tuple(r) for r in sorted_.collect()
    }


def test_scd2_null_observation_raises_in_plan(spark):
    """Review r09: a NULL attr/ts/key/tiebreak observation must raise
    (in-plan, the part_affinity_lift pattern) — previously a NULL attr
    silently folded into the previous run and split the next."""
    from datetime import datetime

    import pytest

    from thundercats_spark.queries.analytics7 import scd2_intervals

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    schema = "k long, ok long, ts timestamp, attr string"
    for rows in [
        [(1, 10, d("2024-01-01"), "A"), (1, 11, d("2024-02-01"), None),
         (1, 12, d("2024-03-01"), "A")],
        [(1, 10, None, "A")],
        [(None, 10, d("2024-01-01"), "A")],
    ]:
        df = spark.createDataFrame(rows, schema)
        with pytest.raises(Exception, match="NULL"):
            scd2_intervals(
                df, key="k", ts="ts", attr="attr", tiebreak="ok"
            ).collect()


# ---------------------------------------------------------------------------
# Wave-11 semantic pins: the behaviors the oracle hash can't explain by
# itself — tie-breaking, boundary crossings, closed forms.
# ---------------------------------------------------------------------------


def test_weighted_median_crossing_and_ties(spark, tmp_path):
    """The weighted median is the smallest value whose cumulative
    weight crosses HALF the total — pinned on a hand-built corpus where
    the crossing lands mid-tie and where one heavy doc dominates."""
    rows = [
        # source A: weights 1,1,1,10 over lengths 10,20,30,40 —
        # total 13, half 6.5, cumulative crosses at the weight-10 doc
        (1, "A", 10, "w"), (2, "A", 20, "w"), (3, "A", 30, "w"),
        (4, "A", 40, " ".join(["w"] * 10)),
        # source B: equal weights, even count — crossing at the 2nd of
        # 4 (cum 2*2 >= 4), i.e. the LOWER middle length
        (5, "B", 5, "w"), (6, "B", 6, "w"), (7, "B", 7, "w"),
        (8, "B", 8, "w"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long, text string"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics8 import (
        doc_weighted_quality_median,
    )

    got = {
        r["source"]: (r["total_tokens"], r["weighted_median_chars"])
        for r in doc_weighted_quality_median(spark, str(tmp_path)).collect()
    }
    assert got == {"A": (13, 40), "B": (4, 6)}


def test_priority_mode_deterministic_tiebreak(spark, tmp_path):
    """Two priorities tied on count → the lexicographically smaller
    priority wins, on both engines, every run."""
    orders = [(i, 1, "2-HIGH" if i % 2 else "1-URGENT") for i in range(4)]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, "BUILDING")], "c_custkey long, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    from thundercats_spark.queries.analytics8 import orders_priority_mode

    row = orders_priority_mode(spark, str(tmp_path)).first()
    assert row["mode_priority"] == "1-URGENT"  # tie → value ASC
    assert row["n_orders"] == 2 and abs(row["mode_share"] - 0.5) < 1e-12


def test_char_entropy_closed_forms(spark, tmp_path):
    """Known distributions: a single repeated char has entropy 0; a
    uniform 4-char doc has ln(4); counts and distinct-chars are
    exact."""
    import math

    rows = [(1, "aaaa"), (2, "abcd")]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics8 import doc_char_entropy

    got = {r["doc_id"]: r for r in doc_char_entropy(spark, str(tmp_path)).collect()}
    assert got[1]["entropy"] == 0.0
    assert got[1]["n_chars_counted"] == 4 and got[1]["distinct_chars"] == 1
    assert abs(got[2]["entropy"] - round(math.log(4), 6)) < 1e-9
    assert got[2]["distinct_chars"] == 4


def test_scd2_attribution_same_day_change_and_growth_first_month(
    spark, tmp_path
):
    """(a) Two orders by one customer on the SAME day with different
    priorities: the empty same-day segment attributes nothing; both
    orders land on the interval actually covering that day. (b) The
    MoM query's first month has NULL prev/growth via the left join."""
    from datetime import datetime

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    orders = [
        (1, 7, d("2024-01-05"), "1-URGENT", 100.0),
        (2, 7, d("2024-02-10"), "2-HIGH", 100.0),   # change day, small key
        (3, 7, d("2024-02-10"), "3-MEDIUM", 100.0),  # same day, larger key
        (4, 7, d("2024-03-01"), "3-MEDIUM", 100.0),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_orderpriority string, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from thundercats_spark.queries.analytics8 import (
        orders_monthly_growth,
        orders_scd2_attribution,
    )

    att = {
        r["o_orderkey"]: r["attributed_priority"]
        for r in orders_scd2_attribution(spark, str(tmp_path)).collect()
    }
    # 2024-02-10 is covered by the 3-MEDIUM interval (the 2-HIGH
    # segment is same-day-empty); order 1 keeps its original version
    assert att == {1: "1-URGENT", 2: "3-MEDIUM", 3: "3-MEDIUM",
                   4: "3-MEDIUM"}

    g = {r["month"]: r for r in orders_monthly_growth(spark, str(tmp_path)).collect()}
    assert g["2024-01"]["prev_revenue"] is None
    assert g["2024-01"]["mom_growth"] is None
    assert g["2024-02"]["mom_growth"] == 1.0  # 100 -> 200


# ---------------------------------------------------------------------------
# Wave-12 semantic pins: sweep-line boundary semantics, NTILE remainder
# distribution + Lorenz closure, sequence tie-breaking, the integer
# anomaly membership guard, and vocab-overlap absence semantics.
# ---------------------------------------------------------------------------


def test_backlog_sweepline_overlap_and_halfopen_close(spark, tmp_path):
    """Two overlapping orders peak at 2 exactly between the second
    order date and the first close (day AFTER last shipment —
    half-open); change days count the +1/-1 boundary events only."""
    from datetime import datetime

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    orders = [(1, d("2024-01-01")), (2, d("2024-01-05")),
              (3, d("2024-02-01"))]
    spark.createDataFrame(orders, "o_orderkey long, o_orderdate timestamp") \
        .write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    # order 1 ships Jan 3 then Jan 10 (close Jan 11 — the LAST ship
    # wins); order 2 ships Jan 7 (close Jan 8); order 3 ships Feb 2
    items = [(1, d("2024-01-03")), (1, d("2024-01-10")),
             (2, d("2024-01-07")), (3, d("2024-02-02"))]
    spark.createDataFrame(items, "l_orderkey long, l_shipdate timestamp") \
        .write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    from thundercats_spark.queries.analytics9 import orders_backlog_sweepline

    got = {r["month"]: r for r in
           orders_backlog_sweepline(spark, str(tmp_path)).collect()}
    # Jan change days: 1st (+1 -> 1), 5th (+1 -> 2), 8th (-1 -> 1),
    # 11th (-1 -> 0); Feb: 1st (+1 -> 1), 3rd (-1 -> 0)
    assert (got["2024-01"]["peak_open_orders"],
            got["2024-01"]["n_change_days"]) == (2, 4)
    assert (got["2024-02"]["peak_open_orders"],
            got["2024-02"]["n_change_days"]) == (1, 2)


def test_revenue_pareto_ntile_remainder_and_lorenz_closure(spark, tmp_path):
    """12 customers into 10 deciles: SQL NTILE puts the 2 remainder
    rows in deciles 1-2 (sizes 2,2,1,...,1); decile 1 holds the TWO
    HIGHEST revenues; shares sum to 1 and cum_share closes at 1."""
    orders = [(i, i, float(i)) for i in range(1, 13)]  # rev = custkey
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from thundercats_spark.queries.analytics9 import customer_revenue_pareto

    rows = customer_revenue_pareto(spark, str(tmp_path)).collect()
    sizes = [r["n_customers"] for r in rows]
    assert sizes == [2, 2, 1, 1, 1, 1, 1, 1, 1, 1]
    total = sum(range(1, 13))  # 78
    assert rows[0]["revenue"] == 23.0  # customers 12 + 11
    assert abs(rows[0]["revenue_share"] - 23.0 / total) < 1e-12
    assert abs(rows[-1]["cum_share"] - 1.0) < 1e-12
    assert abs(sum(r["revenue_share"] for r in rows) - 1.0) < 1e-9


def test_type_transitions_tiebreak_and_row_normalization(spark, tmp_path):
    """Two events at the SAME microsecond order by event_id (A before
    B), so the chain is A,B,B,A; row probabilities normalize per
    from_type."""
    from datetime import datetime

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    t1 = datetime(2024, 1, 1, 12, 0, 1)
    t2 = datetime(2024, 1, 1, 12, 0, 2)
    events = [  # same-ts pair: ids 1,2 decide A then B
        (1, t0, 9, "A"), (2, t0, 9, "B"), (3, t1, 9, "B"), (4, t2, 9, "A"),
    ]
    spark.createDataFrame(
        events, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from thundercats_spark.queries.analytics9 import events_type_transitions

    got = {(r["from_type"], r["to_type"]): (r["n"], r["p"])
           for r in events_type_transitions(spark, str(tmp_path)).collect()}
    assert got == {("A", "B"): (1, 1.0), ("B", "B"): (1, 0.5),
                   ("B", "A"): (1, 0.5)}


def test_daily_anomaly_integer_membership_and_z(spark, tmp_path):
    """Hand-built daily counts: nine 1-event days + one 21-event day
    gives z = 18/sqrt(40) = 2.846.. >= 2 (spike, flagged); nine 10s +
    one 1 flags a dip; a type whose extreme sits at z = 1.79 < 2 is
    absent. The membership decision is the integer guard, the z value
    one IEEE chain."""
    from datetime import datetime, timedelta

    rows, eid = [], 0

    def day_events(etype, day_idx, count):
        nonlocal eid
        base = datetime(2024, 3, 1) + timedelta(days=day_idx)
        for _ in range(count):
            eid += 1
            rows.append((eid, base, 1, etype))

    for i, c in enumerate([1] * 9 + [21]):
        day_events("spiky", i, c)
    for i, c in enumerate([10] * 9 + [1]):
        day_events("dippy", i, c)
    for i, c in enumerate([1, 1, 1, 1, 16]):  # max z for n=5 is 1.789
        day_events("calm", i, c)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from thundercats_spark.queries.analytics9 import events_daily_anomaly

    got = {(r["event_type"], r["day"]): r
           for r in events_daily_anomaly(spark, str(tmp_path)).collect()}
    assert set(got) == {("spiky", "2024-03-10"), ("dippy", "2024-03-10")}
    spike = got[("spiky", "2024-03-10")]
    assert spike["direction"] == "spike" and spike["n_events"] == 21
    assert abs(spike["z"] - round(18 / 40 ** 0.5, 6)) < 1e-9
    assert got[("dippy", "2024-03-10")]["direction"] == "dip"


def test_vocab_overlap_jaccard_and_absent_pairs(spark, tmp_path):
    """Sources sharing no token produce NO row (both engines); a
    shared token yields the exact Jaccard over distinct vocabularies
    (duplicate tokens within a source count once)."""
    docs = [(1, "A", "x y"), (2, "A", "y y"),  # A vocab {x, y}
            (3, "B", "y z"),                   # B vocab {y, z}
            (4, "C", "p q")]                   # C shares nothing
    spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics9 import doc_source_vocab_overlap

    rows = doc_source_vocab_overlap(spark, str(tmp_path)).collect()
    assert [(r["src_a"], r["src_b"]) for r in rows] == [("A", "B")]
    r = rows[0]
    assert (r["vocab_a"], r["vocab_b"], r["common"]) == (2, 2, 1)
    assert abs(r["jaccard"] - 1 / 3) < 1e-12


# ---------------------------------------------------------------------------
# Wave-13 semantic pins: cohort matrix shape, chi-square closed forms,
# digit-count buckets, degree histogram shapes, integer dow/hour, and
# HHI closed forms.
# ---------------------------------------------------------------------------


def test_cohort_ltv_matrix_shape(spark, tmp_path):
    """Customer 1 orders in 2023 and 2024 (cohort 2023 appears in both
    order years); customer 2 first orders in 2024. Revenue-per-active
    divides exactly."""
    from datetime import datetime

    d = lambda s: datetime.strptime(s, "%Y-%m-%d")  # noqa: E731
    orders = [(1, 1, d("2023-02-01"), 100.0), (2, 1, d("2024-05-01"), 50.0),
              (3, 2, d("2024-03-01"), 70.0), (4, 2, d("2024-08-01"), 30.0)]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderdate timestamp, "
                "o_totalprice double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from thundercats_spark.queries.analytics10 import orders_cohort_ltv

    got = {(r["cohort_year"], r["order_year"]):
           (r["n_active"], r["revenue"], r["revenue_per_active"])
           for r in orders_cohort_ltv(spark, str(tmp_path)).collect()}
    assert got == {("2023", "2023"): (1, 100.0, 100.0),
                   ("2023", "2024"): (1, 50.0, 50.0),
                   ("2024", "2024"): (1, 100.0, 100.0)}


def test_contingency_chi2_closed_form_on_perfect_association(spark, tmp_path):
    """12 docs where token count tracks length exactly → the grid is
    diagonal with NTILE sizes (2,2,1,...,1) and each diagonal cell's
    chi-square contribution has the closed form (N−s)²/N·(s/s) =
    (12−s)²/12 for a cell of size s (O=rt=ct=s)."""
    docs = [(i, "x" * i, " ".join(["w"] * i)) for i in range(1, 13)]
    spark.createDataFrame(
        [(i, len(t), t) for i, _, t in docs],
        "doc_id long, n_chars long, text string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics10 import (
        doc_len_quality_contingency,
    )

    rows = doc_len_quality_contingency(spark, str(tmp_path)).collect()
    # n_chars and token count are both strictly increasing in doc_id,
    # so the grid is purely diagonal
    assert all(r["len_decile"] == r["tok_decile"] for r in rows)
    for r in rows:
        s = r["observed"]
        assert r["row_total"] == s and r["col_total"] == s
        assert abs(r["chi2_contrib"] - (12 - s) ** 2 / 12) < 1e-9
    assert sorted(r["observed"] for r in rows) == [1] * 8 + [2] * 2


def test_interarrival_decade_buckets(spark, tmp_path):
    """Gaps of 5us, 99us, and 1,000,000us land in decades 1, 2, and 7
    (decimal digit count of the microsecond gap) — and a second user's
    sequence never mixes into the first's gaps."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    events = [
        (1, t0, 1, "click"),
        (2, t0 + timedelta(microseconds=5), 1, "click"),
        (3, t0 + timedelta(microseconds=104), 1, "click"),
        (4, t0 + timedelta(seconds=1, microseconds=104), 1, "click"),
        (5, t0, 2, "click"),  # second user: no gap rows of its own
    ]
    spark.createDataFrame(
        events, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from thundercats_spark.queries.analytics10 import (
        events_interarrival_decades,
    )

    got = {r["gap_decade"]: (r["n_gaps"], r["min_gap_us"], r["max_gap_us"])
           for r in events_interarrival_decades(spark, str(tmp_path)).collect()}
    assert got == {1: (1, 5, 5), 2: (1, 99, 99), 7: (1, 1000000, 1000000)}


def test_degree_distribution_triangle_and_pair(spark, tmp_path):
    """Three identical docs form a triangle (each degree 2), two more
    form an isolated pair (degree 1), one unique doc is absent →
    histogram {1: 2, 2: 3}."""
    tri = "alpha beta gamma delta epsilon zeta"
    pair = "one two three four five six seven"
    docs = [(1, tri), (2, tri), (3, tri),
            (4, pair), (5, pair),
            (6, "nothing shares these tokens at all wholly unique")]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics10 import dedup_graph_degree_dist

    got = {r["degree"]: r["n_docs"]
           for r in dedup_graph_degree_dist(spark, str(tmp_path)).collect()}
    assert got == {1: 2, 2: 3}


def test_dow_hour_integer_epoch_arithmetic(spark, tmp_path):
    """1970-01-01 was a Thursday (dow 4 with Sunday=0); 2024-03-03 was
    a Sunday (dow 0). Hours come from micros-in-day division; shares
    sum to 1."""
    from datetime import datetime

    events = [
        (1, datetime(1970, 1, 1, 0, 30), 1, "a"),
        (2, datetime(2024, 3, 3, 23, 59), 1, "a"),
        (3, datetime(2024, 3, 3, 23, 1), 2, "a"),
    ]
    spark.createDataFrame(
        events, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from thundercats_spark.queries.analytics10 import events_dow_hour_heatmap

    rows = events_dow_hour_heatmap(spark, str(tmp_path)).collect()
    got = {(r["dow"], r["hour"]): (r["n_events"], r["share"]) for r in rows}
    assert got == {(4, 0): (1, 1 / 3), (0, 23): (2, 2 / 3)}
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-12


def test_hhi_closed_forms(spark, tmp_path):
    """A single-customer nation has HHI exactly 1; two equal customers
    give exactly 0.5; three customers at 50/25/25 give 0.375."""
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20), (4, 30), (5, 30), (6, 30)],
        "c_custkey long, c_nationkey long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(10, "MONO"), (20, "DUO"), (30, "TRIO")],
        "n_nationkey long, n_name string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/nation.parquet")
    orders = [(1, 1, 500.0),
              (2, 2, 100.0), (3, 3, 100.0),
              (4, 4, 200.0), (5, 5, 100.0), (6, 6, 100.0)]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from thundercats_spark.queries.analytics10 import customer_nation_hhi

    got = {r["nation"]: (r["n_customers"], r["hhi"])
           for r in customer_nation_hhi(spark, str(tmp_path)).collect()}
    assert got == {"MONO": (1, 1.0), "DUO": (2, 0.5),
                   "TRIO": (3, 0.375)}


def test_token_count_empty_text_matches_oracle_convention(spark):
    """ADVICE r10: DuckDB's len(regexp_split_to_array(TRIM(''), '\\s+'))
    is 1 (the split of '' is ['']), while Spark's T.token_count is 0 —
    so every oracle that pairs with token_count guards empty text with
    CASE WHEN TRIM(text) = '' THEN 0. This pins BOTH conventions: the
    guarded DuckDB expression equals Spark's token_count on the edge
    cases (empty, whitespace-only, 1 token, n tokens), so NTILE
    orderings keyed on (n_tokens, doc_id) cannot diverge between the
    engines even if the corpus gains an empty-text doc."""
    import duckdb

    from thundercats_spark.functions import text_analysis as T

    # NOTE the "\t\n" row: BOTH engines' TRIM strips only ASCII
    # spaces, so tab/newline-only text survives the empty-guard and
    # splits to two phantom '' tokens — in Spark AND DuckDB alike.
    # A shared (ugly but parity-safe) convention, pinned here so a
    # one-sided "fix" can't silently break the NTILE pairings.
    cases = ["", "   ", "\t\n", "one", "  two  words ", "a b  c\td"]
    expected = [0, 0, 2, 1, 2, 4]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got_spark = [
        r.n for r in df.select(
            "doc_id", T.token_count(F.col("text")).alias("n")
        ).orderBy("doc_id").collect()
    ]
    assert got_spark == expected

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(cases))
        + ") t(doc_id, text)"
    )
    got_duck = [
        r[0] for r in con.execute(
            r"""SELECT CASE WHEN TRIM(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END
                FROM d ORDER BY doc_id"""
        ).fetchall()
    ]
    assert got_duck == expected
    # and the UNGUARDED expression really does disagree on empty text —
    # the reason the guard exists; if DuckDB ever changes this, the
    # guard becomes redundant but stays correct.
    assert con.execute(
        r"SELECT len(regexp_split_to_array(TRIM(''), '\s+'))"
    ).fetchone()[0] == 1


# ---------------------------------------------------------------------------
# Wave-14 semantic pins (hand-built inputs, closed-form expectations)
# ---------------------------------------------------------------------------


def test_session_attribution_hand_built(spark, tmp_path):
    """Two users: u1 has a view→purchase session (converts, first touch
    'view') and a later click-only session after a >30-min gap; u2 has
    one purchase-first session (first touch 'purchase'). Rates are
    exact integer ratios."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    m = lambda k: t0 + datetime.timedelta(minutes=k)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, m(0), 1, "view", 1.0, "{}"),
            (2, m(5), 1, "purchase", 9.0, "{}"),
            (3, m(90), 1, "click", 1.0, "{}"),   # new session (85' gap)
            (4, m(0), 2, "purchase", 5.0, "{}"),
            (5, m(10), 2, "view", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    ev.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from thundercats_spark.queries.analytics11 import (
        events_session_attribution,
    )

    got = {
        r.first_touch: (r.n_sessions, r.n_converted, r.conversion_rate)
        for r in events_session_attribution(spark, str(tmp_path)).collect()
    }
    assert got == {
        "view": (1, 1, 1.0),
        "click": (1, 0, 0.0),
        "purchase": (1, 1, 1.0),
    }


def test_customer_order_gini_closed_forms(spark, tmp_path):
    """Perfect equality → Gini 0; one customer holding everything →
    (n−1)/n. Zero-order customers stay in the population via the LEFT
    join."""
    cust = spark.createDataFrame(
        [(1, "a", 0, 0.0, "EQ"), (2, "b", 0, 0.0, "EQ"),
         (3, "c", 0, 0.0, "EQ"),
         (4, "d", 0, 0.0, "INEQ"), (5, "e", 0, 0.0, "INEQ"),
         (6, "f", 0, 0.0, "INEQ")],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    rows = [(k, c, "O", 1.0, None, "P") for k, c in
            [(10, 1), (11, 1), (12, 2), (13, 2), (14, 3), (15, 3)]]
    rows += [(20 + i, 6, "O", 1.0, None, "P") for i in range(4)]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    cust.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from thundercats_spark.queries.analytics11 import customer_order_gini

    got = {r.segment: r for r in
           customer_order_gini(spark, str(tmp_path)).collect()}
    assert got["EQ"].gini == 0.0
    assert got["EQ"].total_orders == 6
    # counts (0, 0, 4): G = 2*(3*4)/(3*4) − 4/3 = 2/3 = (n−1)/n
    assert abs(got["INEQ"].gini - 2 / 3) < 1e-12
    assert got["INEQ"].n_customers == 3


def test_zipf_slope_exact_on_power_law(spark, tmp_path):
    """Frequencies 12/r for ranks 1..4 (words a×12 b×6 c×4 d×3) lie
    EXACTLY on ln f = ln 12 − ln r: slope −1, intercept ln 12, r² 1."""
    import math

    words = ["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en", "s", 1)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics11 import doc_zipf_slope

    r = doc_zipf_slope(spark, str(tmp_path)).collect()[0]
    assert r.n_ranks == 4
    assert r.slope == -1.0
    assert r.intercept == round(math.log(12.0), 6)
    assert r.r2 == 1.0


def test_vocab_growth_buckets_and_cumulative(spark, tmp_path):
    """Docs 0..49 → bucket 0, docs 50.. → bucket 1. A word FIRST seen
    in bucket 0 doesn't count as new in bucket 1; cumulative vocab is
    the running total. An empty-text doc joins no bucket."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta alpha", "en", "s", 1),
            (49, "beta gamma", "en", "s", 1),
            (50, "alpha delta", "en", "s", 1),   # alpha is old news
            (51, "", "en", "s", 1),              # contributes nothing
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics11 import doc_vocab_growth

    got = [tuple(r) for r in doc_vocab_growth(spark, str(tmp_path)).collect()]
    # (bucket, n_docs, n_tokens, new_types, cum_vocab)
    assert got == [(0, 2, 5, 3, 3), (1, 1, 2, 1, 4)]


def test_diversity_closed_form(spark, tmp_path):
    """Source with words a a b b: N=4, V=2, TTR=0.5, H=ln2,
    Simpson=(2·1+2·1)/(4·3)=1/3. A single-word source: H=0, Simpson=1."""
    import math

    docs = spark.createDataFrame(
        [(0, "a a b b", "en", "mix", 1), (1, "z z z", "en", "mono", 1)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics11 import (
        doc_token_diversity_by_source,
    )

    got = {r.source: r for r in
           doc_token_diversity_by_source(spark, str(tmp_path)).collect()}
    m = got["mix"]
    assert (m.n_tokens, m.vocab, m.ttr) == (4, 2, 0.5)
    assert m.entropy == round(math.log(2.0), 6)
    assert abs(m.simpson - 1 / 3) < 1e-15
    mono = got["mono"]
    assert (mono.entropy, mono.simpson) == (0.0, 1.0)


def test_embedding_dim_stats_hand_built(spark, tmp_path):
    """Vectors (0,2) and (2,4): dim 1 mean 1 var 1, dim 2 mean 3 var 1
    (population variance)."""
    emb = spark.createDataFrame(
        [(1, [0.0, 2.0], 0), (2, [2.0, 4.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    from thundercats_spark.queries.analytics11 import embedding_dim_stats

    got = [tuple(r) for r in
           embedding_dim_stats(spark, str(tmp_path)).collect()]
    assert got == [(1, 2, 1.0, 1.0), (2, 2, 3.0, 1.0)]


def test_ship_lag_floor_on_negative_lags(spark, tmp_path):
    """A ship date 36h BEFORE the order date must floor to −2 days
    (floor semantics, not truncation-toward-zero — the class where
    engine integer-division conventions diverge)."""
    import datetime

    d = datetime.datetime
    orders = spark.createDataFrame(
        [(1, 1, "O", 1.0, d(2024, 1, 10), "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 8, 12))],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    li.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    from thundercats_spark.queries.analytics11 import orders_ship_lag_profile

    r = orders_ship_lag_profile(spark, str(tmp_path)).collect()[0]
    assert (r.n_items, r.avg_lag_days, r.p50_lag_days) == (1, -2.0, -2)


def test_winsorized_clip_hand_built(spark, tmp_path):
    """Values 1..20 for one type: disc p05 = 1, disc p95 = 19, so only
    the 20 clips (→19): winsor mean (190+19)/20 = 10.45 vs raw 10.5."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, t0, 1, "pay", float(i), "{}") for i in range(1, 21)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    ev.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from thundercats_spark.queries.analytics11 import events_value_winsorized

    r = events_value_winsorized(spark, str(tmp_path)).collect()[0]
    assert (r.n, r.p05, r.p95) == (20, 1.0, 19.0)
    assert (r.raw_mean, r.winsor_mean) == (10.5, 10.45)


def test_lateral_topk_tiebreak_and_limit(spark, tmp_path):
    """Equal revenues break ties on custkey (lower key ranks first);
    a nation with 4 customers reports exactly 3."""
    nat = spark.createDataFrame(
        [(0, "N0", 0, "")],
        "n_nationkey int, n_name string, n_regionkey int, n_comment string",
    )
    cust = spark.createDataFrame(
        [(k, f"c{k}", 0, 0.0, "S") for k in (1, 2, 3, 4)],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(10, 1, "O", 100.0, None, "P"), (11, 2, "O", 100.0, None, "P"),
         (12, 3, "O", 50.0, None, "P"), (13, 4, "O", 200.0, None, "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    for name, df in [("nation", nat), ("customer", cust),
                     ("orders", orders)]:
        df.write.mode("overwrite").parquet(f"{tmp_path}/{name}.parquet")
    from thundercats_spark.queries.analytics11 import (
        nation_top_customers_lateral,
    )

    got = [(r.customer, r.revenue, r.rnk) for r in
           nation_top_customers_lateral(spark, str(tmp_path)).collect()]
    assert got == [("c4", 200.0, 1), ("c1", 100.0, 2), ("c2", 100.0, 3)]


def test_segment_extremes_tiebreak(spark, tmp_path):
    """Price ties resolve on orderkey: max side takes the HIGHER key,
    min side the LOWER — the total struct order both engines pin."""
    cust = spark.createDataFrame(
        [(1, "a", 0, 0.0, "S")],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(10, 1, "O", 5.0, None, "P"), (11, 1, "O", 5.0, None, "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    cust.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from thundercats_spark.queries.analytics11 import segment_extreme_orders

    r = segment_extreme_orders(spark, str(tmp_path)).collect()[0]
    assert (r.top_orderkey, r.bottom_orderkey) == (11, 10)
    assert (r.top_price, r.bottom_price) == (5.0, 5.0)


# ---------------------------------------------------------------------------
# Wave-15 semantic pins
# ---------------------------------------------------------------------------


def test_error_bursts_islands(spark, tmp_path):
    """error error error click error → one run of 3 and one run of 1;
    a second user's single error adds to run_len=1. Ordering ties
    break on event_id."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    s = lambda k: t0 + datetime.timedelta(seconds=k)  # noqa: E731
    ev = spark.createDataFrame(
        [(1, s(0), 1, "error", 0.0, "{}"), (2, s(1), 1, "error", 0.0, "{}"),
         (3, s(2), 1, "error", 0.0, "{}"), (4, s(3), 1, "click", 0.0, "{}"),
         (5, s(4), 1, "error", 0.0, "{}"),
         (6, s(0), 2, "error", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    ev.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from thundercats_spark.queries.analytics12 import events_error_bursts

    got = [tuple(r) for r in events_error_bursts(spark, str(tmp_path)).collect()]
    assert got == [(1, 2, 2), (3, 1, 1)]


def test_user_trigrams_counts(spark, tmp_path):
    """a b a b a yields trigrams (a,b,a) x2 and (b,a,b) x1; a second
    user's a b a adds one more (a,b,a)."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    s = lambda k: t0 + datetime.timedelta(seconds=k)  # noqa: E731
    rows = [(i, s(i), 1, t, 0.0, "{}") for i, t in
            enumerate("ababa")] + \
           [(10 + i, s(i), 2, t, 0.0, "{}") for i, t in enumerate("aba")]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    ev.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from thundercats_spark.queries.analytics12 import events_user_trigrams

    got = [tuple(r) for r in events_user_trigrams(spark, str(tmp_path)).collect()]
    assert got == [("a", "b", "a", 3), ("b", "a", "b", 1)]


def test_label_compactness_closed_form(spark, tmp_path):
    """Label 0: (0,0) and (2,0) → centroid (1,0): rms distance 1,
    centroid norm 1. Label 1: two identical vectors → rms 0 (the
    GREATEST guard absorbs identity noise), centroid norm 5."""
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [2.0, 0.0], 0),
         (3, [3.0, 4.0], 1), (4, [3.0, 4.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    from thundercats_spark.queries.analytics12 import (
        embedding_label_compactness,
    )

    got = {r.label: r for r in
           embedding_label_compactness(spark, str(tmp_path)).collect()}
    assert (got[0].n_vecs, got[0].rms_dist, got[0].centroid_norm) == (2, 1.0, 1.0)
    assert (got[1].n_vecs, got[1].rms_dist, got[1].centroid_norm) == (2, 0.0, 5.0)


def test_containment_is_asymmetric(spark, tmp_path):
    """Doc 2's text is wholly embedded in doc 1's template: every doc-2
    shingle appears in doc 1 → C(2→1) = 1.0 reported; C(1→2) = 2/7 is
    under threshold and absent. The directed pair is the template
    signal symmetric Jaccard (2/7... low) would miss."""
    docs = spark.createDataFrame(
        [(1, "hdr x y z w v ftr", "en", "s", 1), (2, "x y z", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from thundercats_spark.queries.analytics12 import doc_containment_pairs

    got = [tuple(r) for r in
           doc_containment_pairs(spark, str(tmp_path)).collect()]
    # doc2 shingles: {x y, y z} both inside doc1's 6 shingles
    assert got == [(2, 1, 2, 2, 1.0)]


def test_supplier_degrees_histogram(spark, tmp_path):
    """Supplier 1 ships parts {1,2} (part 1 twice — distinct counts
    once); supplier 2 ships {1}: histogram {1: 1, 2: 1}."""
    li = spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None),
         (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None),
         (3, 2, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None),
         (4, 1, 2, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None)],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    li.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    from thundercats_spark.queries.analytics12 import supplier_part_degrees

    got = [tuple(r) for r in
           supplier_part_degrees(spark, str(tmp_path)).collect()]
    assert got == [(1, 1), (2, 1)]
