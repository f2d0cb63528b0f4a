"""Ninth query wave (r08, second session): two surfaces with no prior
registry representative.

1. Exact COUNT(DISTINCT) over a SLIDING time window ("7-day active
   users per event type") — the one windowed aggregate neither Spark
   nor DuckDB can run natively (`COUNT(DISTINCT) OVER RANGE` is
   unsupported in both engines), so the Spark side is a genuine
   distributed algorithm: bounded contribution intervals. Each
   (type, user, activity-day) with previous activity day p is the
   user's FIRST in-window activity exactly for window-end days
   d ∈ [max(a, p+7), a+6] — a ≤7-element interval — so an explode of
   that interval followed by a plain per-day count IS the exact
   sliding distinct count. Work is O(activity-days × 7) with no
   quadratic self-join and no global window; the DuckDB oracle pays
   the quadratic days×events range join instead (fine at sf0.01,
   exactly what we must NOT do at 100 TB).

2. Grouped bivariate OLS (slope / intercept / Pearson r of extended
   price on quantity per part brand) from ALGEBRAIC SUMS — the
   regression family (regr_slope/regr_intercept kin) expressed as one
   partial-aggregatable pass: n, Σx, Σy, Σxy, Σx², Σy² accumulate in
   DECIMAL (order-free, map-side combinable), and the closed-form
   estimates are derived in a handful of IEEE ops both engines
   evaluate identically from identical exact sums. Never a second
   pass over the fact table, never a window — the shape that holds at
   any scale because the shuffle carries 6 numbers per group.

Cross-engine exactness discipline (same as every wave): sums in
DECIMAL surfaced as DOUBLE; day arithmetic on DATE types (no float
time); round(6) on the derived ratios mirrors the proven
orders_balance_correlation pattern; every ordering total via key
columns.

Reference parity: composes the reference's Group/Window surfaces
(physical/Op.scala:30-150); the sliding-distinct operator itself is
brief-mandated analytics completeness, not a reference port.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from thundercats_spark.queries import load, read_raw, register
from thundercats_spark.queries.tpch import _dec

# --------------------------------------------------------------------------
# Sliding-window distinct users per event type. Output: one row per
# (event_type, day) over each type's [first-activity, last-activity]
# span, with the EXACT number of distinct users active in the trailing
# 7 days [day-6, day].
# --------------------------------------------------------------------------

SLIDING_DISTINCT_SQL = """
WITH ud AS (
  SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS aday FROM events
),
span AS (
  SELECT event_type, MIN(aday) AS lo, MAX(aday) AS hi FROM ud
  GROUP BY event_type
),
days AS (
  SELECT event_type,
         CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
)
SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
       COUNT(DISTINCT ud.user_id) AS users_7d
FROM days d LEFT JOIN ud
  ON ud.event_type = d.event_type
 AND ud.aday BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.event_type, d.day
ORDER BY d.event_type, d.day
"""


def sliding_distinct_users(
    ev, type_col: str = "event_type", user_col: str = "user_id",
    ts_col: str = "ts", window_days: int = 7,
):
    """Exact trailing-`window_days` distinct-user counts per type/day.

    Scale posture: the (type, user, day) distinct is the only shuffle
    that grows with the data; the lag window partitions on
    (type, user) — millions of tiny partitions, never one sort
    partition; the explode is bounded at `window_days` rows per
    activity-day; the final count groups on (type, day) whose
    cardinality is types × calendar days (tiny), with map-side partial
    aggregation collapsing almost everything before the shuffle. The
    per-type day spine comes from the same distinct frame's min/max
    groupBy — no cross join, no driver action.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    # COUNT(DISTINCT user) semantics: NULL users never COUNT, but their
    # activity days still anchor the day spine (exactly as the SQL
    # formulation behaves: the spine CTE spans ALL activity, the count
    # skips NULLs). NULL timestamps contribute to neither — a NULL
    # activity day would leak NULL contribution intervals into the
    # explode, and MIN/MAX ignore NULLs anyway (review r08 wave 4:
    # the first NULL fix dropped NULL users from the spine too).
    act = (
        ev.where(F.col(ts_col).isNotNull())
        .select(
            F.col(type_col).alias("event_type"),
            F.col(user_col).alias("user_id"),
            F.to_date(ts_col).alias("aday"),
        )
        .distinct()
    )
    ud = act.where(F.col("user_id").isNotNull())
    w = Window.partitionBy("event_type", "user_id").orderBy("aday")
    # First in-window activity for window-end d iff the previous
    # activity fell out of the window: d >= prev + window_days, and
    # d ∈ [aday, aday + window_days - 1].
    iv = ud.withColumn("prev", F.lag("aday").over(w)).select(
        "event_type",
        F.greatest(
            F.col("aday"),
            F.coalesce(F.date_add("prev", window_days), F.col("aday")),
        ).alias("d0"),
        F.date_add("aday", window_days - 1).alias("d1"),
    )
    counts = (
        iv.select("event_type", F.explode(F.sequence("d0", "d1")).alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("users_7d"))
    )
    spine = (
        act.groupBy("event_type")
        .agg(F.min("aday").alias("lo"), F.max("aday").alias("hi"))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return (
        spine.join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("users_7d", F.lit(0)).cast("long").alias("users_7d"),
        )
        .orderBy("event_type", "day")
    )


@register("events_sliding_distinct_users", SLIDING_DISTINCT_SQL)
def events_sliding_distinct_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")["events"]
    return sliding_distinct_users(ev)


# --------------------------------------------------------------------------
# Grouped bivariate regression: price-on-quantity OLS per part brand.
# One aggregation pass accumulates the six algebraic sums exactly in
# DECIMAL (sums of DECIMAL(25,4) products — at 6e12 fact rows the
# accumulated Σy² stays below 1e23, well inside DECIMAL(35,4)); the
# closed forms are evaluated in DOUBLE from those exact sums, the
# identical IEEE expression on both engines.
# --------------------------------------------------------------------------

REGRESSION_SQL = """
WITH s AS (
  SELECT p_brand,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand
)
SELECT p_brand, n,
       ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
       ROUND((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6)
         AS intercept,
       ROUND((n*sxy - sx*sy)
             / SQRT(GREATEST((n*sxx - sx*sx) * (n*syy - sy*sy), 0)), 6)
         AS corr_qty_price
FROM s ORDER BY p_brand
"""


def brand_price_regression(li, part):
    """The regression core on plain frames (the registered query wraps
    it with load()): one algebraic-sums pass + closed forms. Exposed
    separately so property tests can drive it against an independent
    solver on in-memory data."""
    x = _dec("l_quantity")
    y = _dec("l_extendedprice")
    s = (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * y).cast("double").alias("sxy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y * y).cast("double").alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    # Degenerate groups (n == 1, or zero variance in either column)
    # have var == 0 AND cov == 0: DuckDB's 0/0 is NULL (on the pinned
    # 1.0.x line — DuckDB >= 1.1 defaults to IEEE NaN/inf; the
    # environment tripwire test_duckdb_division_semantics_match_
    # oracle_assumptions fails loudly if that ever changes), while
    # Spark under ANSI mode (the 4.x default) would abort the job with
    # DIVIDE_BY_ZERO — try_divide yields the oracle's NULL instead.
    # var == 0 forces cov == 0 (Cauchy-Schwarz), so NULL is the only
    # degenerate outcome on both engines. The corr denominator's sqrt
    # input is clamped at 0 on BOTH sides because double rounding can
    # push an exactly-zero variance product a hair negative — where
    # DuckDB's SQRT ERRORS while Spark's returns NaN; GREATEST(..., 0)
    # is the identical-expression fix (sqrt(0) → 0 divisor → NULL).
    slope = F.try_divide(cov_n, var_x)
    return s.select(
        "p_brand",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "intercept"
        ),
        F.round(
            F.try_divide(cov_n, F.sqrt(F.greatest(var_x * var_y, F.lit(0.0)))),
            6,
        ).alias("corr_qty_price"),
    ).orderBy("p_brand")


@register("part_brand_price_regression", REGRESSION_SQL)
def part_brand_price_regression(spark, sf_dir):
    t = load(spark, sf_dir, "lineitem", "part")
    return brand_price_regression(t["lineitem"], t["part"])


# --------------------------------------------------------------------------
# Stateful Structured Streaming entries. orders_stream_batch_join (37aw)
# proved the STATELESS stream path; these two drive the STATEFUL engine
# — the state-store aggregation and the dual-watermark stream-stream
# interval join — through the same full oracle hash gate, reusing the
# PRODUCT operators from streaming/windows.py (not bespoke query code).
# --------------------------------------------------------------------------


def _events_stream(spark, sf_dir):
    """events as a Structured Streaming file source. The raw parquet is
    TIMESTAMP(NANOS), which the vectorized reader rejects — the stream
    must repeat load()'s treatment: read ts as nanos-long (session flag
    set by read_raw, as for load) and convert to a microsecond timestamp
    in the plan. One schema inference: the raw read's schema is the
    stream's."""
    raw = read_raw(spark, sf_dir, "events")  # pins UTC + nanosAsLong
    stream = spark.readStream.schema(raw.schema).parquet(
        f"{sf_dir}/events.parquet*"
    )
    from pyspark.sql.types import LongType

    if isinstance(raw.schema["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        # sf0.1's events parquet carries micros (not nanos), so the
        # nanosAsLong flag leaves ts a timestamp type — possibly NTZ,
        # which watermarks reject; normalize to LTZ (session tz is
        # pinned UTC, so the cast is the fixed naive==UTC mapping).
        # Exercised by bench at sf0.1; pytest's sf0.001 takes the
        # nanos-long branch above.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


STREAM_WINDOW_AGG_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


@register("events_stream_window_agg", STREAM_WINDOW_AGG_SQL)
def events_stream_window_agg(spark, sf_dir):
    """Tumbling 1-day windowed aggregation through the streaming
    STATE-STORE operator (streaming/windows.py windowed_agg), checked
    against the batch GROUP BY oracle. Output mode is COMPLETE: with
    an availableNow (finite) source, append mode would hold every
    window open waiting for a watermark advance that only a NEXT batch
    could deliver — the tail (here: all) windows would never emit.
    Complete mode emits the full state at the end instead; the
    append+watermark production path (state eviction, late-data
    drops) stays pinned in tests/test_streaming.py where batches
    arrive over time. Decimal-exact sums: state merge order cannot
    perturb the values."""
    from thundercats_spark.streaming.windows import windowed_agg

    stream = _events_stream(spark, sf_dir)
    agg = windowed_agg(
        stream,
        "ts",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        ],
        window="1 day",
        watermark="1 hour",
    )
    from thundercats_spark.streaming.windows import (
        derive_state_partitions,
        run_available_now_to_memory,
    )

    # r11: complete mode re-emits the full state every batch, so the
    # trailing no-data batch is output-free — skip it; state partitions
    # follow input volume (derive_state_partitions docstring).
    out = run_available_now_to_memory(
        agg,
        "complete",
        skip_no_data_batches=True,
        state_partitions=derive_state_partitions(
            spark, f"{sf_dir}/events.parquet"
        ),
    )
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("day", "event_type")


def batch_view_click_pairs(ev):
    """The BATCH twin of events_stream_stream_join's predicate — ONE
    definition of the attribution window (views within the hour before
    each click, same user) shared by the example app's reconciliation
    and the x10 rehearsal, so a change to the window cannot silently
    leave a stale copy testing a different predicate. Returns one row
    per (user_id, view_id, click_id) pair."""
    e = ev.select("event_id", "user_id", "event_type", "ts")
    c = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    return c.join(
        v,
        (c.user_id == v.vu)
        & (v.vts >= c.cts - F.expr("INTERVAL 1 HOUR"))
        & (v.vts <= c.cts),
    ).select("user_id", "view_id", "click_id")


STREAM_STREAM_JOIN_SQL = """
SELECT c.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       CAST(datediff('second', v.ts, c.ts) AS BIGINT) AS secs_to_click
FROM events c JOIN events v
  ON v.user_id = c.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts
ORDER BY c.user_id, click_id, view_id
"""


@register("events_stream_stream_join", STREAM_STREAM_JOIN_SQL)
def events_stream_stream_join(spark, sf_dir):
    """View→click attribution pairs (views within the hour before each
    click) through the DUAL-WATERMARK stream-stream interval join
    (streaming/windows.py stream_stream_join) — the stateful join
    whose event-time bound is what lets Spark evict join state at
    scale. Inner stream-stream joins emit on match (no watermark
    wait), so the finite availableNow run yields the complete exact
    pair set, checked against the batch self-join oracle."""
    from thundercats_spark.streaming.windows import stream_stream_join

    stream = _events_stream(spark, sf_dir)
    clicks = stream.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    views = stream.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    # watermark >= the join interval: with a 30-minute watermark and a
    # 1-hour bound, a multi-batch source could evict a view's state
    # before its in-window click arrived (silently dropped pairs).
    # PROVEN, not just tripwired: the multi-batch equivalence test
    # (tests/test_streaming.py
    # test_stream_stream_join_exact_across_forced_multibatch) forces
    # 6 micro-batches through this operator with watermark >= interval
    # + disorder and shows the pair set equals the batch self-join
    # exactly. The single-batch tripwire below stays as
    # defense-in-depth for UNBOUNDED disorder this watermark can't see.
    joined = stream_stream_join(
        clicks,
        views.withColumnRenamed("v_user", "user_id"),
        key="user_id",
        left_ts="cts",
        right_ts="vts",
        within="1 hour",
        watermark="2 hours",
    )
    pairs = joined.select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_timestamp("cts") - F.unix_timestamp("vts")).alias(
            "secs_to_click"
        ),
    )
    from thundercats_spark.streaming.windows import (
        derive_state_partitions,
        run_available_now_to_memory,
    )

    # r11: INNER stream-stream joins emit on match only — state
    # eviction in the trailing no-data batch produces no rows, so skip
    # it (half the run's wall time); state partitions follow input
    # volume (derive_state_partitions docstring).
    return run_available_now_to_memory(
        pairs,
        "append",
        require_single_batch=True,
        skip_no_data_batches=True,
        state_partitions=derive_state_partitions(
            spark, f"{sf_dir}/events.parquet"
        ),
    ).orderBy("user_id", "click_id", "view_id")
