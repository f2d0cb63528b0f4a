"""Eighth query wave (r08): five surfaces the registry didn't cover —
explicit GROUPING SETS (a mixed-hierarchy set no single ROLLUP or CUBE
generates, filtered on GROUPING flags), a recursive hierarchy walk
(the one relational shape with no prior registry representative —
DuckDB expresses it as WITH RECURSIVE; Spark-side it's the pointer-
doubling operator, ceil(log2 depth) joins, never O(depth)), a
RANGE-interval window frame (every prior frame was ROWS-based or
unbounded), the registry's first STREAM-batch join (Structured
Streaming over the orders parquet, availableNow trigger, broadcast
batch dimension — semantics pinned to the identical batch join by the
oracle), and UNPIVOT/melt (the inverse of the r01 PIVOT surface —
both engines run their NATIVE melt operator).

Cross-engine exactness discipline (same as every wave): money sums in
DECIMAL (order-free) surfaced as DOUBLE, day arithmetic in integer
datediff (no float time), every ordering made total with a unique
tie-break column. RANGE frames are value-bounded, so tied order dates
contribute identically in both engines regardless of sort order.

Reference parity: extends the reference's Group/Window/IO surfaces
(physical/Op.scala:30-150, IO.scala:116-166 stream semantics); the
hierarchy closure is part of the brief's analytics-completeness
surface, not a reference port.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from thundercats_spark.queries import load, register
from thundercats_spark.queries.tpch import _dec, _sum_exact

# --------------------------------------------------------------------------
# GROUPING SETS mixing two hierarchies: (status, priority) detail,
# (status, year) detail, (year) subtotal — a set CUBE would pad with 5
# extra combinations and ROLLUP can't express at all. The grand-total
# set IS generated, then dropped by a GROUPING-flag filter (the HAVING
# GROUPING() surface). Keys coalesced to 'ALL'/-1 so the output is
# null-free; grouping flags disambiguate subtotal from real value.
# One pass over orders: Spark expands grouping sets in the aggregate
# (Expand node), not by unioning scans.
# --------------------------------------------------------------------------

GROUPING_SETS_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(yr, -1)                 AS o_year,
       CAST(GROUPING(o_orderstatus) AS INTEGER)   AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       CAST(GROUPING(yr) AS INTEGER)              AS g_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM (SELECT *, year(o_orderdate) AS yr FROM orders)
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus, yr), (yr), ())
HAVING GROUPING(o_orderstatus) + GROUPING(o_orderpriority)
         + GROUPING(yr) < 3
ORDER BY g_status, g_priority, g_year, status, priority, o_year
"""


@register("orders_grouping_sets", GROUPING_SETS_SQL)
def orders_grouping_sets(spark, sf_dir):
    o = load(spark, sf_dir, "orders")["orders"].withColumn(
        "yr", F.year("o_orderdate")
    )
    return (
        o.groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus", "yr"],
                ["yr"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
            "yr",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("yr").cast("int").alias("g_year"),
            F.count(F.lit(1)).alias("n_orders"),
            _sum_exact(_dec("o_totalprice")).alias("revenue"),
        )
        .where(F.col("g_status") + F.col("g_priority") + F.col("g_year") < 3)
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("yr", F.lit(-1)).alias("o_year"),
            "g_status",
            "g_priority",
            "g_year",
            "n_orders",
            "revenue",
        )
        .orderBy(
            "g_status", "g_priority", "g_year", "status", "priority", "o_year"
        )
    )


# --------------------------------------------------------------------------
# Recursive hierarchy walk: customers form a deterministic forest via
# parent(k) = k div 10 (keys are contiguous, so every parent exists;
# keys 1-9 are roots — depth = digits-1). DuckDB walks it with WITH
# RECURSIVE, O(depth) steps; the Spark side is hierarchy_paths pointer
# doubling — ceil(log2 depth)+1 rounds with state pinned at |nodes|
# rows, the formulation that survives a 10^6-deep chain. Forests at or
# below the operator's edge-count gate (every test scale here) run those
# rounds on the driver over the collected edges, five Spark jobs in all;
# larger ones run them as distributed equi-join iterations
# (operators/hierarchy.py has the gate and the full scale argument).
# --------------------------------------------------------------------------

HIERARCHY_SQL = """
WITH RECURSIVE walk AS (
  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
  UNION ALL
  SELECT node, cur // 10, depth + 1 FROM walk WHERE cur >= 10
)
SELECT node AS c_custkey, depth, cur AS root_key
FROM walk WHERE cur < 10
ORDER BY c_custkey
"""


@register("customer_hierarchy_walk", HIERARCHY_SQL)
def customer_hierarchy_walk(spark, sf_dir):
    from thundercats_spark.operators.hierarchy import hierarchy_paths

    c = load(spark, sf_dir, "customer")["customer"]
    edges = c.select(
        F.col("c_custkey").alias("child"),
        F.expr("c_custkey div 10").alias("parent"),
    ).where(F.col("c_custkey") >= 10)
    paths = hierarchy_paths(edges, "child", "parent")
    # hierarchy_paths only sees nodes touched by an edge; ISOLATED
    # customers (custkey 0: below 10 and never anyone's parent) are
    # degenerate single-node trees — root of themselves at depth 0.
    iso = c.join(
        paths, c["c_custkey"] == paths["node"], "left_anti"
    ).select(
        F.col("c_custkey").alias("node"),
        F.col("c_custkey").alias("root_key"),
        F.lit(0).alias("depth"),
    )
    return (
        paths.select("node", "root_key", "depth")
        .unionByName(iso)
        .select(F.col("node").alias("c_custkey"), "depth", "root_key")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# RANGE-interval window frame: per customer, count + exact decimal sum
# of orders within the 30 days PRECEDING each order (value-bounded
# frame — peers with the same day contribute identically in both
# engines no matter the tie order, which is what makes a RANGE frame
# oracle-exact without a tie-break in the frame itself). Day numbers
# are integer datediff from a fixed epoch: no float time arithmetic.
# Partitioned by customer — high cardinality, parallel windows.
# --------------------------------------------------------------------------

RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       COUNT(*) OVER w AS n_30d,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
         AS sum_30d
FROM (SELECT *, datediff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) AS day_no
      FROM orders)
WINDOW w AS (PARTITION BY o_custkey ORDER BY day_no
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


@register("orders_range_frame_window", RANGE_FRAME_SQL)
def orders_range_frame_window(spark, sf_dir):
    o = load(spark, sf_dir, "orders")["orders"].withColumn(
        "day_no",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_30d"),
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("sum_30d"),
    ).orderBy("o_custkey", "o_orderkey")


# --------------------------------------------------------------------------
# Stream-batch join: orders as a Structured Streaming file source
# (availableNow trigger — process everything available, then stop),
# broadcast-joined to the batch customer dimension, landed in a memory
# sink. Semantically IDENTICAL to the batch join — which is exactly
# what the oracle pins (the first registry entry whose Spark side runs
# through the streaming engine with a full value-hash check). The
# memory sink is the test/dev sink: a real deployment lands in
# parquet/kafka via Write.stream_* (physical/io.py:601) — the
# stream-side plan (per-microbatch broadcast join, no state store
# needed for stream-static joins) is what this query exercises.
# --------------------------------------------------------------------------

STREAM_BATCH_SQL = """
SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment,
       o.o_totalprice AS total
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_orderkey
"""


@register("orders_stream_batch_join", STREAM_BATCH_SQL)
def orders_stream_batch_join(spark, sf_dir):
    from thundercats_spark.streaming.windows import (
        run_available_now_to_memory,
    )

    o_static = load(spark, sf_dir, "orders")["orders"]
    c = load(spark, sf_dir, "customer")["customer"]
    # FileStreamSource requires a directory or a GLOB — a literal
    # single-file path fails with "basePath must be a directory". The
    # trailing * keeps it a glob (and still matches a directory layout
    # if the table is ever written as one).
    stream = spark.readStream.schema(o_static.schema).parquet(
        f"{sf_dir}/orders.parquet*"
    )
    joined = stream.join(
        F.broadcast(c.select("c_custkey", "c_name", "c_mktsegment")),
        stream["o_custkey"] == F.col("c_custkey"),
    ).select(
        "o_orderkey",
        "o_custkey",
        "c_name",
        "c_mktsegment",
        F.col("o_totalprice").alias("total"),
    )
    # The memory-sink retention discipline (self-contained checkpoint,
    # immediate view drop) lives in ONE place now — the shared helper
    # (review r08: two hand-synced copies of logic that had already
    # bitten twice was the next bug waiting).
    return run_available_now_to_memory(joined, "append").orderBy(
        "o_orderkey"
    )


# --------------------------------------------------------------------------
# UNPIVOT (melt): the inverse of the PIVOT surface the registry has had
# since r01 — three lineitem measure columns melted into (metric, val)
# rows, then aggregated per metric. Spark's unpivot is a plan-level
# Expand (one pass, no join/union of scans); the oracle uses DuckDB's
# UNPIVOT clause, so BOTH engines run their native melt operator and
# must agree. Measures are cast to DECIMAL before the melt (unpivot
# requires a common type; decimal keeps the sums order-free) and
# surfaced as the usual one-IEEE-division averages.
# --------------------------------------------------------------------------

UNPIVOT_SQL = """
SELECT metric,
       COUNT(*) AS n,
       CAST(SUM(val) AS DOUBLE) AS total,
       CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mean
FROM (
  UNPIVOT (
    SELECT CAST(l_quantity AS DECIMAL(12,2))      AS quantity,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS extendedprice,
           CAST(l_discount AS DECIMAL(12,2))      AS discount
    FROM lineitem
  ) ON quantity, extendedprice, discount INTO NAME metric VALUE val
)
GROUP BY metric
ORDER BY metric
"""


@register("lineitem_unpivot_metrics", UNPIVOT_SQL)
def lineitem_unpivot_metrics(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    melted = li.select(
        _dec("l_quantity").alias("quantity"),
        _dec("l_extendedprice").alias("extendedprice"),
        _dec("l_discount").alias("discount"),
    ).unpivot(
        ids=[],
        values=["quantity", "extendedprice", "discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return (
        melted.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").cast("double").alias("total"),
            (F.sum("val").cast("double") / F.count(F.lit(1))).alias("mean"),
        )
        .orderBy("metric")
    )
