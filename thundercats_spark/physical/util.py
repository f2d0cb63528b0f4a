"""DataFrame utility helpers — parity with the reference's
physical/Util.scala ``Implicits``/``Debugger`` (Util.scala:22-100,
108-116), re-expressed declaratively: the reference computes the
square sums with RDD maps (Util.scala:42-57); here they are single
aggregate expressions, so Catalyst fuses them into the scan and the
whole reduce is one partial-agg pass (no Python, no RDD)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thundercats_spark.functional.maybe import MayFail


def bind(df: DataFrame, f) -> MayFail[DataFrame]:
    """``df >> f`` of the reference (Util.scala:31): lift a DataFrame
    transform into MayFail."""
    return MayFail.of(lambda: f(df))


@contextmanager
def job_description(spark, text: str):
    """Label the Spark jobs started inside the block with ``text`` (the
    description the status store and the UI show per job), then restore
    the caller's description. Only the description changes, never the
    job group: a caller that attributes jobs to its own spans by job
    group keeps that attribution."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(previous)


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-built small DataFrame WITHOUT the pickled-RDD execution
    tax. ``createDataFrame(list)`` parallelizes pickled rows across
    ``defaultParallelism`` tasks, and every task runs a Python worker to
    unpickle its slice — worse, the RDD is recomputed by EVERY stage
    that consumes it (an orderBy's range-sampling pass + sort pays it
    twice; measured r11: two 32-task stages of ~0 CPU, pure
    Python-worker wait, on the connected-components driver path).
    Routing the same rows through pandas takes the Arrow path
    (spark.sql.execution.arrow.pyspark.enabled is on in get_spark):
    the batch converts driver-side and lands as a JVM-local scan — no
    Python workers at execution time, one partition per 10k rows.

    ``rows``: sequence of tuples/Rows matching ``schema`` (a StructType
    whose declared types are preserved exactly — the Arrow schema is
    derived from it, and NaN/None stay distinct because the columns are
    built with ``pa.array`` from the raw values, not via pandas' NaN
    conflation). Falls back to the classic path if Arrow cannot
    represent the schema. Use for driver-computed results bounded by
    design (boundary offsets, union-find labels, collected
    histograms)."""
    rows = list(rows)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        table = pa.Table.from_arrays(
            [
                pa.array(list(vals), type=f.type)
                for vals, f in zip(cols, arrow_schema)
            ],
            schema=arrow_schema,
        )
        return spark.createDataFrame(table, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def epoch_us(col) -> F.Column:
    """Microseconds since epoch, tolerant of BOTH timestamp flavours.

    Parquet ``timestamp[us]`` without ``isAdjustedToUTC`` is inferred as
    TIMESTAMP_NTZ by Spark 4 (``spark.sql.parquet.inferTimestampNTZ``
    defaults true), and ``unix_micros`` rejects NTZ input outright.
    ``to_timestamp_ltz`` is the identity on TIMESTAMP and converts NTZ
    using the session timezone. Correctness for NTZ input therefore
    requires a UTC (or at least DST-free) session timezone — near a DST
    transition in a non-UTC zone the NTZ->LTZ mapping is nonlinear and
    differences/comparisons would shift by the offset change. ``get_spark``
    pins ``spark.sql.session.timeZone=UTC`` for exactly this reason.
    Pure JVM expression — stays in whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(F.to_timestamp_ltz(c))


def with_grand_total(df: DataFrame, count_col: str, total_col: str) -> DataFrame:
    """Attach the grand total of ``count_col`` to every row as
    ``total_col`` — via a broadcast cross-join of the 1-row
    re-aggregate, NEVER a no-partition window (which would pull the
    whole frame onto one sort partition; ``df`` here is often a
    per-key counts frame that can be wide at high key cardinality).
    The shared implementation of the share-denominator pattern used by
    the report operators; callers derive shares/ratios from
    ``count_col / total_col`` in whatever type/rounding they need."""
    total = df.agg(F.sum(count_col).alias(total_col))
    return df.crossJoin(F.broadcast(total))


def sum_of_sqr_diff(df: DataFrame, col_a: str, col_b: str) -> float:
    """Σ (a-b)² over the frame (Util.scala:42) — one agg pass."""
    d = F.col(col_a).cast("double") - F.col(col_b).cast("double")
    row = df.agg(F.sum(d * d).alias("s")).first()
    return float(row["s"] or 0.0)


def sum_of_sqr(df: DataFrame, col_name: str) -> float:
    """Σ x² of a numeric column (Util.scala:51) — one agg pass."""
    x = F.col(col_name).cast("double")
    row = df.agg(F.sum(x * x).alias("s")).first()
    return float(row["s"] or 0.0)


class Debugger:
    """Pipeline/model structure printers (Util.scala:64-93)."""

    @staticmethod
    def pipeline_to_string(pipeline, prev: str = "") -> str:
        from pyspark.ml import Pipeline

        out = prev
        for stage in pipeline.getStages():
            if isinstance(stage, Pipeline):
                out = Debugger.pipeline_to_string(stage, out)
            else:
                out += f" => {type(stage).__name__}"
        return out

    @staticmethod
    def model_to_string(model, prev: str = "") -> str:
        from pyspark.ml import PipelineModel

        out = prev
        for trans in model.stages:
            if isinstance(trans, PipelineModel):
                out = Debugger.model_to_string(trans, out)
            else:
                out += f" => {type(trans).__name__}"
        return out

    @staticmethod
    def print_pipeline(pipeline) -> None:
        for part in Debugger.pipeline_to_string(pipeline).split(" => "):
            if part:
                print(f"... {part}")

    @staticmethod
    def print_model(model) -> None:
        for part in Debugger.model_to_string(model).split(" => "):
            if part:
                print(f"... {part}")
