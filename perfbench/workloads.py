"""The benchmark's workloads: what one round runs, and how its outputs
are checked.

``relational`` and ``eager_build`` run registry queries over the
generated star schema; one operation is one query, built by its
``spark_fn`` and executed to the last row by a ``noop`` write.
``curation`` runs the staged corpus pipeline; one operation is one stage,
which reads the previous stage's parquet with ``Read.parquet`` and writes
its own with ``Write.parquet``.
"""

from __future__ import annotations

import os

import checks
from spans import subtree

# Execution-bound (L3): joins, aggregates and windows over many tables,
# all plans lazy, no Python kernels.
RELATIONAL = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "asof_join_events_orders",
    "orders_nested_lineitems",
    "orders_scd2_attribution",
]
# Build-bound (L0 + L1): each query runs several Spark jobs before it
# returns its DataFrame (ranking, hierarchy and streaming machinery).
EAGER_BUILD = [
    "customer_hierarchy_walk",
    "customer_rfm_scores",
    "events_stream_window_agg",
]
WORKLOADS = {
    "relational": {"queries": RELATIONAL, "sf": 0.01},
    "eager_build": {"queries": EAGER_BUILD, "sf": 0.01},
    "curation": {},
}

# Curation thresholds and shapes.
MIN_TOKENS = 8
MAX_REPETITION = 0.2
NEAR_THRESHOLD = 0.8
NEAR_SURE = 0.9
DECONTAM_THRESHOLD = 0.6
SPLIT_THRESHOLD = 0.5
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
CHUNK_TOKENS, CHUNK_OVERLAP = 32, 8


# --------------------------------------------------------------------------
# Query workloads
# --------------------------------------------------------------------------


class QueryWorkload:
    def __init__(self, spark, tracer, data_dir: str, names: list[str]):
        from thundercats_spark.queries import all_queries

        self.spark, self.tracer, self.data_dir = spark, tracer, data_dir
        registry = all_queries()
        self.queries = [registry[n] for n in names]
        self.results: dict[str, object] = {}

    @property
    def ops(self) -> list[str]:
        return [q.name for q in self.queries]

    def warm(self, i: int) -> None:
        """Warm-up run of query ``i``; keeps its result (as pandas) for
        the checks."""
        q = self.queries[i]
        self.results[q.name] = q.spark_fn(self.spark, self.data_dir).toPandas()

    def run(self, i: int, traced: bool) -> None:
        q = self.queries[i]
        tr = self.tracer
        if not traced:
            q.spark_fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
            return
        with tr.span("build"):
            df = q.spark_fn(self.spark, self.data_dir)
        with tr.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("execute"):
            df.write.format("noop").mode("overwrite").save()

    def check(self) -> list[str]:
        con = checks.duckdb_oracle(self.data_dir)
        bad = []
        for q in self.queries:
            if q.name not in self.results:
                bad.append(f"{q.name}: warm-up failed, output not checked")
                continue
            want = con.execute(q.oracle).df()
            bad += [f"{q.name}: {p}" for p in checks.compare_frames(self.results[q.name], want)]
        con.close()
        return bad


# --------------------------------------------------------------------------
# Curation
# --------------------------------------------------------------------------


class Curation:
    """quality gate -> exact dedup -> near dedup (MinHash-LSH pairs +
    dedup_groups) -> fuzzy decontamination -> leakage-safe split ->
    chunking. Each stage's output is a parquet directory under
    ``work_dir``; the next stage reads it back."""

    STAGES = ("quality", "exact_dedup", "near_dedup", "decontam", "split", "chunk")
    OUTPUTS = ("quality", "exact_dedup", "near_pairs", "near_dedup", "decontam",
               "split_pairs", "split", "chunk")

    def __init__(self, spark, tracer, corpus_dir: str, work_dir: str):
        self.spark, self.tracer = spark, tracer
        self.corpus_dir, self.work_dir = corpus_dir, work_dir
        # Span of the last write of each output; its stage metrics give
        # the rows Spark wrote.
        self.writes: dict[str, object] = {}

    @property
    def ops(self) -> list[str]:
        return list(self.STAGES)

    def _path(self, name: str) -> str:
        if name in ("docs", "heldout.parquet"):
            return os.path.join(self.corpus_dir, name)
        return os.path.join(self.work_dir, name)

    def _read(self, name: str):
        from thundercats_spark.physical.io import Read

        return Read.parquet(self.spark, self._path(name)).get

    def _write(self, df, name: str) -> None:
        from thundercats_spark.physical.io import Write

        with self.tracer.span(f"write:{name}") as s:
            Write.parquet(df, self._path(name), overwrite=True).get
        self.writes[name] = s

    def warm(self, i: int) -> None:
        self.run(i, False)

    def run(self, i: int, traced: bool) -> None:
        getattr(self, "_" + self.STAGES[i])()

    def _quality(self):
        import pyspark.sql.functions as F

        from thundercats_spark.functions import text_analysis as T

        docs = self._read("docs")
        text = F.col("text")
        scored = docs.select(
            "doc_id", "text", "source",
            T.quality_score(text).alias("quality"),
            T.duplicate_ngram_fraction(text, 2).alias("repetition"),
            T.token_count(text).alias("n_tokens"),
        )
        self._write(
            scored.where((F.col("n_tokens") >= MIN_TOKENS) & (F.col("repetition") <= MAX_REPETITION)),
            "quality",
        )

    def _exact_dedup(self):
        from thundercats_spark.operators.dedup import dedup_exact

        self._write(dedup_exact(self._read("quality"), "text", "doc_id"), "exact_dedup")

    def _near_dedup(self):
        from thundercats_spark.operators import dedup_groups, minhash_lsh_pairs

        docs = self._read("exact_dedup")
        self._write(minhash_lsh_pairs(docs, "text", "doc_id", threshold=NEAR_THRESHOLD), "near_pairs")
        kept = dedup_groups(docs.drop("n_copies"), self._read("near_pairs"), "doc_id")
        self._write(kept, "near_dedup")

    def _decontam(self):
        from thundercats_spark.operators import decontaminate_fuzzy

        clean = decontaminate_fuzzy(
            self._read("near_dedup"), self._read("heldout.parquet"),
            threshold=DECONTAM_THRESHOLD, mode="filter",
        )
        self._write(clean, "decontam")

    def _split(self):
        from thundercats_spark.operators import corpus_split_leakage_safe, ngram_jaccard_pairs

        docs = self._read("decontam")
        self._write(ngram_jaccard_pairs(docs, "text", "doc_id", threshold=SPLIT_THRESHOLD), "split_pairs")
        split = corpus_split_leakage_safe(docs, self._read("split_pairs"), SPLIT_WEIGHTS, "doc_id")
        self._write(split, "split")

    def _chunk(self):
        from thundercats_spark.operators.curation import chunk_documents

        chunks = chunk_documents(self._read("split"), CHUNK_TOKENS, CHUNK_OVERLAP)
        self._write(chunks.select("doc_id", "split", "chunk_id", "chunk_n_tokens"), "chunk")

    # -- checks ------------------------------------------------------------

    def _table(self, name: str):
        import pyarrow.parquet as pq

        return pq.read_table(self._path(name)).to_pydict()

    def check(self) -> list[str]:
        import json

        import pyarrow.parquet as pq

        missing = [n for n in self.OUTPUTS if n not in self.writes]
        if missing:
            # The properties of the later stages cannot be checked
            # without these outputs.
            return [f"{n}: never written, outputs not checked" for n in missing]
        with open(os.path.join(self.corpus_dir, "truth.json")) as f:
            truth = json.load(f)
        src = pq.read_table(self._path("docs")).to_pydict()
        docs = dict(zip(src["doc_id"], src["text"]))
        held = pq.read_table(os.path.join(self.corpus_dir, "heldout.parquet")).to_pydict()
        heldout = dict(zip(held["doc_id"], held["text"]))
        out = {n: self._table(n) for n in self.writes}
        bad = []
        for name, t in out.items():
            rows = len(next(iter(t.values()))) if t else 0
            written = sum(s.stages["rows_written"] for s in subtree(self.tracer.spans, self.writes[name]))
            bad += checks.check_rows_written(name, written, rows)

        def ids(name):
            return set(out[name]["doc_id"])

        bad += checks.check_quality(docs, out["quality"], MIN_TOKENS, MAX_REPETITION)
        bad += checks.check_exact_dedup(ids("quality"), ids("exact_dedup"), truth["exact_groups"])
        exact = {i: docs[i] for i in ids("exact_dedup")}
        near_pairs = list(zip(out["near_pairs"]["id_a"], out["near_pairs"]["id_b"]))
        bad += checks.check_near_dedup(exact, near_pairs, ids("near_dedup"), NEAR_THRESHOLD, NEAR_SURE)
        near = {i: docs[i] for i in ids("near_dedup")}
        bad += checks.check_decontam(near, heldout, ids("decontam"), DECONTAM_THRESHOLD)
        decon = {i: docs[i] for i in ids("decontam")}
        split = dict(zip(out["split"]["doc_id"], out["split"]["split"]))
        split_pairs = list(zip(out["split_pairs"]["id_a"], out["split_pairs"]["id_b"]))
        bad += checks.check_split(decon, split, split_pairs, SPLIT_THRESHOLD)
        bad += checks.check_chunks(
            {i: docs[i] for i in split},
            list(zip(out["chunk"]["doc_id"], out["chunk"]["chunk_n_tokens"])),
            CHUNK_TOKENS, CHUNK_OVERLAP,
        )
        return bad
