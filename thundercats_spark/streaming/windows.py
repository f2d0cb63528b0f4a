"""Structured Streaming operators (SURVEY.md §2.5).

Re-expresses the reference's streaming surface (kafkaStream →
transform → kafka/file sink, reference IO.scala:116/229/289) with the
state-bounded patterns a 100 TB/day stream needs: watermarks cap state,
window aggregations pre-aggregate before any sink, and sessionization
uses applyInPandasWithState with timeouts so idle keys get evicted.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_agg(
    stream: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    aggs: Sequence,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling/sliding window aggregation with a watermark.

    The watermark bounds both late data and state size; without it a
    streaming agg's state grows forever. Emits one row per
    (window, keys) in append mode once the watermark passes."""
    w = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(w.alias("window"), *keys)
        .agg(*aggs)
    )


def dedup_stream(stream: DataFrame, keys: Sequence[str], ts_col: str, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: dropDuplicates within the watermark
    horizon — state is bounded by the watermark, the only way
    streaming dedup survives at scale."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


_SESSION_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events long, total_value double"
_STATE_SCHEMA = "start long, end long, n long, total double"


def _session_body(key, pdfs, state: GroupState, set_timeout):
    """Shared accumulate/emit core of BOTH sessionizers — they differ
    ONLY in how the close timeout is armed (processing-time duration vs
    event-time watermark timestamp), injected as ``set_timeout(state,
    end_us)``. One copy means a fix to the fold/emit logic cannot
    silently apply to one timeout mode and not the other."""
    if state.hasTimedOut:
        start, end, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(end, unit="us")],
                "n_events": [n],
                "total_value": [total],
            }
        )
        return

    start, end, n, total = state.get if state.exists else (None, None, 0, 0.0)
    for pdf in pdfs:
        ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
        vals = pdf["value"].tolist()
        for t, v in zip(ts_us, vals):
            start = t if start is None else min(start, t)
            end = t if end is None else max(end, t)
            n += 1
            total += float(v)
    state.update((start, end, n, total))
    set_timeout(state, end)
    # nothing to emit while the session is open


def _session_fn_with_gap(gap_ms: int):
    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        # idle gap in PROCESSING time → emit
        return _session_body(
            key, pdfs, state, lambda st, _end: st.setTimeoutDuration(gap_ms)
        )

    return fn


def sessionize_stream(stream: DataFrame, gap_ms: int = 30 * 60 * 1000) -> DataFrame:
    """Custom stateful streaming sessionization over (user_id, ts,
    value) via applyInPandasWithState. Processing-time timeout = the
    idle gap; state per live user only.

    NOTE: with ProcessingTimeTimeout the query keeps triggering
    state-cleanup batches — ``processAllAvailable`` never idles; poll
    the sink instead."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn_with_gap(gap_ms),
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def _session_fn_event_time(gap_ms: int):
    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        # close when the WATERMARK (not the wall clock) passes the gap
        # beyond the session's last event — deterministic in event time.
        return _session_body(
            key, pdfs, state,
            lambda st, end: st.setTimeoutTimestamp(end // 1000 + gap_ms),
        )

    return fn


def sessionize_stream_event_time(
    stream: DataFrame,
    gap_ms: int = 30 * 60 * 1000,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Event-time sessionization: like ``sessionize_stream`` but the
    idle gap is measured against the stream's watermark, so results are
    deterministic under replay/backfill regardless of processing speed
    — the variant to use for historical reprocessing. State is bounded
    by (live users × gap) and reclaimed as the watermark advances."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn_event_time(gap_ms),
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_ATTR_SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double, first_touch string, "
    "converted int"
)
# open-session tail held per user: bounds + payload attribution fields
_ATTR_STATE_SCHEMA = (
    "start long, end long, n long, total double, "
    "first_ts long, first_id long, first_type string, conv int"
)


def _attr_fn(gap_ms: int, convert_type: str):
    gap_us = gap_ms * 1000

    def emit(sess):
        start, end, n, total, fts, fid, ftype, conv = sess
        return pd.DataFrame(
            {
                "user_id": [None],  # filled by caller key below
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(end, unit="us")],
                "n_events": [n],
                "total_value": [total],
                "first_touch": [ftype],
                "converted": [conv],
            }
        )

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            sess = state.get
            state.remove()
            out = emit(sess)
            out["user_id"] = key[0]
            yield out
            return

        sess = state.get if state.exists else None
        rows = []
        for pdf in pdfs:
            ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
            rows.extend(
                zip(
                    ts_us,
                    pdf["event_id"].tolist(),
                    pdf["event_type"].tolist(),
                    pdf["value"].tolist(),
                )
            )
        rows.sort(key=lambda r: (r[0], r[1]))  # batch-identical order
        closed = []
        for t, eid, etype, v in rows:
            if sess is None:
                sess = (t, t, 1, float(v), t, eid, etype,
                        int(etype == convert_type))
                continue
            start, end, n, total, fts, fid, ftype, conv = sess
            if t - end > gap_us:
                closed.append(sess)
                sess = (t, t, 1, float(v), t, eid, etype,
                        int(etype == convert_type))
                continue
            # fold (cross-batch disorder within the gap folds too; a
            # disordered row may even take over first-touch)
            if (t, eid) < (fts, fid):
                fts, fid, ftype = t, eid, etype
            sess = (
                min(start, t), max(end, t), n + 1, total + float(v),
                fts, fid, ftype,
                max(conv, int(etype == convert_type)),
            )
        if closed:
            out = pd.concat([emit(s) for s in closed], ignore_index=True)
            out["user_id"] = key[0]
            yield out
        if sess is not None:
            state.update(sess)
            # close when the WATERMARK passes gap beyond session end
            state.setTimeoutTimestamp(sess[1] // 1000 + gap_ms)
        elif state.exists:
            state.remove()

    return fn


def sessionize_stream_attributed(
    stream: DataFrame,
    gap_ms: int = 30 * 60 * 1000,
    watermark: str = "10 seconds",
    convert_type: str = "purchase",
) -> DataFrame:
    """FULL-FIDELITY event-time streaming sessionization with payload
    attribution: unlike ``sessionize_stream_event_time`` (which folds
    each user's accumulated state into ONE session closed by timeout),
    this variant splits sessions INSIDE a micro-batch too — a batch
    whose rows straddle the idle gap emits the earlier sessions
    immediately, exactly as the batch gaps-and-islands sessionizer
    would — and carries first-touch attribution state: each session
    reports its first event type (by the batch sessionizer's total
    (ts, event_id) order, so a cross-batch disordered row can
    retroactively take over first-touch) and whether any event was a
    ``convert_type``.

    CLOSED sessions equal the batch sessionizer's output whenever
    cross-batch event-time disorder stays within the WATERMARK delay
    (rows later than that are dropped by the late-data filter before
    this operator sees them — the standard streaming condition) and
    the watermark delay stays within the idle gap (so a surviving
    disordered row always folds rather than splits; the multi-batch
    equality proof in tests/test_streaming.py drives five forced
    batches through every hard case). The open tail session per user lives in
    state — bounded by (live users x gap) — and closes via event-time
    timeout as the watermark passes. Feed the output to a batch
    aggregation (or a downstream streaming agg) to reproduce
    events_session_attribution on a live stream."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _attr_fn(gap_ms, convert_type),
            outputStructType=_ATTR_SESSION_SCHEMA,
            stateStructType=_ATTR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_stream_to_memory(out: DataFrame, name: str, timeout_s: float = 20.0, mode: str = "append"):
    """Drive a streaming DataFrame into an in-memory table until idle
    OR ``timeout_s`` elapses (test/debug harness; mirrors reference
    Screen.showDFStream). The bound matters: ProcessingTimeTimeout
    queries keep scheduling cleanup batches, so processAllAvailable
    alone can never idle — it runs in a worker thread and the join is
    time-bounded."""
    import threading

    q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try:
        t = threading.Thread(target=q.processAllAvailable, daemon=True)
        t.start()
        t.join(timeout_s)
    finally:
        q.stop()
    return q


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time bound: right events
    within [left_ts - within, left_ts]. Watermarks on BOTH sides are
    mandatory — they let Spark evict join state; without the time bound
    the state would grow forever."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    # frame-qualified references throughout: both streams commonly use
    # the SAME timestamp column name, where a bare F.expr(left_ts)
    # would be AMBIGUOUS_REFERENCE against the joined schema
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {within}"))
        & (rw[right_ts] <= lw[left_ts])
    )
    # drop the duplicate join key so downstream select(key) resolves
    return lw.join(rw, cond, how).drop(rw[key])


def derive_state_partitions(
    spark, *paths: str, target_bytes: int = 64 * 1024 * 1024
) -> int | None:
    """State-partition count derived from the INPUT volume — the
    scale-adaptive sizing for stateful streaming queries (guide §2:
    partitioning must follow data size, not a constant tuned for one
    deployment). Stateful operators pay a FIXED per-partition per-batch
    cost (open + commit of up to 4 state stores each); measured r11 at
    sf0.1, a stream-stream join on 32 core-count partitions spent more
    wall time on that overhead than on the join (4.4s → 2.1s at 8).
    State partitions bind at query start and must instead track state
    volume: ~one partition per ``target_bytes`` of source input, with
    a floor of defaultParallelism/4 so small inputs still spread over
    a few tasks. At 100 TB the bytes term dominates (thousands of
    partitions); locally the floor does. Paths that aren't statable
    locally (``hdfs://``, ``s3a://``, ``file:`` URIs …) are sized
    through the Hadoop FileSystem API (VERDICT r11 #10); only when
    BOTH routes fail does the function return None and the caller
    keeps the session default."""
    total = 0
    for p in paths:
        n = _local_path_bytes(p)
        if n is None:
            n = _hadoop_fs_bytes(spark, p)
        if n is None:
            return None
        total += n
    floor = max(1, spark.sparkContext.defaultParallelism // 4)
    return max(floor, -(-total // target_bytes))


def _local_path_bytes(p: str) -> int | None:
    """Bytes under a LOCAL path (file, dir, or glob); None when the
    path doesn't resolve locally (remote scheme, missing)."""
    import glob as _glob
    import os

    matches = _glob.glob(p) if any(c in p for c in "*?[") else [p]
    if not matches:
        return None
    total = 0
    for m in matches:
        if os.path.isfile(m):
            total += os.path.getsize(m)
        elif os.path.isdir(m):
            for root, _dirs, files in os.walk(m):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        else:
            return None
    return total


def _hadoop_fs_bytes(spark, path: str) -> int | None:
    """Bytes under ``path`` via the Hadoop FileSystem API — answers for
    any scheme the cluster's connectors reach (hdfs://, s3a://,
    file:/ …), recursively for directories (getContentSummary), and
    resolves glob patterns through globStatus. None when the JVM
    gateway can't answer (Spark Connect, missing connector, absent
    path) — the caller treats that as \"cannot size\"."""
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(conf)
        if any(c in path for c in "*?["):
            statuses = fs.globStatus(jpath)
            if not statuses:
                return None
            return sum(
                fs.getContentSummary(st.getPath()).getLength()
                for st in statuses
            )
        if not fs.exists(jpath):
            return None
        return int(fs.getContentSummary(jpath).getLength())
    except Exception:
        return None


def run_available_now_to_memory(
    df: DataFrame,
    output_mode: str = "append",
    require_single_batch: bool = False,
    stats: dict | None = None,
    skip_no_data_batches: bool = False,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a finite streaming frame to completion: availableNow
    trigger → memory sink → a SELF-CONTAINED batch frame. The result
    is eagerly localCheckpointed and the memory view dropped
    immediately, so nothing pins driver memory per invocation and
    frames returned by earlier invocations stay valid (the r08 review
    waves hit BOTH failure modes of hand-rolled versions: unbounded
    memory-sink retention, then a fix that dropped prior views while
    a caller still held a lazy frame over one).

    ``require_single_batch=True`` is the completeness tripwire for
    queries whose exactness argument assumes all input arrives in one
    micro-batch (e.g. a stream-stream interval join whose watermark is
    shorter than the maximum event-time disorder across batches): if
    the source ever splits the input — maxFilesPerTrigger, multi-file
    layouts — the run FAILS LOUDLY naming the assumption instead of
    silently dropping cross-batch pairs.

    ``stats`` (optional dict) is populated with ``data_batches`` and
    ``total_batches`` from the query progress, so multi-batch
    equivalence tests can PROVE the delivery was actually split
    (tests/test_streaming.py) rather than trusting maxFilesPerTrigger
    took effect. ``recentProgress`` retains only the most recent
    ``spark.sql.streaming.numRecentProgressUpdates`` entries (default
    100 — ADVICE r09: a >100-batch run would undercount and defeat the
    single-batch tripwire), so the cap is raised to 10,000 for the
    query's lifetime and the count raises loudly if the buffer still
    saturates rather than report a floor as a fact.

    ``skip_no_data_batches=True`` disables the trailing NO-DATA
    micro-batch for this run (r11: it re-executes the full stateful
    plan on empty input purely to advance the watermark — ~half the
    wall time of a finite run). Only pass it when the output provably
    does not depend on that batch: inner stream-stream joins (state
    eviction emits nothing) and complete-mode aggregations (the last
    data batch already emitted the full state). Append-mode
    aggregations NEED it to flush watermark-closed tail windows —
    leave it off there (the multi-batch append-flush proof in
    tests/test_streaming.py runs with the default).

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    duration of the run (state partitioning binds at query start) —
    pass ``derive_state_partitions(...)`` so the count follows input
    volume instead of the session's batch-shuffle default."""
    import uuid

    spark = df.sparkSession
    cap_key = "spark.sql.streaming.numRecentProgressUpdates"
    progress_cap = 10_000
    old_cap = spark.conf.get(cap_key, None)
    spark.conf.set(cap_key, str(progress_cap))
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_nodata = spark.conf.get(nodata_key, None)
    parts_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(parts_key, None)
    if skip_no_data_batches:
        spark.conf.set(nodata_key, "false")
    if state_partitions is not None:
        spark.conf.set(parts_key, str(int(state_partitions)))
    name = f"stq_{uuid.uuid4().hex[:8]}"

    def _restore(key, old):
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        _restore(cap_key, old_cap)
        if skip_no_data_batches:
            _restore(nodata_key, old_nodata)
        if state_partitions is not None:
            _restore(parts_key, old_parts)
    progress = q.recentProgress
    if len(progress) >= progress_cap:
        raise RuntimeError(
            f"streaming query produced >= {progress_cap} progress "
            "updates — recentProgress is a ring buffer, so batch "
            "counts would be an undercount floor, not a fact; raise "
            f"{cap_key} for this run or split the drive"
        )
    data_batches = sum(
        1 for p in progress if p.get("numInputRows", 0) > 0
    )
    if stats is not None:
        stats["data_batches"] = data_batches
        stats["total_batches"] = len(progress)
    try:
        if require_single_batch and data_batches > 1:
            raise RuntimeError(
                f"streaming query processed {data_batches} data batches; "
                "this query's exactness argument assumes ALL input "
                "arrives in one availableNow micro-batch (its watermark "
                "does not cover cross-batch event-time disorder). "
                "Remove maxFilesPerTrigger / compact the source, or "
                "raise the watermark past the join interval + disorder."
            )
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)


def stream_upsert_parquet(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint: str | None = None,
):
    """Idempotent key-based parquet sink via ``foreachBatch``: each
    micro-batch dedups within itself, anti-joins against keys already
    in the sink, and appends only new keys — so replayed batches
    (at-least-once upstream) can't double-write. Returns the started
    StreamingQuery.

    Scale: the anti-join reads only the key columns of the sink
    (column-pruned parquet scan); at very large sinks partition the
    sink by a key prefix or date so the anti-join prunes partitions."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        # single source of truth for the replay-safety logic — the
        # batch twin already implements dedup + anti-join + the
        # missing-sink-only guard; a drifting duplicate here would
        # fork the crash-safety semantics.
        from thundercats_spark.physical.io import Write

        Write.upsert_parquet(batch, path, list(keys)).get

    w = stream.writeStream.foreachBatch(upsert).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def stream_dedup_corpus(
    stream: DataFrame,
    out_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
):
    """Streaming corpus ingestion with FULL-HISTORY exact dedup: each
    micro-batch drops docs whose text fingerprint was ever ingested
    (``dedup_incremental`` against the persisted index), survivors
    append to ``out_path``. Complements ``dedup_stream``, whose state
    only spans the watermark — here the dedup horizon is unbounded and
    the state is an 8-byte-per-doc parquet index, not executor memory.

    Replay safety: the two-step ``dedup_incremental_prepare`` →
    corpus upsert → index ``commit()`` ordering (see
    ``IncrementalBatch``) — both writes are idempotent upserts, so a
    crash between them just re-converges on replay (at-least-once
    upstream → effective exactly-once in the sink). Returns the
    started StreamingQuery."""
    from thundercats_spark.operators.dedup import dedup_incremental_prepare
    from thundercats_spark.physical.io import Write

    def ingest(batch: DataFrame, batch_id: int) -> None:
        prep = dedup_incremental_prepare(
            batch, index_path, text_col=text_col, id_col=id_col
        )
        Write.upsert_parquet(prep.survivors, out_path, [id_col]).get
        prep.commit()

    w = stream.writeStream.foreachBatch(ingest).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def stream_dedup_corpus_near(
    stream: DataFrame,
    out_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    checkpoint: str | None = None,
    **minhash_kwargs,
):
    """Streaming corpus ingestion with FULL-HISTORY NEAR-dup dedup —
    the MinHash-LSH twin of ``stream_dedup_corpus``: each micro-batch
    collapses its own near-dups, probes the persisted LSH index
    (bucket join + candidate-only exact Jaccard verify — historical
    text is never rescanned), appends survivors to ``out_path``, then
    commits the (id, bucket) / (id, shingle-set) index tables.

    Replay safety: the crash-safe two-step ordering
    (``dedup_minhash_incremental_prepare`` → corpus upsert → index
    ``commit()``, see ``IncrementalBatch``) — both writes are
    idempotent upserts, so a crash anywhere re-converges on replay.
    Sketch parameters (``minhash_kwargs``: num_hashes, bands,
    shingle_n, seed, method) must stay constant for the index's
    lifetime. Returns the started StreamingQuery."""
    from thundercats_spark.operators.dedup import (
        dedup_minhash_incremental_prepare,
    )
    from thundercats_spark.physical.io import Write

    def ingest(batch: DataFrame, batch_id: int) -> None:
        prep = dedup_minhash_incremental_prepare(
            batch, index_path, text_col=text_col, id_col=id_col,
            threshold=threshold, **minhash_kwargs,
        )
        Write.upsert_parquet(prep.survivors, out_path, [id_col]).get
        prep.commit()

    w = stream.writeStream.foreachBatch(ingest).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def stream_rollup_parquet(
    stream: DataFrame,
    rollup_path: str,
    keys: Sequence[str],
    metrics: dict,
    partition_col: str | None = None,
    checkpoint: str | None = None,
):
    """Live aggregate table maintained by the stream: each micro-batch
    folds into the persisted rollup via ``rollup_update`` (count / sum
    / min / max / HLL approx-distinct — the mergeable class).

    Replay safety: ``foreachBatch`` redelivers a batch (same batch_id)
    after a crash, and re-merging a sum-like metric would double-count
    — so the last merged batch_id is committed WITH the rollup
    (``state_doc``) and replayed ids are skipped. In the unpartitioned
    path the id rides the same atomic directory swap as the data, so
    the merge+commit is exactly-once; with ``partition_col`` the id is
    additionally journaled inside EVERY partition dir (atomically with
    its swap), so a crash mid-swap-loop is recovered on replay by
    completing only the partitions not yet carrying the batch —
    already-swapped ones are skipped, never re-merged. Returns the
    started StreamingQuery."""
    from thundercats_spark.operators.incremental import rollup_state, rollup_update

    def fold(batch: DataFrame, batch_id: int) -> None:
        last = rollup_state(rollup_path).get("batch_id", -1)
        if batch_id <= last:
            return  # already merged before the crash — skip the replay
        rollup_update(
            batch.sparkSession,
            batch,
            rollup_path,
            list(keys),
            metrics,
            partition_col=partition_col,
            state_doc={"batch_id": batch_id},
        )

    w = stream.writeStream.foreachBatch(fold).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def stream_ann_index(
    stream: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assume_new_ids: bool = False,
    checkpoint: str | None = None,
):
    """Keep a persisted ANN index fresh from a stream of embeddings:
    each micro-batch folds into the index via ``ann_index_append``
    (IVF or LSH, float or int8 — read from the index's own metadata),
    so the serving index trails ingestion by one micro-batch instead of
    one rebuild cycle. The batch twin of the serving story in
    ``examples/serving_artifacts.py``.

    Replay safety: the append is an UPSERT on ``id_col`` — re-running a
    redelivered micro-batch converges to the identical index (no
    journal needed, unlike sum-like rollups). Exact duplicate rows
    WITHIN one micro-batch (an at-least-once source redelivering inside
    the batch) are collapsed here on (id, vector); two DIFFERENT
    vectors under one id in one batch stay a loud error from the
    upsert engine — which copy wins is ambiguous and silently picking
    one would corrupt the index.

    Scale: cost per micro-batch is O(batch + touched cells) — the
    corpus-scale index is never rescanned; set ``assume_new_ids=True``
    for append-only ingest keys to also skip the column-pruned
    stale-row scan. Returns the started StreamingQuery."""
    from thundercats_spark.operators.similarity import ann_index_append

    def fold(batch: DataFrame, batch_id: int) -> None:
        ann_index_append(
            batch.sparkSession,
            batch.dropDuplicates([id_col, vec_col]),
            index_path,
            vec_col=vec_col,
            id_col=id_col,
            assume_new_ids=assume_new_ids,
        )

    w = stream.writeStream.foreachBatch(fold).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def stream_quality_monitor(
    stream: DataFrame,
    journal_path: str,
    score_col: str,
    group_cols: Sequence[str] = ("source",),
    baseline: DataFrame | None = None,
    k: float = 3.0,
    drift_k: float = 2.0,
    max_hist_rows: int = 2_000_000,
    checkpoint: str | None = None,
):
    """Per-micro-batch robust quality monitoring: each batch's
    per-group discrete median / MAD / k*MAD outlier counts
    (``operators/robust.py`` — pass an already-QUANTIZED score, e.g.
    ``round(quality, 6)``, so the per-batch histogram stays bounded by
    distinct score values) are appended to a parquet journal
    partitioned by ``batch_id``, with drift columns against a
    ``baseline`` stats frame (the ``mad_outlier_stats*`` output shape:
    ``group_cols... , med, mad``; collected ONCE at setup — bounded by
    groups): ``med_drift = med - baseline_med`` and ``drifted =
    |med_drift| > drift_k * baseline_mad`` (strict, so a zero-MAD
    baseline flags ANY shift). Groups absent from the baseline carry
    NULL drift columns — visible, not silently dropped.

    Replay safety: the journal write is a per-``batch_id`` directory
    OVERWRITE, so a redelivered micro-batch rewrites its own partition
    to the identical content — idempotent with no journal/state doc.
    Empty batches write an empty (schema'd) partition: a gap in
    batch_id means a batch was never seen, not that it was empty.

    Scale: per-batch driver work is O(groups + distinct quantized
    scores in the batch), guarded by ``max_hist_rows``; the journal
    grows O(batches x groups) — tiny rows, and partition pruning on
    ``batch_id`` keeps dashboard reads cheap. Returns the started
    StreamingQuery; read the journal back with
    ``spark.read.parquet(journal_path)`` (``batch_id`` surfaces as a
    partition column)."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StructField,
        StructType,
    )

    from thundercats_spark.operators.robust import mad_outlier_stats_quantized

    gcols = list(group_cols)
    base: dict[tuple, tuple[float, float]] = {}
    if baseline is not None:
        base = {
            tuple(r[c] for c in gcols): (float(r["med"]), float(r["mad"]))
            for r in baseline.select(*gcols, "med", "mad").collect()
        }

    def fold(batch: DataFrame, batch_id: int) -> None:
        stats = mad_outlier_stats_quantized(
            batch, gcols, score_col, k=k, max_hist_rows=max_hist_rows
        )
        out_schema = StructType(
            [*stats.schema.fields,
             StructField("med_drift", DoubleType()),
             StructField("drifted", BooleanType())]
        )
        rows = []
        for r in stats.collect():  # bounded: one row per group
            g = tuple(r[c] for c in gcols)
            if g in base:
                b_med, b_mad = base[g]
                drift = r["med"] - b_med
                drifted = abs(drift) > drift_k * b_mad
            else:
                drift, drifted = None, None
            rows.append((*r, drift, drifted))
        batch.sparkSession.createDataFrame(rows, out_schema).coalesce(
            1
        ).write.mode("overwrite").parquet(
            f"{journal_path}/batch_id={int(batch_id)}"
        )

    w = stream.writeStream.foreachBatch(fold).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def stream_scd2_parquet(
    stream: DataFrame,
    path: str,
    key: str,
    ts: str,
    attr: str,
    tiebreak: str,
    checkpoint: str | None = None,
):
    """SCD2 interval table maintained by a stream of observations: each
    micro-batch folds into the persisted table via
    ``scd2_update_parquet`` (O(batch + touched keys) — history is never
    rescanned), so "state as of any time T" queries (``scd2_as_of``)
    trail ingestion by one micro-batch.

    Replay safety: the last merged batch_id is committed atomically
    WITH the table and replayed ids are skipped (the
    ``stream_rollup_parquet`` discipline); underneath, the batch
    operator's strictly-later guard makes any missed replay loud
    instead of double-folded. The source must deliver observations in
    per-key day order across batches (the SCD2 append-only contract) —
    out-of-order days raise with the rebuild remedy. Returns the
    started StreamingQuery."""
    from thundercats_spark.operators.scd2 import (
        scd2_state,
        scd2_update_parquet,
    )

    def fold(batch: DataFrame, batch_id: int) -> None:
        last = scd2_state(path).get("batch_id", -1)
        if batch_id <= last:
            return  # already merged before the crash — skip the replay
        scd2_update_parquet(
            batch.sparkSession, batch, path,
            key=key, ts=ts, attr=attr, tiebreak=tiebreak,
            state_doc={"batch_id": batch_id},
        )

    w = stream.writeStream.foreachBatch(fold).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()
