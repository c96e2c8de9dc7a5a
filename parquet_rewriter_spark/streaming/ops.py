"""Structured Streaming surface over the ``events`` fixture.

The reference has no streaming at all — this is north-star surface
(SURVEY.md §2.2 "Streaming surface"). Everything here is built-in
Structured Streaming: event-time windows (`F.window` /
`F.session_window`), watermarks for bounded state + late-data drop,
`dropDuplicatesWithinWatermark` for stateful dedup, and `foreachBatch`
to drive the mutation core (operators/merge.py) from a stream — the
streaming analog of the reference's mutation loop (README.md:67-77),
with each micro-batch playing the role of one key-ordered mutation set.

Scale notes (100 TB / real cluster):
- watermarks bound state: a window/session/dedup operator only keeps
  state newer than ``max(event_time) - delay``; without one, state grows
  without bound and the job dies at scale — every stateful op here
  therefore *requires* a watermark argument.
- shuffle per stateful op: windowed aggs hash-partition by (key, window)
  — same skew story as batch groupBy; AQE does not apply to streaming,
  so `spark.sql.shuffle.partitions` must be sized up front (the session
  factory exposes it).
- the memory sink used by `run_to_memory` is a TEST harness (driver
  collects results); production sinks are kafka/parquet/foreachBatch.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_rewriter_spark.sources.readers import ensure_events_readable, normalize_events_ts
from parquet_rewriter_spark.operators.util import cache_scope, persist





def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over any fixture table.

    Schema is taken from a batch read of the same path (a stream cannot
    infer). ``maxFilesPerTrigger`` simulates arrival order for
    multi-batch tests (watermark advancement, late-data drop).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    from parquet_rewriter_spark.ship import ensure_shipped

    ensure_shipped(spark)  # stateful kernels import this package on workers
    if name == "events":
        ensure_events_readable(spark)
    raw_schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # FileStreamSource wants a directory or glob; turn the last char
        # into a single-char glob class so the parent becomes basePath.
        path = f"{path[:-1]}[{path[-1]}]"
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Events stream with the ns→µs ``ts`` normalization
    (sources/readers.py) applied on top of ``stream_table``."""
    return normalize_events_ts(
        stream_table(spark, sf_dir, "events", max_files_per_trigger)
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
    group_col: str = "event_type",
) -> DataFrame:
    """Tumbling event-time window counts with bounded state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            group_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding (overlapping) event-time windows: each event lands in
    window_duration/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key: str = "user_id",
) -> DataFrame:
    """Per-key session windows: a session closes after ``gap`` of
    inactivity; window.end = last event ts + gap (Spark semantics)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming dedup: keeps the first occurrence of each key,
    holding per-key state only within the watermark horizon (state is
    dropped once the key's event time falls behind the watermark — the
    property that makes dedup feasible on an unbounded stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    timeout_s: int = 300,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Run a streaming DataFrame to completion (Trigger.AvailableNow)
    into an in-memory table and return the result as a batch DataFrame.

    Test/oracle harness only — AvailableNow processes everything
    currently in the source then stops, which makes a streaming query's
    output a deterministic function of the fixture, comparable to a
    DuckDB oracle. ``complete`` mode re-emits full aggregation state, so
    windowed aggs match their batch GROUP BY equivalent exactly;
    ``append`` mode (dedup, pass-through) emits rows as they finalize.

    ``state_partitions`` sizes the stateful-operator shuffle for this
    query (restored after). A streaming checkpoint PINS its state
    partition count forever, and every partition costs state-store
    files + commit I/O per micro-batch — so it must be sized to
    expected state volume (keys × bytes / target partition size), NOT
    to the cluster's CPU count: a stream-stream join at the batch
    default of 32 spends 3× longer on per-partition state commits than
    on data. None = leave the session setting.
    """
    spark = stream_df.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination returns False on timeout — a silent partial
        # memory table would feed wrong results into oracle comparison
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"streaming query {name!r} did not finish within {timeout_s}s"
            )
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
    suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: right rows within ``max_delay`` BEFORE each
    left row, per key. ``how`` may be ``inner`` or ``left_outer``.

    Both sides carry watermarks and the join condition bounds the event
    times against each other — the two things Spark needs to know when
    buffered state on either side can be dropped (unbounded otherwise).

    ``left_outer`` adds attribution semantics ("every purchase, with
    its click if one came"): a left row that found no match is emitted
    null-extended only once the watermark proves no future right row
    can still match it — i.e., null rows arrive LATE by up to the
    watermark delay, and rows younger than the final watermark stay
    buffered (emitted on the run's trailing no-data batch, or never,
    for a truncated drain). Exactly the semantics a feature pipeline
    needs to not double-count; pinned in tests/test_streaming.py.

    ``full_outer`` null-emits BOTH sides under the same watermark
    discipline — audit/reconciliation shape ("every purchase and every
    click, matched where possible"): unmatched rows of either stream
    surface exactly once, once no match can still arrive for them.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = (
        right.withColumnsRenamed({c: f"{c}{suffix}" for c in right.columns})
        .withWatermark(f"{right_ts}{suffix}", watermark)
        .alias("r")
    )
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}{suffix}"))
        & (F.col(f"r.{right_ts}{suffix}") <= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}{suffix}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_delay}")
        )
    )
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(f"unsupported stream-stream join type: {how}")
    return l.join(r, cond, how)


def sessionize_with_state(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    sessionization with an explicit state object (count + bounds),
    emitting closed sessions when the event-time timeout fires.

    This is the escape hatch for stateful logic F.session_window can't
    express (e.g. value-dependent gaps, emit-on-update); the built-in
    session_window_stats is the preferred form when it fits.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} long, session_start timestamp, session_end timestamp, n_events long"
    )
    state_schema = "start long, last long, n long"
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        def emit(sessions):
            return pd.DataFrame(
                {
                    key: [key_tuple[0]] * len(sessions),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                    "session_end": [pd.Timestamp(l + gap_us, unit="us") for _, l, _ in sessions],
                    "n_events": [n for _, _, n in sessions],
                }
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield emit([(start, last, n)])
            return

        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf[ts]))
        if not ts_us:
            return
        ts_us.sort()
        # split this batch's (sorted) events into gap-separated runs
        runs: list[tuple[int, int, int]] = []  # (start, last, n)
        for t in ts_us:
            if runs and t - runs[-1][1] < gap_us:
                s, _, n = runs[-1]
                runs[-1] = (s, t, n + 1)
            else:
                runs.append((t, t, 1))
        # the ongoing run in state either extends into this batch's
        # first run or is closed by it
        if state.exists:
            s0, l0, n0 = state.get
            if runs[0][0] - l0 < gap_us:
                runs[0] = (min(s0, runs[0][0]), max(l0, runs[0][1]), n0 + runs[0][2])
            else:
                runs.insert(0, (s0, l0, n0))
        closed, ongoing = runs[:-1], runs[-1]
        state.update(ongoing)
        state.setTimeoutTimestamp(ongoing[1] // 1000 + gap_minutes * 60 * 1000)
        if closed:
            yield emit(closed)

    return (
        events.withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_heavy_hitters(
    items: DataFrame,
    item_col: str,
    n_shards: int = 8,
    capacity: int = 1024,
) -> DataFrame:
    """Streaming Space-Saving heavy hitters as a custom stateful
    operator (applyInPandasWithState over hash shards).

    The item universe is hash-partitioned into ``n_shards`` groups, and
    each shard's state is one capacity-bounded Space-Saving summary
    (operators/sketch.py has the batch twin and the guarantee math).
    Because shards partition the universe disjointly, each shard's
    summary carries the full Space-Saving guarantee for ITS items —
    the union of shard summaries is a valid global summary with
    state bounded at n_shards × capacity counters, however many
    distinct items the stream carries.

    Emits the shard's full current summary each micro-batch (update
    semantics), stamped with a per-shard ``seq`` so a consumer keeps
    only the newest emission per shard: see
    ``final_heavy_hitter_summary``. No watermark/timeout — frequency
    state never expires; capacity is the memory bound.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "shard int, seq long, item string, count long, err long"
    state_schema = "seq long, items array<string>, counts array<long>, errs array<long>"

    def fn(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        counters: dict = {}
        errs: dict = {}
        seq = 0
        if state.exists:
            seq, s_items, s_counts, s_errs = state.get
            counters = dict(zip(s_items, s_counts))
            errs = dict(zip(s_items, s_errs))
        for pdf in pdfs:
            vc = pdf[item_col].value_counts()
            for item, cnt in vc.items():
                cnt = int(cnt)
                if item in counters:
                    counters[item] += cnt
                elif len(counters) < capacity:
                    counters[item] = cnt
                    errs[item] = 0
                else:
                    evict = min(counters, key=counters.get)
                    base = counters.pop(evict)
                    errs.pop(evict)
                    counters[item] = base + cnt
                    errs[item] = base
        seq += 1
        keys = list(counters.keys())
        state.update(
            (seq, keys, [int(counters[i]) for i in keys], [int(errs[i]) for i in keys])
        )
        yield pd.DataFrame(
            {
                "shard": [int(key_tuple[0])] * len(keys),
                "seq": [seq] * len(keys),
                "item": keys,
                "count": [int(counters[i]) for i in keys],
                "err": [int(errs[i]) for i in keys],
            }
        )

    sharded = items.select(F.col(item_col).alias(item_col)).withColumn(
        "__shard", F.pmod(F.xxhash64(item_col), F.lit(n_shards)).cast("int")
    )
    return sharded.groupBy("__shard").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def final_heavy_hitter_summary(emissions: DataFrame) -> DataFrame:
    """Batch-side finalizer for a drained ``stream_heavy_hitters`` run:
    keep each shard's NEWEST emission (max seq) — the summary as of the
    last micro-batch — and return (item, count, err) rows."""
    w = Window.partitionBy("shard")
    return (
        emissions.withColumn("__mx", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("__mx"))
        .select("item", "count", "err")
    )


def stream_merge_into_table(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
    epoch_fn: Callable[[DataFrame, int], DataFrame] | None = None,
    timeout_s: int = 300,
    changelog: bool = False,
    txn_app: str | None = None,
):
    """Streaming upsert: drive the batch mutation core from a stream via
    ``foreachBatch`` — each micro-batch is one mutation set applied with
    merge_into_table (zone-map dirty-file pruning and all), i.e. the
    reference's mutation loop with micro-batches instead of a sorted
    iterator. Exactly-once comes from checkpointing + the table's atomic
    manifest flip (re-applied upserts are idempotent).
    """
    from parquet_rewriter_spark.operators.merge import merge_into_table

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        mut = epoch_fn(batch_df, epoch_id) if epoch_fn else batch_df
        # no isEmpty() pre-check: that is a full extra action per
        # micro-batch; an empty mutation set costs merge_into_table
        # nothing (zero dirty files, zero-row write dropped on adopt)
        merge_into_table(
            table,
            mut,
            changelog=changelog,
            txn=(txn_app, epoch_id) if txn_app else None,
        )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):  # timeout → partial state, fail loudly
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")
    return table


def stream_maintain_aggregate(
    stream: DataFrame,
    matview,
    checkpoint_dir: str,
    epoch_fn: Callable[[DataFrame, int], DataFrame] | None = None,
    timeout_s: int = 300,
):
    """Streaming materialized-view maintenance: each micro-batch merges
    into the view's BASE table, then folds that commit's signed deltas
    into the view (operators/matview.py) — the view stays current with
    the stream at churn-proportional cost per batch, never re-reading
    the base. Checkpoint replay after a crash is safe: the base merge
    skips replayed epochs (txn watermark), and the refresh catches the
    view up from its own committed watermark — so it runs even for a
    replayed epoch, whose base commit may have landed just before the
    crash, and is a driver-only no-op when the view is current.
    """

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        from parquet_rewriter_spark.operators.merge import merge_into_table

        mut = epoch_fn(batch_df, epoch_id) if epoch_fn else batch_df
        merge_into_table(matview.base, mut, txn=("matview_stream", epoch_id))
        matview.refresh()

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):  # timeout → partial state, fail loudly
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")
    return matview


def stream_maintain_join(
    stream: DataFrame,
    fact,
    dim,
    view,
    checkpoint_dir: str,
    epoch_fn: Callable[[DataFrame, int], DataFrame] | None = None,
    timeout_s: int = 300,
):
    """Streaming DENORMALIZATION: each micro-batch merges into the FACT
    table (exactly-once via the txn watermark), then the join view
    reconciles that commit's churn (operators/matjoin.py) — the
    denormalized relation tracks the stream at churn cost per batch,
    never re-running the full join. Crash replay is safe twice over:
    the fact merge skips replayed epochs, and refresh_join_view is a
    pure function of (view state sidecar, current snapshots)."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        from parquet_rewriter_spark.operators.matjoin import refresh_join_view
        from parquet_rewriter_spark.operators.merge import merge_into_table

        mut = epoch_fn(batch_df, epoch_id) if epoch_fn else batch_df
        merge_into_table(fact, mut, txn=("matjoin_stream", epoch_id))
        # Refresh UNCONDITIONALLY, even when the merge was a replayed
        # epoch: a crash after the fact commit but before the refresh
        # replays as exactly skipped_txn_replay, and gating on it would
        # leave the view stale for that committed epoch (inconsistent
        # output if it was the drain's last batch). The refresh is an
        # idempotent catch-up from the state sidecar to the CURRENT
        # snapshots, so an already-current view is a cheap no-op.
        refresh_join_view(view, fact, dim)

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):  # timeout → partial state, fail loudly
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")
    return view


def stream_maintain_covstats(
    stream: DataFrame,
    table,
    vec_col: str,
    checkpoint_dir: str,
    epoch_fn: Callable[[DataFrame, int], DataFrame] | None = None,
    timeout_s: int = 300,
):
    """Streaming upkeep of the exact covariance sidecar
    (operators/covstats.py): each micro-batch merges into the table
    exactly-once, then triples are recomputed for JUST the files that
    commit rewrote — the corpus covariance (and any PCA on it) stays
    current with the stream at churn cost, with zero approximation.
    Replays are double-safe: the merge skips replayed epochs and the
    builder only fills files missing a triple."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        from parquet_rewriter_spark.operators.covstats import (
            build_covariance_stats,
        )
        from parquet_rewriter_spark.operators.merge import merge_into_table

        mut = epoch_fn(batch_df, epoch_id) if epoch_fn else batch_df
        merge_into_table(table, mut, txn=("covstats_stream", epoch_id))
        # Unconditional, same rationale as stream_maintain_join: a
        # crash between the commit and the sidecar build replays as
        # skipped_txn_replay, and the builder is an idempotent
        # fill-missing-triples pass (no-op when already current).
        build_covariance_stats(table, vec_col)

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):  # timeout → partial state, fail loudly
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")
    return table


def stream_maintain_drift(
    stream: DataFrame,
    table,
    value_col: str,
    group_col: str,
    edges,
    checkpoint_dir: str,
    epoch_fn: Callable[[DataFrame, int], DataFrame] | None = None,
    timeout_s: int = 300,
):
    """Streaming upkeep of the declared-bin drift sidecar
    (operators/driftstats.py): each micro-batch merges into the table
    exactly-once, then count matrices are recomputed for JUST the files
    that commit rewrote — PSI monitoring stays current with the stream
    at churn cost, exact. Replays are double-safe: the merge skips
    replayed epochs and the builder only fills files missing a matrix.

    A table whose monitor is REGISTERED (enable_drift_monitor) does not
    need this helper: merge_into_table's drift hook refreshes matrices
    inside every micro-batch merge already — any exactly-once streaming
    merge keeps such a sidecar current for free. This helper is the
    explicit-spec path for unregistered tables."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        from parquet_rewriter_spark.operators.driftstats import (
            build_drift_stats,
        )
        from parquet_rewriter_spark.operators.merge import merge_into_table

        mut = epoch_fn(batch_df, epoch_id) if epoch_fn else batch_df
        merge_into_table(table, mut, txn=("driftstats_stream", epoch_id))
        # Unconditional fill-missing pass — same crash-replay rationale
        # as stream_maintain_covstats (idempotent, no-op when current).
        build_drift_stats(table, value_col, group_col, edges)

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):  # timeout → partial state, fail loudly
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")
    return table


def stream_quality_route(
    stream: DataFrame,
    rules: dict[str, str],
    clean_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
):
    """Data-contract enforcement on ingest: route each micro-batch into
    a CLEAN sink and a QUARANTINE sink (rows tagged with every failed
    rule) via ``operators/quality.enforce_constraints`` — the streaming
    twin of the batch (clean, violations) split, so bad rows never
    reach downstream consumers but are never dropped either.

    Shape: ``foreachBatch`` with one persist per batch (two sinks read
    the same split — persisting avoids re-scanning the source twice),
    plain parquet appends. Restart semantics are at-least-once into the
    sinks (appends are not transactional); route into SortedTables via
    ``stream_merge_into_table`` when exactly-once matters. Stateless —
    no watermark, no state store; scales with batch size only.
    """
    from parquet_rewriter_spark.operators.quality import enforce_constraints

    def route(batch_df: DataFrame, epoch_id: int) -> None:
        with cache_scope():
            persist(batch_df)
            clean, viol = enforce_constraints(batch_df, rules)
            clean.write.mode("append").parquet(clean_dir)
            viol.write.mode("append").parquet(quarantine_dir)

    q = (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"quality router did not finish within {timeout_s}s")


def _tws_available() -> bool:
    """``transformWithStateInPandas`` needs protobuf on the Python side
    (its state-server protocol is proto-encoded); absent in this
    container, present on real clusters — detect, don't crash."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_totals_tws(
    events: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    watermark: str = "1 hour",
    ts: str = "ts",
    force_fallback: bool = False,
) -> DataFrame:
    """Per-key running totals via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-stateful API (successor to
    ``applyInPandasWithState``: typed state handles, RocksDB-ready
    state store) — with an ``applyInPandasWithState`` fallback of
    identical semantics when the TWS Python runtime (protobuf) is
    unavailable, so the operator contract is testable everywhere.

    Each micro-batch folds its rows into per-key state (n_events,
    total_value) and emits ONE row per touched key with the running
    totals (update semantics: latest emission per key is current).

    Scale: state is O(distinct keys) × 16 bytes; emissions are
    O(touched keys per batch), not O(rows). The shuffle is the groupBy
    hash exchange any stateful op pays; size state partitions via
    ``run_to_memory(state_partitions=...)``.
    """
    out_schema = f"{key} long, n_events long, total_value double"
    wm = events.withWatermark(ts, watermark)

    if _tws_available() and not force_fallback:
        from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

        class RunningTotals(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._totals = handle.getValueState("totals", "n long, total double")

            def handleInputRows(self, key_tuple, rows, timerValues):
                import pandas as pd

                n, total = 0, 0.0
                prev = self._totals.get()
                if prev is not None:
                    n, total = int(prev[0]), float(prev[1])
                for pdf in rows:
                    n += len(pdf)
                    total += float(pdf[value_col].sum())
                self._totals.update((n, total))
                yield pd.DataFrame(
                    {key: [key_tuple[0]], "n_events": [n], "total_value": [round(total, 2)]}
                )

            def close(self) -> None:
                pass

        return wm.groupBy(key).transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="EventTime",
        )

    # Fallback: same contract on the older arbitrary-state API.
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        seen = False
        for pdf in pdfs:
            seen = True
            n += len(pdf)
            total += float(pdf[value_col].sum())
        if not seen:
            return
        state.update((n, total))
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return wm.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_value_ewma(
    events: DataFrame,
    alpha: float = 0.3,
    key: str = "user_id",
    value_col: str = "value",
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Order-sensitive per-key state: exponentially weighted moving
    average of ``value`` in EVENT-TIME order, carried across
    micro-batches (EWMA_1 = x_1; EWMA_i = α·x_i + (1-α)·EWMA_{i-1}).

    Unlike running totals (commutative — any order works), EWMA is
    order-dependent, so the processor sorts each batch by (ts, tiebreak)
    and folds onto the carried state; cross-batch order holds because
    the file source delivers files in order and the fixture's event
    times are file-ordered (for out-of-order arrivals, buffer within
    the watermark before folding — same state shape, larger state).
    Emits one row per touched key per batch (update semantics).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key} long, n_events long, ewma double"

    def fn(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        n, ewma = state.get if state.exists else (0, None)
        rows = []
        for pdf in pdfs:
            cols = [ts, value_col] + (["event_id"] if "event_id" in pdf else [])
            rows.append(pdf[cols])
        if not rows:
            return
        sort_cols = [ts] + (["event_id"] if "event_id" in rows[0] else [])
        batch = pd.concat(rows).sort_values(sort_cols, kind="mergesort")
        for v in batch[value_col]:
            v = float(v)
            ewma = v if ewma is None else alpha * v + (1 - alpha) * ewma
            n += 1
        state.update((n, float(ewma)))
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n_events": [n], "ewma": [round(ewma, 4)]}
        )

    return (
        events.withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType="n long, ewma double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_bottomk_sample(
    stream: DataFrame,
    id_col: str,
    k: int = 16,
    n_buckets: int = 8,
) -> DataFrame:
    """Deterministic uniform sample of a stream with BOUNDED state:
    keep the ``k`` smallest portable-hash values per hash bucket
    (min-wise / bottom-k sampling — the streaming form of consistent
    sampling). Because every id's bucket retains its own k smallest,
    the global bottom-k is always contained in the union of the
    buckets' lists, so a batch-side sort+limit over the ≤ n_buckets×k
    emitted rows recovers the EXACT global answer — state is bounded
    at n_buckets×k entries however long the stream runs, and the
    result is a pure function of the input set (md5-bridge hash), so
    a SQL oracle replays it cell-for-cell.

    Emits (bucket, id, h, version) in update mode; consumers keep each
    bucket's highest version (its final list) — see
    catalog.stream_bottomk_user_sample for the drain pattern.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from parquet_rewriter_spark.operators.countmin import portable_string_hash

    hashed = stream.select(
        F.col(id_col).cast("string").alias("id"),
        portable_string_hash(F.col(id_col).cast("string")).alias("h"),
    ).withColumn("bucket", F.pmod("h", F.lit(n_buckets)).cast("int"))

    def fn(key_tuple, pdfs, state: "GroupState"):
        import pandas as pd

        if state.exists:
            ids, hs, version = state.get
            best = dict(zip(list(ids), list(hs)))
        else:
            best, version = {}, 0
        seen = False
        for pdf in pdfs:
            seen = True
            for i, h in zip(pdf["id"], pdf["h"]):
                prev = best.get(i)
                if prev is None or h < prev:
                    best[i] = int(h)
            if len(best) > k:
                keep = sorted(best.items(), key=lambda kv: (kv[1], kv[0]))[:k]
                best = dict(keep)
        if not seen:
            return
        version += 1
        ordered = sorted(best.items(), key=lambda kv: (kv[1], kv[0]))[:k]
        state.update(([i for i, _ in ordered], [h for _, h in ordered], version))
        yield pd.DataFrame(
            {
                "bucket": [key_tuple[0]] * len(ordered),
                "id": [i for i, _ in ordered],
                "h": [h for _, h in ordered],
                "version": [version] * len(ordered),
            }
        )

    return hashed.groupBy("bucket").applyInPandasWithState(
        fn,
        outputStructType="bucket int, id string, h long, version int",
        stateStructType="ids array<string>, hs array<long>, version int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_score_dsir(
    stream: DataFrame,
    lam: DataFrame,
    n_buckets: int,
    sink_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    timeout_s: int = 300,
) -> None:
    """Score an arriving document stream against a FROZEN DSIR λ
    relation (operators/dsir.py): train once offline, then every
    micro-batch is the stateless pass-2 — explode n-grams,
    broadcast-join the B-row λ, per-doc sum — appended to ``sink_dir``
    with the requested passthrough columns. foreachBatch because the
    per-doc sum is a batch-local aggregate (each doc arrives whole in
    one file-source batch), so no streaming state is ever kept; replay
    safety comes from the checkpoint + idempotent per-batch overwrite
    partitioning by epoch.
    """
    from parquet_rewriter_spark.operators.dsir import dsir_score_with_ratios

    lam_rows = lam.select("bucket", "log_ratio").collect()  # B rows, frozen
    spark = stream.sparkSession
    frozen = spark.createDataFrame(lam_rows, "bucket long, log_ratio double")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        scored = dsir_score_with_ratios(
            batch_df, id_col, text_col, frozen, n_buckets
        )
        out = batch_df.select(id_col, *keep_cols).join(scored, id_col)
        (
            out.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(sink_dir)
        )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


def stream_pack_sequences(
    docs: DataFrame,
    id_col: str,
    tokens_col: "Column | str",
    max_tokens: int,
    sink_dir: str,
    checkpoint_dir: str,
    num_shards: int = 8,
    shard_col: "Column | None" = None,
    timeout_s: int = 300,
) -> None:
    """STREAMING sequence packing — the on-ingest twin of
    operators/packing.py:pack_sequences: as documents arrive, each is
    assigned its position in its shard's packed token stream WITHOUT
    ever re-reading history. A custom stateful operator
    (``applyInPandasWithState`` keyed by shard) carries ONE long per
    shard — the next token offset — across micro-batches; each batch
    sorts its shard-group by id (the documented arrival-order contract:
    packing order is arrival order, batch-internal ties by id), assigns
    offsets cumulatively from the state, and appends
    (id, shard, seq_id, seq_offset, spans_boundary) to the sink.

    State is O(num_shards) longs TOTAL — independent of stream length —
    and shards are the unit of parallelism, exactly like the batch
    packer. With a single-batch replay of a static table the
    assignment equals the batch packer's (same id order), which is how
    the oracle verifies it; across multiple micro-batches the offsets
    CONTINUE where the previous batch stopped (pinned in tests with a
    maxFilesPerTrigger=1 multi-file source).

    ``id_col`` must be integral (the state kernel sorts and returns it
    as long). ``tokens_col`` may be a name or expression; it is
    materialized as a column before entering the stateful kernel.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    tokens = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_shards))
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("id"),
        shard.cast("int").alias("shard"),
        tokens.cast("long").alias("n_tok"),
    )
    out_schema = (
        "id long, shard int, seq_id long, seq_offset long, spans_boundary boolean"
    )
    state_schema = "offset long"
    M = int(max_tokens)

    def fn(key_tuple, pdfs, state):
        import numpy as np
        import pandas as pd

        off = int(state.get[0]) if state.exists else 0
        # Concatenate the WHOLE group-batch before sorting: the Arrow
        # transfer chunks a large micro-batch (~maxRecordsPerBatch rows
        # per chunk, shuffle order across chunks), so a per-chunk sort
        # would assign offsets in chunk-then-id order and silently
        # break the "batch sorts its shard-group by id" contract the
        # batch packer is oracled against (pinned in tests with a tiny
        # Arrow batch size).
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values("id")
            tok = batch["n_tok"].to_numpy(dtype="int64")
            before = off + np.concatenate(([0], np.cumsum(tok[:-1])))
            off += int(tok.sum())
            state.update((off,))
            yield pd.DataFrame(
                {
                    "id": batch["id"].to_numpy(dtype="int64"),
                    "shard": np.full(len(batch), int(key_tuple[0]), dtype="int32"),
                    "seq_id": before // M,
                    "seq_offset": before % M,
                    "spans_boundary": (before % M + tok) > M,
                }
            )
        else:
            state.update((off,))

    assigned = base.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        assigned.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


def stream_encode_docs(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    rules: list[dict],
    symbol_ids_rows: list[tuple],
    sink_dir: str,
    checkpoint_dir: str,
    unk_id: int = -1,
    timeout_s: int = 300,
) -> None:
    """ON-INGEST TOKENIZATION under a FROZEN tokenizer — the
    production encode path (train once, encode the firehose forever),
    as a stateless streaming pass: the merge rules (merge-count-
    bounded) and the symbol-id table (alphabet + merges rows) are
    frozen at start; each micro-batch re-segments ITS OWN distinct
    words via operators/bpe.py:encode_docs_with_rules (batch-vocab
    scale, identical literal-replace semantics to training) and
    appends (id, input_ids, n_tokens) to an epoch-partitioned
    idempotent sink (the streaming-DSIR discipline: replays overwrite
    their own epoch partition, zero streaming state). Unknown symbols
    map to ``unk_id`` — a firehose WILL contain characters the
    training corpus never saw."""
    from parquet_rewriter_spark.operators.bpe import encode_docs_with_rules

    spark = stream.sparkSession
    frozen = spark.createDataFrame(
        symbol_ids_rows, "symbol string, token_id int"
    )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # the encode op persists the batch's distinct-word relation
        # (its byte-gate job materializes it; the encode join then
        # reads the cache instead of re-segmenting): the batch's
        # cache scope releases it once the write is done, or failed
        with cache_scope():
            out = encode_docs_with_rules(
                batch_df, id_col, text_col, rules,
                unk_id=unk_id, symbol_ids=frozen,
            )
            (
                out.withColumn("_epoch", F.lit(epoch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_epoch")
                .parquet(sink_dir)
            )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


def stream_wordpiece_encode_docs(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    piece_rows: list[str],
    sink_dir: str,
    checkpoint_dir: str,
    unk_id: int = -1,
    timeout_s: int = 300,
) -> None:
    """ON-INGEST WordPiece tokenization under a FROZEN inventory —
    the second family's stream_encode_docs twin: the vocab_size-
    bounded piece list is frozen at start, each micro-batch greedily
    segments ITS OWN distinct words (batch-vocab scale) through
    operators/wordpiece.py:wordpiece_encode_docs with ``unk_id`` (the
    firehose contains pieces the inventory never saw — the LEFT id
    join surfaces them), and (id, input_ids, n_tokens) appends to an
    epoch-partitioned idempotent sink. Stateless: per-word
    segmentation is batch-independent, so the drained replay equals
    the one-shot batch encode."""
    from parquet_rewriter_spark.operators.wordpiece import (
        wordpiece_encode_docs,
    )

    spark = stream.sparkSession
    frozen = spark.createDataFrame(
        [(p,) for p in piece_rows], "piece string"
    )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # the batch's cache scope releases the encode op's word_ids
        # cache (see the BPE ingest above)
        with cache_scope():
            out = wordpiece_encode_docs(
                batch_df, id_col, text_col, frozen, unk_id=unk_id
            )
            (
                out.withColumn("_epoch", F.lit(epoch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_epoch")
                .parquet(sink_dir)
            )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


def stream_unigram_encode_docs(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    stats_rows: list[tuple],
    sink_dir: str,
    checkpoint_dir: str,
    unk_id: int = -1,
    timeout_s: int = 300,
) -> None:
    """ON-INGEST unigram-LM tokenization under a FROZEN inventory —
    completing the trio (BPE rules, WordPiece greedy, unigram
    Viterbi): the bounded (piece, c) stats are frozen at start, each
    micro-batch Viterbi-segments ITS OWN distinct words (batch-vocab
    scale, lexmin tie-break — per-word and batch-independent) and
    appends (id, input_ids, n_tokens) to an epoch-partitioned
    idempotent sink, so the drained replay equals the one-shot batch
    encode. ``unk_id`` gives the trio's shared unk parity: a firehose
    WILL contain characters training never saw — unsegmentable words
    char-fallback and out-of-inventory chars surface as ``unk_id``
    instead of silently dropping occurrences (or whole docs)."""
    from parquet_rewriter_spark.operators.unigram import (
        unigram_encode_docs,
    )

    spark = stream.sparkSession
    frozen = spark.createDataFrame(
        [(str(p), int(c)) for p, c in stats_rows], "piece string, c long"
    )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # the batch's cache scope releases the encode op's word_ids
        # cache (see the BPE ingest above)
        with cache_scope():
            out = unigram_encode_docs(
                batch_df, id_col, text_col, frozen, unk_id=unk_id
            )
            (
                out.withColumn("_epoch", F.lit(epoch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_epoch")
                .parquet(sink_dir)
            )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


def stream_cusum(
    points: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    stats_rows: list[tuple],
    sink_dir: str,
    checkpoint_dir: str,
    k: float = 0.5,
    round_to: int = 4,
    timeout_s: int = 300,
) -> None:
    """ON-INGEST CUSUM change detection — the streaming twin of
    operators/timeseries.py:cusum_by with O(1) state per group (the
    two one-sided sums): reference statistics (group, mu, sigma) are
    FROZEN offline (the DSIR/contamination frozen-artifact
    discipline — a live mean would let the shift poison its own
    baseline), each micro-batch concatenates ALL its Arrow chunks and
    sorts by time ONCE (the round-10 chunk-safety contract), folds the
    identical grid-rounded recurrence, and APPENDS one row per point
    (t, sp, sn) to the sink — so a drained single-source replay equals
    the batch operator row-for-row, bit-for-bit. Points must arrive
    time-ordered across batches (the packing contract)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    K = float(k)
    stats = {str(g): (float(m), float(s)) for g, m, s in stats_rows}
    base = points.select(
        F.col(group_col).cast("string").alias("grp"),
        F.col(time_col).cast("long").alias("t"),
        F.col(value_col).cast("double").alias("v"),
    )
    out_schema = "grp string, t long, sp double, sn double"
    state_schema = "sp double, sn double"
    R = int(round_to)

    def fn(key_tuple, pdfs, state):
        import math

        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal, localcontext

        # Spark's F.round (the batch twin's grid) is HALF_UP over the
        # double's shortest decimal repr (BigDecimal.valueOf); Python's
        # built-in round is banker's-on-exact-binary and diverges at
        # .5-midpoints of the grid (e.g. 2.675 at R=2), which would
        # break the bit-for-bit stream==batch contract. Non-finite
        # inputs pass through un-quantized (Decimal.quantize raises on
        # NaN/±Inf where F.round propagates them), and the quantize
        # runs under a raised-precision context so a large-magnitude
        # sensor value can't overflow the default 28-digit coefficient
        # and kill the whole micro-batch.
        quantum = Decimal(1).scaleb(-R)

        def r_grid(x: float) -> float:
            if not math.isfinite(x):
                return x  # F.round propagates NaN/±Inf unchanged
            with localcontext() as ctx:
                # a double's integer part has ≤ 309 decimal digits;
                # 400 covers any finite double at any grid scale, so
                # quantize can never raise InvalidOperation here
                ctx.prec = 400
                return float(
                    Decimal(repr(x)).quantize(
                        quantum, rounding=ROUND_HALF_UP
                    )
                )

        grp = str(key_tuple[0])
        ms = stats.get(grp)
        sp, sn = state.get if state.exists else (0.0, 0.0)
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks or ms is None:
            state.update((float(sp), float(sn)))
            return
        mu, sigma = ms
        slack = K * sigma
        batch = pd.concat(chunks, ignore_index=True).sort_values("t")
        ts, sps, sns = [], [], []
        for t, v in zip(batch["t"], batch["v"]):
            x = r_grid(float(v))
            sp = max(0.0, sp + ((x - mu) - slack))
            sn = max(0.0, sn + ((mu - x) - slack))
            ts.append(int(t))
            sps.append(sp)
            sns.append(sn)
        state.update((float(sp), float(sn)))
        yield pd.DataFrame(
            {"grp": grp, "t": ts, "sp": sps, "sn": sns}
        )

    flagged = base.groupBy("grp").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        flagged.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


def stream_contamination_guard(
    stream: DataFrame,
    bench_grams: DataFrame,
    id_col: str,
    text_col: str,
    sink_dir: str,
    checkpoint_dir: str,
    n: int = 8,
    keep_cols: tuple[str, ...] = (),
    timeout_s: int = 300,
) -> None:
    """ON-INGEST train/benchmark contamination screening: the benchmark
    word-n-gram set (``bench_grams``: one ``g`` column — benchmark
    corpora are bounded by construction) is FROZEN, and every arriving
    micro-batch runs a stateless pass — explode the batch's n-grams,
    broadcast-join the benchmark set, per-doc distinct-hit count — into
    an epoch-partitioned sink. No streaming state; checkpoint replay is
    safe via idempotent dynamic-partition overwrite (the
    stream_score_dsir discipline). Docs shorter than ``n`` words score
    0, exactly like the batch operator."""
    grams_expr = F.expr(
        f"CASE WHEN size(split({text_col}, ' ')) >= {n} THEN "
        f"transform(sequence(1, size(split({text_col}, ' ')) - {n - 1}), "
        f"i -> array_join(slice(split({text_col}, ' '), i, {n}), ' ')) "
        "ELSE array() END"
    )
    bench = bench_grams.select(F.col(bench_grams.columns[0]).alias("g"))

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        g = batch_df.select(
            F.col(id_col).alias("id"), F.explode(grams_expr).alias("g")
        ).distinct()
        hits = (
            g.join(F.broadcast(bench), "g")
            .groupBy("id")
            .agg(F.count_distinct("g").alias("n_shared"))
        )
        out = (
            batch_df.select(F.col(id_col).alias("id"), *keep_cols)
            .join(hits, "id", "left")
            .select(
                F.col("id").alias(id_col),
                *keep_cols,
                F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
                (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias(
                    "contaminated"
                ),
            )
        )
        (
            out.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(sink_dir)
        )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


def stream_holt_winters(
    points: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    sink_dir: str,
    checkpoint_dir: str,
    period: int = 12,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    timeout_s: int = 300,
) -> None:
    """ON-INGEST Holt-Winters: maintain each group's (level, trend,
    seasonal array) as series points arrive — the streaming twin of
    operators/timeseries.py:holt_winters_by, carrying O(period) state
    per group instead of refitting history.

    The kernel replays the batch fold EXACTLY: the first 2·period
    points buffer (initialization needs two full seasons), then
    initialization + updates run the identical double-precision
    recurrence in the same left-to-right order, so the drained state
    equals the batch fit bit-for-bit (pinned in tests across multiple
    micro-batches). Points must arrive time-ordered across batches
    (batch-internal ties sorted by the time column — the packing
    contract); each batch appends the group's newest
    (t, level, trend, seas) snapshot to the sink, newest = max t."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    P = int(period)
    a, b, g = float(alpha), float(beta), float(gamma)
    oma, omb, omg = 1.0 - a, 1.0 - b, 1.0 - g
    base = points.select(
        F.col(group_col).cast("string").alias("grp"),
        F.col(time_col).cast("long").alias("t"),
        F.col(value_col).cast("double").alias("v"),
    )
    out_schema = (
        "grp string, t long, level double, trend double, seas array<double>"
    )
    state_schema = (
        "n long, level double, trend double, seas array<double>, warm array<double>"
    )

    def fn(key_tuple, pdfs, state):
        import pandas as pd

        if state.exists:
            n, level, trend, seas, warm = state.get
            seas, warm = list(seas), list(warm)
        else:
            n, level, trend, seas, warm = 0, None, None, [], []

        def update(y):
            nonlocal level, trend, seas
            i = int(nxt[0] % P)
            lvl_new = a * (y - seas[i]) + oma * (level + trend)
            trend_new = b * (lvl_new - level) + omb * trend
            seas[i] = g * (y - lvl_new) + omg * seas[i]
            level, trend = lvl_new, trend_new
            nxt[0] += 1

        nxt = [n]  # index of the NEXT update step (batch fold's acc.t)
        # Concatenate ALL Arrow chunks and sort by t ONCE: a group with
        # more than ~maxRecordsPerBatch points in one micro-batch spans
        # multiple chunks arriving in shuffle order — a per-chunk sort
        # would replay updates out of time order and the drained state
        # would no longer equal the batch fold (pinned in tests with a
        # tiny Arrow batch size).
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values("t")
            for y in batch["v"].tolist():
                if level is None:
                    warm.append(float(y))
                    if len(warm) == 2 * P:
                        s1 = 0.0
                        for x in warm[:P]:
                            s1 = s1 + x
                        s2 = 0.0
                        for x in warm[P : 2 * P]:
                            s2 = s2 + x
                        level = s1 / P
                        trend = (s2 - s1) / float(P * P)
                        seas = [x - s1 / P for x in warm[:P]]
                        nxt = [P]
                        for yy in warm[P:]:
                            update(yy)
                        warm = []
                else:
                    update(float(y))
        n = nxt[0] if level is not None else len(warm)
        state.update(
            (int(n), level, trend, list(seas), list(warm))
        )
        if level is not None:
            import pandas as pd

            yield pd.DataFrame(
                {
                    "grp": [str(key_tuple[0])],
                    "t": [int(n)],
                    "level": [level],
                    "trend": [trend],
                    "seas": [list(seas)],
                }
            )

    fitted = base.groupBy("grp").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        fitted.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")


def stream_score_backoff(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    uni_rows: list[tuple],
    bi_rows: list[tuple],
    n_total: int,
    sink_dir: str,
    checkpoint_dir: str,
    alpha: float = 0.4,
    timeout_s: int = 300,
) -> None:
    """ON-INGEST LM perplexity scoring — the streaming half of the
    CCNet-style quality gate (operators/lm_quality.py): the
    stupid-backoff bigram model is FROZEN at start (vocabulary-bounded
    count relations, the same frozen-artifact discipline as the
    tokenizer trio; a model too large to ship as rows would join as a
    persisted relation instead), and each micro-batch scores ITS OWN
    documents — per-doc cross-entropy is doc-local given the model, so
    batches are independent and the drained sink equals the one-shot
    batch scoring bit-for-bit (integer micro-nat quantization
    included). Appends (id, n_bigrams, ce_micro) to an
    epoch-partitioned idempotent sink."""
    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff,
    )

    spark = stream.sparkSession
    uni = spark.createDataFrame(
        [(str(w), int(c)) for w, c in uni_rows], "w string, c long"
    )
    bi = spark.createDataFrame(
        [(str(a), str(b), int(c)) for a, b, c in bi_rows],
        "w1 string, w2 string, c12 long",
    )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        out = score_docs_backoff(
            batch_df, uni, bi, n_total, id_col, text_col, alpha=alpha
        )
        (
            out.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(sink_dir)
        )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_s}s")
