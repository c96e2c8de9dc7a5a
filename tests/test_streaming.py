"""Structured Streaming tests: batch-equivalence of windowed aggs,
watermark late-data drop across triggers, stateful dedup, and the
foreachBatch streaming merge into a SortedTable.

Strategy: every streaming op is drained with Trigger.AvailableNow
(deterministic — processes exactly what's in the source) and compared
to the equivalent batch computation over the same rows.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row, functions as F

from parquet_rewriter_spark.sources.readers import load_table
from parquet_rewriter_spark.streaming import (
    dedup_within_watermark,
    run_to_memory,
    session_window_stats,
    sliding_counts,
    stream_events,
    stream_merge_into_table,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    # module-scoped: outside the per-test cache scope, so released here
    df = load_table(spark, sf_dir, "events").cache()
    yield df
    df.unpersist()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_matches_batch_groupby(spark, sf_dir, batch_events):
    got = run_to_memory(tumbling_counts(stream_events(spark, sf_dir)), "complete")
    want = (
        batch_events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_each_event_in_two_windows(spark, sf_dir, batch_events):
    got = run_to_memory(sliding_counts(stream_events(spark, sf_dir)), "complete")
    n_events = batch_events.count()
    assert got.agg(F.sum("n_events")).first()[0] == 2 * n_events


def test_session_windows_match_gaps_and_islands(spark, sf_dir, batch_events):
    got = run_to_memory(session_window_stats(stream_events(spark, sf_dir)), "complete")
    from pyspark.sql.window import Window

    marked = batch_events.withColumn(
        "new_sess",
        F.coalesce(
            (
                F.col("ts").cast("long")
                - F.lag(F.col("ts").cast("long")).over(
                    Window.partitionBy("user_id").orderBy("ts")
                )
                >= 30 * 60
            ).cast("int"),
            F.lit(1),
        ),
    )
    sess = marked.withColumn(
        "sess",
        F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    want = sess.groupBy("user_id", "sess").agg(
        F.min("ts").alias("session_start"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_dedup_within_watermark_collapses_duplicates(spark, sf_dir, batch_events):
    ev = stream_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type", "value")
    dups = ev.filter(F.col("event_id") % 3 == 0)
    got = run_to_memory(dedup_within_watermark(ev.unionByName(dups), ["event_id"]))
    assert got.count() == batch_events.count()
    assert got.select("event_id").distinct().count() == got.count()


def _write_time_files(spark, base_dir, batches):
    """Write one parquet file per batch (list of (event_id, ts_offset_min, v))
    with filenames in lexical arrival order."""
    base = datetime(2024, 6, 1)
    os.makedirs(base_dir, exist_ok=True)
    for i, batch in enumerate(batches):
        rows = [
            Row(event_id=eid, ts=base + timedelta(minutes=m), user_id=eid % 5,
                event_type="click", value=float(v), props="{}")
            for eid, m, v in batch
        ]
        spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
            f"{base_dir}/b{i}"
        )
        time.sleep(1.1)  # distinct mtimes → deterministic file-arrival order


def test_watermark_drops_late_data_across_triggers(spark, tmp_path):
    """File-per-trigger stream: batch 0 advances event time far ahead;
    a stale event arriving two triggers later (well behind the watermark)
    must be DROPPED from the windowed aggregation — the bounded-state
    contract. (The watermark filter takes effect one batch after the
    advancing event — start-of-batch watermark — hence the ferry batch.)"""
    src = str(tmp_path / "late_src")
    # b0: events at t+0m, t+600m → watermark becomes 590m after commit
    # b1: ferry batch so the 590m watermark is in effect for b2
    # b2: event at t+5m (≈10h late) → dropped; event at t+605m → kept
    _write_time_files(
        spark,
        src,
        [
            [(0, 0, 1.0), (1, 600, 1.0)],
            [(9, 601, 1.0)],
            [(2, 5, 100.0), (3, 605, 1.0)],
        ],
    )
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b[012]/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.sum("value").alias("v"), F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "v", "n")
    )
    got = run_to_memory(agg, output_mode="append", timeout_s=120)
    rows = {r.ws.minute + 60 * r.ws.hour: (r.v, r.n) for r in got.collect()}
    # the late event (value=100.0 at minute 5) must not appear anywhere
    assert all(v < 100.0 for v, _ in rows.values()), rows
    assert rows.get(0) == (1.0, 1)  # only event_id 0 in the first window


def test_sessionize_with_state_matches_builtin_sessions(spark, sf_dir, batch_events):
    """applyInPandasWithState sessionizer: every emitted session must
    exactly match a built-in session_window session; sessions are
    emitted on event-time timeout, so only those whose timeout fell
    behind the final watermark appear (the tail stays in state)."""
    from parquet_rewriter_spark.streaming import sessionize_with_state

    got = run_to_memory(
        sessionize_with_state(stream_events(spark, sf_dir)), output_mode="append"
    )
    want = run_to_memory(
        session_window_stats(stream_events(spark, sf_dir)), "complete"
    )
    want_set = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in want.collect()
    }
    got_rows = got.collect()
    assert len(got_rows) > 0
    for r in got_rows:
        assert (r.user_id, r.session_start, r.session_end, r.n_events) in want_set
    # everything closed well before the final watermark horizon must emit
    max_ts = batch_events.agg(F.max("ts")).first()[0]
    import datetime

    horizon = max_ts - datetime.timedelta(hours=1, minutes=31)
    must_emit = {w for w in want_set if w[2] < horizon}
    got_set = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in got_rows}
    assert must_emit <= got_set


def test_stream_merge_into_sorted_table(spark, tmp_path, sf_dir):
    """foreachBatch streaming upsert: replay events as mutations into a
    SortedTable keyed by event_id; table ends up identical to batch."""
    from parquet_rewriter_spark.table import SortedTable

    ev_batch = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = ev_batch.filter(F.col("event_id") % 2 == 0)  # half the rows pre-exist
    tbl = SortedTable.create(
        spark, str(tmp_path / "ev_tbl"), base, key="event_id", max_records_per_file=500
    )

    ev_stream = stream_events(spark, sf_dir).select("event_id", "user_id", "value")
    stream_merge_into_table(
        ev_stream, tbl, checkpoint_dir=str(tmp_path / "ckpt"), timeout_s=240
    )

    got = tbl.read()
    assert got.count() == ev_batch.count()
    # upsert semantics: every event present exactly once, values current
    joined = got.alias("g").join(ev_batch.alias("b"), "event_id")
    mismatches = joined.filter(F.col("g.value") != F.col("b.value")).count()
    assert mismatches == 0


def test_stream_merge_changelog_feeds_matview(spark, tmp_path, sf_dir):
    """End-to-end incremental pipeline: stream micro-batches upsert into
    a SortedTable (changelog on), then a materialized aggregate refresh
    folds ALL streamed commits from the snapshot history — the view must
    equal a from-scratch recompute, and the changelog stream must carry
    every commit's rows."""
    from parquet_rewriter_spark.operators.cdc import COMMIT_VERSION_COL, stream_changes
    from parquet_rewriter_spark.operators.matview import MaterializedAggregate
    from parquet_rewriter_spark.table import SortedTable

    ev_batch = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = ev_batch.filter(F.col("event_id") % 2 == 0)
    tbl = SortedTable.create(
        spark, str(tmp_path / "ev_tbl2"), base, key="event_id", max_records_per_file=500
    )
    mv = MaterializedAggregate(
        tbl,
        str(tmp_path / "ev_mv"),
        group_col="user_id",
        aggs={"n": ("count",), "total": ("sum", "value")},
    )
    mv.build()

    # several micro-batches (maxFilesPerTrigger would need multi-file
    # fixtures; AvailableNow over one file gives one batch — that is
    # still a real commit through the streaming path)
    ev_stream = stream_events(spark, sf_dir).select("event_id", "user_id", "value")
    stream_merge_into_table(
        ev_stream,
        tbl,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        timeout_s=240,
        changelog=True,
    )
    res = mv.refresh()
    assert res["refreshed"]

    want = {
        (r["user_id"], r["n"], round(r["total"], 6))
        for r in tbl.read()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    got = {(r["user_id"], r["n"], round(r["total"], 6)) for r in mv.read().collect()}
    assert got == want

    # the changelog stream carries every streamed commit
    feed = run_to_memory(stream_changes(tbl), state_partitions=None)
    versions = {r[COMMIT_VERSION_COL] for r in feed.select(COMMIT_VERSION_COL).distinct().collect()}
    assert versions == set(range(1, tbl.manifest().version + 1))


def test_stream_maintain_aggregate_end_to_end(spark, tmp_path, sf_dir):
    """One call keeps a materialized aggregate current with a stream:
    micro-batches merge into the base and fold into the view."""
    from parquet_rewriter_spark.operators.matview import MaterializedAggregate
    from parquet_rewriter_spark.table import SortedTable

    ev_batch = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = ev_batch.filter(F.col("event_id") % 3 == 0)
    tbl = SortedTable.create(
        spark, str(tmp_path / "sma_tbl"), base, key="event_id", max_records_per_file=500
    )
    mv = MaterializedAggregate(
        tbl,
        str(tmp_path / "sma_mv"),
        group_col="user_id",
        aggs={"n": ("count",), "total": ("sum", "value")},
    )
    mv.build()

    ev_stream = stream_events(spark, sf_dir).select("event_id", "user_id", "value")
    from parquet_rewriter_spark.streaming import stream_maintain_aggregate

    stream_maintain_aggregate(
        ev_stream, mv, checkpoint_dir=str(tmp_path / "sma_ckpt"), timeout_s=240
    )

    want = {
        (r["user_id"], r["n"], round(r["total"], 6))
        for r in tbl.read()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    got = {(r["user_id"], r["n"], round(r["total"], 6)) for r in mv.read().collect()}
    assert got == want
    assert tbl.read().count() == ev_batch.count()


def test_stream_maintain_aggregate_refreshes_a_replayed_epoch(
    spark, tmp_path, monkeypatch
):
    """A crash after an epoch's base commit but before the view refresh:
    the replayed epoch's base merge is skipped, and the view must still
    catch up (it was the drain's last batch, so nothing else would)."""
    from parquet_rewriter_spark.operators.matview import MaterializedAggregate
    from parquet_rewriter_spark.streaming import stream_maintain_aggregate
    from parquet_rewriter_spark.table import SortedTable

    df = spark.range(0, 1_000).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit(1.0).alias("val")
    )
    tbl = SortedTable.create(spark, str(tmp_path / "base"), df, key="id",
                             max_records_per_file=250)
    mv = MaterializedAggregate(
        tbl, str(tmp_path / "mv"), group_col="grp",
        aggs={"n": ("count",), "total": ("sum", "val")},
    )
    mv.build()
    src = str(tmp_path / "src")
    df.filter(F.col("id") % 4 == 0).withColumn("grp", F.lit(42).cast("long")) \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    ckpt = str(tmp_path / "ckpt")

    def crash(self):
        raise RuntimeError("injected crash before the view refresh")

    monkeypatch.setattr(MaterializedAggregate, "refresh", crash)
    with pytest.raises(Exception, match="injected"):
        stream_maintain_aggregate(stream, mv, checkpoint_dir=ckpt, timeout_s=120)
    monkeypatch.undo()
    assert tbl.manifest().txns == {"matview_stream": 0}  # the base commit landed

    stream_maintain_aggregate(stream, mv, checkpoint_dir=ckpt, timeout_s=120)
    want = {
        (r["grp"], r["n"], r["total"])
        for r in tbl.read().groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("total")).collect()
    }
    assert {(r["grp"], r["n"], r["total"]) for r in mv.read().collect()} == want
    assert (42, 250, 250.0) in want


def test_stream_heavy_hitters_matches_exact_across_batches(spark, tmp_path, sf_dir):
    """State carries across micro-batches: 3 files, one per trigger; the
    final per-shard summaries (capacity >> distinct) hold exact counts."""
    from parquet_rewriter_spark.sources.readers import load_table
    from parquet_rewriter_spark.streaming.ops import (
        final_heavy_hitter_summary,
        run_to_memory,
        stream_heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "hh_src")
    docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    toks = stream.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    emissions = run_to_memory(
        stream_heavy_hitters(toks, "token", n_shards=4, capacity=4096),
        output_mode="update",
    )
    assert emissions.select("seq").agg(F.max("seq")).first()[0] >= 2  # multi-batch
    got = {
        r["item"]: r["count"]
        for r in final_heavy_hitter_summary(emissions).collect()
    }
    exact = {
        r["token"]: r["n"]
        for r in docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exact  # capacity exceeded distinct count → summary is exact


def test_stream_left_outer_join_emission_semantics(spark, sf_dir):
    """LEFT OUTER stream-stream join, drained with AvailableNow:

    1. every emitted matched row is a true batch-join match (no
       spurious matches, no duplicates);
    2. every emitted null row is a purchase with NO click in its
       window (nulls are never wrong);
    3. completeness without boundary fragility: null emission must be
       DOWNWARD-CLOSED in event time — every unmatched purchase at
       least as old as the youngest null actually emitted is emitted
       too (no holes), and the emitted set covers the vast majority of
       unmatched purchases (only rows near the stream's end may stay
       buffered; the exact cutoff is Spark's state-eviction cadence,
       not a contract to pin).
    """
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.sources.readers import load_table
    from parquet_rewriter_spark.streaming.ops import (
        run_to_memory,
        stream_events,
        stream_stream_interval_join,
    )

    ev_stream = stream_events(spark, sf_dir)
    purchases = ev_stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev_stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = run_to_memory(
        stream_stream_interval_join(
            purchases, clicks, key="user_id", how="left_outer"
        ).select(
            F.col("event_id").alias("pid"),
            F.col("ts").alias("pts"),
            F.col("event_id_r").alias("cid"),
        )
    ).collect()

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("ts").alias("pts"), "user_id"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("ts").alias("cts"), "user_id"
    )
    batch_pairs = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (p.user_id == c.user_id)
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    matched = {(r["pid"], r["cid"]) for r in out if r["cid"] is not None}
    assert matched == batch_pairs  # (1): inner part exact, no dups

    batch_matched_pids = {pid for pid, _ in batch_pairs}
    null_pids = [r["pid"] for r in out if r["cid"] is None]
    assert len(null_pids) == len(set(null_pids))  # each null emitted once
    assert not (set(null_pids) & batch_matched_pids)  # (2)

    null_set = set(null_pids)
    unmatched = {
        r["pid"]: r["pts"]
        for r in p.collect()
        if r["pid"] not in batch_matched_pids
    }
    assert null_set, "no outer rows emitted at all"
    youngest_emitted = max(
        r["pts"] for r in out if r["cid"] is None
    )
    holes = {
        pid for pid, pts in unmatched.items()
        if pts < youngest_emitted and pid not in null_set
    }
    assert not holes  # (3a): downward-closed, no skipped expirations
    assert len(null_set) >= 0.9 * len(unmatched), (
        len(null_set), len(unmatched)
    )  # (3b): only the stream's tail may stay buffered


def test_user_totals_tws_state_carries_across_batches(spark, tmp_path, sf_dir):
    """user_totals_tws (transformWithStateInPandas, or its semantics-
    identical fallback): 3 files → 3 triggers; the LAST emission per
    user equals the batch GROUP BY totals, and at least one user is
    touched in multiple batches (proving state accumulation, not
    per-batch recompute)."""
    from pyspark.sql import Window
    from parquet_rewriter_spark.streaming.ops import run_to_memory, user_totals_tws

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "tws_src")
    ev.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    emissions = run_to_memory(user_totals_tws(stream), output_mode="update").cache()
    # >1 emission for some user == state carried across triggers
    multi = (
        emissions.groupBy("user_id").count().filter(F.col("count") > 1).count()
    )
    assert multi > 0
    # last (= max n_events: totals only grow) emission per user == batch agg
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    last = (
        emissions.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", "n_events", "total_value")
    )
    batch = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    assert _rows(last, ["user_id", "n_events", "total_value"]) == _rows(
        batch, ["user_id", "n_events", "total_value"]
    )
    emissions.unpersist()


def test_stream_full_outer_join_emission_semantics(spark, sf_dir):
    """Full-outer stream-stream interval join: the inner part equals the
    batch join; null-extended rows on BOTH sides are only ever rows the
    batch join also leaves unmatched (never a false null for a matched
    row) — watermark-bounded state, Spark decides emission timing."""
    from parquet_rewriter_spark.streaming.ops import (
        run_to_memory,
        stream_events,
        stream_stream_interval_join,
    )

    ev_b = load_table(spark, sf_dir, "events")
    purchases_b = ev_b.filter(F.col("event_type") == "purchase")
    clicks_b = ev_b.filter(F.col("event_type") == "click")
    batch_inner = purchases_b.alias("l").join(
        clicks_b.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 30 minutes")),
    )
    matched_left = {r[0] for r in batch_inner.select("l.event_id").distinct().collect()}
    matched_right = {r[0] for r in batch_inner.select("r.event_id").distinct().collect()}

    ev = stream_events(spark, sf_dir)
    out = run_to_memory(
        stream_stream_interval_join(
            ev.filter(F.col("event_type") == "purchase"),
            ev.filter(F.col("event_type") == "click"),
            key="user_id",
            how="full_outer",
        )
    ).cache()
    # inner part == batch inner (count is pair-exact)
    inner = out.filter(F.col("event_id").isNotNull() & F.col("event_id_r").isNotNull())
    assert inner.count() == batch_inner.count()
    # a null-extended left row is never one the batch join matched
    null_left = {
        r[0]
        for r in out.filter(F.col("event_id_r").isNull())
        .select("event_id")
        .collect()
    }
    assert not (null_left & matched_left)
    # symmetric for the right side
    null_right = {
        r[0]
        for r in out.filter(F.col("event_id").isNull())
        .select("event_id_r")
        .collect()
    }
    assert not (null_right & matched_right)
    # both sides actually produced null emissions (the fixture has
    # purchases without recent clicks and clicks followed by none)
    assert null_left and null_right
    out.unpersist()


def test_user_value_ewma_multibatch_order(spark, tmp_path, sf_dir):
    """EWMA state is order-sensitive: 3 time-sliced files, one per
    trigger (so batches arrive in event-time order); the last emission
    per user equals the single-pass EWMA over the batch ordering."""
    from parquet_rewriter_spark.streaming.ops import run_to_memory, user_value_ewma

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    # time-sliced files: file i holds the i-th third of event time
    q1, q2 = (
        ev.selectExpr(
            "percentile(unix_micros(ts), 0.33) p1",
            "percentile(unix_micros(ts), 0.66) p2",
        ).first()
    )
    src = str(tmp_path / "ewma_src")
    us = F.unix_micros(F.col("ts"))
    (
        ev.withColumn(
            "slice",
            F.when(us <= q1, 0).when(us <= q2, 1).otherwise(2),
        )
        .repartition(1)
        .sortWithinPartitions("slice", "ts")
        .write.partitionBy("slice")
        .parquet(src)
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/slice=*")
    )
    from pyspark.sql import Window

    emissions = run_to_memory(user_value_ewma(stream, alpha=0.3), output_mode="update").cache()
    assert emissions.groupBy("user_id").count().filter("count > 1").count() > 0
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    last = (
        emissions.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", "n_events", "ewma")
    )
    # single-pass reference in pandas
    import pandas as pd

    pdf = ev.orderBy("ts", "event_id").toPandas()
    ref = {}
    for r in pdf.itertuples():
        n, e = ref.get(r.user_id, (0, None))
        e = float(r.value) if e is None else 0.3 * float(r.value) + 0.7 * e
        ref[r.user_id] = (n + 1, e)
    got = {r["user_id"]: (r["n_events"], r["ewma"]) for r in last.collect()}
    assert set(got) == set(ref)
    for u, (n, e) in ref.items():
        assert got[u][0] == n
        assert abs(got[u][1] - round(e, 4)) < 1e-6
    emissions.unpersist()


def test_stream_bottomk_sample_state_bounded_and_exact(spark, sf_dir, tmp_path):
    """Multi-trigger drive: with maxFilesPerTrigger the per-bucket
    state must stay ≤ k, every emission is sorted, and the recovered
    global bottom-k equals the batch answer over all input."""
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.countmin import portable_string_hash
    from parquet_rewriter_spark.sources.readers import load_table
    from parquet_rewriter_spark.streaming.ops import (
        run_to_memory,
        stream_bottomk_sample,
        stream_table,
    )

    k = 8
    ev = stream_table(spark, sf_dir, "events").select("user_id")
    drained = run_to_memory(
        stream_bottomk_sample(ev, "user_id", k=k, n_buckets=4),
        output_mode="update",
    )
    from pyspark.sql import Window as W

    per_bucket = drained.groupBy("bucket", "version").count()
    assert per_bucket.agg(F.max("count")).first()[0] <= k  # bounded state
    w = W.partitionBy("bucket")
    final = (
        drained.withColumn("vmax", F.max("version").over(w))
        .filter("version = vmax")
    )
    got = [
        (r["id"], r["h"])
        for r in final.orderBy("h", "id").limit(k).collect()
    ]
    batch = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("id"))
        .distinct()
        .withColumn("h", portable_string_hash(F.col("id")))
        .orderBy("h", "id").limit(k)
    )
    exp = [(r["id"], r["h"]) for r in batch.collect()]
    assert got == exp
