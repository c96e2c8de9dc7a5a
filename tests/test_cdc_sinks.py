"""Change-data-feed between snapshots + partitioned sinks.

snapshot_diff must recover exactly the applied mutation set (the
inverse of the reference's validateMutations reconstruction,
ParquetRewriterTests.java:215-244), reading only churned files.
Dynamic partition overwrite must leave untouched partitions
byte-identical on disk.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parquet_rewriter_spark.operators.cdc import snapshot_diff
from parquet_rewriter_spark.operators.merge import OP_COLUMN, OP_DELETE, OP_UPSERT, merge_into_table
from parquet_rewriter_spark.sources.readers import load_table
from parquet_rewriter_spark.sources.sinks import overwrite_partitions, write_partitioned
from parquet_rewriter_spark.table import SortedTable


@pytest.fixture()
def table(spark, tmp_path, sf_dir):
    orders = load_table(spark, sf_dir, "orders").limit(1000)
    return SortedTable.create(
        spark, str(tmp_path / "cdc"), orders, key="o_orderkey", max_records_per_file=200
    )


def test_snapshot_diff_recovers_mutation_set(spark, table):
    base = table.read()
    ups = (
        base.filter(F.col("o_orderkey") < 20)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    ins = (
        base.filter(F.col("o_orderkey") < 5)
        .withColumn("o_orderkey", F.col("o_orderkey") - F.lit(10_000))
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    dels = base.filter(F.col("o_orderkey").between(20, 39)).withColumn(
        OP_COLUMN, F.lit(OP_DELETE)
    )
    merge_into_table(table, ups.unionByName(ins).unionByName(dels))

    feed = snapshot_diff(table, from_version=0, to_version=1)
    got = {
        (r["o_orderkey"], r["_change_type"]) for r in feed.select("o_orderkey", "_change_type").collect()
    }
    want = (
        {(k, "update_postimage") for k in range(20)}
        | {(k - 10_000, "insert") for k in range(5)}
        | {(k, "delete") for k in range(20, 40)}
    )
    assert got == want

    # postimage payloads: updates carry the NEW price, deletes the OLD row
    old_price = {r["o_orderkey"]: r["o_totalprice"] for r in base.filter(F.col("o_orderkey") < 40).collect()}
    for r in feed.filter(F.col("_change_type") == "update_postimage").collect():
        assert r["o_totalprice"] == pytest.approx(old_price[r["o_orderkey"]] + 1000.0)
    for r in feed.filter(F.col("_change_type") == "delete").collect():
        assert r["o_totalprice"] == pytest.approx(old_price[r["o_orderkey"]])


def test_snapshot_diff_reads_only_churned_files(spark, table):
    """A one-key mutation must not scan clean files: the diff plan's
    parquet scans cover removed+added files only."""
    base = table.read()
    one = base.filter(F.col("o_orderkey") == 0).withColumn(
        "o_totalprice", F.lit(123.0)
    ).withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    metrics = merge_into_table(table, one)
    assert metrics["files_clean_passthrough"] > 0

    m0, m1 = table.manifest(0), table.manifest(1)
    churned = ({e.name for e in m0.files} ^ {e.name for e in m1.files})
    feed = snapshot_diff(table, 0, 1)
    rows = feed.collect()
    assert {(r["o_orderkey"], r["_change_type"]) for r in rows} == {(0, "update_postimage")}
    # every file the diff plan reads is a churned file — clean files
    # are never opened, so the feed costs O(dirty bytes)
    scanned = {os.path.basename(p) for p in feed.inputFiles()}
    assert scanned == churned


def test_snapshot_diff_empty_when_no_changes(spark, table):
    merge_into_table(table, table.read().limit(0).withColumn(OP_COLUMN, F.lit(OP_UPSERT)))
    assert snapshot_diff(table, 0).count() == 0


def _part_files(path: str) -> dict[str, tuple]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_mtime_ns, st.st_size)
    return out


def test_dynamic_partition_overwrite_touches_only_incoming(spark, tmp_path, sf_dir):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    sink = str(tmp_path / "events_by_month")
    write_partitioned(orders, sink, ["o_month"])
    before = _part_files(sink)
    months = sorted({r["o_month"] for r in orders.select("o_month").distinct().collect()})
    target = months[0]

    patch = orders.filter(F.col("o_month") == target).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    overwrite_partitions(patch, sink, ["o_month"])
    after = _part_files(sink)

    untouched_before = {k: v for k, v in before.items() if f"o_month={target}" not in k}
    untouched_after = {k: v for k, v in after.items() if f"o_month={target}" not in k}
    assert untouched_before == untouched_after  # same files, same mtimes/sizes

    got = spark.read.parquet(sink)
    assert got.filter(F.col("o_month") == target).agg(F.sum("o_totalprice")).head()[0] == 0.0
    n_other = orders.filter(F.col("o_month") != target).count()
    assert got.filter(F.col("o_month") != target).count() == n_other


# ---------------- write-side changelog + streaming tail ----------------


def test_overwrite_partitions_rewrites_with_fresh_file_names(spark, tmp_path):
    """overwrite_partitions contract: a partition it WRITES comes back
    with FRESH part-file names (task-UUID naming), while a partition
    absent from the written frame keeps its files untouched (dynamic
    overwrite). Callers may therefore tell a rewritten partition from
    a skipped one by its file set."""
    path = str(tmp_path / "part_table")
    df = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c")], "bucket int, v string"
    )
    overwrite_partitions(df, path, ["bucket"])

    def files_of(b: int) -> frozenset:
        return frozenset(
            f for f in os.listdir(os.path.join(path, f"bucket={b}"))
            if not f.startswith(("_", "."))
        )

    before_0, before_1 = files_of(0), files_of(1)
    assert before_0 and before_1
    # rewrite bucket 0 with IDENTICAL content; bucket 1 untouched
    overwrite_partitions(
        df.filter(F.col("bucket") == 0), path, ["bucket"]
    )
    after_0, after_1 = files_of(0), files_of(1)
    # the written partition carries fresh names — zero overlap
    assert after_0 and not (after_0 & before_0), (before_0, after_0)
    # the skipped partition is bit-for-bit untouched
    assert after_1 == before_1


def test_changelog_written_and_streamed(spark, table):
    from parquet_rewriter_spark.operators.cdc import (
        CHANGE_TYPE_COL,
        CHANGELOG_DIR,
        COMMIT_VERSION_COL,
        stream_changes,
    )
    from parquet_rewriter_spark.streaming import run_to_memory

    base = table.read()
    ups = (
        base.filter(F.col("o_orderkey") % 100 == 9)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    merge_into_table(table, ups, changelog=True)
    dels = base.filter(F.col("o_orderkey") % 100 == 42).withColumn(
        OP_COLUMN, F.lit(OP_DELETE)
    )
    merge_into_table(table, dels, changelog=True)

    assert os.path.isdir(os.path.join(table.path, CHANGELOG_DIR))
    out = run_to_memory(stream_changes(table), state_partitions=None)
    rows = out.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r[CHANGE_TYPE_COL], []).append(r)
    assert len(by_type["update_preimage"]) == len(by_type["update_postimage"]) == 10
    assert len(by_type["delete"]) == 10
    assert all(r[COMMIT_VERSION_COL] == 1 for r in by_type["update_postimage"])
    assert all(r[COMMIT_VERSION_COL] == 2 for r in by_type["delete"])
    pre = {r["o_orderkey"]: r["o_totalprice"] for r in by_type["update_preimage"]}
    post = {r["o_orderkey"]: r["o_totalprice"] for r in by_type["update_postimage"]}
    assert all(post[k] == pre[k] * 2 for k in pre)


def test_vacuum_keeps_changelog(spark, table):
    from parquet_rewriter_spark.operators.cdc import CHANGELOG_DIR
    from parquet_rewriter_spark.stats import list_parquet_files

    base = table.read()
    ups = (
        base.filter(F.col("o_orderkey") % 100 == 7)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    merge_into_table(table, ups, changelog=True)
    log_dir = os.path.join(table.path, CHANGELOG_DIR)
    log_files_before = sorted(
        f for f in os.listdir(log_dir) if f.endswith(".parquet")
    )
    assert log_files_before
    removed = table.vacuum(retain_versions=1)
    assert removed  # the rewritten files' old versions are gone...
    log_files_after = sorted(
        f for f in os.listdir(log_dir) if f.endswith(".parquet")
    )
    assert log_files_after == log_files_before  # ...the changelog is not
    # and list_parquet_files never reports changelog files as table data
    assert all(
        not p.startswith(log_dir + os.sep) for p in list_parquet_files(table.path)
    )


def test_snapshot_diff_across_schema_evolution(spark, table):
    """Diffing across an additive-evolution commit: old files lack the
    new column; the feed must render them in the CURRENT schema with
    nulls, not fail."""
    base = table.read()
    ups = (
        base.filter(F.col("o_orderkey") < 10)
        .withColumn("vip_tier", F.lit("gold"))
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    merge_into_table(table, ups)  # widens the schema
    feed = snapshot_diff(table, 0, 1, include_preimage=True).collect()
    pre = [r for r in feed if r["_change_type"] == "update_preimage"]
    post = [r for r in feed if r["_change_type"] == "update_postimage"]
    assert len(pre) == len(post) == 10
    assert all(r["vip_tier"] is None for r in pre)  # preimage: column null-filled
    assert all(r["vip_tier"] == "gold" for r in post)
