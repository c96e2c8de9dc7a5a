"""Incremental materialized aggregate: exactness vs full recompute,
churn-proportional refresh, and the preimage CDC form it rides on."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from parquet_rewriter_spark.operators.cdc import snapshot_diff
from parquet_rewriter_spark.operators.matview import MaterializedAggregate
from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
from parquet_rewriter_spark.table import SortedTable


@pytest.fixture()
def base(spark, tmp_path):
    df = spark.range(0, 10_000).select(
        F.col("id"),
        (F.col("id") % 50).alias("grp"),
        (F.col("id") * 1.5).alias("val"),
    )
    return SortedTable.create(
        spark, str(tmp_path / "base"), df, key="id", max_records_per_file=1_000
    )


def _mv(base, tmp_path):
    return MaterializedAggregate(
        base,
        str(tmp_path / "mv"),
        group_col="grp",
        aggs={"n": ("count",), "total": ("sum", "val")},
    )


def _expected(base):
    return {
        (r["grp"], r["n"], round(r["total"], 6))
        for r in base.read()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("total"))
        .collect()
    }


def _actual(mv):
    return {(r["grp"], r["n"], round(r["total"], 6)) for r in mv.read().collect()}


def test_snapshot_diff_preimage_form(spark, base):
    muts = (
        base.read()
        .filter(F.col("id") % 1000 == 1)
        .withColumn("val", F.col("val") + 10.0)
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(base, muts)
    feed = snapshot_diff(base, 0, 1, include_preimage=True)
    rows = feed.collect()
    pre = [r for r in rows if r["_change_type"] == "update_preimage"]
    post = [r for r in rows if r["_change_type"] == "update_postimage"]
    assert len(pre) == len(post) == 10
    by_id_pre = {r["id"]: r["val"] for r in pre}
    by_id_post = {r["id"]: r["val"] for r in post}
    assert all(by_id_post[i] == by_id_pre[i] + 10.0 for i in by_id_pre)
    # default form stays postimage-only (existing consumers unchanged)
    assert snapshot_diff(base, 0, 1).filter(
        F.col("_change_type") == "update_preimage"
    ).count() == 0


def test_refresh_matches_full_recompute(spark, base, tmp_path):
    mv = _mv(base, tmp_path)
    mv.build()
    assert _actual(mv) == _expected(base)

    # one batch of updates + deletes + inserts
    src = base.read()
    ups = (
        src.filter(F.col("id") % 10 == 3)
        .withColumn("val", F.col("val") * 2)
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    ins = (
        src.filter(F.col("id") < 20)
        .withColumn("id", F.col("id") + 1_000_000)
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    dels = src.filter(F.col("id") % 10 == 7).withColumn(OP_COLUMN, F.lit("DELETE"))
    merge_into_table(base, ups.unionByName(ins).unionByName(dels))

    res = mv.refresh()
    assert res["refreshed"]
    assert _actual(mv) == _expected(base)


def test_refresh_deletes_emptied_groups(spark, base, tmp_path):
    mv = _mv(base, tmp_path)
    mv.build()
    # delete EVERY row of groups 0 and 1 (ids ≡ 0,1 mod 50)
    dels = (
        base.read()
        .filter((F.col("id") % 50).isin(0, 1))
        .withColumn(OP_COLUMN, F.lit("DELETE"))
    )
    merge_into_table(base, dels)
    mv.refresh()
    got = _actual(mv)
    assert {g for g, _, _ in got} == set(range(2, 50))
    assert got == _expected(base)


def test_refresh_is_noop_without_commits(spark, base, tmp_path):
    mv = _mv(base, tmp_path)
    mv.build()
    res = mv.refresh()
    assert res == {"refreshed": False, "base_from": 0, "base_to": 0}


def test_refresh_folds_multiple_commits(spark, base, tmp_path):
    mv = _mv(base, tmp_path)
    mv.build()
    for k in (3, 4):
        muts = (
            base.read()
            .filter(F.col("id") % 100 == k)
            .withColumn("val", F.col("val") + 1.0)
            .withColumn(OP_COLUMN, F.lit("UPSERT"))
        )
        merge_into_table(base, muts)
    res = mv.refresh()
    assert res["base_from"] == 0 and res["base_to"] == 2
    assert _actual(mv) == _expected(base)


def test_refresh_cost_tracks_churn(spark, tmp_path):
    """A tiny base mutation must NOT rewrite the whole view: the view
    merge's dirty-file count stays below its file total."""
    df = spark.range(0, 50_000).select(
        F.col("id"), F.col("id").alias("grp"), F.lit(1.0).alias("val")
    )  # grp == id → 50k groups, so the view itself spans many files
    base = SortedTable.create(
        spark, str(tmp_path / "b2"), df, key="id", max_records_per_file=5_000
    )
    mv = MaterializedAggregate(
        base,
        str(tmp_path / "mv2"),
        group_col="grp",
        aggs={"n": ("count",), "total": ("sum", "val")},
        max_records_per_file=5_000,
    )
    mv.build()
    mv_files = len(mv.table().manifest().files)
    assert mv_files >= 10
    muts = (
        base.read()
        .filter(F.col("id").between(7_000, 7_009))
        .withColumn("val", F.lit(5.0))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(base, muts)
    res = mv.refresh()
    assert res["files_dirty"] <= 2  # 10 adjacent groups → 1-2 view files touched
    assert res["files_clean_passthrough"] >= mv_files - 2


def test_refresh_rebuilds_after_history_vacuum(spark, base, tmp_path):
    """If base history was vacuumed past the view's refresh point, the
    delta is unrecoverable — refresh must fall back to a full rebuild
    and still produce the exact aggregate."""
    mv = _mv(base, tmp_path)
    mv.build()
    for k in (1, 2):
        muts = (
            base.read()
            .filter(F.col("id") % 500 == k)
            .withColumn("val", F.col("val") + 10.0)
            .withColumn(OP_COLUMN, F.lit("UPSERT"))
        )
        merge_into_table(base, muts)
    base.vacuum(retain_versions=1)  # drops v0/v1 snapshots
    res = mv.refresh()
    assert res["refreshed"] and res.get("rebuilt")
    assert _actual(mv) == _expected(base)
    # and incremental refresh works again afterwards
    muts = (
        base.read()
        .filter(F.col("id") % 500 == 3)
        .withColumn("val", F.col("val") + 1.0)
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(base, muts)
    res2 = mv.refresh()
    assert res2["refreshed"] and not res2.get("rebuilt")
    assert _actual(mv) == _expected(base)


def test_watermark_commits_with_the_view(spark, base, tmp_path):
    mv = _mv(base, tmp_path)
    mv.build()
    assert mv.table().manifest().txns == {"matview": 0}
    assert not os.path.exists(os.path.join(mv.path, "_mv_state.json"))
    merge_into_table(
        base,
        base.read().filter(F.col("id") < 10).withColumn("val", F.lit(0.0))
        .withColumn(OP_COLUMN, F.lit("UPSERT")),
    )
    mv.refresh()
    assert mv.table().manifest().txns == {"matview": 1}


def test_crash_after_view_commit_does_not_double_count(
    spark, base, tmp_path, monkeypatch
):
    """The refresh dies right after the view merge returns: the view
    already holds the deltas, and the next refresh must not add them
    again — the watermark committed with them."""
    from parquet_rewriter_spark.operators import matview

    mv = _mv(base, tmp_path)
    mv.build()
    # 100 rows move to a new group; the groups they leave shrink
    merge_into_table(
        base,
        base.read().filter(F.col("id") < 100).withColumn("grp", F.lit(777).cast("long"))
        .withColumn(OP_COLUMN, F.lit("UPSERT")),
    )
    real = matview.merge_into_table

    def commit_then_crash(*a, **k):
        real(*a, **k)
        raise RuntimeError("injected crash after the view commit")

    monkeypatch.setattr(matview, "merge_into_table", commit_then_crash)
    with pytest.raises(RuntimeError, match="injected"):
        mv.refresh()
    monkeypatch.undo()
    mv.refresh()
    got = _actual(mv)
    assert got == _expected(base)
    assert {n for g, n, _ in got if g == 777} == {100}


def test_empty_delta_leaves_watermark_behind_and_stays_exact(spark, base, tmp_path):
    """A base commit with no net row change gives an empty delta: the
    view merge commits nothing, so the watermark stays at the older
    version. The next refresh diffs from there — snapshot_diff compares
    two snapshots, it does not replay a log — and is still exact."""
    mv = _mv(base, tmp_path)
    mv.build()
    same = base.read().filter(F.col("id") < 50).withColumn(OP_COLUMN, F.lit("UPSERT"))
    merge_into_table(base, same)  # rewrites a file, changes no row
    assert base.manifest().version == 1
    res = mv.refresh()
    assert res["refreshed"] and res["files_written"] == 0
    assert mv.table().manifest().version == 0
    assert mv.table().manifest().txns == {"matview": 0}

    merge_into_table(
        base,
        base.read().filter(F.col("id") % 100 == 7).withColumn("val", F.col("val") + 1.0)
        .withColumn(OP_COLUMN, F.lit("UPSERT")),
    )
    res = mv.refresh()
    assert (res["base_from"], res["base_to"]) == (0, 2)
    assert mv.table().manifest().txns == {"matview": 2}
    assert _actual(mv) == _expected(base)
