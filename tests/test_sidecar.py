"""Shared sidecar plumbing (operators/sidecar.py): the broadcast
semi-join file filter that replaces O(live-file-count) IN-list
literals, the static registry, and the commit-time upkeep that keeps
every registered sidecar complete on every commit path."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from parquet_rewriter_spark.operators.sidecar import (
    have_files,
    semi_join_files,
)
from parquet_rewriter_spark.plans import plan_of


def test_semi_join_files_is_broadcast_join_not_in_list(spark):
    """At 1k (or 10^6) live files the keep-filter must be a broadcast
    LEFT-SEMI JOIN — the names travel as broadcast DATA, the plan stays
    O(1) — never an In(file, [name0, ..., nameN]) literal whose
    analysis/codegen cost grows with the manifest."""
    df = spark.createDataFrame(
        [Row(file=f"part-{i:05d}.parquet", n=i) for i in range(50)]
    )
    names = [f"part-{i:05d}.parquet" for i in range(0, 2000, 2)]
    out = semi_join_files(df, names)
    p = plan_of(out)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    # no giant literal membership predicate anywhere in the plan
    assert "part-00002.parquet, part-00004" not in p, p
    assert out.count() == 25  # files 0,2,...,48 present in df


def test_semi_join_files_filters_correctly(spark):
    df = spark.createDataFrame(
        [Row(file="a", v=1), Row(file="b", v=2), Row(file="c", v=3)]
    )
    kept = semi_join_files(df, {"b", "c", "zz"})
    assert {r["file"] for r in kept.collect()} == {"b", "c"}


def test_semi_join_files_small_sets_stay_in_list(spark):
    """Below IN_LIST_MAX the filter must stay a plain isin (InSet) —
    the cheapest plan at toy manifests; the broadcast join is the
    LARGE-manifest escape, not a tax on every 9-file table."""
    df = spark.createDataFrame([Row(file=f"f{i}", v=i) for i in range(20)])
    out = semi_join_files(df, [f"f{i}" for i in range(10)])
    p = plan_of(out)
    assert "Join" not in p, p
    assert out.count() == 10


def test_all_sidecars_registered():
    """The registry must list every sidecar directory in a FRESH
    interpreter that imported nothing else — vacuum, replicas, commit
    upkeep and maintain() walk exactly this list, so a missing entry
    means dead rows accrete forever. A subprocess keeps earlier test
    imports from hiding a gap that only import order would fill."""
    import subprocess
    import sys

    code = (
        "from parquet_rewriter_spark.operators.sidecar import SIDECAR_DIRS;"
        "print(sorted(SIDECAR_DIRS))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True,
    ).stdout.strip()
    assert out == str(
        sorted(["_blooms", "_covstats", "_distinct", "_driftstats",
                "_tokenstats"])
    )


def test_have_files_single_and_multi_column(spark, tmp_path):
    import os

    class T:
        path = str(tmp_path)

    T.spark = spark
    side = os.path.join(str(tmp_path), "_x")
    spark.createDataFrame(
        [Row(file="f1", col="a"), Row(file="f1", col="a"),
         Row(file="f2", col="b")]
    ).write.parquet(side)
    assert have_files(T, "_x") == {"f1", "f2"}
    assert have_files(T, "_x", where=F.col("col") == "a") == {"f1"}
    assert have_files(T, "_x", cols=("file", "col")) == {
        ("f1", "a"), ("f2", "b")
    }
    assert have_files(T, "_nope") == set()


EDGES = [3, 6, 9]


def _registered_table(spark, path):
    """A 6-file table with bloom + distinct sketch + drift registered."""
    from parquet_rewriter_spark.operators.distinct_sketch import (
        enable_distinct_sketches,
    )
    from parquet_rewriter_spark.operators.driftstats import (
        enable_drift_monitor,
    )
    from parquet_rewriter_spark.table import SortedTable

    df = spark.range(6_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 37).alias("grp"),
        (F.col("id") % 13).alias("v"),
    )
    t = SortedTable.create(
        spark, path, df, key="k", max_records_per_file=1_000,
        bloom_cols=["grp"],
    )
    enable_distinct_sketches(t, ["grp"])
    enable_drift_monitor(t, "v", "grp", EDGES)
    return t


def _merge(spark, t, keys, splice):
    from parquet_rewriter_spark.operators.merge import merge_into_table

    muts = spark.createDataFrame(
        [(k, 99, 12) for k in keys], "k long, grp long, v long"
    )
    return merge_into_table(t, muts, allow_splice=splice)


@pytest.mark.parametrize("op", ["distributed_merge", "splice_merge", "compact"])
def test_every_commit_path_leaves_sidecars_complete(spark, tmp_path, monkeypatch, op):
    """Whatever path commits, every live file of the new version has
    rows in every registered sidecar at commit time — the readers'
    self-heal builders are made to raise, so any gap fails here
    instead of being quietly paid for by the next read."""
    from parquet_rewriter_spark.operators import distinct_sketch, driftstats
    from parquet_rewriter_spark.operators.bloom import BLOOM_DIR
    from parquet_rewriter_spark.operators.compact import compact

    t = _registered_table(spark, str(tmp_path / "t"))
    before = {e.name for e in t.manifest().files}
    if op == "distributed_merge":
        res = _merge(spark, t, range(0, 6_000, 7), splice=False)
        assert res["path"] == "distributed"
    elif op == "splice_merge":
        res = _merge(spark, t, [5, 17], splice=True)
        assert res["path"] == "rowgroup_splice"
    else:
        compact(t, max_records_per_file=1_500)
    m = t.manifest()
    live = {e.name for e in m.files}
    assert live - before, "the operation wrote no new file"

    assert live <= have_files(t, BLOOM_DIR, where=F.col("col") == "grp")
    assert live <= have_files(
        t, distinct_sketch.SKETCH_DIR, where=F.col("col") == "grp"
    )
    sid = driftstats._spec_id("v", "grp", EDGES)
    assert live <= driftstats._have_files(t, sid)

    def no_heal(*a, **kw):
        raise AssertionError("read had to self-heal a missing sidecar row")

    monkeypatch.setattr(distinct_sketch, "_build_for", no_heal)
    monkeypatch.setattr(driftstats, "_build_for", no_heal)
    assert distinct_sketch.approx_distinct_range(t, "grp") > 0
    assert driftstats.psi_from_stats(t, "v", "grp", EDGES).count() > 0
