"""Snapshot versioning: every commit retains an immutable manifest, so
readers can pin a version (time travel) and vacuum GCs history."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_rewriter_spark.operators.compact import compact
from parquet_rewriter_spark.operators.merge import OP_COLUMN, OP_DELETE, OP_UPSERT, merge_into_table
from parquet_rewriter_spark.sources.readers import load_table
from parquet_rewriter_spark.table import SortedTable


@pytest.fixture()
def table(spark, tmp_path, sf_dir):
    orders = load_table(spark, sf_dir, "orders").limit(1000)
    return SortedTable.create(
        spark, str(tmp_path / "tt"), orders, key="o_orderkey", max_records_per_file=200
    )


def _mut(spark, table, keys, op):
    base = table.read()
    return base.filter(F.col("o_orderkey").isin(keys)).withColumn(OP_COLUMN, F.lit(op))


def test_read_pinned_version_sees_old_data(spark, table):
    n0 = table.read().count()
    merge_into_table(table, _mut(spark, table, list(range(100)), OP_DELETE))
    assert table.read().count() == n0 - 100
    # v0 snapshot still intact
    assert table.read(version=0).count() == n0
    assert table.versions() == [0, 1]


def test_version_history_chains_through_merge_and_compact(spark, table):
    merge_into_table(table, _mut(spark, table, [1, 2, 3], OP_DELETE))
    compact(table, max_records_per_file=1000)
    assert table.versions() == [0, 1, 2]
    assert table.read(version=0).count() == table.read(version=1).count() + 3
    assert table.read(version=2).count() == table.read(version=1).count()


def test_vacuum_retains_requested_history(spark, table):
    n0 = table.read().count()
    merge_into_table(table, _mut(spark, table, list(range(50)), OP_DELETE))
    merge_into_table(table, _mut(spark, table, list(range(50, 80)), OP_DELETE))
    assert table.versions() == [0, 1, 2]

    table.vacuum(retain_versions=2)  # keep v1 + v2
    assert table.versions() == [1, 2]
    assert table.read(version=1).count() == n0 - 50
    with pytest.raises(ValueError, match="no snapshot v0"):
        table.read(version=0)

    removed = table.vacuum(retain_versions=1)  # only current
    assert table.versions() == [2]
    assert table.read().count() == n0 - 80
    # current snapshot unaffected by either vacuum
    assert removed is not None


def test_vacuum_never_deletes_files_of_retained_versions(spark, table):
    merge_into_table(table, _mut(spark, table, list(range(100)), OP_DELETE))
    table.vacuum(retain_versions=2)
    # both snapshots still fully readable after GC
    assert table.read(version=0).count() == table.read(version=1).count() + 100


def test_read_range_prunes_files_on_the_driver(spark, table):
    """Manifest pruning: the scan's inputFiles must be exactly the files
    whose key range overlaps the bound, and results must match a full
    read + filter."""
    m = table.manifest()
    lo, hi = 250, 449
    overlapping = {
        e.name for e in m.files if e.key_min <= hi and e.key_max >= lo
    }
    assert 0 < len(overlapping) < len(m.files), "bound should prune something"

    df = table.read_range(lo, hi)
    scanned = {p.rsplit("/", 1)[-1] for p in df.inputFiles()}
    assert scanned == overlapping

    expect = sorted(
        r.o_orderkey
        for r in table.read().filter(F.col("o_orderkey").between(lo, hi)).collect()
    )
    got = sorted(r.o_orderkey for r in df.collect())
    assert got == expect and got[0] >= lo and got[-1] <= hi


def test_read_range_open_bounds_and_miss(spark, table):
    n = table.read().count()
    assert table.read_range(None, None).count() == n
    assert table.read_range(500, None).count() == n - 500
    assert table.read_range(None, 99).count() == 100
    empty = table.read_range(10_000_000, 20_000_000)
    assert empty.count() == 0
    assert empty.schema == table.read().schema


def test_read_asof_timestamp(spark, tmp_path):
    import datetime as dt

    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
    from parquet_rewriter_spark.table import SortedTable
    from pyspark.sql import functions as F

    df = spark.range(0, 1_000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t = SortedTable.create(spark, str(tmp_path / "asof"), df, key="id")
    t0 = dt.datetime.now(dt.timezone.utc)
    muts = (
        spark.range(0, 10)
        .select(F.col("id"), F.lit(-1).cast("long").alias("v"))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(t, muts)

    # as of "now" → v1 (mutated); as of the pre-merge instant → v0
    assert t.version_asof(dt.datetime.now(dt.timezone.utc)) == 1
    assert t.version_asof(t0) == 0
    assert t.read_asof(t0).filter(F.col("v") < 0).count() == 0
    assert t.read_asof(dt.datetime.now(dt.timezone.utc)).filter(F.col("v") < 0).count() == 10
    # ISO-string form and naive-UTC form both accepted
    assert t.version_asof(t0.isoformat()) == 0
    assert t.version_asof(t0.replace(tzinfo=None)) == 0
    # before table creation → no snapshot
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.version_asof(t0 - dt.timedelta(days=1))


def test_commit_conflict_detection(spark, tmp_path):
    """Two writers racing to the same version: the loser must get
    CommitConflictError, the winner's manifest must stand, and the
    loser's orphaned data files must be vacuumable."""
    import json
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
    from parquet_rewriter_spark.table import CommitConflictError, SortedTable

    df = spark.range(0, 2_000).select(F.col("id"), (F.col("id") * 3).alias("v"))
    t = SortedTable.create(spark, str(tmp_path / "occ"), df, key="id")

    # simulate a competing writer claiming version 1 while the merge
    # runs: after it planned against v0, before its own claim (a claim
    # made before the merge starts is simply the current version)
    winner = t.manifest()
    winner.version = 1
    adopt = t._adopt_staged

    def adopt_then_lose_the_race(*a, **k):
        out = adopt(*a, **k)
        with open(os.path.join(t.path, "_manifest.v1.json"), "w") as fh:
            fh.write(winner.to_json())
        return out

    t._adopt_staged = adopt_then_lose_the_race

    muts = (
        spark.range(0, 5)
        .select(F.col("id"), F.lit(0).cast("long").alias("v"))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    n_files_before = len(t.manifest().files)
    with _pytest.raises(CommitConflictError):
        merge_into_table(t, muts, allow_splice=False)

    # the pointer manifest was not clobbered...
    assert json.loads(open(t._manifest_path).read())["version"] == 0
    # ...and the loser's staged-but-uncommitted files are garbage-collectable
    removed = t.vacuum(retain_versions=10)
    assert removed  # orphans swept
    assert len(t.manifest().files) == n_files_before
    assert t.read().count() == 2_000


def test_history_and_operations(spark, tmp_path):
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.compact import compact_incremental
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    df = spark.range(0, 3_000).select(F.col("id"), (F.col("id") % 9).alias("v"))
    t = SortedTable.create(spark, str(tmp_path / "hist"), df, key="id",
                           max_records_per_file=500)
    for lo in (10_000, 20_000):  # two undersized tail inserts → healable
        muts = (
            spark.range(lo, lo + 40)
            .select(F.col("id"), (F.col("id") % 9).alias("v"))
            .withColumn(OP_COLUMN, F.lit("UPSERT"))
        )
        merge_into_table(t, muts, allow_splice=False)
    compact_incremental(t, target_records_per_file=500, min_fill=0.9)

    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2, 3]
    assert [e["operation"] for e in h] == [
        "create", "merge", "merge", "compact-incremental",
    ]
    assert h[0]["rows"] == 3_000 and h[2]["rows"] == 3_080 == h[3]["rows"]
    times = [e["committed_at"] for e in h]
    assert all(times) and times == sorted(times)  # monotonic commit clock


def test_concurrent_merges_one_wins_retry_succeeds(spark, tmp_path):
    """Two real threads race a merge into the same table: at most one
    commit per version claim, and with retries BOTH mutation sets land."""
    import threading

    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_with_retry
    from parquet_rewriter_spark.table import SortedTable

    df = spark.range(0, 5_000).select(F.col("id"), F.lit(0).cast("long").alias("src"))
    t = SortedTable.create(spark, str(tmp_path / "race"), df, key="id",
                           max_records_per_file=1_000)

    errs = []

    def writer(tag: int, lo: int, hi: int):
        try:
            muts = (
                spark.range(lo, hi)
                .select(F.col("id"), F.lit(tag).cast("long").alias("src"))
                .withColumn(OP_COLUMN, F.lit("UPSERT"))
            )
            merge_with_retry(t, muts, attempts=5, allow_splice=False)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(1, 100, 200))
    t2 = threading.Thread(target=writer, args=(2, 3_100, 3_200))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    got = t.read()
    assert got.count() == 5_000
    assert got.filter(F.col("src") == 1).count() == 100
    assert got.filter(F.col("src") == 2).count() == 100
    assert t.manifest().version == 2  # two commits, serialized by the claim


def test_clone_is_zero_copy_and_independent(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    df = spark.range(0, 4_000).select(F.col("id"), (F.col("id") * 7).alias("v"))
    src = SortedTable.create(
        spark, str(tmp_path / "src"), df, key="id", max_records_per_file=1_000
    )
    dst = src.clone(str(tmp_path / "dst"))

    # same content, hard-linked files (no byte copies)
    assert dst.read().count() == 4_000
    for e in dst.manifest().files:
        s = os.stat(os.path.join(dst.path, e.name))
        assert s.st_nlink >= 2
    assert dst.manifest().operation.startswith("clone of ")

    # mutate the clone: source unaffected (merges write NEW files)
    muts = (
        spark.range(0, 10)
        .select(F.col("id"), F.lit(-1).cast("long").alias("v"))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(dst, muts, allow_splice=False)
    assert dst.read().filter(F.col("v") < 0).count() == 10
    assert src.read().filter(F.col("v") < 0).count() == 0

    # vacuum the SOURCE: clone still reads (links keep bytes alive)
    merge_into_table(src, muts, allow_splice=False)
    src.vacuum(retain_versions=1)
    assert dst.read().count() == 4_000


def test_vacuum_time_based_retention_keeps_asof_reads(spark, sf_dir, tmp_path):
    """retain_asof must keep every snapshot committed at/after the cut
    PLUS the straddling one before it, so read_asof(t) works for every
    t >= cut; older history is collected."""
    import datetime

    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.sources.readers import load_table
    from parquet_rewriter_spark.table import SortedTable

    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "tt"), o, key="o_orderkey",
                           max_records_per_file=500)
    for k in (1, 2):
        muts = o.filter(F.col("o_orderkey") % (k * 5) == 0).withColumn(
            "o_totalprice", F.lit(float(k))
        ).withColumn("op", F.lit("UPSERT"))
        merge_into_table(t, muts)
    versions = t.versions()
    assert len(versions) == 3  # v0 create + 2 merges
    # cut strictly after v1's commit: v0 collected, v1 kept (straddler), v2 kept
    cut_iso = t.manifest(versions[1]).committed_at
    cut = datetime.datetime.fromisoformat(cut_iso) + datetime.timedelta(microseconds=1)
    t.vacuum(retain_versions=1, retain_asof=cut)
    assert t.versions() == versions[1:]
    # as-of reads at/after the cut still resolve (to the straddler)
    assert t.read_asof(cut).count() == t.read(version=versions[1]).count()
    # reads of the collected snapshot fail like any vacuumed time travel
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.manifest(versions[0])


def test_fsck_detects_and_repairs_write_debris(spark, tmp_path):
    """Crashed-writer debris (staging dirs, splice tmp, race-lost data
    files) must be detected, and repaired only once stale; manifest-
    referenced files and live data are never touched."""
    import os

    from pyspark.sql import functions as F

    from parquet_rewriter_spark.table import SortedTable

    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t = SortedTable.create(spark, str(tmp_path / "t"), df, key="k",
                           max_records_per_file=50)
    # plant debris
    os.makedirs(os.path.join(t.path, "_staging-deadbeef"))
    open(os.path.join(t.path, "_splice-part-x.parquet"), "wb").write(b"x")
    open(os.path.join(t.path, "part-orphan00.parquet"), "wb").write(b"x")
    open(os.path.join(t.path, "_manifest.json.tmp-crashed"), "w").write("{}")
    # directory-shaped sidecar-vacuum debris: a crashed vacuum leaves a
    # parquet DIR under .tmp-* (before the swap) or .old-* (between the
    # two renames) — both must be collected, with rmtree not os.remove
    for dirname in ("_blooms.tmp-crashvac", "_distinct.old-crashvac"):
        os.makedirs(os.path.join(t.path, dirname))
        open(os.path.join(t.path, dirname, "part-0.parquet"), "wb").write(b"x")

    rep = t.fsck()
    assert rep["orphan_staging"] == ["_staging-deadbeef"]
    assert "_splice-part-x.parquet" in rep["orphan_tmp"]
    assert "_manifest.json.tmp-crashed" in rep["orphan_tmp"]
    assert "_blooms.tmp-crashvac" in rep["orphan_tmp"]
    assert "_distinct.old-crashvac" in rep["orphan_tmp"]
    assert rep["orphan_data"] == ["part-orphan00.parquet"]
    assert rep["missing"] == []

    # too fresh to repair: nothing deleted
    rep2 = t.fsck(repair=True, min_age_s=3600)
    assert rep2["repaired"] == []
    assert os.path.isdir(os.path.join(t.path, "_staging-deadbeef"))

    # stale: all debris removed, table still reads
    rep3 = t.fsck(repair=True, min_age_s=0.0)
    assert sorted(rep3["repaired"]) == sorted(
        rep["orphan_staging"] + rep["orphan_tmp"] + rep["orphan_data"]
    )
    assert not os.path.exists(os.path.join(t.path, "_staging-deadbeef"))
    assert not os.path.exists(os.path.join(t.path, "_blooms.tmp-crashvac"))
    assert not os.path.exists(os.path.join(t.path, "_distinct.old-crashvac"))
    assert t.read().count() == 100
    assert t.fsck() == {
        "orphan_staging": [], "orphan_tmp": [], "orphan_data": [],
        "missing": [], "orphan_branch": [],
    }

    # missing file detection (report-only)
    victim = t.manifest().files[0].name
    os.remove(os.path.join(t.path, victim))
    assert t.fsck()["missing"] == [victim]


def test_validate_clean_and_corrupted(spark, tmp_path):
    """validate(): a healthy table audits clean; an out-of-band file
    swap (content not matching the manifest) is caught."""
    import shutil

    from pyspark.sql import functions as F

    from parquet_rewriter_spark.table import SortedTable

    df = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    t = SortedTable.create(spark, str(tmp_path / "t"), df, key="k",
                           max_records_per_file=500)
    rep = t.validate()
    assert rep["ok"] and rep["files"] >= 4, rep

    # corrupt: overwrite one data file with another one's bytes —
    # rows/min/max no longer match its manifest entry, and the stray
    # copy duplicates every key of the source file
    files = [e.name for e in t.manifest().files]
    shutil.copyfile(
        str(tmp_path / "t" / files[0]), str(tmp_path / "t" / files[1])
    )
    rep2 = t.validate()
    assert not rep2["ok"]
    assert rep2["manifest_mismatches"] >= 1
    assert rep2["duplicate_keys"] == 500


def test_tag_pins_snapshot_through_vacuum(spark, tmp_path, sf_dir):
    """A tag is a retention promise: vacuum(retain_versions=1) must keep
    the tagged snapshot AND its data files; read(tag) reproduces it."""
    from parquet_rewriter_spark.operators.merge import delete_where

    orders = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, str(tmp_path / "tagged"), orders, key="o_orderkey",
        max_records_per_file=500,
    )
    before = t.read().count()
    assert t.tag("baseline") == t.manifest().version

    delete_where(t, F.col("o_custkey") % 3 == 0)
    after = t.read().count()
    assert after < before

    t.vacuum(retain_versions=1)
    # tagged snapshot survived GC; untagged intermediates are gone
    assert t.read("baseline").count() == before
    assert t.read().count() == after
    assert t.resolve_ref("baseline") in t.versions()

    t.delete_tag("baseline")
    t.vacuum(retain_versions=1)
    assert t.versions() == [t.manifest().version]
    with pytest.raises(ValueError):
        t.read("baseline")


def test_tag_unknown_version_raises(spark, tmp_path, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, str(tmp_path / "tagged2"), orders, key="o_orderkey",
        max_records_per_file=5000,
    )
    with pytest.raises(ValueError):
        t.tag("ghost", version=99)


def test_metadata_tables_reflect_manifest(spark, tmp_path, sf_dir):
    """files_df/history_df are relations over the manifest: totals must
    agree with the data and with history(), without opening data files."""
    from parquet_rewriter_spark.operators.merge import delete_where

    orders = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, str(tmp_path / "meta_t"), orders, key="o_orderkey",
        max_records_per_file=400,
    )
    delete_where(t, F.col("o_custkey") == 5)

    fdf = t.files_df()
    live = fdf.agg(F.sum(F.col("rows") - F.col("dv_rows"))).first()[0]
    assert live == t.read().count()
    assert fdf.count() == len(t.manifest().files)

    hdf = t.history_df().orderBy("version").collect()
    assert [r["version"] for r in hdf] == t.versions()
    assert hdf[0]["operation"] == "create"
    assert hdf[1]["operation"].startswith("merge")  # splice fast path included

    # historical snapshot inventory too
    assert t.files_df(version=0).agg(F.sum("rows")).first()[0] == orders.count()


def test_snapshot_diff_accepts_tag_names(spark, tmp_path, sf_dir):
    """Tags are accepted anywhere a version number is — including the
    CDC diff window: diff("pre", "post") == diff(v0, v1)."""
    from parquet_rewriter_spark.operators.cdc import snapshot_diff
    from parquet_rewriter_spark.operators.merge import delete_where

    orders = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, str(tmp_path / "tagdiff"), orders, key="o_orderkey",
        max_records_per_file=400,
    )
    t.tag("pre")
    delete_where(t, F.col("o_custkey") == 5)
    t.tag("post")

    by_tag = snapshot_diff(t, "pre", "post").orderBy("o_orderkey").collect()
    by_num = snapshot_diff(t, 0, 1).orderBy("o_orderkey").collect()
    assert by_tag == by_num
    assert by_tag and all(r["_change_type"] == "delete" for r in by_tag)
