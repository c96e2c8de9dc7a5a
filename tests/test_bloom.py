"""Per-file Bloom filters: point-lookup file skipping, no false
negatives, maintenance through merge/compaction/vacuum, bitmaps equal
to a numpy reference however the scan splits files over tasks, and a
crash-safe sidecar write."""

from __future__ import annotations

import collections
import contextlib
import os

import numpy as np
import pyarrow.dataset as ds
import pyspark.sql.functions as F
import pytest

from parquet_rewriter_spark.operators.bloom import (
    BLOOM_DIR,
    BLOOM_K,
    _m_for_rows,
    build_blooms,
    candidate_files,
    read_point,
)
from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
from parquet_rewriter_spark.table import SortedTable


@pytest.fixture()
def table(spark, tmp_path):
    """id-keyed table; ``tag`` is high-cardinality and UNCLUSTERED
    (hash-scrambled), so zone maps cannot prune it but blooms can."""
    df = spark.range(0, 20_000).select(
        F.col("id"),
        F.concat(F.lit("u"), (F.xxhash64("id") % 100_000).cast("string")).alias("tag"),
        (F.col("id") * 1.0).alias("val"),
    )
    return SortedTable.create(
        spark,
        str(tmp_path / "bl"),
        df,
        key="id",
        max_records_per_file=2_000,
        bloom_cols=["tag"],
    )


def _tag_of(table, id_):
    return table.read().filter(F.col("id") == id_).first()["tag"]


def test_sidecar_written_and_prunes(table):
    assert os.path.isdir(os.path.join(table.path, BLOOM_DIR))
    m = table.manifest()
    assert m.bloom_cols == ["tag"] and len(m.files) == 10

    tag = _tag_of(table, 4_321)
    cand = candidate_files(table, "tag", [tag])
    # the value lives in exactly one file; FP rate ~1% → expect very few candidates
    assert 1 <= len(cand) <= 3
    df = read_point(table, "tag", [tag])
    rows = df.collect()
    assert [r["id"] for r in rows] == [4_321]
    assert len(df.inputFiles()) == len(cand) < 10


def test_absent_value_prunes_everything(table):
    cand = candidate_files(table, "tag", ["no-such-tag-xyz"])
    assert len(cand) <= 1  # at most an FP file
    assert read_point(table, "tag", ["no-such-tag-xyz"]).count() == 0


def test_multi_value_in_lookup(table):
    tags = [_tag_of(table, i) for i in (10, 9_999, 19_000)]
    got = {r["id"] for r in read_point(table, "tag", tags).collect()}
    assert got == {10, 9_999, 19_000}


def test_untracked_column_falls_back(table):
    assert candidate_files(table, "val", [5.0]) is None
    assert read_point(table, "val", [5.0]).count() == 1


def test_merge_maintains_blooms(spark, table):
    tag = _tag_of(table, 7_777)
    # move the row's tag to a brand-new value via upsert (distributed path)
    muts = (
        table.read()
        .filter(F.col("id").between(7_000, 7_999))
        .withColumn(
            "tag", F.when(F.col("id") == 7_777, F.lit("fresh-tag")).otherwise(F.col("tag"))
        )
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    res = merge_into_table(table, muts, allow_splice=False)
    assert res["files_dirty"] == 1
    got = read_point(table, "tag", ["fresh-tag"]).collect()
    assert [r["id"] for r in got] == [7_777]
    # the old tag may still FP into its former file, but the row is gone
    assert read_point(table, "tag", [tag]).count() == 0


def test_splice_path_maintains_blooms(spark, table):
    muts = spark.createDataFrame(
        [(3_333, "spliced-tag", 1.0)], "id long, tag string, val double"
    )
    res = merge_into_table(table, muts)
    assert res["path"] == "rowgroup_splice"
    got = read_point(table, "tag", ["spliced-tag"]).collect()
    assert [r["id"] for r in got] == [3_333]
    assert len(read_point(table, "tag", ["spliced-tag"]).inputFiles()) <= 3


def test_no_false_negatives_bulk(table):
    """Every one of 200 sampled values must be found via the bloom path.
    (Compares TAGS, not ids — tag = hash % 100k collides across ids, and
    a tag-equality probe rightly returns every id sharing the tag.)"""
    sample = table.read().filter(F.col("id") % 100 == 0).select("id", "tag").collect()
    tags = {r["tag"] for r in sample}
    rows = read_point(table, "tag", list(tags)).collect()
    assert {r["id"] for r in rows} >= {r["id"] for r in sample}  # nothing missed
    assert {r["tag"] for r in rows} == tags  # and only probed tags returned


def test_vacuum_rewrites_sidecar(spark, table):
    muts = (
        table.read()
        .filter(F.col("id").between(0, 999))
        .withColumn("val", F.col("val") + 1)
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(table, muts, allow_splice=False)
    live = {e.name for e in table.manifest().files}
    side = os.path.join(table.path, BLOOM_DIR)
    files_in_sidecar = {
        r.file for r in spark.read.parquet(side).select("file").collect()
    }
    assert files_in_sidecar - live  # stale rows exist pre-vacuum
    table.vacuum(retain_versions=1)
    files_in_sidecar = {
        r.file for r in spark.read.parquet(side).select("file").collect()
    }
    assert files_in_sidecar <= live  # stale rows gone
    tag = _tag_of(table, 123)
    assert read_point(table, "tag", [tag]).count() == 1


def _bloom_rows(path: str) -> dict:
    """(file, col) → (m, bits) of a sidecar directory or file; asserts
    one row per (file, col)."""
    tab = ds.dataset(path, format="parquet").to_table()
    out: dict = {}
    for f, c, m, bits in zip(*(tab.column(n).to_pylist() for n in ("file", "col", "m", "bits"))):
        assert (f, c) not in out, (f, c)
        out[(f, c)] = (m, bits)
    return out


def _reference_rows(spark, table, col: str) -> dict:
    """Bitmaps built independently from Spark's own xxhash64 values:
    bit (h mod m) of byte (h mod m) // 8, least significant first."""
    m = table.manifest()
    hashes = spark.read.parquet(*table.file_paths(m)).select(
        F.col("_metadata.file_name").alias("f"),
        *[F.xxhash64(F.col(col), F.lit(s)).alias(f"h{s}") for s in range(BLOOM_K)],
    ).toPandas()
    out = {}
    for e in m.files:
        nbits = _m_for_rows(e.rows)
        bm = np.zeros(nbits // 8, dtype=np.uint8)
        hs = hashes[hashes["f"] == e.name]
        for s in range(BLOOM_K):
            pos = hs[f"h{s}"].to_numpy(dtype=np.int64) % nbits
            np.bitwise_or.at(bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        out[(e.name, col)] = (nbits, bm.tobytes())
    return out


def test_bitmaps_equal_numpy_reference(spark, table):
    assert _bloom_rows(os.path.join(table.path, BLOOM_DIR)) == _reference_rows(
        spark, table, "tag"
    )


def test_read_point_finds_every_file_edge_value(table):
    """No false negatives: each file's first and last row is found by a
    single-value probe."""
    files = table.manifest().files
    edges = {id_: e.name for e in files for id_ in (e.key_min, e.key_max)}
    tags = table.read().filter(F.col("id").isin(list(edges))).collect()
    assert len(tags) == 2 * len(files)
    for r in tags:
        assert edges[r["id"]] in candidate_files(table, "tag", [r["tag"]])
        got = {x["id"] for x in read_point(table, "tag", [r["tag"]]).collect()}
        assert r["id"] in got


@contextlib.contextmanager
def _sql_conf(spark, **conf):
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "layout, conf",
    [
        # one file's row groups read by several tasks
        ("split", {"spark.sql.files.maxPartitionBytes": "8k"}),
        # several files read by one task
        ("packed", {"spark.sql.files.openCostInBytes": "0",
                    "spark.sql.files.minPartitionNum": "1"}),
    ],
)
def test_build_is_independent_of_task_layout(spark, tmp_path, layout, conf):
    df = spark.range(0, 20_000).select(
        F.col("id"),
        F.concat(F.lit("u"), (F.xxhash64("id") % 100_000).cast("string")).alias("tag"),
        (F.col("id") % 7).alias("grp"),
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.block.size", str(16 * 1024))  # several row groups per file
    try:
        t = SortedTable.create(
            spark, str(tmp_path / "t"), df, key="id",
            max_records_per_file=5_000, bloom_cols=["tag", "grp"],
        )
    finally:
        hconf.unset("parquet.block.size")
    m = t.manifest()
    side = os.path.join(t.path, BLOOM_DIR)
    whole = _bloom_rows(side)
    assert set(whole) == {(e.name, c) for e in m.files for c in ("tag", "grp")}
    before = set(os.listdir(side))
    with _sql_conf(spark, **conf):
        tasks = (
            spark.read.parquet(*t.file_paths(m))
            .select(F.col("_metadata.file_name").alias("f"),
                    F.spark_partition_id().alias("p"))
            .distinct()
        )
        if layout == "split":
            assert tasks.groupBy("f").count().agg(F.max("count")).first()[0] > 1
        else:
            assert tasks.groupBy("p").count().agg(F.max("count")).first()[0] > 1
        assert build_blooms(t, m.files, m) == len(m.files)
    (new,) = set(os.listdir(side)) - before
    assert _bloom_rows(os.path.join(side, new)) == whole


def test_interrupted_bloom_write_is_invisible_and_fsck_cleans(spark, table):
    """A crash between the sidecar temp write and its os.replace fails
    the commit before the version claim; the temp is fsck debris and a
    retry leaves every live file exactly one row per column."""
    side = os.path.join(table.path, BLOOM_DIR)
    v0 = table.manifest().version
    muts = (
        table.read()
        .filter(F.col("id").between(0, 1_999))
        .withColumn("val", F.col("val") + 1)
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    replace = os.replace

    def crash(src, dst, *a, **kw):
        if ".tmp-" in str(src) and f"{os.sep}{BLOOM_DIR}{os.sep}" in str(dst):
            raise OSError("injected crash before the sidecar rename")
        return replace(src, dst, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="injected"):
            merge_into_table(table, muts, allow_splice=False)
    assert table.manifest().version == v0
    assert not os.path.exists(os.path.join(table.path, f"_manifest.v{v0 + 1}.json"))

    report = table.fsck()
    unclaimed = set(report["orphan_data"])
    assert unclaimed  # the failed commit's adopted files
    assert not unclaimed & {f for f, _ in _bloom_rows(side)}
    (tmp,) = [n for n in report["orphan_tmp"] if n.startswith(BLOOM_DIR + ".tmp-")]
    repaired = table.fsck(repair=True, min_age_s=0)["repaired"]
    assert tmp in repaired
    assert not os.path.exists(os.path.join(table.path, tmp))

    merge_into_table(table, muts, allow_splice=False)
    m = table.manifest()
    assert m.version == v0 + 1
    rows = spark.read.parquet(side).select("file", "col").collect()
    counts = collections.Counter((r.file, r.col) for r in rows)
    assert all(counts[(e.name, c)] == 1 for e in m.files for c in m.bloom_cols)
