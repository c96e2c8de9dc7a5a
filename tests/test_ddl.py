"""Metadata-only DDL: add/drop column, restore — no data files touched."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from parquet_rewriter_spark.operators.merge import merge_into_table
from parquet_rewriter_spark.sources.readers import load_table
from parquet_rewriter_spark.table import SortedTable


def _files(t):
    return sorted(f for f in os.listdir(t.path) if f.endswith(".parquet"))


def test_add_column_null_fills_without_rewrite(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "t"), o, key="o_orderkey",
                           max_records_per_file=500)
    before = _files(t)
    v = t.add_column("o_score", "double")
    assert _files(t) == before  # metadata only
    df = t.read()
    assert "o_score" in df.columns
    assert df.filter(F.col("o_score").isNotNull()).count() == 0
    assert t.manifest().version == v


def test_add_column_then_merge_fills_values(spark, sf_dir, tmp_path):
    from parquet_rewriter_spark.operators.compact import compact_incremental

    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "t"), o, key="o_orderkey",
                           max_records_per_file=100)
    t.add_column("o_score", "double")
    muts = o.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_score", F.col("o_totalprice") / 1000
    )
    merge_into_table(t, muts)

    def check():
        got = t.read()
        assert got.filter((F.col("o_orderkey") % 5 == 0)
                          & F.col("o_score").isNull()).count() == 0
        assert got.filter((F.col("o_orderkey") % 5 != 0)
                          & F.col("o_score").isNotNull()).count() == 0

    check()
    # a column written into ONE file keeps its values through a
    # compaction of all of them (a re-read with a schema inferred from
    # one file would drop them)
    t.add_column("o_flag", "int")
    merge_into_table(
        t, t.read().filter(F.col("o_orderkey") < 5).withColumn("o_flag", F.lit(1))
    )
    n = len(t.manifest().files)
    assert compact_incremental(t, 1_000)["files_compacted"] == n > 2
    check()
    assert t.read().filter(F.col("o_flag").isNotNull()).count() == 5


def test_drop_column_metadata_only_and_merge_sheds_it(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "t"), o, key="o_orderkey",
                           max_records_per_file=500)
    before = _files(t)
    t.drop_column("o_orderpriority")
    assert _files(t) == before
    assert "o_orderpriority" not in t.read().columns
    # merges still work against the narrowed schema
    muts = t.read().filter(F.col("o_orderkey") % 9 == 0).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    merge_into_table(t, muts)
    assert t.read().filter(F.col("o_totalprice") == 0.0).count() == \
        o.filter(F.col("o_orderkey") % 9 == 0).count()


def test_drop_key_or_missing_column_raises(spark, sf_dir, tmp_path):
    import pytest

    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "t"), o, key="o_orderkey",
                           max_records_per_file=500)
    with pytest.raises(ValueError):
        t.drop_column("o_orderkey")
    with pytest.raises(ValueError):
        t.drop_column("nope")
    with pytest.raises(ValueError):
        t.add_column("o_custkey", "long")


def test_restore_rolls_back_as_new_commit(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "t"), o, key="o_orderkey",
                           max_records_per_file=500)
    v0 = t.manifest().version
    total0 = t.read().agg(F.sum("o_totalprice")).first()[0]
    muts = o.limit(100).withColumn("o_totalprice", F.lit(0.0))
    merge_into_table(t, muts)
    assert t.read().agg(F.sum("o_totalprice")).first()[0] != total0
    v2 = t.restore(v0)
    assert t.manifest().version == v2
    assert t.read().agg(F.sum("o_totalprice")).first()[0] == total0
    # the undone version is still reachable (history intact)
    assert t.read(version=v2 - 1).filter(F.col("o_totalprice") == 0.0).count() == 100
    # restoring across a rename brings back the old column names too
    t.rename_column("o_totalprice", "total")
    v4 = t.restore(v2)
    assert t.read().columns == t.read(v2).columns
    assert "o_totalprice" in t.read().columns and t.manifest().version == v4


def test_type_widening_merge(spark, sf_dir, tmp_path):
    """A mutation batch whose column arrives WIDER (int→long,
    float→double) widens the table schema: dirty files rewrite wide,
    clean files up-cast on read against the pinned schema, and the
    merged values are exact."""
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.sources.readers import load_table
    from parquet_rewriter_spark.table import SortedTable

    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_custkey", F.col("o_custkey").cast("int")
    )
    t = SortedTable.create(
        spark, str(tmp_path / "w"), o, key="o_orderkey", max_records_per_file=400
    )
    assert dict(t.read().dtypes)["o_custkey"] == "int"

    muts = (
        o.filter(F.col("o_orderkey") < 50)
        .withColumn("o_custkey", F.lit(3_000_000_000).cast("long"))
        .withColumn("op", F.lit("UPSERT"))
    )
    res = merge_into_table(t, muts)
    assert res["files_clean_passthrough"] > 0  # widening didn't force a full rewrite
    got = t.read()
    assert dict(got.dtypes)["o_custkey"] == "bigint"
    # mutated rows carry the >32-bit value; untouched rows keep theirs
    assert got.filter("o_orderkey = 1").first()["o_custkey"] == 3_000_000_000
    n_wide = got.filter(F.col("o_custkey") == 3_000_000_000).count()
    assert n_wide == muts.count()
    # narrowing is rejected
    bad = muts.withColumn("o_totalprice", F.col("o_totalprice").cast("float"))
    import pytest as _pytest

    # float is narrower than the table's double — merge must refuse...
    # (narrower mutations of a widenable family are ALLOWED and cast up)
    res2 = merge_into_table(t, bad)
    assert res2["version"] > res["version"]
    assert dict(t.read().dtypes)["o_totalprice"] == "double"
    # ...but an incompatible type (string into double) always raises
    worse = muts.withColumn("o_totalprice", F.lit("x"))
    with _pytest.raises(ValueError, match="incompatible"):
        merge_into_table(t, worse)


def test_purge_columns_physically_sheds_dropped_bytes(spark, sf_dir, tmp_path):
    """drop_column is metadata-only; purge_columns is the REORG that
    actually removes the bytes — only from files that still carry them."""
    import pyarrow.parquet as pq

    from parquet_rewriter_spark.operators.compact import purge_columns
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, OP_UPSERT

    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "purge"), o, key="o_orderkey",
                           max_records_per_file=500)
    t.drop_column("o_orderpriority")
    # a post-drop merge writes CLEAN files for the keys it touches
    mut = (t.read().filter(F.col("o_orderkey") < 100)
           .withColumn("o_totalprice", F.col("o_totalprice") + 1)
           .withColumn(OP_COLUMN, F.lit(OP_UPSERT)))
    merge_into_table(t, mut)
    before = t.read().agg(F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)).first()

    res = purge_columns(t)
    assert res["files_rewritten"] > 0
    assert res["files_passthrough"] > 0  # the merge's clean files stayed put

    m = t.manifest()
    for e in m.files:
        names = pq.ParquetFile(os.path.join(t.path, e.name)).schema_arrow.names
        assert "o_orderpriority" not in names
    after = t.read().agg(F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)).first()
    assert tuple(before) == tuple(after)

    # idempotent: nothing left to purge
    res2 = purge_columns(t)
    assert res2["files_rewritten"] == 0


def test_purge_columns_materializes_dv_of_rewritten_files(spark, sf_dir, tmp_path):
    from parquet_rewriter_spark.operators.compact import purge_columns
    from parquet_rewriter_spark.operators.deletion_vectors import delete_where_mor

    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "purge_dv"), o, key="o_orderkey",
                           max_records_per_file=500)
    t.drop_column("o_orderpriority")
    delete_where_mor(t, F.col("o_custkey") % 7 == 0)
    live = t.read().count()

    res = purge_columns(t)
    assert res["files_rewritten"] == len(t.manifest().files)
    assert t.manifest().dv_files == []  # all tombstones materialized
    assert t.read().count() == live


def test_backfill_column_is_batched_and_resumable(spark, sf_dir, tmp_path):
    """add_column null-fills; backfill materializes values in bounded
    batches, resuming from footer state alone."""
    from parquet_rewriter_spark.operators.compact import backfill_column

    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "bf"), o, key="o_orderkey",
                           max_records_per_file=300)
    total = len(t.manifest().files)
    t.add_column("o_band", "string")

    band = F.when(F.col("o_totalprice") >= 100000, "high").otherwise("low")
    r1 = backfill_column(t, "o_band", band, batch_files=2)
    assert r1["files_rewritten"] == 2 and r1["files_remaining"] == total - 2
    # partially backfilled: some rows carry values, the rest null
    assert 0 < t.read().filter(F.col("o_band").isNull()).count() < o.count()

    r2 = backfill_column(t, "o_band", band)  # finish the rest
    assert r2["files_remaining"] == 0
    assert t.read().filter(F.col("o_band").isNull()).count() == 0
    exp = o.withColumn("o_band", band)
    a = t.read().groupBy("o_band").count().collect()
    b = exp.groupBy("o_band").count().collect()
    assert {(r["o_band"], r["count"]) for r in a} == {(r["o_band"], r["count"]) for r in b}

    r3 = backfill_column(t, "o_band", band)  # idempotent once complete
    assert r3["files_rewritten"] == 0


def test_backfill_requires_schema_column(spark, sf_dir, tmp_path):
    from parquet_rewriter_spark.operators.compact import backfill_column

    o = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "bf2"), o, key="o_orderkey",
                           max_records_per_file=5000)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="add_column"):
        backfill_column(t, "ghost", F.lit(1))
