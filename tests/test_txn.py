"""Manifest transaction watermarks: exactly-once merge replay semantics
(the Delta txn (appId, version) pattern on the plain-parquet core)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_rewriter_spark.operators.compact import compact
from parquet_rewriter_spark.operators.merge import merge_into_table
from parquet_rewriter_spark.sources.readers import load_table
from parquet_rewriter_spark.table import SortedTable


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    return SortedTable.create(
        spark, str(tmp_path / "t"), orders, key="o_orderkey", max_records_per_file=500
    )


def _mut(spark, table, key, custkey):
    base = table.read()
    row = base.filter(F.col("o_orderkey") == 0).drop("o_orderkey").first()
    data = [(key, custkey) + tuple(row)[1:]]
    return spark.createDataFrame(data, base.schema).withColumn("op", F.lit("UPSERT"))


def test_txn_replay_is_skipped(spark, table):
    mut = _mut(spark, table, -1, 111)
    r1 = merge_into_table(table, mut, txn=("app", 7))
    v1 = table.manifest().version
    assert table.manifest().txns == {"app": 7}
    # same epoch again — crash-replay: no commit, no data change
    r2 = merge_into_table(table, _mut(spark, table, -1, 999), txn=("app", 7))
    assert r2.get("skipped_txn_replay") is True
    assert table.manifest().version == v1
    assert table.read().filter("o_orderkey = -1").first()["o_custkey"] == 111
    # lower epoch also skipped
    r3 = merge_into_table(table, _mut(spark, table, -1, 999), txn=("app", 3))
    assert r3.get("skipped_txn_replay") is True
    # next epoch applies
    r4 = merge_into_table(table, _mut(spark, table, -1, 222), txn=("app", 8))
    assert not r4.get("skipped_txn_replay")
    assert table.read().filter("o_orderkey = -1").first()["o_custkey"] == 222
    assert table.manifest().txns == {"app": 8}


def test_txn_apps_are_independent(spark, table):
    merge_into_table(table, _mut(spark, table, -1, 1), txn=("app_a", 5))
    r = merge_into_table(table, _mut(spark, table, -2, 2), txn=("app_b", 1))
    assert not r.get("skipped_txn_replay")
    assert table.manifest().txns == {"app_a": 5, "app_b": 1}


def test_txn_survives_compaction_and_untagged_merges(spark, table):
    merge_into_table(table, _mut(spark, table, -1, 1), txn=("app", 7))
    merge_into_table(table, _mut(spark, table, -3, 3))  # untagged merge
    compact(table, max_records_per_file=1000)
    assert table.manifest().txns == {"app": 7}  # carried forward
    r = merge_into_table(table, _mut(spark, table, -1, 999), txn=("app", 7))
    assert r.get("skipped_txn_replay") is True


def test_txn_on_splice_path(spark, table):
    """A 1-row merge takes the row-group splice fast path; the txn
    watermark must commit through it too."""
    r1 = merge_into_table(table, _mut(spark, table, 10, 123), txn=("s", 1))
    assert table.manifest().txns == {"s": 1}
    r2 = merge_into_table(table, _mut(spark, table, 10, 456), txn=("s", 1))
    assert r2.get("skipped_txn_replay") is True
    assert table.read().filter("o_orderkey = 10").first()["o_custkey"] == 123


def test_stream_merge_exactly_once_with_nonidempotent_epoch_fn(
    spark, table, tmp_path, sf_dir
):
    """Simulated foreachBatch crash-replay: applying the same epoch's
    NON-idempotent mutation (an increment) twice must mutate once."""
    base_bal = table.read().filter("o_orderkey = 5").first()["o_custkey"]

    def incremented(epoch):
        cur = table.read().filter("o_orderkey = 5").first()
        m = (
            spark.createDataFrame([tuple(cur)], table.read().schema)
            .withColumn("o_custkey", F.col("o_custkey") + 100)
            .withColumn("op", F.lit("UPSERT"))
        )
        return merge_into_table(table, m, txn=("inc", epoch))

    incremented(1)
    incremented(1)  # replay of epoch 1 — must not double-increment
    assert table.read().filter("o_orderkey = 5").first()["o_custkey"] == base_bal + 100
    incremented(2)
    assert table.read().filter("o_orderkey = 5").first()["o_custkey"] == base_bal + 200


# ------------------------------------------- cross-table catalog txns


def test_catalog_crash_isolation_and_atomic_flip(spark, table, tmp_path, sf_dir):
    """A base-table merge whose transaction never commits the catalog
    must be invisible to catalog readers; the completed commit flips
    both pins at once."""
    from parquet_rewriter_spark.operators.txn_catalog import TransactionCatalog

    summary = table.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    view = SortedTable.create(
        spark, str(tmp_path / "view"), summary, key="o_orderstatus"
    )
    cat = TransactionCatalog.create(
        spark, str(tmp_path / "cat"), {"base": table, "view": view}
    )
    n0 = cat.read("base").count()

    # crash: base advances, catalog does not
    from parquet_rewriter_spark.operators.merge import delete_where

    delete_where(table, F.col("o_orderkey") % 3 == 0)
    assert table.read().count() < n0          # the table head moved
    assert cat.read("base").count() == n0     # catalog readers did not

    # complete: refresh the view from the head, flip both pins atomically
    new_summary = (
        table.read().groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("op", F.lit("UPSERT"))
    )
    merge_into_table(view, new_summary)
    cat.commit({"base": table.manifest().version,
                "view": view.manifest().version})
    base_counts = {
        r["o_orderstatus"]: r["n"]
        for r in cat.read("base").groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    view_counts = {
        r["o_orderstatus"]: r["n_orders"] for r in cat.read("view").collect()
    }
    assert base_counts == view_counts


def test_catalog_commit_conflict_and_unknown_table(spark, table, tmp_path):
    from parquet_rewriter_spark.operators.txn_catalog import TransactionCatalog
    from parquet_rewriter_spark.table import CommitConflictError

    cat = TransactionCatalog.create(spark, str(tmp_path / "cat2"), {"base": table})
    racer = TransactionCatalog(spark, str(tmp_path / "cat2"))
    cat.commit({"base": table.manifest().version})
    with pytest.raises(CommitConflictError):
        # the racer re-claims the version the first commit just took
        state = racer._state()
        state["version"] -= 0  # racer saw the new state; rewind to race
        racer._commit({**state, "version": state["version"]})
    with pytest.raises(KeyError):
        cat.commit({"nope": 1})


def test_concurrent_writers_with_retry_lose_nothing(spark, tmp_path):
    """REAL thread concurrency: four writers racing merge_with_retry on
    disjoint key sets — every mutation must land, every commit claims a
    distinct version, and the final table equals the commutative model.
    (The per-version create-exclusive link is the arbiter; losers
    re-plan against the winner's manifest.)"""
    import threading

    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.merge import merge_with_retry
    from parquet_rewriter_spark.table import SortedTable

    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    t = SortedTable.create(spark, str(tmp_path / "t"), base, key="k",
                           max_records_per_file=200)
    v0 = t.manifest().version
    n_writers, n_merges = 4, 3
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for j in range(n_merges):
                # writer-disjoint key slices; includes fresh inserts
                muts = spark.range(50).select(
                    (F.col("id") + 2000 + wid * 1000 + j * 100).alias("k"),
                    F.lit(float(wid * 10 + j)).alias("v"),
                )
                merge_with_retry(t, muts, attempts=30, allow_splice=False)
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    # every commit claimed its own version
    assert t.manifest().version == v0 + n_writers * n_merges
    # commutative model: base + every writer's inserts
    got = {r["k"]: r["v"] for r in t.read().collect()}
    expected = {i: float(i) for i in range(1000)}
    for w in range(n_writers):
        for j in range(n_merges):
            for i in range(50):
                expected[i + 2000 + w * 1000 + j * 100] = float(w * 10 + j)
    assert got == expected


def test_crash_between_claim_and_pointer_write_does_not_wedge(
    spark, table, monkeypatch
):
    """The claimed snapshot is the commit point: a writer that dies after
    claiming v1 but before moving the ``_manifest.json`` pointer leaves
    v1 committed, and the next writer commits v2 on top of it."""
    import os

    m1, m2 = _mut(spark, table, -1, 11), _mut(spark, table, -2, 22)
    real = os.replace
    fired = []

    def crash_at_pointer(src, dst, *a, **k):
        if os.path.basename(dst) == "_manifest.json" and not fired:
            fired.append(dst)
            raise OSError("injected crash before the pointer write")
        return real(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", crash_at_pointer)
    with pytest.raises(OSError, match="injected"):
        merge_into_table(table, m1, txn=("app", 1))
    monkeypatch.undo()
    assert fired
    m = table.manifest()
    assert (m.version, m.txns) == (1, {"app": 1})
    assert merge_into_table(table, m1, txn=("app", 1))["skipped_txn_replay"]
    merge_into_table(table, m2)
    assert table.manifest().version == 2
    got = {
        r["o_orderkey"]: r["o_custkey"]
        for r in table.read().filter(F.col("o_orderkey") < 0).collect()
    }
    assert got == {-1: 11, -2: 22}
    table.fsck(repair=True, min_age_s=0)
    assert table.validate()["ok"]
