"""Spark job budgets of the storage commit paths.

At fixture scale wall time is roughly the number of sequential Spark
jobs times a fixed per-job latency, so job counts are the figure that
carries over to real scale — and, unlike wall time, they repeat
exactly. Jobs are counted per job group through the status tracker
(works with the UI disabled).

Pins: a plain merge runs 4 jobs and a plain compact 3 — so a commit
with no registered sidecar never lists or reads a sidecar directory.
With bloom + distinct sketch + drift monitor registered the sidecars
add 5 jobs to either (bloom 1, sketch 2, drift 2): a merge runs 9 and
a compact 8. The other rewrites read through the same subset reader
(``read_physical``) and commit through ``_commit_rewrite``:
``compact_incremental`` and ``purge_columns`` run 3 jobs,
``delete_keys_mor`` and ``materialize_deletes`` 6 each. The bloom
build of ``create`` is exactly one job — one shuffle-free scan whose
rows the driver writes. One ``SearchIndex.add``
(doc-id check, docs merge, one postings merge) runs 10 jobs and a
search of a current index 4 (its catch-up check runs none). A catalog
query that owns a cache scope leaves no cache behind, so re-running it
in the same session runs exactly the jobs its first run did.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from parquet_rewriter_spark import catalog
from parquet_rewriter_spark.operators.compact import (
    compact,
    compact_incremental,
    purge_columns,
)
from parquet_rewriter_spark.operators.deletion_vectors import (
    delete_keys_mor,
    materialize_deletes,
)
from parquet_rewriter_spark.operators.distinct_sketch import (
    enable_distinct_sketches,
)
from parquet_rewriter_spark.operators.driftstats import enable_drift_monitor
from parquet_rewriter_spark.operators.merge import merge_into_table
from parquet_rewriter_spark.operators.sidecar import SIDECAR_DIRS
from parquet_rewriter_spark.table import SortedTable


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _table(spark, path, **kw) -> SortedTable:
    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("grp"),
        (F.col("id") % 13).alias("v"),
    )
    return SortedTable.create(
        spark, path, df, key="k", max_records_per_file=2_000, **kw
    )


def _mutations(spark):
    # 500 upserts spread over all ten files
    return spark.range(0, 20_000, 40).select(
        F.col("id").alias("k"), F.lit(5).alias("grp"), F.lit(7).alias("v")
    )


def test_plain_merge_and_compact_job_budgets(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    merge = _jobs(
        spark, lambda: merge_into_table(t, _mutations(spark), allow_splice=False)
    )
    assert merge == 4
    assert _jobs(spark, lambda: compact(t, max_records_per_file=3_000)) == 3
    assert not any(
        os.path.exists(os.path.join(t.path, d)) for d in SIDECAR_DIRS
    )


def test_subset_rewrite_job_budgets(spark, tmp_path):
    t = _table(spark, str(tmp_path / "a"))
    assert _jobs(spark, lambda: compact_incremental(t, 10_000)) == 3
    t = _table(spark, str(tmp_path / "b"))
    t.drop_column("v")
    assert _jobs(spark, lambda: purge_columns(t)) == 3
    t = _table(spark, str(tmp_path / "c"))
    keys = spark.range(0, 20_000, 40).select(F.col("id").alias("k"))
    assert _jobs(spark, lambda: delete_keys_mor(t, keys)) == 6
    assert _jobs(spark, lambda: materialize_deletes(t)) == 6
    assert not t.manifest().dv_files


def _three_sidecar_table(spark, path) -> SortedTable:
    t = _table(spark, path, bloom_cols=["grp"])
    enable_distinct_sketches(t, ["grp"])
    enable_drift_monitor(t, "v", "grp", [3, 6, 9])
    return t


def test_three_sidecar_merge_job_budget(spark, tmp_path):
    t = _three_sidecar_table(spark, str(tmp_path / "t"))
    res: dict = {}
    n = _jobs(
        spark,
        lambda: res.update(
            merge_into_table(t, _mutations(spark), allow_splice=False)
        ),
    )
    assert n == 9
    assert res["files_written"] > 0 and res["t_sidecar_s"] > 0


def test_three_sidecar_compact_job_budget(spark, tmp_path):
    t = _three_sidecar_table(spark, str(tmp_path / "t"))
    assert _jobs(spark, lambda: compact(t, max_records_per_file=3_000)) == 8


def test_create_builds_blooms_in_one_job(spark, tmp_path, monkeypatch):
    from parquet_rewriter_spark.operators import bloom

    counted: list[int] = []
    build = bloom.build_blooms

    def counting(*a):
        out: list = []
        counted.append(_jobs(spark, lambda: out.append(build(*a))))
        return out[0]

    monkeypatch.setattr(bloom, "build_blooms", counting)
    t = _table(spark, str(tmp_path / "t"), bloom_cols=["grp", "v"])
    assert counted == [1]
    assert len(t.manifest().files) == 10


def test_search_index_add_job_budget(spark, tmp_path):
    from pyspark.sql import Row

    from parquet_rewriter_spark.operators.search_index import SearchIndex

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"w{i % 13} w{i % 7} common") for i in range(200)]
    )
    idx = SearchIndex.build(spark, str(tmp_path / "idx"), docs, n_buckets=8)
    batch = spark.createDataFrame(
        [Row(doc_id=i, text=f"fresh{i} w{i % 3}") for i in (5, 50, 500, 501)]
    )
    res: dict = {}
    assert _jobs(spark, lambda: res.update(idx.add(batch))) == 10
    assert res["postings"]["refreshed"]
    assert _jobs(spark, lambda: idx.search(["fresh5", "common"]).collect()) == 4


@pytest.mark.parametrize(
    "name", ["bpe_encode_sample", "part_copurchase_pagerank"]
)
def test_scoped_query_rerun_runs_the_same_jobs(spark, sf_dir, name):
    """No clearCache between the runs: a cache left behind by the first
    run (blocks dropped but the CacheManager entry kept) turns the
    second run's persists into no-ops and changes its plan."""
    fn = catalog.REGISTRY[name].fn
    first = _jobs(spark, lambda: fn(spark, sf_dir).collect())
    again = _jobs(spark, lambda: fn(spark, sf_dir).collect())
    assert again == first
