"""Spark job budgets of the storage commit paths.

At fixture scale wall time is roughly the number of sequential Spark
jobs times a fixed per-job latency, so job counts are the figure that
carries over to real scale — and, unlike wall time, they repeat
exactly. Jobs are counted per job group through the status tracker
(works with the UI disabled).

Pins: a plain merge runs 4 jobs and a plain compact 3 — so a commit
with no registered sidecar never lists or reads a sidecar directory —
and a merge with bloom + distinct sketch + drift monitor registered
stays within 13. A catalog query that owns a cache scope leaves no
cache behind, so re-running it in the same session runs exactly the
jobs its first run did.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from parquet_rewriter_spark import catalog
from parquet_rewriter_spark.operators.compact import compact
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


def test_three_sidecar_merge_job_budget(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"), bloom_cols=["grp"])
    enable_distinct_sketches(t, ["grp"])
    enable_drift_monitor(t, "v", "grp", [3, 6, 9])
    res: dict = {}
    n = _jobs(
        spark,
        lambda: res.update(
            merge_into_table(t, _mutations(spark), allow_splice=False)
        ),
    )
    assert n <= 13
    assert res["files_written"] > 0 and res["t_sidecar_s"] > 0


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
