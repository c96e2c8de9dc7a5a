"""Shared operator utilities."""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_factor: float = 0.5) -> DataFrame:
    """Repartition up if the input is under-partitioned relative to the
    cluster's parallelism. CPU-heavy per-row operators (minhash
    signatures, simhash, media decode) otherwise run on however few
    partitions the scan produced — a single small parquet file gives 1-2
    partitions and leaves the rest of the cluster idle. At real scale
    inputs arrive well-partitioned and this is a no-op."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        # physical-plan partitioning, no RDD conversion (df.rdd builds
        # the whole Python RDD wrapper per call — measurably slower on
        # wide plans, the round-1 review's hot-path nit)
        n = df._jdf.queryExecution().executedPlan().outputPartitioning().numPartitions()
    except Exception:  # noqa: BLE001 - AQE/unknown partitioning: fall back
        n = 0
    if n <= 0:
        # UnknownPartitioning (parquet scans, AQE wrappers) reports 0
        # partitions without raising — a non-positive count is "unknown",
        # not "empty"; only then pay for the RDD conversion
        n = df.rdd.getNumPartitions()
    if n < target * min_factor:
        return df.repartition(target)
    return df


def local_df(spark, data, schema) -> DataFrame:
    """``createDataFrame`` for DRIVER-LOCAL batches, partitioned by the
    batch's ACTUAL size instead of ``defaultParallelism``: Spark slices
    a local list over every core (a 1-row batch becomes 32 near-empty
    partitions), and every downstream stage of a mutation/probe plan
    inherits that width — 32 tasks, and 32 Python-worker round trips
    wherever an Arrow eval sits on the path, to move one row. Rows per
    partition is sized so typical probe/mutation batches stay a handful
    of tasks while a deliberately large local batch still spreads: the
    cap is the session's own parallelism, so at cluster scale this
    NEVER narrows a big batch below what createDataFrame would pick."""
    data = list(data)
    n = max(1, min(
        spark.sparkContext.defaultParallelism,
        -(-len(data) // 4096),  # ceil: ≥4096 rows per partition
    ))
    # explicit numSlices via parallelize — NOT .coalesce(n): coalescing
    # a 32-slice parallelized collection measures ~5 s per action on
    # local[32] (vs 0.3 s for a right-sized parallelize), and coalesce
    # leaves 31 empty parent partitions in the lineage
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, n), schema
    )


# ---------------------------------------------------------------- caches
#
# One ownership rule for every cache the package makes: a cache belongs
# to the innermost open ``cache_scope()`` of the thread that made it,
# and leaving that scope releases it. ``persist`` and
# ``local_checkpoint`` are the only places the package caches (a lint
# test holds every other module to that); with no scope open they are
# plain ``persist``/``localCheckpoint`` and the caller owns the result.

_scopes = threading.local()


@contextmanager
def cache_scope():
    """Own every cache made on this thread until the block exits, then
    release each one (:func:`release`) — whether the block returned or
    raised. Scopes nest: a cache belongs to the innermost open one. A
    scope never touches another thread's caches, or caches that
    existed before it opened."""
    stack = _scopes.__dict__.setdefault("stack", [])
    owned: list[DataFrame] = []
    stack.append(owned)
    try:
        yield
    finally:
        stack.pop()
        for df in reversed(owned):
            release(df)


def _own(df: DataFrame) -> DataFrame:
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


def persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist(level)``, owned by the open :func:`cache_scope`. A
    plan that is already cached stays its first owner's: Spark's
    persist is then a no-op, and releasing it here would drop a cache
    someone else still reads."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    return _own(df.persist() if level is None else df.persist(level))


def local_checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the open
    :func:`cache_scope`. ``DataFrame.unpersist`` frees nothing on a
    checkpoint — its blocks hang off the RDD under the returned plan —
    so the RDD is recorded for :func:`release`."""
    out = df.localCheckpoint(eager=eager)
    out._pr_checkpoint_rdd = out._jdf.logicalPlan().rdd()
    return _own(out)


def release(df: DataFrame) -> None:
    """Free the cache :func:`persist` or :func:`local_checkpoint` made
    of ``df`` now, ahead of its scope's exit (a loop dropping its
    predecessor). Idempotent; the scope's own release is then a no-op."""
    rdd = getattr(df, "_pr_checkpoint_rdd", None)
    if rdd is not None:
        rdd.unpersist(False)
    else:
        df.unpersist(False)
