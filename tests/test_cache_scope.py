"""One cache lifecycle: a cache belongs to the innermost open
``util.cache_scope()`` of the thread that made it, and leaving the
scope releases it.

Covers the scope itself (persists, eager and lazy checkpoints, nesting,
other threads, caches made before the scope), every catalog query that
owns a scope (``@_clean_query`` bodies and bodies that open one), BPE
training's lineage snapshots, and a lint that keeps every cache in the
package going through ``operators/util.py``.
"""

from __future__ import annotations

import ast
import pathlib
import threading

import pytest
from pyspark import StorageLevel

import parquet_rewriter_spark
from parquet_rewriter_spark import catalog
from parquet_rewriter_spark.operators.util import (
    cache_scope,
    local_checkpoint,
    persist,
    release,
)


def _rdd_ids(spark) -> set[int]:
    """Ids in the session's persistent-RDD map."""
    return {int(r) for r in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ------------------------------------------------------------ the scope


def test_scope_releases_persists_and_checkpoints(spark):
    start = _rdd_ids(spark)
    with cache_scope():
        a = persist(spark.range(50).selectExpr("id * 3 AS x"))
        a.count()
        b = local_checkpoint(spark.range(40).selectExpr("id + 1 AS y"), eager=True)
        c = local_checkpoint(spark.range(30).selectExpr("id - 1 AS z"), eager=False)
        assert c.count() == 30
        assert b.count() == 40
        assert len(_rdd_ids(spark) - start) == 3
        assert not _cache_empty(spark)
    assert _rdd_ids(spark) == start
    assert _cache_empty(spark)


def test_release_frees_a_checkpoint_early(spark):
    """``DataFrame.unpersist`` frees nothing on a checkpoint; ``release``
    frees the RDD under it."""
    start = _rdd_ids(spark)
    with cache_scope():
        ck = local_checkpoint(spark.range(20).selectExpr("id AS k"), eager=True)
        ck.unpersist()
        assert _rdd_ids(spark) - start  # still held
        release(ck)
        assert _rdd_ids(spark) == start
    assert _rdd_ids(spark) == start


def test_scopes_nest_and_leave_earlier_caches_alone(spark):
    df = spark.range(60).selectExpr("id % 7 AS g")
    with cache_scope():
        outer = persist(df)
        outer.count()
        with cache_scope():
            inner = persist(spark.range(60).selectExpr("id % 7 AS g"))  # same plan
            other = persist(spark.range(10).selectExpr("id AS other"))
            other.count()
        # the inner scope released only what it made
        assert inner.storageLevel != StorageLevel.NONE
        assert outer.storageLevel != StorageLevel.NONE
        assert other.storageLevel == StorageLevel.NONE
    assert outer.storageLevel == StorageLevel.NONE
    assert _cache_empty(spark)


def test_no_scope_is_plain_persist_and_other_threads_are_untouched(spark):
    """A thread with no open scope gets plain ``persist`` and owns the
    cache; another thread's scope never releases it."""
    made: list = []

    def work():
        d = persist(spark.range(25).selectExpr("id * 5 AS w"))
        d.count()
        made.append(d)

    with cache_scope():
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
    (d,) = made
    try:
        assert d.storageLevel != StorageLevel.NONE
    finally:
        d.unpersist()
    assert _cache_empty(spark)


def test_scope_releases_on_error(spark):
    start = _rdd_ids(spark)
    with pytest.raises(RuntimeError):
        with cache_scope():
            persist(spark.range(5).selectExpr("id AS e")).count()
            raise RuntimeError("body failed")
    assert _rdd_ids(spark) == start
    assert _cache_empty(spark)


# ------------------------------------------------------- BPE snapshots


def test_bpe_train_snapshots_released_by_scope(spark):
    """Every lineage snapshot (an eager local checkpoint) and the lazily
    persisted final vocab leave with the scope."""
    from parquet_rewriter_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(i, f"lower lowest newer wider {i % 5}") for i in range(30)],
        "doc_id long, text string",
    )
    start = _rdd_ids(spark)
    with cache_scope():
        rules, vocab = bpe_train(docs, "text", n_merges=6, lineage_every=2)
        assert len(rules) == 6
        assert vocab.count() > 0
    assert _rdd_ids(spark) == start
    assert _cache_empty(spark)


# ------------------------------------------ every cache-owning query


def _scoped_queries() -> list[str]:
    """Catalog bodies that own a cache scope: ``@_clean_query`` bodies
    (their wrapper shares one code object) and bodies that open one."""
    clean = catalog._clean_query(lambda spark, sf_dir: None).__code__
    return sorted(
        name for name, spec in catalog.REGISTRY.items()
        if spec.fn.__code__ is clean or "cache_scope" in spec.fn.__code__.co_names
    )


@pytest.fixture
def _isolated(spark):
    """Teardown only: persistent RDDs a failing case left behind are
    dropped, so each case is judged on its own query."""
    start = _rdd_ids(spark)
    yield
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if int(rid) not in start:
            jmap.get(rid).unpersist(False)


@pytest.mark.parametrize("name", _scoped_queries())
def test_scoped_query_releases_every_cache(spark, sf_dir, name, _isolated):
    start = _rdd_ids(spark)
    rows = catalog.REGISTRY[name].fn(spark, sf_dir).collect()
    assert rows, name
    assert _rdd_ids(spark) == start, "persistent RDDs left behind"
    assert _cache_empty(spark), "CacheManager entries left behind"


# ------------------------------------------------------ contract lint

_PKG = pathlib.Path(parquet_rewriter_spark.__file__).parent
_CACHE_CALLS = {"persist", "cache", "localCheckpoint"}


def test_only_util_makes_caches():
    """Every cache in the package is made by ``util.persist`` or
    ``util.local_checkpoint``, so an open cache scope owns it."""
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        if path == _PKG / "operators" / "util.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _CACHE_CALLS
            ):
                offenders.append(f"{path.relative_to(_PKG)}:{node.lineno} .{node.func.attr}(")
    assert not offenders, offenders
