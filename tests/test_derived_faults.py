"""Crash consistency of the derived refreshes (matview, search index)
and of the shared rewrite path (``read_physical`` subset read, sorted
write, ``_adopt_staged``, ``_commit_rewrite``).

Each case raises once at one step: the CDC diff, the distributed data
write, ``_adopt_staged``, the commit's sidecar build
(``sidecar.build_new``), ``_commit_manifest`` before its version claim,
the claim itself (the snapshot ``os.link``), and the pointer write after
the claim. ``nth`` picks which commit of the operation the fault hits
(a search-index add commits the docs, then the postings). After the
fault:

- every table reads as its pre-state or its post-state;
- retrying the operation converges to the from-scratch answer (the
  matview equals a full build of the final base, search equals
  ``bm25_topk`` over the final corpus, a rewrite reaches its target
  layout with the same rows);
- ``fsck(repair=True, min_age_s=0)`` followed by ``validate()`` passes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from parquet_rewriter_spark.operators import matview, search_index, sidecar, splice
from parquet_rewriter_spark.operators.bloom import BLOOM_DIR
from parquet_rewriter_spark.operators.compact import compact_incremental
from parquet_rewriter_spark.operators.deletion_vectors import (
    delete_keys_mor,
    materialize_deletes,
)
from parquet_rewriter_spark.operators.matview import MaterializedAggregate
from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
from parquet_rewriter_spark.operators.search import bm25_topk
from parquet_rewriter_spark.operators.search_index import SearchIndex
from parquet_rewriter_spark.table import MANIFEST_NAME, SortedTable


class Crash(RuntimeError):
    pass


def _inject(monkeypatch, step: str, module, nth: int) -> list:
    """Raise ``Crash`` on the ``nth`` call of ``step``; returns the list
    of calls seen so far (the test asserts the fault fired)."""
    calls: list = []

    def arm(owner, name, hit=lambda *a, **k: True):
        real = getattr(owner, name)

        def wrapped(*a, **k):
            if hit(*a, **k):
                calls.append(name)
                if len(calls) == nth:
                    raise Crash(f"injected at {step} #{nth}")
            return real(*a, **k)

        monkeypatch.setattr(owner, name, wrapped)

    if step == "snapshot_diff":
        arm(module, "snapshot_diff")
    elif step == "write":
        # the row-group splice writes on the driver and falls back to
        # the distributed merge on any error; fault the distributed write
        monkeypatch.setattr(splice, "MAX_SPLICE_FILES", 0)
        arm(SortedTable, "_write_sorted")
    elif step == "adopt":
        arm(SortedTable, "_adopt_staged")
    elif step == "sidecar":
        arm(sidecar, "build_new")
    elif step == "claim":
        arm(SortedTable, "_commit_manifest")
    elif step == "link":
        arm(os, "link", lambda src, dst, *a, **k: os.path.basename(dst).startswith("_manifest.v"))
    elif step == "pointer":
        arm(os, "replace", lambda src, dst, *a, **k: os.path.basename(dst) == MANIFEST_NAME)
    return calls


def _heal_and_validate(*tables: SortedTable) -> None:
    for t in tables:
        t.fsck(repair=True, min_age_s=0)
        assert t.validate()["ok"], t.path


# ------------------------------------------------------------- matview


def _view(mv) -> set:
    return {(r["grp"], r["n"], round(r["total"], 6)) for r in mv.read().collect()}


@pytest.mark.parametrize("step", ["snapshot_diff", "write", "claim", "pointer"])
def test_matview_refresh_fault(spark, tmp_path, monkeypatch, step):
    df = spark.range(0, 2_000).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), (F.col("id") * 1.5).alias("val")
    )
    base = SortedTable.create(spark, str(tmp_path / "base"), df, key="id",
                              max_records_per_file=500)
    aggs = {"n": ("count",), "total": ("sum", "val")}
    mv = MaterializedAggregate(base, str(tmp_path / "mv"), "grp", aggs)
    mv.build()
    pre = _view(mv)
    # 100 rows move to a new group; the ten groups they leave shrink
    moved = (
        base.read().filter(F.col("id") < 100)
        .withColumn("grp", F.lit(99).cast("long"))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(base, moved)
    full = MaterializedAggregate(base, str(tmp_path / "full"), "grp", aggs)
    full.build()
    want = _view(full)
    assert (99, 100, round(sum(i * 1.5 for i in range(100)), 6)) in want

    calls = _inject(monkeypatch, step, matview, nth=1)
    with pytest.raises(Crash):
        mv.refresh()
    monkeypatch.undo()
    assert calls
    assert _view(mv) in (pre, want)

    mv.refresh()
    assert _view(mv) == want
    _heal_and_validate(base, mv.table())


# -------------------------------------------------------- search index

_TERMS = ["zebra", "w1", "common"]


def _corpus_df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in sorted(rows.items())])


def _postings(idx) -> tuple:
    rows = sorted(
        tuple(r) for r in idx.postings.read()
        .select("pkey", "dl", F.explode("terms").alias("p"))
        .select("pkey", "dl", "p.term", "p.tf").collect()
    )
    return tuple(rows)


def _top(df) -> list:
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """(postings, bm25 top-k) of a from-scratch index over a corpus."""
    seen: dict = {}

    def of(corpus: dict) -> tuple:
        key = tuple(sorted(corpus.items()))
        if key not in seen:
            docs = _corpus_df(spark, corpus)
            ref = SearchIndex.build(spark, str(tmp_path_factory.mktemp("ref")), docs, n_buckets=8)
            seen[key] = (_postings(ref), _top(bm25_topk(docs, "doc_id", "text", _TERMS, k=50)))
        return seen[key]

    return of


@pytest.mark.parametrize(
    "op,step,nth",
    [
        ("add", "snapshot_diff", 1),
        ("add", "write", 1), ("add", "write", 2),
        ("add", "claim", 1), ("add", "claim", 2),
        ("add", "pointer", 1), ("add", "pointer", 2),
        ("remove", "snapshot_diff", 1),
        ("remove", "write", 2),
        ("remove", "claim", 2),
        ("remove", "pointer", 2),
    ],
)
def test_search_index_fault(spark, tmp_path, monkeypatch, reference, op, step, nth):
    corpus = {i: f"w{i % 7} w{i % 5} common" for i in range(30)}
    idx = SearchIndex.build(spark, str(tmp_path / "idx"), _corpus_df(spark, corpus), n_buckets=8)
    final = dict(corpus)
    if op == "add":
        batch = {100: "zebra w1", 3: "zebra zebra common", 4: "w2"}
        final.update(batch)
        run = lambda: idx.add(_corpus_df(spark, batch))  # noqa: E731
    else:
        gone = [1, 8, 15]
        for i in gone:
            del final[i]
        run = lambda: idx.remove(spark.createDataFrame([Row(doc_id=i) for i in gone]))  # noqa: E731
    pre_docs, post_docs = sorted(corpus.items()), sorted(final.items())
    (pre_post, _), (post_post, want) = reference(corpus), reference(final)
    assert _postings(idx) == pre_post

    calls = _inject(monkeypatch, step, search_index, nth)
    with pytest.raises(Crash):
        run()
    monkeypatch.undo()
    assert len(calls) >= nth
    assert sorted(tuple(r) for r in idx.table.read().collect()) in (pre_docs, post_docs)
    assert _postings(idx) in (pre_post, post_post)

    run()
    assert _postings(idx) == post_post
    assert _top(idx.search(_TERMS, k=50)) == want
    _heal_and_validate(idx.table, idx.postings)


# ------------------------------------------------- shared rewrite path


@pytest.mark.parametrize("step", ["write", "adopt", "sidecar", "link", "pointer"])
@pytest.mark.parametrize("op", ["compact_incremental", "materialize_deletes"])
def test_rewrite_fault(spark, tmp_path, monkeypatch, op, step):
    df = spark.range(0, 400).select(F.col("id"), (F.col("id") % 7).alias("grp"))
    t = SortedTable.create(spark, str(tmp_path / "t"), df, key="id",
                           max_records_per_file=100, bloom_cols=["grp"])
    delete_keys_mor(t, spark.range(0, 400, 9))
    m = t.manifest()
    rows = sorted(tuple(r) for r in t.read().collect())
    if op == "compact_incremental":
        run = lambda: compact_incremental(t, 1_000)  # noqa: E731
        done = lambda m: len(m.files) == 1  # noqa: E731
    else:
        run = lambda: materialize_deletes(t)  # noqa: E731
        done = lambda m: not m.dv_files and not any(e.dv_rows for e in m.files)  # noqa: E731
    assert not done(m)

    calls = _inject(monkeypatch, step, None, nth=1)
    with pytest.raises(Crash):
        run()
    monkeypatch.undo()
    assert calls
    assert t.manifest().version in (m.version, m.version + 1)
    assert sorted(tuple(r) for r in t.read().collect()) == rows

    run()
    assert done(t.manifest())
    assert sorted(tuple(r) for r in t.read().collect()) == rows
    assert {e.name for e in t.manifest().files} <= sidecar.have_files(t, BLOOM_DIR)
    _heal_and_validate(t)
