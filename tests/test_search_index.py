"""SearchIndex (operators/search_index.py): incremental postings
maintenance through the mutation core's CDC feed.

The catalog oracle (incremental_bm25_search) proves end-to-end
equivalence with from-scratch BM25; these tests pin the refresh
mechanics: one postings merge leaves untouched buckets' files alone,
stats track deltas, retraction removes deleted/updated-away terms, and
the watermark lets a crashed refresh catch up.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from parquet_rewriter_spark.operators import search_index
from parquet_rewriter_spark.operators.search_index import SearchIndex


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def _postings(idx):
    """(doc_id, term, tf, dl) rows of the postings table."""
    return sorted(
        (r["pkey"] % search_index.BUCKET_BASE, r["term"], r["tf"], r["dl"])
        for r in idx.postings.read()
        .filter(F.col("pkey") >= 0)
        .select("pkey", "dl", F.explode("terms").alias("p"))
        .select("pkey", "dl", "p.term", "p.tf")
        .collect()
    )


def _file_bytes(table):
    out = {}
    for e in table.manifest().files:
        with open(os.path.join(table.path, e.name), "rb") as fh:
            out[e.name] = fh.read()
    return out


def test_incremental_equals_fromscratch_postings(spark, tmp_path):
    base = [(1, "alpha beta gamma"), (2, "beta delta"), (3, "epsilon zeta alpha")]
    idx = SearchIndex.build(spark, str(tmp_path / "idx"), _docs(spark, base), n_buckets=8)
    idx.add(_docs(spark, [(4, "alpha omega"), (2, "beta beta theta")]))  # insert + update
    idx.remove(spark.createDataFrame([Row(doc_id=3)]))

    final = [(1, "alpha beta gamma"), (2, "beta beta theta"), (4, "alpha omega")]
    scratch = SearchIndex.build(spark, str(tmp_path / "scratch"), _docs(spark, final), n_buckets=8)

    assert _postings(idx) == _postings(scratch)
    assert idx.stats() == scratch.stats() == {
        "n_buckets": 8, "n_docs": 3, "total_dl": 8
    }
    assert idx.postings.manifest().txns == {"search": idx.table.manifest().version}


def test_untouched_buckets_byte_identical(spark, tmp_path):
    # many distinct terms spread over many buckets; the batch touches one doc
    base = [(i, f"term{i}a term{i}b shared") for i in range(40)]
    idx = SearchIndex.build(spark, str(tmp_path / "idx"), _docs(spark, base), n_buckets=64)
    before = _file_bytes(idx.postings)
    res = idx.add(_docs(spark, [(100, "newterm shared")]))
    after = _file_bytes(idx.postings)
    post = res["postings"]
    assert post["files_clean_passthrough"] > 0
    kept = set(before) & set(after)
    assert len(kept) == post["files_clean_passthrough"]
    assert [f for f in kept if after[f] != before[f]] == []  # same names, same bytes
    # only the buckets of "newterm" and "shared" and the stats row's file
    assert len(kept) >= len(before) - 3


def test_update_retracts_dropped_terms(spark, tmp_path):
    idx = SearchIndex.build(
        spark, str(tmp_path / "idx"),
        _docs(spark, [(1, "oldword keep"), (2, "keep")]), n_buckets=8,
    )
    idx.add(_docs(spark, [(1, "newword keep")]))
    terms = {t for _, t, _, _ in _postings(idx)}
    assert "oldword" not in terms and "newword" in terms

    # search must rank only live docs; the dl of doc 1 is the new length
    hit = idx.search(["newword"], k=5).collect()
    assert [r["doc_id"] for r in hit] == [1]
    assert idx.search(["oldword"], k=5).count() == 0


def test_stats_track_deltas(spark, tmp_path):
    idx = SearchIndex.build(
        spark, str(tmp_path / "idx"),
        _docs(spark, [(1, "a b c"), (2, "d e")]), n_buckets=8,
    )
    assert idx.stats() == {"n_buckets": 8, "n_docs": 2, "total_dl": 5}
    idx.add(_docs(spark, [(3, "f g h i"), (1, "a b")]))  # insert dl=4, update 3→2
    assert idx.stats() == {"n_buckets": 8, "n_docs": 3, "total_dl": 8}
    idx.remove(spark.createDataFrame([Row(doc_id=2)]))
    assert idx.stats() == {"n_buckets": 8, "n_docs": 2, "total_dl": 6}


def test_open_reads_n_buckets_from_the_index(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = [(i, f"word{i} common") for i in range(30)]
    SearchIndex.build(spark, path, _docs(spark, docs), n_buckets=16)
    idx = SearchIndex.open(spark, path)
    assert idx.stats()["n_buckets"] == 16
    for i in range(8):
        assert [r["doc_id"] for r in idx.search([f"word{i}"]).collect()] == [i]


def test_doc_ids_outside_the_composite_key_are_rejected(spark, tmp_path):
    for bad in (-1, 1 << 40):
        with pytest.raises(ValueError, match="2\\*\\*40"):
            SearchIndex.build(spark, str(tmp_path / f"b{bad}"), _docs(spark, [(bad, "x")]))
    idx = SearchIndex.build(spark, str(tmp_path / "idx"), _docs(spark, [(1, "x")]), n_buckets=4)
    v = idx.table.manifest().version
    with pytest.raises(ValueError, match="2\\*\\*40"):
        idx.add(_docs(spark, [(1 << 40, "y")]))
    with pytest.raises(ValueError, match="2\\*\\*40"):
        idx.remove(spark.createDataFrame([Row(doc_id=-5)]))
    assert idx.table.manifest().version == v  # nothing was committed


def test_crash_after_docs_commit_catches_up(spark, tmp_path, monkeypatch):
    """A refresh that dies after the docs commit leaves the postings at
    their watermark; the next add folds the missed commit in too."""
    idx = SearchIndex.build(
        spark, str(tmp_path / "idx"),
        _docs(spark, [(i, f"doc{i} text") for i in range(21)]), n_buckets=8,
    )
    real = search_index.persist
    calls = []

    def crash_once(df, *a):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash")
        return real(df, *a)

    monkeypatch.setattr(search_index, "persist", crash_once)
    with pytest.raises(RuntimeError, match="injected"):
        idx.add(_docs(spark, [(100, "zebra stripes")]))
    assert idx.table.read().count() == 22  # the docs commit landed
    idx.add(_docs(spark, [(101, "okapi")]))
    assert [r["doc_id"] for r in idx.search(["zebra"]).collect()] == [100]
    assert idx.stats()["n_docs"] == 23


def test_search_on_a_current_index_runs_no_refresh_job(spark, tmp_path):
    idx = SearchIndex.build(
        spark, str(tmp_path / "idx"), _docs(spark, [(1, "a b"), (2, "b c")]), n_buckets=4
    )
    sc = spark.sparkContext
    sc.setJobGroup("si-current", "si-current")
    try:
        res = idx.refresh()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res == {"refreshed": False, "docs_from": 0, "docs_to": 0}
    assert sc.statusTracker().getJobIdsForGroup("si-current") == []


def test_refresh_rebuilds_after_docs_history_vacuum(spark, tmp_path, monkeypatch):
    """A lagging index whose watermark snapshot was vacuumed cannot be
    diffed from; its next refresh rewrites the postings from the docs
    snapshot, still as one merge."""
    idx = SearchIndex.build(
        spark, str(tmp_path / "idx"), _docs(spark, [(1, "a b"), (2, "b c")]), n_buckets=4
    )
    monkeypatch.setattr(search_index, "snapshot_diff", None)  # refresh dies
    with pytest.raises(TypeError):
        idx.add(_docs(spark, [(3, "c d")]))
    monkeypatch.undo()
    idx.table.vacuum(retain_versions=1)
    res = idx.refresh()
    assert res["rebuilt"] and res["docs_to"] == 1
    assert idx.postings.manifest().txns == {"search": 1}
    assert idx.stats() == {"n_buckets": 4, "n_docs": 3, "total_dl": 6}
    assert [r["doc_id"] for r in idx.search(["d"]).collect()] == [3]
