"""SearchIndex (operators/search_index.py): incremental postings
maintenance through the mutation core's CDC feed.

The catalog oracle (incremental_bm25_search) proves end-to-end
equivalence with from-scratch BM25; these tests pin the refresh
mechanics: untouched buckets stay byte-identical, stats track deltas,
retraction removes deleted/updated-away terms.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row, functions as F


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def _bucket_files(path):
    out = {}
    for f in glob.glob(os.path.join(path, "postings", "bucket=*", "*.parquet")):
        with open(f, "rb") as fh:
            out[f] = fh.read()
    return out


def test_incremental_equals_fromscratch_postings(spark, tmp_path):
    from parquet_rewriter_spark.operators.search_index import SearchIndex

    base = [(1, "alpha beta gamma"), (2, "beta delta"), (3, "epsilon zeta alpha")]
    idx = SearchIndex.build(spark, str(tmp_path / "idx"), _docs(spark, base), n_buckets=8)
    idx.add(_docs(spark, [(4, "alpha omega"), (2, "beta beta theta")]))  # insert + update
    idx.remove(spark.createDataFrame([Row(doc_id=3)]))

    final = [(1, "alpha beta gamma"), (2, "beta beta theta"), (4, "alpha omega")]
    scratch = SearchIndex.build(spark, str(tmp_path / "scratch"), _docs(spark, final), n_buckets=8)

    inc = sorted(
        tuple(r) for r in spark.read.parquet(idx._postings_path)
        .select("term", "doc_id", "tf", "dl").collect()
    )
    ref = sorted(
        tuple(r) for r in spark.read.parquet(scratch._postings_path)
        .select("term", "doc_id", "tf", "dl").collect()
    )
    assert inc == ref
    assert idx._read_stats() == scratch._read_stats()


def test_untouched_buckets_byte_identical(spark, tmp_path):
    from parquet_rewriter_spark.operators.search_index import SearchIndex

    # many distinct terms spread over many buckets; the batch touches one doc
    base = [(i, f"term{i}a term{i}b shared") for i in range(40)]
    idx = SearchIndex.build(spark, str(tmp_path / "idx"), _docs(spark, base), n_buckets=64)
    before = _bucket_files(idx.path)
    res = idx.add(_docs(spark, [(100, "newterm shared")]))
    after = _bucket_files(idx.path)
    assert 0 < res["buckets_refreshed"] < 64
    untouched_before = {f: b for f, b in before.items() if f in after}
    changed = [f for f, b in untouched_before.items() if after[f] != b]
    assert changed == []  # surviving files are byte-identical
    # and most bucket files must survive (only touched buckets rewritten)
    assert len(untouched_before) >= len(before) - res["buckets_refreshed"]


def test_update_retracts_dropped_terms(spark, tmp_path):
    from parquet_rewriter_spark.operators.search_index import SearchIndex

    idx = SearchIndex.build(
        spark, str(tmp_path / "idx"),
        _docs(spark, [(1, "oldword keep"), (2, "keep")]), n_buckets=8,
    )
    idx.add(_docs(spark, [(1, "newword keep")]))
    terms = {
        r["term"] for r in spark.read.parquet(idx._postings_path).select("term").collect()
    }
    assert "oldword" not in terms and "newword" in terms

    # search must rank only live docs; the dl of doc 1 is the new length
    hit = idx.search(["newword"], k=5).collect()
    assert [r["doc_id"] for r in hit] == [1]
    assert idx.search(["oldword"], k=5).count() == 0


def test_stats_track_deltas(spark, tmp_path):
    from parquet_rewriter_spark.operators.search_index import SearchIndex

    idx = SearchIndex.build(
        spark, str(tmp_path / "idx"),
        _docs(spark, [(1, "a b c"), (2, "d e")]), n_buckets=8,
    )
    assert idx._read_stats() == {"n_docs": 2, "total_dl": 5}
    idx.add(_docs(spark, [(3, "f g h i"), (1, "a b")]))  # insert dl=4, update 3→2
    assert idx._read_stats() == {"n_docs": 3, "total_dl": 8}
    idx.remove(spark.createDataFrame([Row(doc_id=2)]))
    assert idx._read_stats() == {"n_docs": 2, "total_dl": 6}


def test_stats_write_interrupted_keeps_previous_stats(spark, tmp_path, monkeypatch):
    """A crash in the middle of the stats write leaves the previous
    stats readable: the new stats go to a temp file renamed into place."""
    import json

    from parquet_rewriter_spark.operators import search_index
    from parquet_rewriter_spark.operators.search_index import SearchIndex

    idx = SearchIndex.build(
        spark, str(tmp_path / "idx"),
        _docs(spark, [(1, "a b c"), (2, "d e")]), n_buckets=8,
    )

    def torn_dump(obj, f):
        f.write(json.dumps(obj)[:5])  # half the document reaches the file
        raise OSError("disk full")

    monkeypatch.setattr(search_index.json, "dump", torn_dump)
    with pytest.raises(OSError):
        idx._write_stats(7, 70)
    monkeypatch.undo()
    assert idx._read_stats() == {"n_docs": 2, "total_dl": 5}


def test_overwrite_partitions_rewrites_with_fresh_file_names(spark, tmp_path):
    """overwrite_partitions contract: a partition it WRITES comes back
    with FRESH part-file names (task-UUID naming), while a partition
    absent from the written frame keeps its files untouched (dynamic
    overwrite). Callers may therefore tell a rewritten partition from
    a skipped one by its file set."""
    from parquet_rewriter_spark.sources.sinks import overwrite_partitions

    path = str(tmp_path / "part_table")
    df = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c")], "bucket int, v string"
    )
    overwrite_partitions(df, path, ["bucket"])

    def files_of(b: int) -> frozenset:
        return frozenset(
            f for f in os.listdir(os.path.join(path, f"bucket={b}"))
            if not f.startswith(("_", "."))
        )

    before_0, before_1 = files_of(0), files_of(1)
    assert before_0 and before_1
    # rewrite bucket 0 with IDENTICAL content; bucket 1 untouched
    overwrite_partitions(
        df.filter(F.col("bucket") == 0), path, ["bucket"]
    )
    after_0, after_1 = files_of(0), files_of(1)
    # the written partition carries fresh names — zero overlap
    assert after_0 and not (after_0 & before_0), (before_0, after_0)
    # the skipped partition is bit-for-bit untouched
    assert after_1 == before_1
