"""Incrementally-maintained full-text (BM25) search index.

``bm25_topk`` (operators/search.py) tokenizes the WHOLE corpus per
query — right for ad-hoc exploration, wrong for a serving index at
100 TB where the corpus mutates forever. ``SearchIndex`` keeps the
index itself as two engine-managed :class:`SortedTable`\\ s:

1. **Docs** (``docs/``, source of truth): keyed by doc id, holding
   (doc_id, text). Writes go here, through the mutation core —
   zone-map dirty-file pruning, atomic commits, time travel.
2. **Postings** (``postings/``, derived, query-optimized): one row per
   (bucket, doc), keyed ``bucket * BUCKET_BASE + doc_id`` with
   ``bucket = crc32(term) mod n_buckets`` — the cell-major key of
   operators/ann_index.py. Columns: ``dl`` (the doc's length) and
   ``terms``, the doc's (term, tf) pairs that fall in the bucket. A
   query's terms map to a handful of buckets, and each bucket is one
   key range, so ``search`` reads them with ``read_range``: manifest
   pruning, never the corpus. The build cuts files at the bucket
   boundaries, so a file starts out holding one bucket.
3. **Corpus stats** live in the postings table too, as one reserved row
   (key −1, its own bucket cut) whose pairs are ``n_docs``,
   ``total_dl`` and ``n_buckets``. BM25's N and avgdl come from it,
   read on the driver.

Refresh contract: the postings manifest records the docs version it
reflects as its ``"search"`` transaction watermark (``Manifest.txns``).
A refresh diffs the docs table from that watermark to its current
version (operators/cdc.py:snapshot_diff with preimages) and applies ONE
``merge_into_table(..., txn=("search", docs_version))``: postimage
(bucket, doc) rows UPSERT, preimage keys the postimage lacks DELETE, and
the stats row is upserted with the diff's deltas. The merge's zone-map
planning rewrites only the files of touched buckets, so cost is

    O(batch docs + size of touched buckets)

never O(corpus); untouched files keep their names and bytes. Postings,
stats and watermark flip together, so they never disagree, and a
refresh that dies anywhere leaves the last committed state: ``add`` /
``remove`` merge the docs and then refresh from the watermark, and
``search`` refreshes first (a driver-only check, no Spark job, when the
index is current) — a lagging index catches up on its next use.

Correctness contract (oracled end-to-end in the catalog): after any
sequence of add/remove batches, ``search(terms)`` over the incremental
postings equals BM25 computed from scratch over the final corpus.
"""

from __future__ import annotations

import os
import zlib
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_rewriter_spark.operators.cdc import CHANGE_TYPE_COL, snapshot_diff
from parquet_rewriter_spark.operators.merge import (
    OP_COLUMN,
    OP_DELETE,
    OP_UPSERT,
    merge_into_table,
)
from parquet_rewriter_spark.operators.util import cache_scope, persist
from parquet_rewriter_spark.table import SortedTable

_ID = "doc_id"
_KEY = "pkey"
BUCKET_BASE = 1 << 40  # composite key: bucket * BUCKET_BASE + doc_id
_STATS_KEY = -1
_TXN = "search"  # Manifest.txns app id of the docs-version watermark
_NO_STATS = {"n_docs": 0, "total_dl": 0}


def _postings_mutations(changes: DataFrame, n_buckets: int, stats: dict) -> DataFrame:
    """Postings mutations for a change feed (doc_id, text, _change_type):
    one row per (bucket, doc) — UPSERT with the postimage's (term, tf)
    pairs in that bucket, DELETE where only a preimage had terms there —
    plus the stats row, ``stats`` folded with the feed's deltas."""
    words = F.filter(
        F.split(F.coalesce("text", F.lit("")), " "), lambda x: x != ""
    )
    post = F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
    rows = changes.select(
        _ID, CHANGE_TYPE_COL, post.alias("post"), F.size(words).alias("dl"),
        words.alias("words"),
    )
    bucket = F.pmod(F.crc32("term"), F.lit(n_buckets))
    # one exchange on the row key serves both aggregations below
    tf = (
        rows.select(_ID, "post", "dl", F.explode("words").alias("term"))
        .withColumn(_KEY, bucket * F.lit(BUCKET_BASE) + F.col(_ID))
        .repartition(_KEY)
        .groupBy(_KEY, "post", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    is_post = F.col("post")
    postings = (
        tf.groupBy(_KEY)
        .agg(
            F.max(F.when(is_post, F.col("dl"))).alias("dl"),
            F.array_sort(
                F.collect_list(F.when(is_post, F.struct("term", "tf")))
            ).alias("terms"),
            F.max(is_post).alias("post"),
        )
        .select(
            _KEY, "dl", "terms",
            F.when(is_post, F.lit(OP_UPSERT)).otherwise(F.lit(OP_DELETE)).alias(OP_COLUMN),
        )
    )
    ct = F.col(CHANGE_TYPE_COL)
    delta = rows.agg(
        F.coalesce(F.sum(
            F.when(ct == "insert", 1).when(ct == "delete", -1).otherwise(0)
        ), F.lit(0)).alias("n_docs"),
        F.coalesce(F.sum(F.when(is_post, F.col("dl")).otherwise(-F.col("dl"))),
                   F.lit(0)).alias("total_dl"),
    )

    def pair(name, value):
        return F.struct(F.lit(name).alias("term"), value.cast("long").alias("tf"))

    stats_row = delta.select(
        F.lit(_STATS_KEY).cast("long").alias(_KEY),
        F.lit(None).cast("int").alias("dl"),
        F.array(
            pair("n_buckets", F.lit(n_buckets)),
            pair("n_docs", F.lit(stats["n_docs"]) + F.col("n_docs")),
            pair("total_dl", F.lit(stats["total_dl"]) + F.col("total_dl")),
        ).alias("terms"),
        F.lit(OP_UPSERT).alias(OP_COLUMN),
    )
    return postings.unionByName(stats_row)


def _check_ids(batch: DataFrame) -> None:
    """The composite key needs 0 <= doc_id < BUCKET_BASE: a larger id
    would run into the next bucket's key range."""
    bad = (F.col(_ID) < 0) | (F.col(_ID) >= BUCKET_BASE)
    if not batch.filter(bad).isEmpty():
        raise ValueError("SearchIndex doc ids must lie in [0, 2**40)")


class SearchIndex:
    def __init__(self, table: SortedTable, postings: SortedTable, path: str) -> None:
        self.table = table  # docs
        self.postings = postings
        self.path = path

    # ----------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        path: str,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 64,
        max_records_per_file: int = 100_000,
    ) -> "SearchIndex":
        base = docs.select(F.col(id_col).alias(_ID), F.col(text_col).alias("text"))
        _check_ids(base)
        table = SortedTable.create(
            spark, os.path.join(path, "docs"), base, key=_ID,
            max_records_per_file=max_records_per_file,
        )
        idx = cls(table, SortedTable(spark, os.path.join(path, "postings")), path)
        SortedTable.create(
            spark, idx.postings.path,
            _postings_mutations(idx._snapshot(0), n_buckets, _NO_STATS).drop(OP_COLUMN),
            key=_KEY,
            bucket_cuts=[_STATS_KEY] + [b * BUCKET_BASE - 1 for b in range(1, n_buckets)],
            txn=(_TXN, 0),
        )
        return idx

    def _snapshot(self, version: int) -> DataFrame:
        """Docs snapshot ``version`` as a change feed of inserts."""
        return self.table.read(version).withColumn(CHANGE_TYPE_COL, F.lit("insert"))

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "SearchIndex":
        return cls(
            SortedTable(spark, os.path.join(path, "docs")),
            SortedTable(spark, os.path.join(path, "postings")),
            path,
        )

    def stats(self, m=None) -> dict:
        """The reserved stats row ({n_docs, total_dl, n_buckets}) of the
        postings snapshot ``m`` (default: current), read on the driver
        from its first file — key −1 is the table's smallest key."""
        import pyarrow.parquet as pq

        first = (m or self.postings.manifest()).files[0]
        t = pq.read_table(
            os.path.join(self.postings.path, first.name),
            columns=["terms"], filters=[(_KEY, "=", _STATS_KEY)],
        )
        return {p["term"]: p["tf"] for p in t.column("terms")[0].as_py()}

    # -------------------------------------------------------- mutation

    def add(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> dict:
        """Upsert a document batch, then refresh the postings. Returns
        the docs merge metrics, with the postings refresh's under
        ``postings``."""
        batch = docs.select(
            F.col(id_col).alias(_ID), F.col(text_col).alias("text")
        ).withColumn(OP_COLUMN, F.lit(OP_UPSERT))
        return self._mutate(batch)

    def remove(self, ids: DataFrame, id_col: str = "doc_id") -> dict:
        """Delete retired docs; their postings retract via the preimage."""
        batch = (
            ids.select(F.col(id_col).alias(_ID))
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn(OP_COLUMN, F.lit(OP_DELETE))
        )
        return self._mutate(batch)

    def _mutate(self, batch: DataFrame) -> dict:
        _check_ids(batch)
        metrics = merge_into_table(self.table, batch)
        return {**metrics, "postings": self.refresh()}

    def refresh(self) -> dict:
        """Fold every docs commit since the postings' watermark into the
        postings with one merge. An index that is current returns after
        two manifest reads, with no Spark job."""
        to_v = self.table.manifest().version
        m = self.postings.manifest()
        from_v = m.txns[_TXN]
        out = {"refreshed": from_v != to_v, "docs_from": from_v, "docs_to": to_v}
        if from_v == to_v:
            return out
        st = self.stats(m)
        try:
            changes = snapshot_diff(self.table, from_v, to_v, include_preimage=True)
            muts = _postings_mutations(changes, st["n_buckets"], st)
        except ValueError:
            # docs history vacuumed past the watermark: the delta is
            # unrecoverable, so the merge rewrites the postings from the
            # snapshot and deletes every key the snapshot no longer has
            muts = _postings_mutations(self._snapshot(to_v), st["n_buckets"], _NO_STATS)
            stale = self.postings.read().select(_KEY).join(muts, _KEY, "left_anti")
            muts = muts.unionByName(
                stale.withColumn(OP_COLUMN, F.lit(OP_DELETE)), allowMissingColumns=True
            )
            out["rebuilt"] = True
        # the merge's planning and write passes both read the mutations;
        # the postings files are bucket-aligned, so the write exchanges on
        # their key ranges without a range-sampling job
        with cache_scope():
            return {**out, **merge_into_table(
                self.postings, persist(muts), txn=(_TXN, to_v), bucket_write_min_bytes=0
            )}

    # ----------------------------------------------------------- query

    def search(
        self, query_terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75
    ) -> DataFrame:
        """BM25 top-k over the postings: catches up first, then reads
        ONLY the key ranges of the query terms' buckets, so per-query
        cost is independent of corpus size. Returns (doc_id, score,
        n_hit_terms) — same contract as bm25_topk."""
        self.refresh()
        terms = [t for t in query_terms if t]
        st = self.stats()
        n_docs, avg_dl = st["n_docs"], st["total_dl"] / max(st["n_docs"], 1)
        # crc32 is the same function in zlib and Spark, so the buckets
        # are known on the driver (an empty query still plans one scan)
        buckets = sorted({zlib.crc32(t.encode()) % st["n_buckets"] for t in terms})
        post = (
            reduce(
                DataFrame.unionByName,
                [
                    self.postings.read_range(c * BUCKET_BASE, (c + 1) * BUCKET_BASE - 1)
                    for c in buckets or [0]
                ],
            )
            .select(
                (F.col(_KEY) % F.lit(BUCKET_BASE)).alias(_ID), "dl",
                F.explode("terms").alias("p"),
            )
            .select(_ID, "dl", "p.term", "p.tf")
            .filter(F.col("term").isin(terms))
        )
        df_t = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        idf = F.log(
            F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        tf_part = (
            F.col("tf") * (1.0 + k1)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avg_dl)))
        )
        return (
            post.join(F.broadcast(df_t), "term")
            .groupBy(_ID)
            .agg(
                F.round(F.sum(idf * tf_part), 4).alias("score"),
                F.count(F.lit(1)).alias("n_hit_terms"),
            )
            .orderBy(F.col("score").desc(), F.col(_ID))
            .limit(k)
        )
