"""Incrementally-maintained full-text (BM25) search index.

``bm25_topk`` (operators/search.py) tokenizes the WHOLE corpus per
query — right for ad-hoc exploration, wrong for a serving index at
100 TB where the corpus mutates forever. ``SearchIndex`` keeps the
index itself as engine-managed state, split across the two layouts a
real search system needs:

1. **Document table** (source of truth): a :class:`SortedTable` keyed
   by doc id holding (doc_id, text). Maintained by the engine's own
   mutation core — upsert/delete batches pay zone-map dirty-file
   pruning, atomic commits, time travel. This is where writes go.
2. **Postings layout** (derived, query-optimized): (term, doc_id, tf,
   dl) hive-partitioned by ``bucket = pmod(xxhash64(term), n_buckets)``.
   A query's terms map to a handful of buckets, so search is a
   PARTITION-PRUNED scan of |query-term buckets|, never the corpus.
3. **Corpus stats** (tiny): (n_docs, total_dl) as one parquet row,
   versioned next to the postings; BM25's N and avgdl come from here —
   no corpus scan at query time.

The refresh contract is the point: after ``add(batch)`` the derived
layout is reconciled FROM THE CDC FEED of the doc table
(operators/cdc.py:snapshot_diff with preimages), so refresh cost is

    O(batch docs + size of touched term-buckets)

never O(corpus). Buckets untouched by the batch's terms keep their
files byte-identical on disk (dynamic partition overwrite,
sources/sinks.py:overwrite_partitions). Deletes retract postings via
the preimage's terms; updates retract the old terms and insert the new.

Correctness contract (oracled end-to-end in the catalog): after any
sequence of add/remove batches, ``search(terms)`` over the incremental
postings equals BM25 computed from scratch over the final corpus.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_rewriter_spark.operators.search import term_postings
from parquet_rewriter_spark.operators.util import persist
from parquet_rewriter_spark.table import SortedTable

_ID = "doc_id"


def _doc_lengths(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias(_ID),
        F.size(F.filter(F.split(F.col(text_col), " "), lambda x: x != "")).alias("dl"),
    )


class SearchIndex:
    def __init__(self, table: SortedTable, path: str, n_buckets: int = 64) -> None:
        self.table = table
        self.path = path
        self.n_buckets = n_buckets

    # ---------------------------------------------------------- layout

    @property
    def _postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    @property
    def _stats_path(self) -> str:
        return os.path.join(self.path, "stats.json")

    def _bucket(self, term_col):
        return F.pmod(F.xxhash64(term_col), F.lit(self.n_buckets)).cast("int")

    def _postings_of(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        post = term_postings(docs, id_col, text_col)
        lens = _doc_lengths(docs, id_col, text_col)
        return (
            post.join(lens, _ID)
            .select(self._bucket(F.col("term")).alias("bucket"), "term", _ID, "tf", "dl")
        )

    def _write_stats(self, n_docs: int, total_dl: int) -> None:
        # temp file + rename: a crash mid-write leaves the old stats
        tmp = self._stats_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"n_docs": int(n_docs), "total_dl": int(total_dl)}, f)
        os.replace(tmp, self._stats_path)

    def _read_stats(self) -> dict:
        with open(self._stats_path) as f:
            return json.load(f)

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
        table = SortedTable.create(
            spark, os.path.join(path, "docs"), base, key=_ID,
            max_records_per_file=max_records_per_file,
        )
        idx = cls(table, path, n_buckets=n_buckets)
        from parquet_rewriter_spark.sources.sinks import write_partitioned

        write_partitioned(
            idx._postings_of(base, _ID, "text"), idx._postings_path, ["bucket"]
        )
        agg = _doc_lengths(base, _ID, "text").agg(
            F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
        ).first()
        idx._write_stats(agg[0], agg[1])
        return idx

    @classmethod
    def open(cls, spark: SparkSession, path: str, n_buckets: int = 64) -> "SearchIndex":
        return cls(SortedTable(spark, os.path.join(path, "docs")), path, n_buckets)

    # -------------------------------------------------------- mutation

    def add(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> dict:
        """Upsert a document batch, then reconcile the derived postings
        from the doc table's CDC feed. Returns the merge metrics plus
        ``buckets_refreshed``."""
        from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table

        batch = docs.select(
            F.col(id_col).alias(_ID), F.col(text_col).alias("text")
        ).withColumn(OP_COLUMN, F.lit("UPSERT"))
        return self._mutate(batch, merge_into_table)

    def remove(self, ids: DataFrame, id_col: str = "doc_id") -> dict:
        """Delete retired docs; their postings retract via the preimage."""
        from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table

        batch = (
            ids.select(F.col(id_col).alias(_ID))
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn(OP_COLUMN, F.lit("DELETE"))
        )
        return self._mutate(batch, merge_into_table)

    def _mutate(self, batch: DataFrame, merge_into_table) -> dict:
        from parquet_rewriter_spark.operators.cdc import snapshot_diff

        v0 = self.table.manifest().version
        metrics = merge_into_table(self.table, batch)
        diff = persist(snapshot_diff(self.table, v0, include_preimage=True))

        # retractions: preimages + deletes; additions: postimages + inserts
        new_rows = diff.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        )
        churned_ids = diff.select(_ID).distinct()
        # ONE map-side-combinable aggregation serves every bounded fold
        # over the persisted diff — the touched-bucket set AND the
        # stats deltas. Affected buckets = buckets of every term the
        # change touches (old terms must retract even if the new text
        # drops them); with n_buckets ≤ 64 the per-row bucket set is a
        # BITMASK folded with bit_or, so the former explode → distinct
        # shuffle (term-scale rows) disappears entirely (guide §2.3 —
        # aggregate before you shuffle; the shuffle now carries ≤ 4
        # 4-long rows).
        words = F.filter(
            F.split(F.coalesce("text", F.lit("")), " "), lambda x: x != ""
        )
        if self.n_buckets <= 64:
            mask = F.expr(
                "aggregate(filter(split(coalesce(text, ''), ' '),"
                " x -> x != ''), 0L, (acc, w) -> acc |"
                " shiftleft(1L, cast(pmod(xxhash64(w),"
                f" {self.n_buckets}) as int)))"
            )
            fused = (
                diff.select(
                    "_change_type", F.size(words).alias("dl"), mask.alias("bm")
                )
                .groupBy("_change_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("dl"),
                    F.bit_or("bm").alias("bm"),
                )
                .collect()
            )
            all_mask = 0
            for r in fused:
                all_mask |= int(r["bm"] or 0)
            buckets = [b for b in range(self.n_buckets) if all_mask >> b & 1]
        else:
            touched = (
                diff.select(F.explode(words).alias("term"))
                .select(self._bucket(F.col("term")).alias("bucket"))
                .distinct()
            )
            stat_rows = (
                diff.select("_change_type", F.size(words).alias("dl"))
                .groupBy("_change_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("dl"),
                )
            )
            fused = touched.select(
                F.lit(None).cast("string").alias("_change_type"),
                F.col("bucket").cast("long").alias("bucket"),
                F.lit(None).cast("long").alias("n"),
                F.lit(None).cast("long").alias("dl"),
            ).unionByName(
                stat_rows.select(
                    "_change_type",
                    F.lit(None).cast("long").alias("bucket"),
                    F.col("n").cast("long").alias("n"),
                    F.col("dl").cast("long").alias("dl"),
                )
            ).collect()
            buckets = [
                int(r["bucket"]) for r in fused if r["_change_type"] is None
            ]  # ≤ n_buckets ints
        if buckets:
            spark = self.table.spark
            existing = spark.read.parquet(self._postings_path).filter(
                F.col("bucket").isin(buckets)
            )
            kept = existing.join(churned_ids, _ID, "anti")
            fresh = self._postings_of(new_rows, _ID, "text").filter(
                F.col("bucket").isin(buckets)
            )
            from parquet_rewriter_spark.sources.sinks import write_partitioned

            # ONE materialization: the refreshed buckets write straight
            # to a temp root (underscore-prefixed — never listed as
            # data) and the touched bucket DIRECTORIES swap in
            # driver-side. The former shape paid the rows twice — an
            # eager localCheckpoint job (to break the read-your-own-
            # overwrite cycle) and then the dynamic-overwrite write —
            # and detected all-retracted buckets with a listing diff
            # that leaned on the committer's fresh-file-name contract.
            # Writing besides the live path breaks the cycle for free,
            # and an emptied bucket simply writes no partition dir, so
            # the swap removes it: no second pass, no naming contract.
            # Each live bucket moves aside (into the temp root) before
            # the fresh one renames in, and every rename is checked: a
            # failed swap raises with the old postings put back.
            import uuid as _uuid

            refreshed = kept.unionByName(fresh).select(
                "bucket", "term", _ID, "tf", "dl"
            )
            tmp = os.path.join(
                self.path, f"_postings-refresh-{_uuid.uuid4().hex}"
            )
            write_partitioned(refreshed, tmp, ["bucket"])
            jvm = spark.sparkContext._jvm
            hconf = spark.sparkContext._jsc.hadoopConfiguration()
            HPath = jvm.org.apache.hadoop.fs.Path
            tmp_p = HPath(tmp)
            fs = tmp_p.getFileSystem(hconf)
            aside_root = HPath(f"{tmp}/_aside")
            if not fs.mkdirs(aside_root):
                raise OSError(f"search index: cannot create {aside_root}")
            for b in buckets:
                dst = HPath(f"{self._postings_path}/bucket={b}")
                src = HPath(f"{tmp}/bucket={b}")
                aside = HPath(f"{tmp}/_aside/bucket={b}")
                had_dst = fs.exists(dst)
                if had_dst and not fs.rename(dst, aside):
                    raise OSError(f"search index: cannot move {dst} aside")
                if fs.exists(src) and not fs.rename(src, dst):
                    if had_dst and not fs.rename(aside, dst):
                        raise OSError(
                            f"search index: cannot rename {src} to {dst}; "
                            f"the old postings are left at {aside}"
                        )
                    raise OSError(f"search index: cannot rename {src} to {dst}")
            fs.delete(tmp_p, True)

        # stats deltas came from the same fused collect (no corpus scan)
        diff.unpersist()
        d = [r for r in fused if r["_change_type"] is not None]
        n_of = {r["_change_type"]: r["n"] for r in d}
        dl_of = {r["_change_type"]: r["dl"] for r in d}
        st = self._read_stats()
        n_docs = st["n_docs"] + n_of.get("insert", 0) - n_of.get("delete", 0)
        total_dl = (
            st["total_dl"]
            + dl_of.get("insert", 0)
            + dl_of.get("update_postimage", 0)
            - dl_of.get("update_preimage", 0)
            - dl_of.get("delete", 0)
        )
        self._write_stats(n_docs, total_dl)
        metrics["buckets_refreshed"] = len(buckets)
        return metrics

    # ----------------------------------------------------------- query

    def search(
        self, query_terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75
    ) -> DataFrame:
        """BM25 top-k over the derived postings: reads ONLY the buckets
        of the query's terms (hive partition pruning on ``bucket``), so
        per-query cost is independent of corpus size. Returns
        (doc_id, score, n_hit_terms) — same contract as bm25_topk."""
        terms = [t for t in query_terms if t]
        spark = self.table.spark
        st = self._read_stats()
        n_docs, avg_dl = st["n_docs"], st["total_dl"] / max(st["n_docs"], 1)
        # bucket pruning WITHOUT a separate hashing job: each term's
        # bucket is a FOLDABLE expression (xxhash64 of a literal — the
        # exact expression the layout used), so Catalyst constant-folds
        # the disjunction to `bucket IN (…)` before partition pruning —
        # the former 1-row Spark job per search is gone
        from functools import reduce

        bucket_pred = reduce(
            lambda a, b: a | b,
            [F.col("bucket") == self._bucket(F.lit(t)) for t in terms],
            F.lit(False),
        )
        post = (
            spark.read.parquet(self._postings_path)
            .filter(bucket_pred)
            .filter(F.col("term").isin(terms))
        )
        df_t = post.groupBy("term").agg(F.count_distinct(_ID).alias("df"))
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
