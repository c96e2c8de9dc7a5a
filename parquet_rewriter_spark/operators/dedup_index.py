"""Incremental near-dup index: MinHash signatures as a mutable table.

``minhash_lsh_pairs`` (operators/dedup.py) signatures the WHOLE corpus
on every run — the right shape for a one-shot dedup, the wrong one for
a live ingestion pipeline where batches arrive forever. At 100 TB the
dominant dedup cost is signature computation over the corpus; it should
be paid once per document, not once per run.

``MinhashDedupIndex`` stores each doc's signature (num_hashes longs) in
a SortedTable keyed by doc id — so the index is maintained by the
engine's own mutation core and inherits everything the storage layer
gives: zone-map dirty-file pruning on the id key (an ingest batch with
clustered ids rewrites only the files it touches), atomic manifest
commits, time travel, vacuum.

Per-batch flow (cost ∝ batch + candidates, never ∝ corpus):
1. ``add(batch)``       — signature the NEW docs only, upsert into the
                          signature table (merge_into_table).
2. ``near_dups_of(batch)`` — band the batch signatures, equi-join on
   (band, band_sig) against the banded INDEX signatures, then estimate
   Jaccard as the fraction of agreeing minhash components (the unbiased
   sketch estimate, E[match fraction] = J) — no corpus text needed; the
   index never stores documents, only sketches.
3. ``remove(ids)``      — delete signatures (doc retired from corpus).

The estimate-based verify is the standard at-scale trade: with 48
components the estimator's std-dev at J=0.5 is ~0.072, so a 0.5
threshold admits some 0.35-0.5 pairs and drops some 0.5-0.65 ones;
callers needing exact Jaccard re-verify the (small) result pairs
against document text themselves.

Band math is identical to minhash_lsh_pairs — same hash family
(xxhash64 of the 64-bit shingle hash, seeded per component), same band
key (one xxhash64 over the band's r components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_rewriter_spark.operators.dedup import _shingle_rows
from parquet_rewriter_spark.operators.util import persist
from parquet_rewriter_spark.table import SortedTable

_ID = "doc_id"
_SIG_PREFIX = "h"


class MinhashDedupIndex:
    """A persistent, incrementally-maintained MinHash signature table.

    Schema: (doc_id long, h0..h{n-1} long) — one flat column per
    signature component (flat longs keep min-aggregates and band
    hashing inside whole-stage codegen; an array column would be
    interpreted per-element).
    """

    def __init__(
        self,
        table: SortedTable,
        num_hashes: int = 48,
        bands: int = 16,
        shingle_n: int = 3,
        hash_family: str = "xxhash64",
    ) -> None:
        if num_hashes % bands != 0:
            raise ValueError("num_hashes must divide evenly into bands")
        if hash_family not in ("xxhash64", "portable"):
            raise ValueError("hash_family must be 'xxhash64' or 'portable'")
        self.table = table
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        # "portable" = the md5-bridge Knuth family of
        # dedup.minhash_lsh_pairs_portable: one md5 per shingle, band
        # keys as '_'-joined component strings — every signature,
        # bucket, and estimate replayable in ANSI SQL (the correctness
        # gate's full hash compare). "xxhash64" (default) is the faster
        # production family. Like num_hashes/bands, the family is part
        # of the index's identity: open() must pass the same value the
        # index was built with.
        self.hash_family = hash_family

    # ---------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        path: str,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 48,
        bands: int = 16,
        shingle_n: int = 3,
        max_records_per_file: int = 100_000,
        hash_family: str = "xxhash64",
    ) -> "MinhashDedupIndex":
        """Signature the initial corpus and write the index table."""
        sigs = cls._signatures_static(
            docs, id_col, text_col, num_hashes, shingle_n, hash_family
        )
        table = SortedTable.create(
            spark, path, sigs, key=_ID, max_records_per_file=max_records_per_file
        )
        return cls(table, num_hashes=num_hashes, bands=bands,
                   shingle_n=shingle_n, hash_family=hash_family)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        num_hashes: int = 48,
        bands: int = 16,
        shingle_n: int = 3,
        hash_family: str = "xxhash64",
    ) -> "MinhashDedupIndex":
        return cls(
            SortedTable(spark, path),
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            hash_family=hash_family,
        )

    # ------------------------------------------------------- mutation

    def add(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> dict:
        """Signature ONLY ``docs`` and upsert into the index. Returns the
        merge metrics (files rewritten ∝ how clustered the batch ids
        are, never the index size)."""
        from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table

        sigs = self._signatures(docs, id_col, text_col).withColumn(
            OP_COLUMN, F.lit("UPSERT")
        )
        return merge_into_table(self.table, sigs)

    def remove(self, ids: DataFrame, id_col: str = "doc_id") -> dict:
        """Delete retired docs' signatures."""
        from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table

        dels = (
            ids.select(F.col(id_col).alias(_ID))
            .withColumn(OP_COLUMN, F.lit("DELETE"))
        )
        for i in range(self.num_hashes):
            dels = dels.withColumn(f"{_SIG_PREFIX}{i}", F.lit(None).cast("long"))
        return merge_into_table(self.table, dels)

    # ---------------------------------------------------------- query

    def near_dups_of(
        self,
        docs: DataFrame,
        threshold: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
        include_self: bool = False,
    ) -> DataFrame:
        """(batch_id, index_id, est_jaccard) for batch docs whose sketch
        similarity against an indexed doc reaches ``threshold``.

        Cost: signatures over the batch, one equi-join per band key
        against the index (shuffle ∝ batch + bucket collisions), and
        component comparison on the candidate pairs only. The index side
        re-bands from its stored signatures — a projection, no
        re-signaturing.
        """
        batch_sigs = persist(self._signatures(docs, id_col, text_col))
        idx_sigs = self.table.read()
        cand = (
            self._banded(batch_sigs, "batch_id")
            .join(
                self._banded(idx_sigs, "index_id"),
                ["band", "band_sig"],
            )
            .select("batch_id", "index_id")
            .distinct()
        )
        if not include_self:
            cand = cand.filter(F.col("batch_id") != F.col("index_id"))
        b = batch_sigs.select(
            F.col(_ID).alias("batch_id"),
            *[F.col(f"{_SIG_PREFIX}{i}").alias(f"b{i}") for i in range(self.num_hashes)],
        )
        x = idx_sigs.select(
            F.col(_ID).alias("index_id"),
            *[F.col(f"{_SIG_PREFIX}{i}").alias(f"x{i}") for i in range(self.num_hashes)],
        )
        matches = sum(
            F.when(F.col(f"b{i}") == F.col(f"x{i}"), 1).otherwise(0)
            for i in range(self.num_hashes)
        )
        out = (
            cand.join(b, "batch_id")
            .join(x, "index_id")
            .select(
                "batch_id",
                "index_id",
                F.round(matches / F.lit(self.num_hashes), 4).alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= threshold)
        )
        return out

    # ------------------------------------------------------ internals

    def _signatures(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        return self._signatures_static(
            docs, id_col, text_col, self.num_hashes, self.shingle_n,
            self.hash_family,
        )

    @staticmethod
    def _signatures_static(
        docs: DataFrame,
        id_col: str,
        text_col: str,
        num_hashes: int,
        shingle_n: int,
        hash_family: str = "xxhash64",
    ) -> DataFrame:
        """(doc_id, h0..h{n-1}) — identical family to minhash_lsh_pairs
        (xxhash64: shingle → one 64-bit hash → per-component min of the
        seeded re-hash) or to minhash_lsh_pairs_portable (portable:
        md5-bridge base, Knuth multiplicative family — every component
        ANSI-replayable), all inside one codegen'd partial aggregate."""
        sh_rows = _shingle_rows(docs, id_col, text_col, shingle_n)
        if hash_family == "portable":
            from parquet_rewriter_spark.operators.countmin import (
                portable_string_hash,
            )
            from parquet_rewriter_spark.operators.sampling import _KNUTH

            base = F.pmod(portable_string_hash(F.col("sh")), F.lit(2 ** 31))
            sh = sh_rows.select("id", base.alias("b"))
            mins = [
                F.min(
                    F.pmod(F.col("b") * F.lit(_KNUTH) + F.lit(i + 1),
                           F.lit(2 ** 32))
                ).alias(f"{_SIG_PREFIX}{i}")
                for i in range(num_hashes)
            ]
        else:
            sh = sh_rows.select("id", F.xxhash64("sh").alias("sh64"))
            mins = [
                F.min(F.xxhash64("sh64", F.lit(i))).alias(f"{_SIG_PREFIX}{i}")
                for i in range(num_hashes)
            ]
        return sh.groupBy("id").agg(*mins).withColumnRenamed("id", _ID)

    def _banded(self, sigs: DataFrame, out_id: str) -> DataFrame:
        """(out_id, band, band_sig) — one row per (doc, band). The
        portable family's band key is the '_'-joined component string
        (rendered identically by any engine); xxhash64's is one 64-bit
        hash of the band's components."""
        rows = self.num_hashes // self.bands
        if self.hash_family == "portable":
            keys = [
                F.concat_ws(
                    "_",
                    *[F.col(f"{_SIG_PREFIX}{band * rows + r}").cast("string")
                      for r in range(rows)],
                )
                for band in range(self.bands)
            ]
        else:
            keys = [
                F.xxhash64(
                    *[F.col(f"{_SIG_PREFIX}{band * rows + r}")
                      for r in range(rows)]
                )
                for band in range(self.bands)
            ]
        return sigs.select(
            F.col(_ID).alias(out_id),
            F.posexplode(F.array(*keys)).alias("band", "band_sig"),
        )
