"""Persistent, incrementally-maintained IVF vector index on the
mutation core — ANN search that updates at dirty-cell cost instead of
rebuild cost.

The batch ANN operators (operators/similarity.py) re-assign and re-scan
the corpus per query. This module makes the IVF layout a TABLE: vectors
live in a SortedTable keyed by a CELL-MAJOR composite key
(``cell * 2^40 + vec_id``), so

- the key zone maps the manifest already keeps give per-cell FILE
  pruning for free: probing ``n_probe`` cells = ``read_range`` over
  n_probe contiguous key ranges, the reference's ``seekToKey`` pattern
  (ParquetRewriter.java:253-301) applied to vector search;
- adds/deletes ride ``merge_into_table`` — only files of TOUCHED cells
  rewrite (the dirty-fraction contract, BASELINE.md), the rest pass
  through by name;
- per-file Bloom filters on ``vec_id`` (operators/bloom.py) find a
  vector's current cell without scanning the table, which is what makes
  delete/update point-lookups instead of full scans.

Centroids are trained once at ``create`` on a driver-bounded sample
(a few MB at any corpus size) and frozen in a sidecar — standard IVF
practice (FAISS-style); drift is handled by ``rebuild``. At 100 TB:
cells ≫ cores, files-per-cell sized by ``max_records_per_file``, and a
query touches only the probed cells' files.
"""

from __future__ import annotations

import json
import os
from typing import Any, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_rewriter_spark.functions.vector import as_double, cosine
from parquet_rewriter_spark.operators.similarity import ivf_assign, kmeans_centroids
from parquet_rewriter_spark.operators.util import local_df
from parquet_rewriter_spark.table import SortedTable

CELL_BASE = 1 << 40  # composite key: cell * CELL_BASE + vec_id
IDX_KEY = "idx_key"
# add() batches up to this many distinct ids use the Bloom point-lookup
# (file-pruned, driver-bounded); larger batches switch to the
# distributed semi-join stale lookup, which never collects ids
DRIVER_LOCATE_IDS = 100_000


class IVFVectorIndex:
    """IVF ANN index as a mutable SortedTable (cell-major key layout)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.table = SortedTable(spark, os.path.join(path, "table"))
        self._centroids: np.ndarray | None = None

    # ------------------------------------------------------------ build

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 16,
        max_records_per_file: int = 4096,
        sample_rows: int = 10_000,
        seed: int = 42,
        pq_m: int | None = None,
        pq_n_codes: int = 16,
    ) -> "IVFVectorIndex":
        """``pq_m`` enables PQ codes AT REST: every row additionally
        stores an m-byte ``pq_code`` column (trained once on the same
        driver-bounded sample as the centroids, frozen in the sidecar),
        and ``topk(via_pq=True)`` scores probes from the code column
        alone — the probed files' scan reads m bytes per row instead of
        4·dim (column pruning does the byte accounting), with an exact
        rerank of the short candidate list reading the float vectors.
        This is FAISS's ``IVFx,PQy`` made a TABLE: IVF prunes files,
        PQ shrinks the bytes each probed file contributes."""
        os.makedirs(path, exist_ok=True)
        C = kmeans_centroids(
            df, vec_col, n_centroids=n_cells, sample_rows=sample_rows, seed=seed
        )
        books = None
        if pq_m:
            from parquet_rewriter_spark.operators.similarity import (
                pq_train_codebooks,
            )

            books = pq_train_codebooks(
                df, vec_col, m=pq_m, n_codes=pq_n_codes,
                sample_rows=sample_rows, seed=seed,
            )
        idx = cls(spark, path)
        idx._write_centroids(C, id_col, vec_col, books=books)
        assigned = idx._assign(df, id_col, vec_col)
        # Cell boundaries of the composite key are known A PRIORI
        # (cell*CELL_BASE), so the sorted write buckets on them instead
        # of range-sampling — which would re-execute the whole Arrow
        # assignment pass a second time just to rediscover these cuts.
        # Cut i = cell i's maximum possible key (inclusive upper bound).
        cuts = np.array(
            [c * CELL_BASE - 1 for c in range(1, int(C.shape[0]))],
            dtype=np.int64,
        )
        SortedTable.create(
            spark,
            idx.table.path,
            assigned,
            key=IDX_KEY,
            max_records_per_file=max_records_per_file,
            bloom_cols=[id_col],
            bucket_cuts=cuts if len(cuts) else None,
        )
        return idx

    def _write_centroids(
        self, C: np.ndarray, id_col: str, vec_col: str,
        books: np.ndarray | None = None,
    ) -> None:
        meta = {
            "id_col": id_col,
            "vec_col": vec_col,
            "n_cells": int(C.shape[0]),
            "dim": int(C.shape[1]),
            "centroids": C.tolist(),
        }
        # PQ codebooks are orthogonal to the cell layout: rebalance
        # rewrites centroids without passing books, so preserve any
        # existing PQ sidecar state unless explicitly replaced.
        if books is not None:
            meta["pq"] = {
                "m": int(books.shape[0]),
                "n_codes": int(books.shape[1]),
                "books": books.tolist(),
            }
        elif os.path.exists(os.path.join(self.path, "_centroids.json")):
            old = self._meta()
            if "pq" in old:
                meta["pq"] = old["pq"]
        tmp = os.path.join(self.path, "_centroids.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.path, "_centroids.json"))

    def _pq_books(self) -> np.ndarray | None:
        pq = self._meta().get("pq")
        return None if pq is None else np.asarray(pq["books"], dtype=np.float64)

    def _meta(self) -> dict:
        with open(os.path.join(self.path, "_centroids.json")) as f:
            return json.load(f)

    @property
    def centroids(self) -> np.ndarray:
        if self._centroids is None:
            self._centroids = np.asarray(self._meta()["centroids"], dtype=np.float64)
        return self._centroids

    @property
    def id_col(self) -> str:
        return self._meta()["id_col"]

    @property
    def vec_col(self) -> str:
        return self._meta()["vec_col"]

    def _assign(self, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        """(idx_key, vec_id, embedding, cell) rows for ``df`` under the
        frozen centroids. vec_id must fit in 40 bits (guarded)."""
        C = self.centroids if os.path.exists(
            os.path.join(self.path, "_centroids.json")
        ) else None
        assert C is not None, "create() must write centroids first"
        a = ivf_assign(df, vec_col, C)
        key = (F.col("centroid_id").cast("long") * F.lit(CELL_BASE)) + F.col(id_col)
        cols = [
            key.alias(IDX_KEY),
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id").alias("cell"),
        ]
        books = self._pq_books()
        if books is not None:
            from parquet_rewriter_spark.operators.similarity import pq_encode

            a = pq_encode(a, vec_col, books)
            cols.append(F.col("pq_code"))
        return a.select(*cols)

    # -------------------------------------------------------- mutations

    def add(self, df: DataFrame, distributed: bool | None = None) -> dict:
        """Upsert vectors (new or re-embedded). Re-embedded vectors may
        land in a DIFFERENT cell than their live row, so stale rows are
        deleted first — both phases fold into ONE merge that rewrites
        only the touched cells' files.

        Two stale-lookup strategies, auto-picked by batch size
        (``distributed=None``):

        - ≤ ``DRIVER_LOCATE_IDS`` distinct ids: Bloom point-lookup —
          only candidate FILES are scanned, ids ride the driver
          (the point-delete pattern; fastest for incremental batches);
        - larger: a fully distributed semi-join of the index's
          (key, id) projection against the batch ids — one
          column-pruned scan, NOTHING collected, so ``add`` has no
          batch-size ceiling (a billion-id re-embedding batch is one
          shuffle, proportionate to the work it implies).
        """
        meta = self._meta()
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        from parquet_rewriter_spark.operators.merge import merge_into_table

        ups = self._assign(df, id_col, vec_col).withColumn("op", F.lit("UPSERT"))
        schema = self.table.read_physical().schema
        cols = [f.name for f in schema.fields] + ["op"]

        ids: list = []
        if distributed is None:
            # ONE bounded action decides the strategy AND delivers the
            # ids when small: collect capped just past the threshold
            # (overflow row = go distributed). Probing the RAW id
            # column — no .distinct() — keeps the probe a shuffle-free
            # scan+limit (the distinct's exchange cost 2 sequential
            # jobs and a 32-partition stage for a 1-row incremental
            # batch); Python dedupes the driver-bounded head. A batch
            # with more than the cap of raw rows goes distributed even
            # if its distinct ids are few — at that size the
            # distributed semi-join is proportionate anyway.
            head = df.select(id_col).limit(DRIVER_LOCATE_IDS + 1).collect()
            distributed = len(head) > DRIVER_LOCATE_IDS
            if not distributed:
                ids = sorted({r[0] for r in head})
        elif not distributed:
            ids = sorted(r[0] for r in df.select(id_col).distinct().collect())

        if not distributed:
            # A re-added vector that STAYS in its cell keeps the same
            # composite key; merge resolves same-key DELETE-over-UPSERT,
            # so a stale key the upsert overwrites in place must not
            # become a DELETE (mirrors the distributed branch's
            # left_anti). Both bounded sets — the Bloom-located stale
            # keys AND the batch's new keys — come back in ONE fused
            # collect (the point path is driver-bounded by
            # construction), where locate-then-collect-new-keys used to
            # pay two sequential job latencies.
            from parquet_rewriter_spark.operators.bloom import read_point

            located = read_point(self.table, id_col, ids).select(
                F.col(IDX_KEY).alias("__k"), F.lit(True).alias("__stale")
            ) if ids else None
            stale: Any = []
            if located is not None:
                # no .distinct() on the new-key side: the driver-side
                # set comprehension below dedupes anyway, and the
                # exchange cost a 32-partition stage per incremental add
                fused = located.unionByName(
                    ups.select(
                        F.col(IDX_KEY).alias("__k"),
                        F.lit(False).alias("__stale"),
                    )
                ).collect()
                new_keys = {r["__k"] for r in fused if not r["__stale"]}
                stale = [
                    r["__k"]
                    for r in fused
                    if r["__stale"] and r["__k"] not in new_keys
                ]
            n_stale = len(stale)
            stale_df = (
                local_df(
                    self.spark, [(k,) for k in stale], f"{IDX_KEY} long"
                )
                if stale
                else None
            )
        else:
            # (key, id) is the narrowest projection that answers the
            # lookup; exclude keys the upsert overwrites in place (same
            # cell) so delete/upsert key sets stay disjoint in-batch
            live = self.table.read_physical().select(IDX_KEY, id_col)
            ids_df = df.select(id_col).distinct()
            stale_df = live.join(ids_df, id_col, "left_semi").join(
                ups.select(IDX_KEY), IDX_KEY, "left_anti"
            ).select(IDX_KEY)
            n_stale = -1  # unknown without an extra action; see report

        if stale_df is not None:
            # ONE merge for both phases: stale rows carry OLD composite
            # keys, re-embedded rows NEW ones — deletes and upserts
            # compose in a single mutation batch (half the commit and
            # planning overhead of two merges).
            dels = stale_df.withColumn("op", F.lit("DELETE"))
            for f in schema.fields:
                if f.name != IDX_KEY:
                    dels = dels.withColumn(f.name, F.lit(None).cast(f.dataType))
            muts = ups.select(*cols).unionByName(dels.select(*cols))
        else:
            muts = ups
        res = merge_into_table(self.table, muts)
        res["stale_deleted"] = n_stale
        res["stale_lookup"] = "distributed" if distributed else "point"
        return res

    def delete(self, ids: Sequence[int]) -> dict:
        """Remove vectors by id: Bloom point-lookup finds each id's
        current (cell-major) key — only candidate files are scanned —
        then one merge of DELETE keys; cost ∝ victim cells' files."""
        keys = self._locate(list(ids))
        if not keys:
            return {"files_dirty": 0, "files_written": 0, "deleted": 0}
        from parquet_rewriter_spark.operators.merge import merge_into_table

        base = self.table.read()
        dtypes = dict(base.dtypes)
        dels = local_df(self.spark, [(k,) for k in keys], f"{IDX_KEY} long")
        for fld in base.schema.fields:
            if fld.name != IDX_KEY:
                dels = dels.withColumn(fld.name, F.lit(None).cast(dtypes[fld.name]))
        dels = dels.withColumn("op", F.lit("DELETE"))
        res = merge_into_table(self.table, dels.select(*[f.name for f in base.schema.fields], "op"))
        res["deleted"] = len(keys)
        return res

    def cell_stats(self) -> DataFrame:
        """(cell, n_vectors, n_files) per IVF cell. Vector counts come
        from one column-pruned scan (only the int cell column is read);
        file counts are driver-side manifest arithmetic (a file spans a
        cell iff its key range overlaps the cell's key range)."""
        m = self.table.manifest()
        per_cell: dict[int, int] = {}
        for e in m.files:
            lo, hi = int(e.key_min // CELL_BASE), int(e.key_max // CELL_BASE)
            for c in range(lo, hi + 1):
                per_cell[c] = per_cell.get(c, 0) + 1
        files = self.spark.createDataFrame(
            list(per_cell.items()) or [(None, None)], "cell int, n_files int"
        ).filter(F.col("cell").isNotNull())
        counts = self.table.read().groupBy("cell").agg(
            F.count("*").alias("n_vectors")
        )
        return counts.join(files, "cell", "left").orderBy("cell")

    def rebalance(
        self,
        max_vectors_per_cell: int,
        sample_rows: int = 10_000,
        seed: int = 42,
    ) -> dict:
        """Split cells that outgrew ``max_vectors_per_cell`` — the IVF
        equivalent of compaction. A cell that accretes a disproportionate
        share of the corpus (inserts cluster in embedding space) makes
        every probe of that cell scan its whole bulk; splitting restores
        probe cost ∝ corpus/n_cells.

        Cost ∝ oversized cells only: their rows are read via
        manifest-pruned key-range scans, sub-centroids are trained on a
        driver-side sample per cell (k = ceil(n/max)), rows re-assign to
        the nearest centroid of the UPDATED codebook (the original
        insert-time invariant), and one merge moves exactly the rows
        whose cell changed. Healthy cells' files are untouched.

        Crash-ordering: the new codebook is persisted BEFORE the merge.
        A crash in between leaves a valid (merely unbalanced) index —
        probes against the updated codebook still reach every row,
        because un-moved rows sit in ranges the old cell ids still
        address; the reverse order would strand moved rows in cells the
        stale codebook never probes.
        """
        from parquet_rewriter_spark.operators.merge import merge_into_table

        meta = self._meta()
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        counts = {
            r["cell"]: r["n_vectors"]
            for r in self.table.read().groupBy("cell")
            .agg(F.count("*").alias("n_vectors")).collect()
        }
        oversized = sorted(
            c for c, n in counts.items() if n > max_vectors_per_cell
        )
        if not oversized:
            return {"cells_split": 0, "cells_added": 0, "rows_moved": 0}

        C = self.centroids.copy()
        parts = []
        for c in oversized:
            cell_rows = self.table.read_range(
                c * CELL_BASE, (c + 1) * CELL_BASE - 1
            )
            parts.append(cell_rows)
            k = -(-counts[c] // max_vectors_per_cell)  # ceil
            sub = kmeans_centroids(
                cell_rows, vec_col, n_centroids=max(k, 2),
                sample_rows=sample_rows, seed=seed,
            )
            # first sub-centroid replaces the split cell in place; the
            # rest append as fresh cells — cell ids never recycle rows
            C[c] = sub[0]
            C = np.vstack([C, sub[1:]])
        self._write_centroids(C, id_col, vec_col)
        self._centroids = C

        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)
        assigned = ivf_assign(rows, vec_col, C)
        new_key = (
            F.col("centroid_id").cast("long") * F.lit(CELL_BASE)
        ) + F.col(id_col)
        moved = (
            assigned.withColumn("__new_key", new_key)
            .filter(F.col("__new_key") != F.col(IDX_KEY))
            .persist()
        )
        n_moved = moved.count()
        if n_moved == 0:
            moved.unpersist()
            return {
                "cells_split": len(oversized),
                "cells_added": int(C.shape[0]) - meta["n_cells"],
                "rows_moved": 0,
            }
        # pq_code is cell-independent (codes quantize the vector, not the
        # cell), so moved rows carry their existing codes unchanged
        has_pq = "pq_code" in dict(rows.dtypes)
        ups = moved.select(
            F.col("__new_key").alias(IDX_KEY),
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id").alias("cell"),
            *([F.col("pq_code")] if has_pq else []),
            F.lit("UPSERT").alias("op"),
        )
        dels = moved.select(
            F.col(IDX_KEY),
            F.lit(None).cast("long").alias(id_col),
            F.lit(None).cast(dict(rows.dtypes)[vec_col]).alias(vec_col),
            F.lit(None).cast("int").alias("cell"),
            *([F.lit(None).cast("array<tinyint>").alias("pq_code")] if has_pq else []),
            F.lit("DELETE").alias("op"),
        )
        res = merge_into_table(self.table, ups.unionByName(dels))
        moved.unpersist()
        return {
            "cells_split": len(oversized),
            "cells_added": int(C.shape[0]) - meta["n_cells"],
            "rows_moved": int(n_moved),
            "files_dirty": res.get("files_dirty"),
            "files_written": res.get("files_written"),
        }

    def _locate(self, ids: list[int]) -> list[int]:
        """Current idx_keys for the given vec_ids via Bloom-pruned point
        lookup (no full scan); result size ≤ |ids| — driver-bounded."""
        if not ids:
            return []
        from parquet_rewriter_spark.operators.bloom import read_point

        id_col = self.id_col
        hits = read_point(self.table, id_col, list(ids)).select(IDX_KEY)
        return [r[0] for r in hits.collect()]

    # ------------------------------------------------------------ query

    def topk(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        n_probe: int = 4,
        via_pq: bool = False,
        rerank: int = 50,
    ) -> DataFrame:
        """Approximate top-k by cosine: probe the ``n_probe`` cells
        nearest the query; each probe is a manifest-pruned key-range
        scan (only files of that cell are listed), then exact rerank
        within the union. Returns (id, cos_sim) — ids under the index's
        id_col name.

        ``via_pq=True`` (requires a ``pq_m`` index) scores the probed
        cells from the m-byte ``pq_code`` column ONLY — the scoring
        scan's ReadSchema excludes the float vector entirely (pinned in
        tests), so each probed file contributes m bytes per row — then
        exact-reranks the top ``rerank`` ADC candidates by joining the
        tiny candidate list back against the probed ranges' (id, vec)
        projection. At 100 TB this is the difference between reading
        probed cells' code pages and their full vector pages."""
        meta = self._meta()
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        C = self.centroids
        qv = np.asarray(list(query_vec), dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        cells = np.argsort(-(C @ qv))[: min(n_probe, len(C))].tolist()
        parts = [
            self.table.read_range(c * CELL_BASE, (c + 1) * CELL_BASE - 1)
            for c in cells
        ]
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        sim = cosine(as_double(vec_col), q)
        if not via_pq:
            return (
                cand.select(F.col(id_col).alias("id"), F.round(sim, 4).alias("cos_sim"))
                .orderBy(F.col("cos_sim").desc(), F.col("id"))
                .limit(k)
            )
        books = self._pq_books()
        if books is None:
            raise ValueError("via_pq=True requires an index created with pq_m=")
        from pyspark.sql.functions import pandas_udf

        mm, n_codes, sub = books.shape
        dtable = np.stack(
            [books[j] @ qv[j * sub : (j + 1) * sub] for j in range(mm)]
        )

        @pandas_udf("double")
        def adc_score(codes: pd.Series) -> pd.Series:
            Cc = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
            return pd.Series(dtable[np.arange(mm)[None, :], Cc].sum(axis=1))

        shortlist = (
            cand.select(F.col(id_col).alias("id"),
                        F.round(adc_score("pq_code"), 4).alias("pq_sim"))
            .orderBy(F.col("pq_sim").desc(), F.col("id"))
            .limit(max(k, rerank))
        )
        # rerank: the ≤max(k, rerank)-row shortlist is driver-bounded by
        # construction; fetch its float vectors via the index's Bloom
        # point-lookup (only candidate FILES are scanned — the same path
        # delete uses), never a second full-width pass over the probed
        # cells
        ids = [r["id"] for r in shortlist.collect()]
        from parquet_rewriter_spark.operators.bloom import read_point

        hits = read_point(self.table, id_col, ids)
        return (
            hits.select(F.col(id_col).alias("id"), F.round(sim, 4).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col("id"))
            .limit(k)
        )

    def probe_files(self, query_vec: Sequence[float], n_probe: int = 4) -> list[str]:
        """Manifest file names a ``topk`` with these parameters would
        scan — pruning observability (tests assert ≪ total files)."""
        C = self.centroids
        qv = np.asarray(list(query_vec), dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        cells = np.argsort(-(C @ qv))[:n_probe].tolist()
        m = self.table.manifest()
        out = []
        for e in m.files:
            for c in cells:
                if e.key_min <= (c + 1) * CELL_BASE - 1 and e.key_max >= c * CELL_BASE:
                    out.append(e.name)
                    break
        return out
