"""Incremental materialized aggregate — CDC-driven view maintenance.

The reference's contract is "apply a mutation set for cost ∝ dirty
fraction" (ParquetRewriter.java:253-301). This module extends that
economy one level up the stack: a GROUP-BY aggregate over a SortedTable
is materialized once, then kept current by applying the SIGNED deltas
of each commit's change feed (operators/cdc.py, preimage form) instead
of recomputing the aggregate from the full table.

At 100 TB the difference is the whole point: a full refresh re-shuffles
every row of the base table; an incremental refresh reads only the
CHURNED files (snapshot_diff's file-set diff), aggregates only the
changed rows, and merges the per-group deltas into the view — itself a
SortedTable keyed by the group column, so the view update enjoys the
same dirty-file pruning as any merge. Cost tracks churn twice over.

The view's state is its own manifest: the base version it reflects is
the ``"matview"`` transaction watermark (``Manifest.txns``), recorded by
the build's create and by every refresh merge in the same flip as the
view rows. A refresh that dies anywhere leaves the watermark at the last
committed state, so the next refresh re-diffs from there and converges;
there is no side file to fall out of step with the data.

Supported aggregates are the self-maintainable (commutative-group) ones:
``count`` and ``sum`` — avg derives as sum/count at read time. MIN/MAX
are NOT self-maintainable under deletes (retracting the current min
needs the base table) and are deliberately out of scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from parquet_rewriter_spark.operators.cdc import CHANGE_TYPE_COL, snapshot_diff
from parquet_rewriter_spark.operators.merge import (
    OP_COLUMN,
    OP_DELETE,
    OP_UPSERT,
    merge_into_table,
)
from parquet_rewriter_spark.operators.util import cache_scope, persist
from parquet_rewriter_spark.table import SortedTable

_TXN = "matview"  # Manifest.txns app id of the base-version watermark


class MaterializedAggregate:
    """A group-by count/sum aggregate over a SortedTable, materialized
    as its own SortedTable (keyed by the group column) and refreshed
    incrementally from the base table's snapshot diffs.

    ``aggs`` maps output column → ("count",) or ("sum", src_col).
    Exactly one "count" entry is required: it is the group's liveness
    counter (a group whose maintained count reaches zero has no base
    rows left and is deleted from the view). NULL group values are not
    supported (the view is keyed by the group column).
    """

    def __init__(
        self,
        base: SortedTable,
        path: str,
        group_col: str,
        aggs: dict[str, tuple],
        max_records_per_file: int | None = None,
    ):
        counts = [c for c, spec in aggs.items() if spec[0] == "count"]
        if len(counts) != 1:
            raise ValueError("aggs must contain exactly one ('count',) entry")
        bad = [c for c, spec in aggs.items() if spec[0] not in ("count", "sum")]
        if bad:
            raise ValueError(f"unsupported aggregate kinds for {bad}; use count/sum")
        self.base = base
        self.path = path
        self.group_col = group_col
        self.aggs = aggs
        self.max_records_per_file = max_records_per_file
        self._count_col = counts[0]

    # ---------- build / read / refresh ----------
    def _agg_exprs(self, sign=None) -> list:
        """Aggregate expressions; with ``sign`` (+1/-1 per change row),
        the SIGNED versions that produce per-group deltas."""
        out = []
        for col, spec in self.aggs.items():
            if spec[0] == "count":
                expr = F.sum(sign) if sign is not None else F.count(F.lit(1))
                out.append(expr.cast("long").alias(col))
            else:
                src = F.col(spec[1])
                expr = F.sum(src * sign) if sign is not None else F.sum(src)
                out.append(expr.alias(col))
        return out

    def build(self) -> SortedTable:
        """Full materialization of the current base snapshot. Rebuilds
        in place if the view already exists (e.g. the refresh fallback
        below)."""
        import shutil

        v = self.base.manifest().version
        agg = self.base.read().groupBy(self.group_col).agg(*self._agg_exprs())
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        kw = (
            {"max_records_per_file": self.max_records_per_file}
            if self.max_records_per_file
            else {}
        )
        return SortedTable.create(
            self.base.spark, self.path, agg, key=self.group_col,
            txn=(_TXN, v), **kw
        )

    def table(self) -> SortedTable:
        return SortedTable(self.base.spark, self.path)

    def read(self) -> DataFrame:
        return self.table().read()

    def refresh(self) -> dict:
        """Fold every base commit since the last refresh into the view.

        Plan: changes = snapshot_diff(last, current, preimage form) →
        per-group signed deltas (insert/update_postimage count +1,
        delete/update_preimage −1; sums signed likewise) → join the
        deltas with the view's CURRENT values for affected groups only
        (left join against a semi-pruned view read) → upsert the new
        values / delete count-zero groups via merge_into_table, which
        zone-map-prunes the view's files to the touched groups, and
        whose commit advances the watermark to the current base version.

        A refresh whose delta is empty commits nothing and leaves the
        watermark behind; the next one diffs from there, which is still
        exact because snapshot_diff compares two snapshots.
        """
        from_v = self.table().manifest().txns[_TXN]
        cur_v = self.base.manifest().version
        if cur_v == from_v:
            return {"refreshed": False, "base_from": from_v, "base_to": cur_v}

        g = self.group_col
        try:
            changes = snapshot_diff(
                self.base, from_version=from_v, to_version=cur_v, include_preimage=True
            )
        except ValueError:
            # base history vacuumed past our last refresh point — the
            # delta is unrecoverable; fall back to a full rebuild (the
            # one case where view cost is O(base), and it is explicit)
            self.build()
            return {
                "refreshed": True,
                "base_from": from_v,
                "base_to": cur_v,
                "rebuilt": True,
            }
        sign = F.when(
            F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        delta_cols = {c: f"__d_{c}" for c in self.aggs}
        deltas = changes.groupBy(g).agg(
            *[
                e.alias(delta_cols[c])
                for e, c in zip(self._agg_exprs(sign=sign), self.aggs)
            ]
        )
        # deltas feed THREE consumers (the semi join, the outer join,
        # and the view merge's dirty planning) — persist, or the
        # churned-file diff + aggregation re-executes per consumer
        from pyspark import StorageLevel

        with cache_scope():
            persist(deltas, StorageLevel.MEMORY_AND_DISK)

            mv = self.table()
            # current values for affected groups only — the semi join prunes
            # the view scan to churned groups before the outer join
            old = mv.read().join(deltas.select(g), on=g, how="left_semi")
            joined = deltas.join(old, on=g, how="left")
            new_vals = [
                (F.coalesce(F.col(c), F.lit(0)) + F.col(delta_cols[c])).alias(c)
                for c in self.aggs
            ]
            muts = joined.select(F.col(g), *new_vals).withColumn(
                OP_COLUMN,
                F.when(F.col(self._count_col) == 0, F.lit(OP_DELETE)).otherwise(
                    F.lit(OP_UPSERT)
                ),
            )
            metrics = merge_into_table(mv, muts, txn=(_TXN, cur_v))
        return {"refreshed": True, "base_from": from_v, "base_to": cur_v, **metrics}
