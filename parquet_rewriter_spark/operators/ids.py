"""Contiguous global ID assignment without a single-partition sort.

A training pipeline needs stable, dense row ids (shard/sequence
numbering, example ids for dedup bookkeeping). The naive
``row_number() OVER (ORDER BY key)`` funnels the whole table through
ONE task — the classic scale-killer. ``monotonically_increasing_id``
scales but is neither dense nor stable across layouts.

The scalable pattern (RDD ``zipWithIndex``, rebuilt DataFrame-native):

1. range-partition + sort by the order key — one shuffle, the same
   total order a global sort would produce, but split across N tasks;
2. FREEZE the physical partition id into a data column and eagerly
   localCheckpoint — from here on, "which partition a row belonged
   to" is a fact in the data, not a property of whatever stage later
   evaluates it;
3. count rows per frozen pid — a bounded N-row aggregate collected to
   the driver (N = partition count, never data-sized) — and
   cumulative-sum the counts into per-pid START OFFSETS;
4. one Arrow-batched ``mapInPandas`` pass adds ``offset[pid] + local
   index``, reading pid FROM THE ROWS — no further shuffle, preserves
   the sorted order.

Step 2/4's "pid as data" is load-bearing, not style: an earlier
version read ``TaskContext.partitionId()`` inside the UDF, which is
the STAGE partition index — correct standalone, silently wrong the
moment the operator is embedded under a plan that renumbers child
partitions (``exceptAll``/``intersectAll``/``union`` place the second
child's partitions AFTER the first child's, shifting every stage id).
Frozen-column pids survive any plan context; the UDF even tolerates
partition coalescing by grouping each batch on the pid value.

The order key must be a TOTAL order (unique tuple) — ties spanning a
partition boundary would make the assignment layout-dependent. The
result equals ``row_number() OVER (ORDER BY cols) - 1`` exactly, which
is what the DuckDB oracle checks.
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import DataFrame, functions as F

from parquet_rewriter_spark.operators.util import local_checkpoint

_PID = "_prs_frozen_pid"


def assign_contiguous_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "stable_id",
    num_partitions: int | None = None,
) -> DataFrame:
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    # checkpoint: exactly ONE materialization decides both the
    # range boundaries and the frozen pids (RangePartitioner
    # re-samples per job otherwise). LAZY: the counts collect
    # below materializes it inside its own job — same single
    # materialization, one fewer scheduler barrier.
    part = local_checkpoint(
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn(_PID, F.spark_partition_id()),
        eager=False,
    )
    counts = {
        r["p"]: r["c"]
        for r in part.groupBy(F.col(_PID).alias("p")).agg(F.count(F.lit(1)).alias("c")).collect()
    }  # bounded: one row per partition
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    out_schema = part.drop(_PID).withColumn(id_col, F.lit(0).cast("long")).schema
    bc = spark.sparkContext.broadcast(offsets)

    def add_ids(pdfs: Iterator) -> Iterator:
        import numpy as np

        base = bc.value
        seen: dict[int, int] = {}
        for pdf in pdfs:
            # rows carry their frozen pid; group on it (constant within
            # a batch in the normal case, mixed only if partitions were
            # coalesced — handled either way, order preserved)
            out = pdf.drop(columns=[_PID])
            ids = np.empty(len(pdf), dtype="int64")
            for pid, grp in pdf.groupby(_PID, sort=False):
                s = seen.get(pid, 0)
                ids[grp.index.to_numpy()] = np.arange(
                    base[pid] + s, base[pid] + s + len(grp), dtype="int64"
                )
                seen[pid] = s + len(grp)
            out[id_col] = ids
            yield out

    return part.mapInPandas(add_ids, schema=out_schema)
