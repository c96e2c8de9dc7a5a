"""Compaction — the reference's bulk re-chunk loop (R15), plus the
scale path the reference never needed: INCREMENTAL compaction.

Reference: rewrite 100% of row groups at a new target size via
``while(isNextBlockAvailable()){loadAndMutateNextBlock(); flushMutatedBlock();}``
(ParquetRewriter.java:196-199, 222-234). Spark-first equivalent: one
distributed job — read everything, exchange on manifest-derived bucket
cuts, sorted write, manifest flip. Catalyst/AQE pick the scan
parallelism; cut points come from the manifest's cumulative row counts
(``merge.compaction_cuts``), so output files are size-balanced even
under key skew WITHOUT RangePartitioning's sampling job, which would
read the entire table a second time.

``compact_incremental`` applies the engine's dirty-fraction philosophy
to layout maintenance: repeated small merges fragment the table into
undersized files, and at 100 TB a full re-chunk to heal them is a
non-starter. Only files below ``min_fill × target`` are rewritten; every
adequately-sized file passes through untouched (not read, not even
listed to Spark). Cost therefore tracks the SMALL-FILE fraction, not
table size — the same contract merge has for dirty files. Rewriting any
subset of files is safe because each key lives in exactly one file
(merge invariant), so compaction is pure row re-arrangement.
"""

from __future__ import annotations

from parquet_rewriter_spark.table import Manifest, SortedTable


def _write_rechunked(
    table: SortedTable,
    df,
    m: Manifest,
    source_entries,
    max_records_per_file: int | None,
    num_files: int | None = None,
) -> str:
    """Sorted re-chunk write with manifest-derived cut points (zero
    sampling): output sizes come from the source entries' cumulative row
    counts, so the rewrite reads its input exactly once —
    repartitionByRange would execute the whole read a second time just
    to sample bounds the manifest already records. Falls back to the
    range exchange when there is nothing to cut (single output file or
    no sources)."""
    from parquet_rewriter_spark.operators.merge import (
        _BUCKET,
        BUCKET_WRITE_MIN_BYTES,
        bucket_partition_by_key,
        compaction_cuts,
    )

    total = sum(e.rows for e in source_entries)
    # cuts sized by num_files when given (num_files output buckets),
    # else by the record cap; the writer's maxRecordsPerFile option
    # keeps the caller's cap either way (a bucket larger than the cap
    # still rolls)
    if num_files:
        cut_target = max(1, -(-total // num_files))
    else:
        cut_target = max_records_per_file or max(1, total)
    opt_mrpf = max_records_per_file or cut_target
    # Same byte economics as the merge write (BUCKET_WRITE_MIN_BYTES):
    # below ~1 GiB the range exchange's sampling re-read costs less than
    # a fresh literal-bearing bucketed plan; above it the sampling pass
    # is a second full read of everything being rewritten.
    cuts = (
        compaction_cuts(source_entries, cut_target, table.spark)
        if source_entries
        and sum(e.bytes for e in source_entries) > BUCKET_WRITE_MIN_BYTES
        else None
    )
    if cuts is None:
        return table._write_sorted(df, m.key, opt_mrpf, num_files)
    bucketed, _n = bucket_partition_by_key(df, m.key, cuts)
    return table._write_sorted(
        bucketed, m.key, opt_mrpf, prepartitioned=True, bucket_col=_BUCKET
    )


def compact(
    table: SortedTable,
    max_records_per_file: int,
    num_files: int | None = None,
) -> dict:
    """Rewrite the whole table at a new file/row-group size.

    Returns the same per-phase instrumentation surface as
    ``merge_into_table`` (the reference's counters,
    ParquetRewriter.java:349-359): ``t_write_s`` / ``t_sidecar_s`` /
    ``t_commit_s`` wall times and rows/bytes read vs written."""
    import time

    m = table.manifest()
    # physical-name read: compaction rewrites files, and files keep
    # PHYSICAL column names forever (rename_map is metadata-only)
    df = table.read_physical(m=m)  # applies merge-on-read DVs: the rewrite makes them physical
    t0 = time.monotonic()
    staging = _write_rechunked(
        table, df, m, m.files, max_records_per_file, num_files
    )
    entries = table._adopt_staged(staging, m.key)
    t_write = time.monotonic() - t0
    t0 = time.monotonic()
    t_sidecar = table._commit_rewrite(
        m, m.files, entries,
        schema_json=m.schema_json or df.schema.json(), operation="compact",
    )
    t_commit = time.monotonic() - t0 - t_sidecar
    return {
        "version": m.version + 1,
        "files_before": len(m.files),
        "files_after": len(entries),
        "rows": sum(e.rows for e in entries),
        "rows_read": sum(e.rows for e in m.files),
        "bytes_read": sum(e.bytes for e in m.files),
        "bytes_written": sum(e.bytes for e in entries),
        "t_write_s": round(t_write, 4),
        "t_sidecar_s": round(t_sidecar, 4),
        "t_commit_s": round(t_commit, 4),
    }


def purge_columns(
    table: SortedTable,
    max_records_per_file: int | None = None,
) -> dict:
    """REORG…PURGE: physically reclaim the bytes of dropped columns.

    ``drop_column`` is metadata-only — correct and O(1), but the bytes
    stay in the files (storage cost; and for column-level erasure
    obligations, "not projected" is not "gone"). This pass rewrites
    ONLY the live files whose physical schema still carries a column
    absent from the pinned manifest schema; files already clean (e.g.
    written by merges after the drop) pass through by name. Selection
    is a footer walk (kilobytes per file — at million-file manifests,
    distribute it the way validate() does); the rewrite reads the dirty
    subset through the pinned-schema reader, so dropped bytes are never
    projected and later-added columns null-fill.

    Merge-on-read tombstones of rewritten files are materialized by the
    rewrite (same contract as compact_incremental); other files' DVs
    carry forward untouched."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType
    import json as _json

    m = table.manifest()
    if m.schema_json is None:
        raise ValueError("table has no recorded schema")
    pinned = {f.name for f in StructType.fromJson(_json.loads(m.schema_json)).fields}
    dirty, keep = [], []
    for e in m.files:
        phys = set(
            pq.ParquetFile(os.path.join(table.path, e.name)).schema_arrow.names
        )
        (dirty if phys - pinned else keep).append(e)
    if not dirty:
        return {
            "version": m.version,
            "files_rewritten": 0,
            "files_passthrough": len(keep),
            "rows_rewritten": 0,
        }
    total_rows = sum(e.rows for e in dirty)
    if max_records_per_file is None:
        max_records_per_file = max(1, -(-total_rows // len(dirty)))
    df = table.read_physical(m=m, entries=dirty)
    staging = _write_rechunked(table, df, m, dirty, max_records_per_file)
    new_entries = table._adopt_staged(staging, m.key)
    table._commit_rewrite(m, dirty, new_entries, operation="purge-columns")
    return {
        "version": m.version + 1,
        "files_rewritten": len(dirty),
        "files_passthrough": len(keep),
        "rows_rewritten": sum(e.rows for e in new_entries),
    }


def backfill_column(
    table: SortedTable,
    name: str,
    expr,
    batch_files: int | None = None,
) -> dict:
    """purge_columns' mirror: MATERIALIZE a (typically just-added)
    column into the files that don't physically carry it yet, in
    resumable batches.

    ``add_column`` is metadata-only — correct, O(1), and readers
    null-fill. When the column's values should actually exist
    (``expr``, a Column over the table's logical columns), rewriting
    100 TB in one shot is operationally hostile; this rewrites up to
    ``batch_files`` missing files per call and commits, so the backfill
    is a sequence of small commits any of which can crash and resume —
    progress is recoverable from the files themselves (a footer either
    has the column or it doesn't; no bookkeeping to corrupt). Files
    merges already wrote with the column are skipped for free.

    Readers during the backfill see the column null for files not yet
    reached — the same contract add_column already established.
    Returns {files_rewritten, files_remaining, version}."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType
    import json as _json

    from pyspark.sql import functions as F

    m = table.manifest()
    pcol = table.to_physical(name, m)
    pinned = {f.name for f in StructType.fromJson(_json.loads(m.schema_json)).fields}
    if pcol not in pinned:
        raise ValueError(f"column {name!r} is not in the table schema; add_column first")
    missing = [
        e for e in m.files
        if pcol not in pq.ParquetFile(
            os.path.join(table.path, e.name)
        ).schema_arrow.names
    ]
    batch = missing if batch_files is None else missing[:batch_files]
    if not batch:
        return {"version": m.version, "files_rewritten": 0, "files_remaining": 0}
    df = table.read_physical(m=m, entries=batch)
    # expr speaks LOGICAL names; files keep physical ones forever
    logical = table._to_logical(df, m)
    filled = logical.withColumn(name, expr)
    rm = m.rename_map or {}
    back = {v: k for k, v in rm.items()}
    filled = filled.select(
        *[F.col(c).alias(back.get(c, c)) for c in filled.columns]
    )
    staging = _write_rechunked(
        table, filled, m, batch, None, num_files=len(batch)
    )
    new_entries = table._adopt_staged(staging, m.key)
    table._commit_rewrite(
        m, batch, new_entries, operation=f"backfill-column {name}"
    )
    return {
        "version": m.version + 1,
        "files_rewritten": len(batch),
        "files_remaining": len(missing) - len(batch),
    }


def compact_incremental(
    table: SortedTable,
    target_records_per_file: int,
    min_fill: float = 0.5,
) -> dict:
    """Rewrite ONLY undersized files (rows < min_fill × target) into
    target-sized files; adequately-sized files pass through untouched.

    Selection is pure manifest arithmetic on the driver — no data read,
    no Spark job, O(files) — so planning stays cheap at million-file
    manifests. The rewrite is one distributed job over the undersized
    subset, range-partitioned on the key so the healed files stay
    key-contiguous WITHIN that subset. (An output file can span the key
    gap around a passthrough file when two undersized runs straddle it —
    zone maps stay exact, pruning marginally looser; the alternative,
    one job per run, does not survive manifests with thousands of runs.)
    """
    m = table.manifest()
    threshold = max(1, int(target_records_per_file * min_fill))
    small = [e for e in m.files if e.rows < threshold]
    if len(small) < 2:  # nothing to heal (a single small file can't merge with itself)
        return {
            "version": m.version,
            "files_before": len(m.files),
            "files_compacted": 0,
            "files_passthrough": len(m.files),
            "files_written": 0,
            "rows_rewritten": 0,
        }
    total_rows = sum(e.rows for e in small)
    n_files = max(1, -(-total_rows // target_records_per_file))  # ceil
    # tombstones of the rewritten subset become physical here; tombstones
    # of passthrough files carry forward
    df = table.read_physical(m=m, entries=small)
    staging = _write_rechunked(
        table, df, m, small, target_records_per_file, num_files=n_files
    )
    new_entries = table._adopt_staged(staging, m.key)
    table._commit_rewrite(m, small, new_entries, operation="compact-incremental")
    return {
        "version": m.version + 1,
        "files_before": len(m.files),
        "files_compacted": len(small),
        "files_passthrough": len(m.files) - len(small),
        "files_written": len(new_entries),
        "rows_rewritten": sum(e.rows for e in new_entries),
    }
