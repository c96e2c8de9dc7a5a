"""Merge-on-read deletion vectors for SortedTable.

The reference deletes a key by REWRITING the row group that holds it
(ParquetBlockMutator.java:184-215) — write cost ∝ dirty row-group
bytes even for a single-row delete. Deletion vectors invert that
trade: a delete commit writes only a tombstone sidecar (the deleted
keys, tagged with the data file that holds them) and leaves every data
file untouched; scans subtract the tombstones with one broadcast
anti-join. Cost at delete time ∝ the number of deleted keys, not the
bytes they live in — the industry's merge-on-read pattern (Iceberg v2
position/equality deletes, Delta deletion vectors) expressed on plain
parquet + the manifest.

Key-uniqueness makes the read-side application trivially correct: a
tombstoned key can only ever match the one row it was written for, so
``read()`` anti-joins the union of DV keys with no per-file scoping.
Per-file scoping still matters on the WRITE side — it is what lets a
later merge/compaction know which files need materializing and lets a
re-upsert resurrect a key (the zone-map planner marks the tombstoned
file dirty, the rewrite applies + drops its tombstones, and the fresh
row lives in a new, untombstoned file).

Lifecycle:
- ``delete_keys_mor``     — write tombstones (no data file touched)
- ``SortedTable.read``    — subtracts tombstones (table.py:read_physical)
- ``merge_into_table``    — applies + drops tombstones of rewritten
                            files (operators/merge.py)
- ``materialize_deletes`` — rewrites ONLY tombstoned files, physically
                            removing their deleted rows (cost ∝ dv'd
                            bytes, the copy-on-write it deferred)
- ``vacuum``              — GCs DV sidecars no retained snapshot lists
- time travel             — each manifest version pins its own dv_files,
                            so historical reads see pre-delete rows
"""

from __future__ import annotations

import os
import uuid
from dataclasses import replace

from pyspark.sql import DataFrame, functions as F

from parquet_rewriter_spark.table import Manifest, SortedTable

DV_DIR = "_dv"


def delete_keys_mor(table: SortedTable, keys: DataFrame) -> dict:
    """Tombstone ``keys`` without rewriting any data file.

    Plan exactly like a merge (zone-map split against the manifest —
    plan_dirty_files, the reference's seek decision lifted to files),
    but instead of rewriting the covered files, read them once to
    resolve which keys actually exist and in WHICH file, and append
    those (file, key) pairs as a DV sidecar. Absent keys and
    already-tombstoned keys are no-ops (the reference's no-op delete,
    ParquetBlockMutator.java:184-185) — they never inflate the DV.

    The covered-file read is the cost: ∝ covered bytes READ (with the
    key column only projected at the parquet scan), but zero bytes
    written beyond the tombstones themselves. A retention sweep that
    tombstones 0.1% of rows writes 0.1%-of-keys bytes, not the 100% of
    covered-file bytes a copy-on-write delete rewrites.
    """
    from parquet_rewriter_spark.operators.merge import plan_dirty_files

    spark = table.spark
    m = table.manifest()
    key = m.key
    keys = keys.select(F.col(key)).distinct()

    covered, _ = plan_dirty_files(spark, m, keys)
    if not covered:
        return {"version": m.version, "files_covered": 0, "dv_rows_added": 0}

    # Resolve (file, key) for keys that exist and are not already
    # tombstoned. Only the key column is read (columnar projection) —
    # the scan touches one column of the covered files.
    base = (
        table.read_physical(m=m, entries=covered)
        .select(F.col("_metadata.file_name").alias("file"), key)
        .join(keys, on=key, how="left_semi")
    )

    rel = f"{DV_DIR}/dv-{uuid.uuid4().hex}"
    out = os.path.join(table.path, rel)
    base.select("file", key).write.parquet(out)

    # per-file accounting (bounded by the covered-file count)
    per_file = {
        r["file"]: r["n"]
        for r in spark.read.parquet(out).groupBy("file").agg(F.count("*").alias("n")).collect()
    }
    added = sum(per_file.values())
    if not added:  # all keys absent/already tombstoned: no new snapshot
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        return {"version": m.version, "files_covered": len(covered), "dv_rows_added": 0}

    table._commit_manifest(
        replace(
            m,
            version=m.version + 1,
            files=[
                replace(e, dv_rows=e.dv_rows + per_file.get(e.name, 0))
                for e in m.files
            ],
            dv_files=m.dv_files + [rel],
            operation="delete (merge-on-read)",
        )
    )
    return {
        "version": m.version + 1,
        "files_covered": len(covered),
        "files_tombstoned": sum(1 for n in per_file.values() if n),
        "dv_rows_added": added,
        "data_files_rewritten": 0,
    }


def retain_dv(table: SortedTable, m: Manifest, surviving: set[str]) -> list[str]:
    """DV sidecar list for a commit that keeps only ``surviving`` data
    files from snapshot ``m`` (a merge/compaction retired the rest).

    Tombstones of retired files were materialized by the rewrite; those
    of surviving files must carry forward. When nothing needs dropping
    the sidecar list passes through verbatim (no I/O); otherwise the
    surviving tombstones are compacted into ONE fresh sidecar — which
    also keeps the read-side union from accreting a sidecar per delete
    commit forever.
    """
    if not m.dv_files:
        return []
    dvd = {e.name for e in m.files if e.dv_rows > 0}
    if dvd <= surviving:
        return list(m.dv_files)
    keep = sorted(dvd & surviving)
    if not keep:
        return []
    rel = f"{DV_DIR}/dv-{uuid.uuid4().hex}"
    dv = table.dv_keys(m)
    assert dv is not None
    dv.filter(F.col("file").isin(keep)).write.parquet(os.path.join(table.path, rel))
    return [rel]


def delete_where_mor(table: SortedTable, condition, prune: dict | None = None) -> dict:
    """Predicate delete, merge-on-read: victim keys come from a pruned
    scan (zone maps via read_where when ``prune`` ranges are given),
    tombstoned without rewriting. The MOR twin of merge.delete_where.
    """
    cond = F.expr(condition) if isinstance(condition, str) else condition
    m = table.manifest()
    src = table.read_where(prune) if prune else table.read()
    # src carries LOGICAL names; the tombstone sidecar stores the
    # PHYSICAL key (it joins against physical file reads)
    key_logical = (m.rename_map or {}).get(m.key, m.key)
    return delete_keys_mor(
        table, src.filter(cond).select(F.col(key_logical).alias(m.key))
    )


def materialize_deletes(table: SortedTable, max_records_per_file: int | None = None) -> dict:
    """Pay the deferred copy-on-write: rewrite ONLY tombstoned files
    with their deleted rows physically removed, then drop every DV.

    Untombstoned files pass through by name (never read) — the same
    dirty-fraction contract as the merge. Run this when the tombstone
    set has grown enough that the read-side anti-join is no longer
    cheap, or before handing files to a reader that doesn't know the
    manifest (raw parquet consumers).
    """
    m = table.manifest()
    dvd = [e for e in m.files if e.dv_rows > 0]
    clean = [e for e in m.files if e.dv_rows == 0]
    if not dvd:
        return {"version": m.version, "files_rewritten": 0, "rows_dropped": 0}

    mrpf = max_records_per_file or max((e.rows for e in m.files), default=1_000_000)
    from parquet_rewriter_spark.operators.compact import _write_rechunked

    live = table.read_physical(m=m, entries=dvd)
    staging = _write_rechunked(table, live, m, dvd, mrpf)
    new_entries = table._adopt_staged(staging, m.key)
    table._commit_rewrite(m, dvd, new_entries, operation="materialize-deletes")
    return {
        "version": m.version + 1,
        "files_rewritten": len(dvd),
        "files_passthrough": len(clean),
        "files_written": len(new_entries),
        "rows_dropped": sum(e.dv_rows for e in dvd),
    }
