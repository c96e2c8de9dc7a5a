"""Sort-order evolution: re-key a SortedTable onto a different unique
column as a staged, RESUMABLE rewrite.

Reference parity: the reference pins one ascending sort key into the
file layout at write time (``ParquetRewriter.java:256-258`` rejects
out-of-order mutation keys against it), so changing the sort key means
rewriting every file — the one storage-lifecycle migration the mutation
API cannot express. Spark-first design for 100 TB:

* **Batched, not monolithic.** Each :func:`rekey_table` call rewrites
  up to ``batch_files`` of the remaining old-layout files — read, drop
  tombstones, range-shuffle on the NEW key, write — and commits. A
  100 TB re-sort becomes a sequence of bounded jobs (bounded shuffle,
  bounded executor disk) any of which can crash and be re-run, instead
  of one monster global shuffle the operator babysits for hours.
* **Overlap is tolerated, so batches are independent.** During the
  transition the manifest stays keyed by the OLD key and rewritten
  files keep correct old-key zone bounds (a rewrite permutes rows, it
  never changes the value set), so every reader and merge keeps
  working. After the flip, files from different batches overlap in
  new-key space — which ``plan_dirty_files`` (exact interval planning,
  operators/merge.py) and ``read_range`` handle already; each file is
  still NARROW (its batch's range shuffle clusters it), so a key-range
  read touches ~n_batches files, not the table. An optional
  ``compact()`` afterwards restores the overlap-free layout; it is a
  tightening, not a correctness requirement — the same contract
  Iceberg's sort-order rewrite_data_files has.
* **Progress state is advisory, correctness is not.** ``_rekey.json``
  records which files are already new-key-clustered. It is written
  AFTER each commit, so a crash between the two merely re-rewrites one
  batch (idempotent); files a concurrent merge rewrites mid-migration
  drop out of the done-set automatically and get picked up by a later
  batch. The finalize flip recomputes every entry's bounds from parquet
  footers — the files themselves are the source of truth.
* **The old key keeps pruning.** Finalize appends the old key to
  ``stats_cols``, so per-file zone maps on it survive the migration and
  ``read_where`` on the old key stays file-pruned.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F

from parquet_rewriter_spark.stats import collect_file_stats
from parquet_rewriter_spark.table import Manifest, ManifestEntry, SortedTable

STATE_FILE = "_rekey.json"


def _state_path(table: SortedTable) -> str:
    return os.path.join(table.path, STATE_FILE)


def rekey_status(table: SortedTable) -> dict | None:
    """The in-flight migration state, or None when no rekey is active."""
    try:
        with open(_state_path(table)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _write_state(table: SortedTable, state: dict) -> None:
    # tmp-uuid convention: a crash mid-write leaves fsck-collectable
    # debris, never a torn state file
    tmp = _state_path(table) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, _state_path(table))


def _check_unique_key(table: SortedTable, m: Manifest, pkey: str) -> None:
    """One scan, run once at migration start: merge semantics require
    the sort key to be unique and non-null — discovering that 80% of
    the way through a 100 TB rewrite would be operationally brutal."""
    df = table._reader(m).parquet(
        *[os.path.join(table.path, e.name) for e in m.files]
    )
    col = table.apply_dv(df, m).select(F.col(pkey).alias("__k"))
    # ONE pass answers both preconditions: the duplicate check needed
    # the full per-key groupBy anyway (a limit(1) after a groupBy
    # still pays the whole shuffle), and the null probe folds into the
    # same aggregate instead of a second full scan
    row = (
        col.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.max(F.when(F.col("__c") > 1, F.col("__k"))).alias("dup_example"),
            F.max((F.col("__c") > 1).cast("int")).alias("has_dup"),
            F.max(F.col("__k").isNull().cast("int")).alias("has_null"),
        )
        .collect()[0]
    )
    if row["has_dup"]:
        raise ValueError(
            f"rekey: column {pkey!r} is not unique "
            f"(e.g. key={row['dup_example']!r}); a SortedTable key must be"
        )
    if row["has_null"]:
        raise ValueError(f"rekey: column {pkey!r} has NULLs; a key cannot")


def rekey_table(
    table: SortedTable,
    new_key: str,
    batch_files: int | None = None,
    max_records_per_file: int | None = None,
) -> dict:
    """Advance (or start, or finish) the staged re-key of ``table``
    onto ``new_key``. Call repeatedly until ``done`` is True — each
    call rewrites one batch and commits; the final call flips the
    manifest key and clears the state. ``batch_files=None`` processes
    everything remaining in one batch (small tables / tests).

    Returns ``{done, version, files_rewritten, files_remaining}``.
    """
    spark = table.spark
    m = table.manifest()
    pkey_new = table.to_physical(new_key, m)
    state = rekey_status(table)

    if state is not None and state["new_key"] != pkey_new:
        raise ValueError(
            f"rekey to {state['new_key']!r} already in flight; finish or "
            f"abort it before re-keying to {pkey_new!r}"
        )
    if state is None:
        if m.key == pkey_new:
            raise ValueError(f"table is already keyed by {new_key!r}")
        from pyspark.sql.types import StructType

        if m.schema_json is None:
            raise ValueError("rekey requires a stored schema")
        phys = {f.name for f in
                StructType.fromJson(json.loads(m.schema_json)).fields}
        if pkey_new not in phys:
            raise KeyError(f"no column named {new_key!r}")
        _check_unique_key(table, m, pkey_new)
        state = {"new_key": pkey_new, "old_key": m.key, "done": []}
        _write_state(table, state)

    live = {e.name for e in m.files}
    done = [n for n in state["done"] if n in live]  # merges retire files
    todo = [e for e in m.files if e.name not in set(done)]

    if not todo and (m.dv_files or any(e.dv_rows for e in m.files)):
        # A MOR delete landed on an already-rewritten 'done' file
        # mid-migration. DV sidecars address tombstones by the OLD
        # physical key, which dies at the flip — flipping now would
        # leave every post-flip read selecting a column the sidecar
        # lacks. Re-rewrite the DV-bearing files as one more batch
        # (the anti-join below materializes their deletes and retires
        # the sidecars at commit), then finalize on the next call.
        dv_bearing = {e.name for e in m.files if e.dv_rows}
        todo = [e for e in m.files if e.name in dv_bearing]
        done = [n for n in done if n not in dv_bearing]

    if not todo:
        # ---- finalize: flip the manifest key ----
        stats_cols = list(m.stats_cols)
        if state["old_key"] not in stats_cols:
            # old key keeps its per-file zone maps as a secondary column
            stats_cols.append(state["old_key"])
        st = collect_file_stats(
            spark, table.path, pkey_new,
            files=[os.path.join(table.path, e.name) for e in m.files],
            stats_cols=stats_cols,
        )
        by_path = {os.path.basename(s.path): s for s in st}
        entries = []
        for e in m.files:
            s = by_path[e.name]
            entries.append(ManifestEntry(
                name=e.name, rows=e.rows, bytes=e.bytes,
                key_min=s.key_min, key_max=s.key_max,
                col_stats={c: list(mm) for c, mm in s.col_stats.items()},
                dv_rows=e.dv_rows,
            ))
        table._commit_manifest(Manifest(
            version=m.version + 1,
            key=pkey_new,
            files=sorted(entries, key=lambda e: (e.key_min, e.name)),
            schema_json=m.schema_json,
            stats_cols=stats_cols,
            # sidecars key tombstones by the OLD physical key; the guard
            # above re-rewrote every dv-bearing file, so whatever is left
            # references no live file — dropping it here is the only
            # key-consistent choice (older versions still pin them)
            dv_files=[],
            operation=f"rekey-finalize ({state['old_key']} -> {pkey_new})",
        ))
        os.remove(_state_path(table))
        return {"done": True, "version": m.version + 1,
                "files_rewritten": 0, "files_remaining": 0}

    batch = todo if batch_files is None else todo[:batch_files]
    batch_names = {e.name for e in batch}
    keep = [e for e in m.files if e.name not in batch_names]

    df = table._reader(m).parquet(
        *[os.path.join(table.path, e.name) for e in batch]
    )
    # make merge-on-read tombstones physical for the batch (their DV
    # entries retire at commit, like merge/backfill do)
    dv = table.dv_keys(m, files={e.name for e in batch if e.dv_rows})
    if dv is not None:
        df = df.join(dv.select(m.key).distinct(), on=m.key, how="left_anti")

    import time

    rows = sum(e.rows for e in batch)
    mrpf = max_records_per_file or max(1, -(-rows // max(1, len(batch))))
    # range-shuffle on the NEW key: each output file is a narrow
    # new-key slice of this batch (the property that keeps post-flip
    # range reads at ~n_batches files, not the whole table)
    t0 = time.monotonic()
    staging = table._write_sorted(df, pkey_new, mrpf)
    # adopt with stats on the OLD key — the manifest is still keyed by
    # it during the transition, and a rewrite never changes a file
    # set's old-key min/max, only its internal order
    new_entries = table._adopt_staged(staging, m.key)
    t_write = time.monotonic() - t0

    from parquet_rewriter_spark.operators.deletion_vectors import retain_dv

    t0 = time.monotonic()
    table._commit_manifest(Manifest(
        version=m.version + 1,
        key=m.key,
        files=sorted(keep + new_entries, key=lambda e: (e.key_min, e.name)),
        schema_json=m.schema_json,
        stats_cols=m.stats_cols,
        dv_files=retain_dv(table, m, {e.name for e in keep}),
        operation=f"rekey-batch ({m.key} -> {pkey_new})",
    ))
    # state AFTER the commit: a crash in between re-rewrites this batch
    # (idempotent) rather than skipping an uncommitted one (data loss)
    state["done"] = done + [e.name for e in new_entries]
    _write_state(table, state)
    t_commit = time.monotonic() - t0
    return {
        "done": False,
        "version": m.version + 1,
        "files_rewritten": len(batch),
        "files_remaining": len(todo) - len(batch),
        # merge_into_table's instrumentation surface, per batch
        "rows_read": rows,
        "bytes_read": sum(e.bytes for e in batch),
        "bytes_written": sum(e.bytes for e in new_entries),
        "t_write_s": round(t_write, 4),
        "t_commit_s": round(t_commit, 4),
    }
