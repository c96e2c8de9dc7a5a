"""Write-Audit-Publish over the mutation core.

The production guard rail for a 100 TB table: a batch must never become
visible to readers until it has passed data-quality audits. The pattern
(Iceberg's WAP / Delta's staging tables) composes three pieces this
engine already has, with no new commit machinery:

1. WRITE — merge the batch into a ZERO-COPY CLONE of the table
   (``SortedTable.clone``: hard-linked immutable data files, O(files)
   metadata, no bytes copied). The full merge stack applies — dirty-file
   pruning, row-group splice, schema evolution — but against the clone's
   manifest, so the main table's readers are untouched.
2. AUDIT — run declarative constraints (operators/quality.py) against
   the clone's post-merge snapshot. Audit cost is a scan of the merged
   state; CHANGED-FILES-ONLY audits read just the rewritten files.
3. PUBLISH — if every rule passes, adopt the clone's manifest as the
   main table's next version: hard-link the newly written part-files
   into the table directory (names are fresh UUIDs — no collisions) and
   atomically commit. If any rule fails, delete the clone; the main
   table never changed.

Readers therefore only ever see audited versions, and an aborted batch
costs the rewrite of its dirty files plus one directory unlink.
"""

from __future__ import annotations

import os
import shutil
from typing import Any

from pyspark.sql import DataFrame

from parquet_rewriter_spark.operators.quality import check_constraints
from parquet_rewriter_spark.table import SortedTable


def write_audit_publish(
    table: SortedTable,
    mutations: DataFrame,
    rules: dict[str, str],
    audit_changed_only: bool = False,
    max_records_per_file: int | None = None,
) -> dict[str, Any]:
    """Returns the merge stats plus ``published`` (bool), ``audit``
    (list of rule-result dicts), and on publish the new ``version``.

    ``audit_changed_only=True`` audits only the files the merge wrote —
    the right choice for row-local rules (non-null, ranges); global
    rules (uniqueness across the table) need the default full scan.
    """
    from parquet_rewriter_spark.operators.branch import _adopt
    from parquet_rewriter_spark.operators.merge import merge_into_table

    base_m = table.manifest()
    stage_path = table.path.rstrip("/") + f"_wap_stage_v{base_m.version + 1}"
    if os.path.exists(stage_path):
        shutil.rmtree(stage_path)
    stage = table.clone(stage_path)
    try:
        stats = merge_into_table(
            stage, mutations, max_records_per_file=max_records_per_file
        )
        stage_m = stage.manifest()
        base_names = {e.name for e in base_m.files}
        new_entries = [e for e in stage_m.files if e.name not in base_names]
        if audit_changed_only and new_entries:
            audit_df = stage._to_logical(
                stage.read_physical(m=stage_m, entries=new_entries), stage_m
            )
        else:
            audit_df = stage.read()
        audit = [r.asDict() for r in check_constraints(audit_df, rules).collect()]
        failed = [a["rule"] for a in audit if a["n_violations"] > 0]
        if failed:
            return {
                **stats,
                "published": False,
                "failed_rules": failed,
                "audit": audit,
                "version": base_m.version,  # table unchanged
            }
        # publish: link the new files into the table dir, commit the
        # staged manifest as the next main-table version — the claim
        # fails if main committed since the stage was cloned
        version = _adopt(table, stage, base_m, operation="wap-publish")
        return {
            **stats,
            "published": True,
            "failed_rules": [],
            "audit": audit,
            "version": version,
        }
    finally:
        shutil.rmtree(stage_path, ignore_errors=True)
