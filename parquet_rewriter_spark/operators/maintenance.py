"""One-call table maintenance — the OPTIMIZE/VACUUM cron job as a
single idempotent entry point over the table's own maintenance
primitives, each of which is individually incremental:

1. ``fsck(repair=True)``      — clear stale crashed-writer debris;
2. ``compact_incremental``    — heal undersized files only (manifest
                                arithmetic picks them; clean files pass
                                through untouched; its commit builds
                                registered sidecar rows for them);
3. sidecar heal               — for each sidecar in the registry
                                (operators/sidecar.py): rows ONLY for
                                live files missing them — lost rows,
                                files written before a registration,
                                token-stat specs (file immutability
                                makes this incremental for free);
4. ``vacuum``                 — drop snapshots/files beyond retention.

Order matters: compaction first (it retires files), then sidecar heal
(so every live file has rows), then vacuum (so retired files' history
is collected under the caller's retention policy). Every step reports;
a no-op maintenance run costs manifest reads plus one covered-files
probe per present sidecar and touches no data.
"""

from __future__ import annotations

from typing import Any

from parquet_rewriter_spark.table import SortedTable
from parquet_rewriter_spark.operators.compact import compact, compact_incremental
from parquet_rewriter_spark.operators.layout import table_layout_report
from parquet_rewriter_spark.operators.sidecar import heal_all


def maintain(
    table: SortedTable,
    target_records_per_file: int | None = None,
    min_fill: float = 0.5,
    retain_versions: int = 3,
    fsck_min_age_s: float = 3600.0,
) -> dict[str, Any]:
    """Run the full maintenance pass; returns a step-by-step report.

    ``target_records_per_file`` defaults to the current largest file's
    row count (maintains the existing sizing)."""
    report: dict[str, Any] = {}
    report["fsck"] = table.fsck(repair=True, min_age_s=fsck_min_age_s)

    m = table.manifest()
    tgt = target_records_per_file or max((e.rows for e in m.files), default=1)
    report["compact"] = compact_incremental(table, tgt, min_fill=min_fill)
    report.update(heal_all(table, table.manifest()))
    report["vacuum"] = {
        "removed": table.vacuum(retain_versions=retain_versions)
    }
    report["version"] = table.manifest().version
    return report


def auto_optimize(
    table: SortedTable,
    target_rows: int,
    max_small_files: int = 4,
    max_overlap_depth: int = 4,
) -> dict:
    """Heal the table if — and only if — the layout report says so.

    Returns {action, before, after} where action ∈
    {"none", "compact_incremental", "compact_full"}.
    """
    before = table_layout_report(table, target_rows=target_rows).first().asDict()
    if before["max_key_overlap_depth"] > max_overlap_depth:
        # fragmentation: small-file healing can't fix overlap — full
        # re-chunk restores the one-file-per-key-range invariant
        compact(table, max_records_per_file=target_rows)
        action = "compact_full"
    elif before["n_small_files"] > max_small_files:
        compact_incremental(table, target_records_per_file=target_rows)
        action = "compact_incremental"
    else:
        return {"action": "none", "before": before, "after": before}
    after = table_layout_report(table, target_rows=target_rows).first().asDict()
    return {"action": action, "before": before, "after": after}
