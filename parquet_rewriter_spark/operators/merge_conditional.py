"""Conditional MERGE — Delta/ANSI ``MERGE INTO`` WHEN-clause semantics
on the mutation core.

The reference's mutation model is unconditional: an upsert always
replaces the whole record, a delete always removes it (README.md:36-43
``union Update``; ParquetBlockMutator.java:202-215). Real warehouse
merges are richer: *WHEN MATCHED [AND cond] THEN UPDATE SET col=expr /
DELETE*, *WHEN NOT MATCHED [AND cond] THEN INSERT*, *WHEN NOT MATCHED
BY SOURCE [AND cond] THEN UPDATE/DELETE* — first matching clause wins,
untouched rows pass through. This module expresses that as ONE
full-outer join + column-wise CASE cascade, so Catalyst plans a single
shuffle on the key (or a broadcast join when the source is small) with
no Python in the row path.

The table-level entry point keeps the engine's scale contract: source
keys zone-map-prune the file set exactly like a plain merge — only
files whose key range can contain a source key are read and rewritten;
everything else passes through by name. NOT-MATCHED-BY-SOURCE clauses
are the exception (they can touch any base row, so every file goes
dirty) — the cost is stated, not hidden.

Clause syntax: a clause is ``(condition, action, assignments)`` where
condition is a Column/SQL-string over aliases ``t`` (target) and ``s``
(source) or None (always fires), action is "update"/"delete"/"insert",
and assignments maps target column → expression (None = take the
source row for insert, keep-unmentioned-columns-from-target for
update). Clauses are evaluated in order; the first whose condition
holds acts, mirroring Delta's resolution rule.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from parquet_rewriter_spark.table import SortedTable

_T, _S = "t", "s"
_TEX, _SEX = "__t_exists", "__s_exists"


def _as_col(c: Any) -> Column | None:
    if c is None or isinstance(c, Column):
        return c
    return F.expr(c)


def conditional_merge(
    base: DataFrame,
    source: DataFrame,
    key: str,
    matched: Sequence[tuple[Any, str, dict[str, Any] | None]] = (),
    not_matched: Sequence[tuple[Any, dict[str, Any] | None]] = (),
    not_matched_by_source: Sequence[tuple[Any, str, dict[str, Any] | None]] = (),
) -> DataFrame:
    """Logical conditional merge; returns the post-merge relation.

    ``matched``: ordered (cond, "update"|"delete", set_map) clauses for
    key collisions. ``not_matched``: ordered (cond, insert_map) clauses
    for source-only keys (insert_map None = insert the source row).
    ``not_matched_by_source``: ordered (cond, "update"|"delete",
    set_map) for target-only keys — conditions here may reference only
    ``t``. Rows no clause acts on pass through unchanged (matched /
    target-only) or are ignored (source-only).
    """
    base_cols = base.columns
    t = base.withColumn(_TEX, F.lit(True)).alias(_T)
    s = source.withColumn(_SEX, F.lit(True)).alias(_S)
    j = t.join(s, on=F.col(f"{_T}.{key}") == F.col(f"{_S}.{key}"), how="full_outer")

    t_exists = F.col(f"{_T}.{_TEX}").isNotNull()
    s_exists = F.col(f"{_S}.{_SEX}").isNotNull()

    # ---- classify each joined row into the clause that acts on it ----
    # action ids: 0..n-1 = matched clause i, 100+i = not_matched clause
    # i, 200+i = not_matched_by_source clause i, -1 = keep target row,
    # -2 = drop (source-only row no insert clause wants)
    act = F.lit(None).cast("int")
    m_case: Column | None = None
    for i, (cond, _verb, _setm) in enumerate(matched):
        c = _as_col(cond)
        branch = F.lit(i)
        m_case = (
            F.when(c if c is not None else F.lit(True), branch)
            if m_case is None
            else m_case.when(c if c is not None else F.lit(True), branch)
        )
    nm_case: Column | None = None
    for i, (cond, _ins) in enumerate(not_matched):
        c = _as_col(cond)
        branch = F.lit(100 + i)
        nm_case = (
            F.when(c if c is not None else F.lit(True), branch)
            if nm_case is None
            else nm_case.when(c if c is not None else F.lit(True), branch)
        )
    nms_case: Column | None = None
    for i, (cond, _verb, _setm) in enumerate(not_matched_by_source):
        c = _as_col(cond)
        branch = F.lit(200 + i)
        nms_case = (
            F.when(c if c is not None else F.lit(True), branch)
            if nms_case is None
            else nms_case.when(c if c is not None else F.lit(True), branch)
        )

    keep, drop = F.lit(-1), F.lit(-2)
    act = (
        F.when(t_exists & s_exists, m_case.otherwise(keep) if m_case is not None else keep)
        .when(s_exists, nm_case.otherwise(drop) if nm_case is not None else drop)
        .otherwise(nms_case.otherwise(keep) if nms_case is not None else keep)
    )
    j = j.withColumn("__act", act)

    # rows whose acting clause is a DELETE (or an unwanted source row)
    delete_ids = [i for i, (_c, verb, _s2) in enumerate(matched) if verb == "delete"] + [
        200 + i
        for i, (_c, verb, _s2) in enumerate(not_matched_by_source)
        if verb == "delete"
    ]
    j = j.filter(~F.col("__act").isin([*delete_ids, -2]))

    # ---- project each output column through its clause's expression ----
    out_cols = []
    for colname in base_cols:
        expr = F.col(f"{_T}.{colname}")  # keep: target value
        cascade = None
        for i, (_c, verb, setm) in enumerate(matched):
            if verb != "update":
                continue
            v = _as_col((setm or {}).get(colname)) if setm else None
            if v is None and setm is not None and colname not in setm:
                v = F.col(f"{_T}.{colname}")  # unmentioned: keep target
            if v is None:
                v = F.col(f"{_S}.{colname}")  # setm None: take source row
            cascade = (
                F.when(F.col("__act") == i, v)
                if cascade is None
                else cascade.when(F.col("__act") == i, v)
            )
        for i, (_c, insm) in enumerate(not_matched):
            v = _as_col((insm or {}).get(colname)) if insm else None
            if v is None and insm is not None and colname not in insm:
                v = F.lit(None)
            if v is None:
                v = F.col(f"{_S}.{colname}")
            cascade = (
                F.when(F.col("__act") == 100 + i, v)
                if cascade is None
                else cascade.when(F.col("__act") == 100 + i, v)
            )
        for i, (_c, verb, setm) in enumerate(not_matched_by_source):
            if verb != "update":
                continue
            v = _as_col((setm or {}).get(colname)) if setm else None
            if v is None:
                v = F.col(f"{_T}.{colname}")
            cascade = (
                F.when(F.col("__act") == 200 + i, v)
                if cascade is None
                else cascade.when(F.col("__act") == 200 + i, v)
            )
        out = cascade.otherwise(expr) if cascade is not None else expr
        out_cols.append(out.alias(colname))
    return j.select(*out_cols)


def merge_conditional_into_table(
    table: SortedTable,
    source: DataFrame,
    matched: Sequence[tuple[Any, str, dict[str, Any] | None]] = (),
    not_matched: Sequence[tuple[Any, dict[str, Any] | None]] = (),
    not_matched_by_source: Sequence[tuple[Any, str, dict[str, Any] | None]] = (),
    max_records_per_file: int | None = None,
) -> dict:
    """MERGE INTO a SortedTable with the engine's dirty-file contract.

    Without NOT-MATCHED-BY-SOURCE clauses, only files whose key range
    overlaps a source key are read and rewritten (zone-map planning,
    the same pass a plain merge uses); clean files pass through by
    name. With them, every base row is a candidate and the whole table
    goes dirty — stated cost, same as Delta.
    """
    import os
    import time

    from parquet_rewriter_spark.operators.deletion_vectors import retain_dv
    from parquet_rewriter_spark.operators.merge import plan_dirty_files
    from parquet_rewriter_spark.table import Manifest

    from pyspark import StorageLevel

    spark = table.spark
    m = table.manifest()
    key = m.key

    source.persist(StorageLevel.MEMORY_AND_DISK)
    t0 = time.monotonic()
    if not_matched_by_source:
        dirty, clean = list(m.files), []
    else:
        dirty, clean = plan_dirty_files(spark, m, source)
    t_plan = time.monotonic() - t0

    if dirty:
        base = table._reader(m).parquet(
            *[os.path.join(table.path, e.name) for e in dirty]
        )
        dv = table.dv_keys(m, files={e.name for e in dirty if e.dv_rows})
        if dv is not None:
            base = base.join(dv.select(key).distinct(), on=key, how="left_anti")
    else:
        import json as _json

        from pyspark.sql.types import StructType

        base = spark.createDataFrame(
            [], StructType.fromJson(_json.loads(m.schema_json))
        )
    merged = conditional_merge(
        base, source, key, matched, not_matched, not_matched_by_source
    )

    mrpf = max_records_per_file or max((e.rows for e in m.files), default=1_000_000)
    t0 = time.monotonic()
    # zero-sampling write above the dirty-byte threshold: the range
    # exchange's sampling job would re-execute conditional_merge's
    # full-outer JOIN a second time just to learn bounds the dirty
    # entries already record (same economics as merge_into_table)
    from parquet_rewriter_spark.operators.compact import _write_rechunked

    staging = _write_rechunked(table, merged, m, dirty, mrpf)
    source.unpersist()
    new_entries = table._adopt_staged(staging, key)
    t_write = time.monotonic() - t0

    files = sorted(clean + new_entries, key=lambda e: (e.key_min, e.name))
    table._commit_manifest(
        Manifest(
            version=m.version + 1,
            key=key,
            files=files,
            schema_json=m.schema_json,
            stats_cols=m.stats_cols,
            dv_files=retain_dv(table, m, {e.name for e in clean}),
            operation="merge (conditional)",
        )
    )
    return {
        "version": m.version + 1,
        "files_dirty": len(dirty),
        "files_clean_passthrough": len(clean),
        "files_written": len(new_entries),
        "t_plan_s": round(t_plan, 4),
        "t_write_s": round(t_write, 4),
    }
