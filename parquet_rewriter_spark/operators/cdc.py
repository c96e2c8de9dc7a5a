"""Change-data-feed between two SortedTable snapshots.

The reference's output is a *new file* whose delta from the source is
exactly the applied mutation set (ParquetRewriterTests.java:215-244
reconstructs it to validate). ``snapshot_diff`` inverts that: given two
retained manifest versions it recovers the row-level changes, emitting a
Delta-CDF-shaped feed (``_change_type`` in {insert, delete,
update_postimage}).

Scale design: part-files are immutable and manifest-tracked, so a file
present in BOTH snapshots cannot contain a changed row — only files
removed or added between the versions are read. The diff therefore
costs O(churned bytes), not O(table bytes), the same dirty-fraction
scaling contract as the merge itself (README.md:111).
"""

from __future__ import annotations

import json
import os
from dataclasses import replace

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import MapType

from parquet_rewriter_spark.table import SortedTable

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"
CHANGELOG_DIR = "_changelog"


def _payload_fingerprint(df: DataFrame, cols: list[str]):
    """A comparable fingerprint of the non-key payload.

    Struct equality covers every type except MapType (not orderable in
    Spark); fall back to a hash of the JSON rendering when maps appear.
    """
    has_map = any(isinstance(df.schema[c].dataType, MapType) for c in cols)
    inner = F.struct(*[F.col(c) for c in cols])
    return F.xxhash64(F.to_json(inner)) if has_map else inner


def snapshot_diff(
    table: SortedTable,
    from_version: int,
    to_version: int | None = None,
    include_preimage: bool = False,
    logical_names: bool = True,
) -> DataFrame:
    """Row-level changes from snapshot ``from_version`` to ``to_version``
    (default: current). Returns the table schema plus ``_change_type``:
    inserts and updates carry the new row (postimage), deletes the old.

    ``include_preimage=True`` additionally emits an ``update_preimage``
    row (the old image) for every update — the Delta-CDF full form,
    required by consumers that maintain state from the feed (e.g.
    incremental aggregates need the old value to retract).

    ``logical_names=True`` (default) surfaces the TO-version's logical
    column names after a metadata-only rename — what a human consumer
    of the renamed table expects, matching ``table.read()`` and
    ``stream_changes``. Internal physical-name plumbing (changelog
    storage, cross-table replication where the target's own rename map
    may differ) passes ``False``.
    """
    m_old = table.manifest(from_version)
    m_new = table.manifest(to_version) if to_version is not None else table.manifest()
    key = m_new.key

    old_names = {e.name for e in m_old.files}
    new_names = {e.name for e in m_new.files}
    removed = [e for e in m_old.files if e.name not in new_names]

    # PHYSICAL-name frames of the churned files: renames are
    # presentation-layer and applied (when requested) as the very last
    # projection, so changelog STORAGE stays physical (like Delta's CDF
    # under column mapping) while direct consumers see logical names.
    # Both sides are read with the TO-version schema PINNED (files
    # written before an additive schema evolution null-fill the newer
    # columns) and minus their own snapshot's tombstones — each
    # snapshot's logical contents are (files − tombstones); a key
    # tombstoned in BOTH versions was already dead before the window
    # and emits nothing.
    old = table.read_physical(
        m=replace(m_old, schema_json=m_new.schema_json), entries=removed
    )
    new = table.read_physical(
        m=m_new, entries=[e for e in m_new.files if e.name not in old_names]
    )
    cols = new.columns
    payload_cols = [c for c in cols if c != key]

    # A DV-only delete commit changes NO data files — the churn scope
    # must additionally include rows tombstoned (between the versions)
    # in files present in BOTH snapshots. Per-file dv_rows counters in
    # the manifests name those files without reading any sidecar; only
    # the grown files are then read, semi-joined to the new tombstones.
    old_dv_rows = {e.name: e.dv_rows for e in m_old.files}
    grown = [
        e.name
        for e in m_new.files
        if e.name in old_names and e.dv_rows > old_dv_rows.get(e.name, 0)
    ]
    if grown:
        delta = (
            table.dv_keys(m_new).filter(F.col("file").isin(grown))
            .select(key).distinct()
        )
        dv_old = table.dv_keys(m_old)
        if dv_old is not None:
            delta = delta.join(dv_old.select(key), on=key, how="left_anti")
        tomb_rows = table._reader(m_new).parquet(
            *[os.path.join(table.path, n) for n in grown]
        ).join(delta, on=key, how="left_semi")
        old = old.unionByName(tomb_rows) if removed else tomb_rows

    o = old.select(
        F.col(key),
        F.struct(*[F.col(c) for c in cols]).alias("_old_row"),
        _payload_fingerprint(old, payload_cols).alias("_old_fp"),
    )
    n = new.select(
        F.col(key),
        F.struct(*[F.col(c) for c in cols]).alias("_new_row"),
        _payload_fingerprint(new, payload_cols).alias("_new_fp"),
    )

    j = o.join(n, on=key, how="full_outer")
    # one array of (change_type, row) per key, exploded — lets an update
    # emit preimage AND postimage from a single pass over the join
    ev = lambda t, r: F.struct(F.lit(t).alias("t"), F.col(r).alias("r"))  # noqa: E731
    upd = (
        F.array(ev("update_preimage", "_old_row"), ev("update_postimage", "_new_row"))
        if include_preimage
        else F.array(ev("update_postimage", "_new_row"))
    )
    changes = (
        F.when(F.col("_old_row").isNull(), F.array(ev("insert", "_new_row")))
        .when(F.col("_new_row").isNull(), F.array(ev("delete", "_old_row")))
        .when(~F.col("_old_fp").eqNullSafe(F.col("_new_fp")), upd)
    )
    ex = F.explode(changes).alias("_ch")
    rm = (m_new.rename_map or {}) if logical_names else {}
    return (
        j.filter(changes.isNotNull())
        .select(ex)
        .select(
            *[F.col("_ch.r").getField(c).alias(rm.get(c, c)) for c in cols],
            F.col("_ch.t").alias(CHANGE_TYPE_COL),
        )
    )


def write_changelog(table: SortedTable, from_version: int, to_version: int) -> str:
    """Persist one commit's change rows to the table's append-only
    changelog (``<table>/_changelog/``) in the full (preimage) CDF form,
    stamped with ``_commit_version``.

    This is the WRITE side of the change feed: each merge that opts in
    appends its own delta, so downstream consumers tail a plain parquet
    directory instead of re-diffing manifests. Cost is the same
    O(churned bytes) as snapshot_diff — the files it reads were just
    written/retired by the merge and are typically still in page cache.
    """
    feed = snapshot_diff(
        table, from_version, to_version,
        include_preimage=True, logical_names=False,
    )
    out = os.path.join(table.path, CHANGELOG_DIR)
    (
        feed.withColumn(COMMIT_VERSION_COL, F.lit(to_version).cast("long"))
        .write.mode("append")
        .parquet(out)
    )
    return out


def read_changelog(
    table: SortedTable,
    from_commit: int | None = None,
    to_commit: int | None = None,
) -> DataFrame:
    """Batch read of the persisted changelog — the non-streaming twin of
    ``stream_changes`` (Delta's ``table_changes(from, to)``). Schema is
    pinned from the manifest (files written before an additive schema
    evolution null-fill), ``_commit_version`` bounds are inclusive, and
    renamed tables surface their CURRENT logical names; files keep
    physical names, so old changelog segments stay readable after any
    number of renames."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    m = table.manifest()
    base = StructType.fromJson(json.loads(m.schema_json))
    schema = StructType(
        list(base.fields)
        + [
            StructField(CHANGE_TYPE_COL, StringType(), True),
            StructField(COMMIT_VERSION_COL, LongType(), True),
        ]
    )
    path = os.path.join(table.path, CHANGELOG_DIR)
    if not os.path.isdir(path):
        return table.spark.createDataFrame([], schema)
    out = table.spark.read.schema(schema).parquet(path)
    if from_commit is not None:
        out = out.filter(F.col(COMMIT_VERSION_COL) >= from_commit)
    if to_commit is not None:
        out = out.filter(F.col(COMMIT_VERSION_COL) <= to_commit)
    if m.rename_map:
        out = out.select(
            *[F.col(c).alias(m.rename_map.get(c, c)) for c in out.columns]
        )
    return out


def stream_changes(table: SortedTable) -> DataFrame:
    """Structured-Streaming tail of the table's changelog: a file-source
    stream over ``_changelog/`` with the table's CURRENT schema plus
    (``_change_type``, ``_commit_version``). New commits' files are
    discovered per micro-batch — the Delta-CDF read pattern on plain
    parquet. Files written before an additive schema evolution null-fill
    the newer columns (schema is pinned, not inferred — a stream cannot
    infer, and footer inference is a driver-side scan anyway).
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    m = table.manifest()
    base = StructType.fromJson(json.loads(m.schema_json))
    schema = StructType(
        list(base.fields)
        + [
            StructField(CHANGE_TYPE_COL, StringType(), True),
            StructField(COMMIT_VERSION_COL, LongType(), True),
        ]
    )
    path = os.path.join(table.path, CHANGELOG_DIR)
    os.makedirs(path, exist_ok=True)  # empty log streams zero rows, not an error
    out = table.spark.readStream.schema(schema).parquet(path)
    # changelog files store PHYSICAL column names (stable across
    # renames, like Delta's CDF under column mapping); consumers of a
    # renamed table still see the CURRENT logical names
    if m.rename_map:
        out = out.select(
            *[F.col(c).alias(m.rename_map.get(c, c)) for c in out.columns]
        )
    return out
