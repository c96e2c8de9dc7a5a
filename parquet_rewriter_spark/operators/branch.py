"""Writable branch refs — git-style isolated lineages over the mutation
core (the Nessie / LakeFS / Iceberg-branch workflow).

Reference parity note: the reference engine (ParquetRewriter.java) has
exactly one lineage — this module is beyond-reference surface, but it is
built ENTIRELY from primitives the engine already proves out: a branch
is a long-lived zero-copy clone (`SortedTable.clone` — hard-linked
immutable data files, O(files) metadata, no bytes copied) plus a ref
entry in the main table's `_refs.json` recording the fork point. The
branch IS a SortedTable: every operator — merge, compact, DDL, time
travel, streaming sinks — works on it unchanged, and its commits are
invisible to main's readers.

Publishing uses the same adopt protocol as WAP (operators/wap.py):
hard-link the branch's new files into the main directory (names are
fresh UUIDs — no collisions) and atomically commit the branch head's
manifest as main's next version, guarded by `_commit_manifest`'s
optimistic version claim. Two modes:

* ``fast_forward`` — refuses unless main is still at the fork point
  (``git merge --ff-only``): the branch head simply BECOMES main's next
  snapshot, so publish is O(new files) metadata.
* ``rebase_branch`` — when main moved on: compute the branch's own
  delta as a row-level CDC diff (operators/cdc.py:snapshot_diff between
  fork point and branch head), re-apply it as one merge onto a fresh
  clone of CURRENT main, and swing the ref. Branch wins on keys both
  sides touched (the replayed mutation lands last) — documented,
  deterministic. Rebase cost = one merge of the branch's delta, not a
  history replay.

At 100 TB the entire lifecycle is metadata + the branch's own writes:
forking copies nothing, publishing links files, and vacuum on main pins
every branch's fork-point snapshot (table.py) so diff/rebase stay
possible under any GC policy.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, functions as F

from parquet_rewriter_spark.table import Manifest, SortedTable


def _branch_path(table: SortedTable, name: str) -> str:
    return table.path.rstrip("/") + f"_branch_{name}"


def create_branch(
    table: SortedTable, name: str, version: "int | str | None" = None
) -> SortedTable:
    """Fork ``name`` off the current snapshot (or a retained
    ``version`` — how catalog branches fork from pinned versions).
    Zero-copy; records the fork point in the main table's refs
    (vacuum pins it)."""
    if name in table.branches():
        raise ValueError(f"branch {name!r} already exists at {table.path}")
    m = table.manifest(version)
    br = table.clone(_branch_path(table, name), version=version)
    table._set_branch_ref(name, {"base_version": m.version})
    return br


def get_branch(table: SortedTable, name: str) -> SortedTable:
    if name not in table.branches():
        raise ValueError(f"no branch {name!r} at {table.path}")
    return SortedTable(table.spark, _branch_path(table, name))


def delete_branch(table: SortedTable, name: str) -> None:
    """Drop the ref and the branch directory (branch-only files die
    with it; files shared with main are hard links — main keeps its
    own)."""
    table._set_branch_ref(name, None)
    shutil.rmtree(_branch_path(table, name), ignore_errors=True)


def branch_status(table: SortedTable, name: str) -> dict[str, Any]:
    """Where the lineages stand: fork point, branch head version /
    commit count, whether main moved (publish needs rebase)."""
    info = table.branches().get(name)
    if info is None:
        raise ValueError(f"no branch {name!r} at {table.path}")
    base = info["base_version"]
    br = get_branch(table, name)
    return {
        "branch": name,
        "base_version": base,
        "main_version": table.manifest().version,
        "branch_version": br.manifest().version,
        "branch_commits": br.manifest().version,  # clone starts at v0
        "main_moved": table.manifest().version != base,
    }


def branch_diff(table: SortedTable, name: str) -> DataFrame:
    """The branch's own row-level delta: CDC diff of the branch lineage
    from its fork point (v0 = the cloned snapshot) to its head —
    exactly what rebase replays."""
    from parquet_rewriter_spark.operators.cdc import snapshot_diff

    return snapshot_diff(get_branch(table, name), 0)


def _adopt(
    table: SortedTable, src: SortedTable, base: Manifest, operation: str
) -> int:
    """Publish ``src``'s head as main's next version after ``base``, the
    main snapshot ``src`` was cloned from (the one publish path of
    branches and WAP): link ``src``'s files and tombstone parts main
    lacks, then commit ``base``'s successor with ``src``'s data, schema
    and names; main's sidecar registrations live on and the txn
    watermarks of both merge. Claiming ``base.version + 1`` raises
    ``CommitConflictError`` when main committed since the clone."""
    src_m = src.manifest()
    for e in src_m.files:
        dst = os.path.join(table.path, e.name)
        if not os.path.exists(dst):
            os.link(os.path.join(src.path, e.name), dst)
    for rel in src_m.dv_files:
        src_dir, dst_dir = os.path.join(src.path, rel), os.path.join(table.path, rel)
        os.makedirs(dst_dir, exist_ok=True)
        for part in os.listdir(src_dir):
            if not part.startswith(("_", ".")) and not os.path.exists(
                os.path.join(dst_dir, part)
            ):
                os.link(os.path.join(src_dir, part), os.path.join(dst_dir, part))
    table._commit_manifest(
        replace(
            base,
            version=base.version + 1,
            key=src_m.key,
            files=src_m.files,
            schema_json=src_m.schema_json,
            stats_cols=src_m.stats_cols,
            dv_files=src_m.dv_files,
            rename_map=src_m.rename_map,
            txns={**base.txns, **src_m.txns},
            operation=operation,
        )
    )
    return base.version + 1


def fast_forward(table: SortedTable, name: str) -> dict[str, Any]:
    """Publish the branch to main, ``--ff-only``: raises if main has
    committed since the fork (use :func:`rebase_branch` first). The
    branch ref advances to the published version, staying usable."""
    st = branch_status(table, name)
    if st["main_moved"]:
        raise ValueError(
            f"main advanced v{st['base_version']} -> v{st['main_version']} "
            f"since branch {name!r} forked; rebase_branch() first"
        )
    br = get_branch(table, name)
    v = _adopt(
        table, br, table.manifest(st["base_version"]),
        operation=f"branch-publish {name}",
    )
    table._set_branch_ref(name, {"base_version": v})
    return {**st, "published_version": v}


def rebase_branch(table: SortedTable, name: str) -> dict[str, Any]:
    """Re-fork the branch from CURRENT main and replay its row-level
    delta as ONE merge (inserts/updates → upserts, deletes → deletes).
    Branch wins on keys both lineages touched. The old branch dir is
    replaced atomically-enough for a single writer (branch ops are
    single-writer by design; concurrent MAIN commits stay safe because
    publish re-checks the fork point under the version claim)."""
    from parquet_rewriter_spark.operators.merge import merge_into_table

    st = branch_status(table, name)
    delta = branch_diff(table, name).where(F.col("_change_type") != "update_preimage")
    payload = [c for c in delta.columns if c != "_change_type"]
    ops = delta.select(
        *payload,
        F.when(F.col("_change_type") == "delete", F.lit("DELETE"))
        .otherwise(F.lit("UPSERT"))
        .alias("op"),
    )
    # materialize the delta BEFORE the old branch dir is deleted (the
    # plan reads the branch's churned files, which rmtree would unlink)
    # — as a distributed parquet spill, never a driver collect: a
    # branch's delta can be arbitrarily large
    old = _branch_path(table, name)
    spill = old + ".delta"
    if os.path.exists(spill):
        shutil.rmtree(spill)
    ops.write.parquet(spill)
    delta_df = table.spark.read.parquet(spill)
    n = delta_df.count()  # parquet metadata count — no data scan
    tmp_new = old + ".rebasing"
    if os.path.exists(tmp_new):
        shutil.rmtree(tmp_new)
    fresh = table.clone(tmp_new)
    if n:
        merge_into_table(fresh, delta_df)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp_new, old)
    shutil.rmtree(spill, ignore_errors=True)
    table._set_branch_ref(name, {"base_version": table.manifest().version})
    return {
        **st,
        "rebased_onto": table.manifest().version,
        "replayed_rows": n,
    }


# ------------------------------------------------------- catalog branches


def create_catalog_branch(cat, name: str) -> dict[str, SortedTable]:
    """Branch EVERY table of a TransactionCatalog
    (operators/txn_catalog.py) at its PINNED version — one logical
    branch spanning the mutually-consistent table set. Returns the
    per-table branch handles (each a full SortedTable)."""
    out: dict[str, SortedTable] = {}
    for tname, pin in cat._state()["tables"].items():
        t = SortedTable(cat.spark, pin["path"])
        out[tname] = create_branch(t, name, version=pin["version"])
    return out


def rebase_catalog_branch(cat, name: str) -> dict[str, int]:
    """Rebase every diverged table of the catalog branch onto its
    CURRENT main head (tables still at their fork point are left
    alone). Returns {table: replayed_rows} for the rebased ones —
    after this, :func:`publish_catalog_branch` passes its fork-point
    pre-validation."""
    out: dict[str, int] = {}
    for tname, pin in cat._state()["tables"].items():
        t = SortedTable(cat.spark, pin["path"])
        if name not in t.branches():
            continue
        if branch_status(t, name)["main_moved"]:
            out[tname] = rebase_branch(t, name)["replayed_rows"]
    return out


def publish_catalog_branch(cat, name: str) -> int:
    """Publish the catalog branch atomically FOR CATALOG READERS: each
    touched table fast-forwards (ff-only per table), then ONE catalog
    commit flips every pin together. A crash between the per-table
    publishes and the catalog commit leaves readers on the old,
    mutually-consistent pin set — the exact failure mode the catalog
    exists to absorb. Tables whose branch made no commits keep their
    pins (no empty versions). Branch refs are dropped on success."""
    state = cat._state()
    # validate EVERY fork point before publishing ANY table: a
    # divergence discovered mid-loop would otherwise leave some heads
    # advanced with the catalog commit never happening — harmless for
    # catalog readers (pins unmoved) but confusing for table-level ones
    publishable: list[tuple[str, SortedTable]] = []
    for tname, pin in state["tables"].items():
        t = SortedTable(cat.spark, pin["path"])
        if name not in t.branches():
            continue
        st = branch_status(t, name)
        if st["main_moved"]:
            raise ValueError(
                f"table {tname!r} advanced past branch {name!r}'s fork "
                f"point (v{st['base_version']} -> v{st['main_version']}); "
                "rebase_branch() it first — no table was published"
            )
        publishable.append((tname, t))
    new_pins: dict[str, int] = {}
    touched: list[SortedTable] = []
    for tname, t in publishable:
        if get_branch(t, name).manifest().version == 0:
            delete_branch(t, name)  # nothing committed on this table
            continue
        res = fast_forward(t, name)
        new_pins[tname] = res["published_version"]
        touched.append(t)
    v = cat.commit(new_pins) if new_pins else cat.version()
    for t in touched:
        delete_branch(t, name)
    return v


__all__ = [
    "create_branch",
    "create_catalog_branch",
    "publish_catalog_branch",
    "rebase_catalog_branch",
    "get_branch",
    "delete_branch",
    "branch_status",
    "branch_diff",
    "fast_forward",
    "rebase_branch",
]
