"""Shared plumbing for per-file sidecar logs.

Five operators keep append-only parquet logs next to the table, one
row (or row group) per immutable data file: bloom filters
(operators/bloom.py), HLL distinct sketches
(operators/distinct_sketch.py), drift count matrices
(operators/driftstats.py), covariance triples (operators/covstats.py)
and token-count zone maps (operators/tokenstats.py). Their shared
obligations live here:

* **One registry.** :data:`SIDECARS` is the static list of every
  sidecar: its directory, the manifest field that registers it (if
  any), the builder a commit runs for new files, and the heal step
  ``maintain()`` runs. Vacuum sweeps, replicas copy, commits build and
  maintenance heals exactly this list — no import order can hide an
  entry, and a new sidecar is one line here.

* **Upkeep inside the commit.** ``SortedTable._commit_manifest`` calls
  :func:`build_new` with the files a snapshot adds over its parent,
  BEFORE it claims the version. Every commit path (merge, splice,
  compact, WAP, rekey, deletion-vector rewrites, branch publish) thus
  leaves each manifest-registered sidecar complete for the version it
  commits, paying only for the files it wrote — no call site carries
  sidecar code. covstats/tokenstats register nothing in the manifest:
  they are built on request and heal on read.

* **Live-file filtering without IN-lists.** A sidecar reader must keep
  only rows belonging to the current snapshot's files. Filtering with
  ``F.col("file").isin(<10^6 names>)`` embeds a multi-megabyte ``In``
  expression in the plan — analysis/codegen bogs down long before the
  data hurts (the same plan-explosion failure mode as literal-bearing
  merge plans). :func:`semi_join_files` instead builds a one-column
  DataFrame of names and broadcast left-semi-joins it: the plan stays
  O(1) in file count, the names travel as broadcast DATA.

The per-file rows themselves stay manifest-scale by design (one small
row per file); it is only the *plan* representation of the live set
this module keeps bounded.
"""

from __future__ import annotations

import importlib
import os
from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import DataFrame, functions as F


@dataclass(frozen=True)
class Sidecar:
    """One per-file sidecar log. Function fields name functions of the
    owning module (imported lazily: the modules import this one)."""

    dirname: str  # relative to the table path; rows keyed by ``file``
    # Manifest field whose non-empty value obliges every commit to
    # build rows for its new files; None = built on request only
    registration: str | None = None
    build: str | None = None  # (table, entries, manifest) -> files built
    heal: str | None = None  # (table, manifest) -> files built
    report: tuple[str, str] | None = None  # maintain() key, count field


# keyed by the implementing module under parquet_rewriter_spark.operators
SIDECARS: dict[str, Sidecar] = {
    "bloom": Sidecar(
        "_blooms", "bloom_cols", "build_blooms", "heal_blooms",
        ("blooms", "files_built"),
    ),
    "distinct_sketch": Sidecar(
        "_distinct", "sketch_cols", "build_sketches_for", "heal_sketches",
        ("sketches", "files_sketched"),
    ),
    "driftstats": Sidecar(
        "_driftstats", "drift_specs", "build_drift_for", "heal_drift",
        ("drift", "files_counted"),
    ),
    "covstats": Sidecar("_covstats"),
    "tokenstats": Sidecar(
        "_tokenstats", heal="heal_token_stats",
        report=("token_stats", "files_built"),
    ),
}
SIDECAR_DIRS: list[str] = [s.dirname for s in SIDECARS.values()]


def _fn(module: str, name: str):
    mod = importlib.import_module(f"parquet_rewriter_spark.operators.{module}")
    return getattr(mod, name)


def build_new(table, entries: list, m) -> None:
    """Commit-time upkeep: rows for ``entries`` (the files snapshot
    ``m`` adds) in every sidecar ``m`` registers. A commit with no
    registrations touches no sidecar directory."""
    if not entries:
        return
    for module, s in SIDECARS.items():
        if s.registration and getattr(m, s.registration):
            _fn(module, s.build)(table, entries, m)


def heal_all(table, m) -> dict:
    """``maintain()``'s heal step: rows for live files of ``m`` that a
    sidecar lacks (lost rows, tables registered after their files were
    written). One report entry per healed sidecar."""
    return {
        s.report[0]: {s.report[1]: _fn(module, s.heal)(table, m)}
        for module, s in SIDECARS.items()
        if s.heal
    }


# Below this many names an In-literal is the cheaper plan (Spark
# compiles >10-element lists to an O(1) InSet; a few hundred strings
# add negligible plan bytes). Above it the literal's analysis/codegen
# cost grows with the manifest — the names must travel as DATA.
IN_LIST_MAX = 256


def semi_join_files(
    df: DataFrame, names: Iterable[str], col: str = "file"
) -> DataFrame:
    """Keep rows of ``df`` whose ``col`` is one of ``names``. Small
    sets stay a plain ``isin`` (InSet — cheapest at toy manifests);
    past ``IN_LIST_MAX`` the filter becomes a broadcast LEFT-SEMI join
    against a single-column names relation, so the plan stays O(1) in
    live-file count instead of embedding a multi-MB ``In`` literal at
    large manifests. Names are sorted for a deterministic plan either
    way."""
    names = sorted(names)
    if len(names) <= IN_LIST_MAX:
        return df.filter(F.col(col).isin(names))
    spark = df.sparkSession
    from parquet_rewriter_spark.operators.util import local_df

    names_df = local_df(spark, [(n,) for n in names], f"{col} string")
    return df.join(F.broadcast(names_df), col, "left_semi")


def have_files(table, dirname: str, where=None, cols=("file",)) -> set:
    """Distinct ``cols`` values already present in the table's
    ``dirname`` sidecar (optionally under a ``where`` predicate) — the
    shared "which files are already covered?" probe every builder runs
    before building. Driver-side by design: the result is one entry
    per covered file, the same scale as the manifest the caller is
    about to diff it against. Returns a set of scalars for one column,
    tuples for several; empty when the sidecar doesn't exist yet."""
    side = os.path.join(table.path, dirname)
    if not os.path.isdir(side):
        return set()
    df = table.spark.read.parquet(side)
    if where is not None:
        df = df.filter(where)
    rows = df.select(*cols).distinct().collect()
    if len(cols) == 1:
        return {r[0] for r in rows}
    return {tuple(r) for r in rows}
