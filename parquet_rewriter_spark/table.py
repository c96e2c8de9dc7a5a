"""SortedTable — key-sorted Parquet table layout with a key-range manifest.

The reference's storage contract (README.md:21, ParquetRewriter.java:35-37):
one Parquet file sorted by a unique primary key, mutated by writing a new
file that passes clean row groups through verbatim. Spark's unit of
passthrough is the part-file (no sub-file splice), so a table here is:

    table_dir/
      _manifest.json        # version, key column, per-file key ranges
      part-<uuid>.parquet   # key-sorted data files

The manifest is the 100 TB piece: it carries each file's (key_min,
key_max, rows, bytes) so merge planning never lists or reads a million
footers (SURVEY.md §4 custom piece #2). Commits are manifest flips
(write temp + atomic rename) — readers never see a partial merge, the
moral equivalent of the reference's write-new-file-then-swap commit
(Mode.CREATE, ParquetRewriter.java:115).

Invariants maintained (mirrors the reference's contract,
ParquetRewriter.java:35-37 + tests ParquetRewriterTests.java:215-244):
- every file is internally sorted by the key column;
- no key appears twice anywhere in the table;
- the manifest's per-file [min,max] ranges are exact (from footers).
File ranges are *mostly* disjoint; after a merge that inserts into gaps
they may overlap — zone-map pruning stays correct, just less selective.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import os
import shutil
import time
import uuid
from dataclasses import asdict, dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_rewriter_spark.stats import collect_file_stats, list_parquet_files

MANIFEST_NAME = "_manifest.json"


class CommitConflictError(RuntimeError):
    """Another writer committed this version first — reload the current
    manifest, re-plan against it, and retry (optimistic concurrency)."""


DEFAULT_MAX_RECORDS_PER_FILE = 1_000_000  # reference used 10k-record ROW GROUPS
# (README.md:94); our row groups stay parquet-default-sized inside bigger files.


@dataclass
class ManifestEntry:
    name: str
    rows: int
    bytes: int
    key_min: Any
    key_max: Any
    # secondary zone maps: col → [min, max] for the manifest's stats_cols.
    # Best-effort — a file missing an entry (written pre-evolution, or no
    # footer stats for the column) is simply never pruned on that column.
    col_stats: dict[str, list] = field(default_factory=dict)
    # merge-on-read deletion vectors: number of this file's rows that are
    # logically deleted via the snapshot's DV sidecars (_dv/). 0 = none.
    # The keys themselves live in the manifest-level dv_files; this count
    # is what tells merge/compaction the file needs materializing.
    dv_rows: int = 0


def _encode_key_bound(v: Any) -> Any:
    """JSON-encode a zone-map bound so it round-trips with its TYPE.

    ``json.dumps(default=str)`` would silently stringify date/timestamp/
    Decimal bounds; a reloaded manifest would then compare string bounds
    against native mutation keys in plan_dirty_files and misclassify
    files. Non-JSON-native types get a tagged envelope instead; anything
    unrecognized raises at commit time rather than corrupting planning.
    """
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):  # before date — datetime IS a date
        return {"__t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__t": "date", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"__t": "dec", "v": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"__t": "bin", "v": base64.b64encode(bytes(v)).decode("ascii")}
    raise TypeError(f"unsupported key-bound type for manifest: {type(v).__name__}")


def _decode_key_bound(v: Any) -> Any:
    if isinstance(v, dict) and "__t" in v:
        tag, s = v["__t"], v["v"]
        if tag == "ts":
            return datetime.datetime.fromisoformat(s)
        if tag == "date":
            return datetime.date.fromisoformat(s)
        if tag == "dec":
            return decimal.Decimal(s)
        if tag == "bin":
            return base64.b64decode(s)
        raise ValueError(f"unknown key-bound tag {tag!r}")
    return v


@dataclass
class Manifest:
    version: int
    key: str
    files: list[ManifestEntry] = field(default_factory=list)
    # StructType JSON — lets an all-rows-deleted (zero-file) snapshot
    # still be read as an empty, correctly-typed relation
    schema_json: str | None = None
    # columns (beyond the key) whose per-file min/max zone maps are
    # maintained across merges/compactions for read_where pruning
    stats_cols: list[str] = field(default_factory=list)
    # Sidecar registrations (operators/sidecar.py:SIDECARS): every
    # commit builds rows for the files it adds in each registered
    # sidecar. ``None`` means "writer didn't think about it":
    # _commit_manifest inherits the parent snapshot's value (same
    # contract as rename_map/txns), so no commit drops a registration.
    # columns with per-file Bloom filters (sidecar _blooms/) for
    # point-lookup file skipping — see operators/bloom.py
    bloom_cols: list[str] | None = None
    # PHYSICAL column names with per-file distinct-count HLL sketches
    # (sidecar _distinct/) — see operators/distinct_sketch.py
    sketch_cols: list[str] | None = None
    # registered drift monitors (sidecar _driftstats/) — each a
    # JSON-native dict {"value": <physical col>, "group": <physical
    # col>, "edges": [...numbers/strings...]}; see
    # operators/driftstats.py:enable_drift_monitor
    drift_specs: list | None = None
    # merge-on-read deletion-vector sidecars (relative paths under the
    # table dir, each a parquet dir of (file, <key>) tombstones) active
    # for THIS snapshot — see operators/deletion_vectors.py. Append-only
    # across delete commits; rewritten (filtered) when a merge/compact
    # drops a tombstoned file. Versioned like data files: historical
    # manifests keep their own list, so time travel sees pre-delete rows.
    dv_files: list[str] = field(default_factory=list)
    # commit wall-time (ISO-8601 UTC), stamped at _commit_manifest —
    # lets read_asof() time-travel by timestamp, not just version
    committed_at: str | None = None
    # what produced this snapshot (create/merge/compact/...) — shown by
    # history(); writers pass it via Manifest(..., operation=...)
    operation: str | None = None
    # streaming transaction watermarks: app_id → highest epoch applied.
    # The Delta txn (appId, version) pattern on plain parquet: a merge
    # tagged (app, epoch) is SKIPPED when epoch ≤ txns[app], which makes
    # foreachBatch replays after a crash exactly-once even for
    # NON-idempotent mutation streams (signed matview deltas). Writers
    # that don't set it inherit the previous snapshot's map at commit.
    txns: dict[str, int] = field(default_factory=dict)
    # metadata-only RENAME COLUMN (Delta-style column mapping): physical
    # (in-file) column name → logical (user-visible) name. Files are
    # NEVER rewritten on rename — they keep writing/reading the physical
    # name forever; readers project physical→logical as their last step
    # and writers translate logical→physical mutations at entry.
    # ``None`` means "writer didn't think about renames": _commit_manifest
    # inherits the previous snapshot's map (same contract as txns), so a
    # compact/merge/DDL commit can't silently drop a mapping. Writers
    # that CHANGE the mapping (rename, drop of a renamed column) pass an
    # explicit dict — possibly empty.
    rename_map: dict[str, str] | None = None

    def to_json(self) -> str:
        files = []
        for f in self.files:
            d = asdict(f)
            d["key_min"] = _encode_key_bound(d["key_min"])
            d["key_max"] = _encode_key_bound(d["key_max"])
            d["col_stats"] = {
                c: [_encode_key_bound(v) for v in mm]
                for c, mm in (d.get("col_stats") or {}).items()
            }
            files.append(d)
        return json.dumps(
            {
                "version": self.version,
                "key": self.key,
                "schema_json": self.schema_json,
                "stats_cols": self.stats_cols,
                "bloom_cols": self.bloom_cols or [],
                "sketch_cols": self.sketch_cols or [],
                "drift_specs": self.drift_specs or [],
                "dv_files": self.dv_files,
                "committed_at": self.committed_at,
                "operation": self.operation,
                "txns": self.txns,
                "rename_map": self.rename_map or {},
                "files": files,
            },
            indent=1,
        )

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        files = []
        for f in d["files"]:
            f = dict(f)
            f["key_min"] = _decode_key_bound(f["key_min"])
            f["key_max"] = _decode_key_bound(f["key_max"])
            f["col_stats"] = {
                c: [_decode_key_bound(v) for v in mm]
                for c, mm in (f.get("col_stats") or {}).items()
            }
            files.append(ManifestEntry(**f))
        return Manifest(
            version=d["version"],
            key=d["key"],
            files=files,
            schema_json=d.get("schema_json"),
            stats_cols=d.get("stats_cols") or [],
            bloom_cols=d.get("bloom_cols") or [],
            sketch_cols=d.get("sketch_cols") or [],
            drift_specs=d.get("drift_specs") or [],
            dv_files=d.get("dv_files") or [],
            committed_at=d.get("committed_at"),
            operation=d.get("operation"),
            txns=d.get("txns") or {},
            rename_map=d.get("rename_map") or {},
        )


class SortedTable:
    """A key-sorted, manifest-tracked Parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        from parquet_rewriter_spark.ship import ensure_shipped

        ensure_shipped(spark)  # merge/compact kernels import this package on workers
        self.spark = spark
        self.path = path
        # Externally-built sessions keep the 32-path default, making
        # every multi-file manifest read launch a distributed LISTING
        # job (~250 ms fixed). Same knob get_spark sets; idempotent.
        try:
            spark.conf.set(
                "spark.sql.sources.parallelPartitionDiscovery.threshold", "2048"
            )
        except Exception:  # noqa: BLE001 - read-only conf contexts
            pass

    # ---------- manifest ----------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST_NAME)

    def manifest(self, version: "int | str | None" = None) -> Manifest:
        """Current manifest, a historical snapshot by version number, or
        a tagged snapshot by ref name (``manifest("v1.0")``)."""
        if isinstance(version, str):
            version = self.resolve_ref(version)
        path = (
            self._manifest_path
            if version is None
            else os.path.join(self.path, f"_manifest.v{version}.json")
        )
        try:
            with open(path) as fh:
                return Manifest.from_json(fh.read())
        except FileNotFoundError:
            if version is None:
                raise
            raise ValueError(
                f"no snapshot v{version} at {self.path} (vacuumed or never existed)"
            ) from None

    # ---------------------------------------------------- named refs
    # Iceberg-style tags: a human name pinned to a snapshot version,
    # stored in a `_refs.json` sidecar. A tag is a RETENTION promise,
    # not just an alias — vacuum() keeps every tagged snapshot (and its
    # files) alive regardless of the version/time policy, so
    # `read("train-v1")` reproduces a training run's exact inputs long
    # after routine GC. Any API taking a version also takes a tag name.

    @property
    def _refs_path(self) -> str:
        return os.path.join(self.path, "_refs.json")

    def _read_refs(self) -> dict:
        try:
            with open(self._refs_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def tags(self) -> dict[str, int]:
        """Live tag name → pinned snapshot version."""
        return self._read_refs().get("tags", {})

    def branches(self) -> dict[str, dict]:
        """Live branch name → {"base_version": int} (operators/branch.py
        manages the lifecycle; recorded here so vacuum pins each
        branch's fork point exactly like a tag)."""
        return self._read_refs().get("branches", {})

    def resolve_ref(self, name: str) -> int:
        try:
            return self.tags()[name]
        except KeyError:
            raise ValueError(f"no tag {name!r} at {self.path}") from None

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to a snapshot (default: the current one)."""
        v = self.manifest(version).version  # validates the snapshot exists
        tags = self.tags()
        tags[name] = v
        self._write_refs(tags)
        return v

    def delete_tag(self, name: str) -> None:
        tags = self.tags()
        tags.pop(name, None)
        self._write_refs(tags)

    def _write_refs(self, tags: dict[str, int]) -> None:
        refs = self._read_refs()
        refs["tags"] = tags
        self._write_refs_all(refs)

    def _set_branch_ref(self, name: str, info: "dict | None") -> None:
        """Record (info dict) or drop (None) a branch ref atomically."""
        refs = self._read_refs()
        branches = refs.get("branches", {})
        if info is None:
            branches.pop(name, None)
        else:
            branches[name] = info
        refs["branches"] = branches
        self._write_refs_all(refs)

    def _write_refs_all(self, refs: dict) -> None:
        tmp = self._refs_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(refs, fh)
        os.replace(tmp, self._refs_path)

    def versions(self) -> list[int]:
        """Retained snapshot versions, oldest first."""
        out = []
        for name in os.listdir(self.path):
            if name.startswith("_manifest.v") and name.endswith(".json"):
                out.append(int(name[len("_manifest.v"):-len(".json")]))
        return sorted(out)

    def history(self) -> list[dict[str, Any]]:
        """Commit log of retained snapshots, oldest first — version,
        commit time, operation, file/row/byte totals. Driver-side
        manifest reads only; O(retained versions)."""
        out = []
        for v in self.versions():
            m = self.manifest(v)
            out.append(
                {
                    "version": m.version,
                    "committed_at": m.committed_at,
                    "operation": m.operation,
                    "num_files": len(m.files),
                    "rows": sum(e.rows for e in m.files),
                    "bytes": sum(e.bytes for e in m.files),
                }
            )
        return out

    def files_df(self, version: "int | str | None" = None) -> DataFrame:
        """The snapshot's file inventory as a relation (Iceberg's
        ``.files`` metadata table): one row per live data file with its
        manifest stats. Driver-side manifest fold — no file opens — so
        operational queries ("which files hold keys 5k–6k", "how many
        rows are tombstoned per file") run without touching data."""
        m = self.manifest(version)
        rows = [
            (
                e.name,
                int(e.rows),
                int(e.bytes),
                str(e.key_min),
                str(e.key_max),
                int(e.dv_rows),
            )
            for e in m.files
        ]
        return self.spark.createDataFrame(
            rows,
            "file string, rows long, bytes long, "
            "key_min string, key_max string, dv_rows long",
        )

    def history_df(self) -> DataFrame:
        """``history()`` as a relation (DESCRIBE HISTORY): one row per
        retained commit — version, time, operation, file/row/byte
        totals. Driver-side manifest reads only."""
        rows = [
            (
                int(h["version"]),
                h["committed_at"],
                h["operation"],
                int(h["num_files"]),
                int(h["rows"]),
                int(h["bytes"]),
            )
            for h in self.history()
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, committed_at string, operation string, "
            "num_files long, rows long, bytes long",
        )

    def refs_df(self) -> DataFrame:
        """Named refs as a relation (the Iceberg ``.refs`` metadata
        table): one row per tag (pinned version) and per branch
        (fork-point version + whether its lineage has commits).
        Driver-side refs/manifest reads only."""
        from parquet_rewriter_spark.operators.branch import get_branch

        rows = [
            (name, "tag", int(v), None)
            for name, v in sorted(self.tags().items())
        ]
        for name, info in sorted(self.branches().items()):
            try:
                commits = get_branch(self, name).manifest().version
            except (FileNotFoundError, ValueError):
                commits = None
            rows.append((name, "branch", int(info["base_version"]), commits))
        return self.spark.createDataFrame(
            rows,
            "name string, kind string, version long, branch_commits long",
        )

    @staticmethod
    def _parse_ts(ts: "datetime.datetime | str") -> "datetime.datetime":
        """ISO string or datetime → aware UTC datetime (naive = UTC)."""
        if isinstance(ts, str):
            ts = datetime.datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return ts

    def version_asof(self, ts: "datetime.datetime | str") -> int:
        """Newest retained version committed at or before ``ts`` —
        timestamp-based time travel ("the table as of last midnight").
        ``ts`` is a datetime (naive = UTC) or ISO-8601 string. Raises
        when every retained snapshot is newer (or history was vacuumed
        past the requested point)."""
        if isinstance(ts, str):
            ts = datetime.datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        best: int | None = None
        for v in self.versions():  # ascending; commit times are monotonic
            ca = self.manifest(v).committed_at
            if ca is not None and datetime.datetime.fromisoformat(ca) > ts:
                break
            best = v
        if best is None:
            raise ValueError(
                f"no retained snapshot at or before {ts.isoformat()} in {self.path}"
            )
        return best

    def read_asof(self, ts: "datetime.datetime | str") -> DataFrame:
        """Snapshot read at a TIMESTAMP (version_asof + read)."""
        return self.read(version=self.version_asof(ts))

    def _commit_manifest(
        self, m: Manifest, parent: Manifest | None = None
    ) -> float:
        """Atomic manifest flip with optimistic concurrency.

        Every commit retains an immutable per-version snapshot
        (`_manifest.v{N}.json`) — readers pin a version and are immune
        to concurrent merges; `read(version=)` is time travel. History
        is garbage-collected by vacuum(retain_versions=...).

        The snapshot file doubles as the commit LOCK: claiming version N
        is an atomic `link` (create-exclusive) of the fully-written temp
        file — if two writers race to version N, exactly one link
        succeeds and the loser gets CommitConflictError to re-plan
        against the winner's manifest. (On an object store the
        equivalent is a conditional/if-none-match put — same protocol,
        different primitive.) The mutable `_manifest.json` pointer is
        then an ordinary atomic rename; it only ever moves forward,
        because every writer must win its version claim first.

        ``parent`` is the snapshot ``m`` derives from (default: this
        table's version ``m.version - 1``). Fields left ``None`` inherit
        its values, and before the claim every sidecar ``m`` registers
        gets rows for the files ``m`` adds over it
        (operators/sidecar.py:build_new) — so a committed version never
        lacks them. Returns the seconds spent on that sidecar upkeep.
        """
        from parquet_rewriter_spark.operators.sidecar import build_new

        if parent is None and m.version > 0:
            try:
                parent = self.manifest(m.version - 1)
            except ValueError:  # vacuumed history
                pass
        # carry what a writer didn't think about (column renames,
        # sidecar registrations) — a merge/compact/DDL commit must not
        # silently resurface physical names or stop sidecar upkeep
        for name, kind in (("rename_map", dict), ("bloom_cols", list),
                           ("sketch_cols", list), ("drift_specs", list)):
            if getattr(m, name) is None:
                setattr(m, name, kind(getattr(parent, name, None) or ()))
        if not m.txns and parent is not None:
            # carry the txn watermarks forward through commits that
            # don't know about them (compact, DDL, WAP, DV deletes…) —
            # otherwise a compaction would reopen the door to replays
            m.txns = dict(parent.txns)
        snap = os.path.join(self.path, f"_manifest.v{m.version}.json")
        lost = (
            f"version {m.version} of {self.path} was committed by another "
            "writer; reload the manifest and retry"
        )
        if os.path.exists(snap):  # lost already: skip the sidecar work
            raise CommitConflictError(lost)
        old = {e.name for e in parent.files} if parent is not None else set()
        t0 = time.monotonic()
        build_new(self, [e for e in m.files if e.name not in old], m)
        t_sidecar = time.monotonic() - t0
        m.committed_at = datetime.datetime.now(datetime.timezone.utc).isoformat()
        tmp = snap + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(m.to_json())
        try:
            os.link(tmp, snap)  # atomic claim: fails iff the version exists
        except FileExistsError:
            os.remove(tmp)
            raise CommitConflictError(lost) from None
        os.remove(tmp)
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(m.to_json())
        os.replace(tmp, self._manifest_path)
        return t_sidecar

    def file_paths(self, m: Manifest | None = None) -> list[str]:
        m = m or self.manifest()
        return [os.path.join(self.path, e.name) for e in m.files]

    # ---------- create / read ----------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key: str,
        max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
        num_files: int | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bucket_cuts=None,
    ) -> "SortedTable":
        """Write ``df`` as a new sorted table (R12 sorted write).

        ``repartitionByRange(key)`` gives range-disjoint files,
        ``sortWithinPartitions(key)`` the in-file order — together the
        reference's sorted-by-PK invariant, distributed. A caller that
        already KNOWS the key distribution (e.g. the IVF index, whose
        composite key's cell boundaries are fixed a priori) passes
        ``bucket_cuts`` (sorted, deduplicated) and the write exchanges
        on identity-remapped bucket ids instead — range partitioning's
        balance with no sampling job re-executing ``df``'s plan.

        ``stats_cols`` opts extra columns into per-file min/max zone maps
        (secondary to the key's), maintained across merges/compactions
        and used by ``read_where`` for driver-side file pruning.
        ``bloom_cols`` opts columns into per-file Bloom filters (sidecar
        ``_blooms/``) for point-lookup skipping (operators/bloom.py).
        """
        os.makedirs(path, exist_ok=True)
        t = cls(spark, path)
        stats_cols = list(stats_cols or [])
        bloom_cols = list(bloom_cols or [])
        if bucket_cuts is not None and len(bucket_cuts) > 0:
            from parquet_rewriter_spark.operators.merge import (
                _BUCKET,
                bucket_partition_by_key,
            )

            bucketed, _n = bucket_partition_by_key(df, key, bucket_cuts)
            staging = t._write_sorted(
                bucketed, key, max_records_per_file, prepartitioned=True,
                bucket_col=_BUCKET,
            )
        else:
            staging = t._write_sorted(df, key, max_records_per_file, num_files)
        entries = t._adopt_staged(staging, key, stats_cols=stats_cols)
        t._commit_manifest(
            Manifest(
                version=0,
                key=key,
                files=sorted(entries, key=lambda e: (e.key_min, e.name)),
                schema_json=df.schema.json(),
                stats_cols=stats_cols,
                bloom_cols=bloom_cols,
                operation="create",
            )
        )
        return t

    def read(self, version: "int | str | None" = None) -> DataFrame:
        """Read a snapshot (manifest-listed files only); ``version=None``
        is the current snapshot, an int time-travels to that commit,
        a string reads a tagged snapshot (``read("train-v1")``).
        A zero-file snapshot (everything deleted) reads as an empty,
        correctly-typed relation via the manifest's stored schema.
        Merge-on-read deletion vectors (if any) are applied here — see
        ``dv_keys`` / operators/deletion_vectors.py. Renamed columns
        (``rename_map``) surface under their LOGICAL names."""
        m = self.manifest(version)
        return self._to_logical(self.read_physical(version, m=m), m)

    def read_physical(
        self, version: int | None = None, m: Manifest | None = None
    ) -> DataFrame:
        """Snapshot read in PHYSICAL column names — the frame internal
        rewrite paths (merge/compact/DV-materialize) must use, because
        files and the pinned schema keep physical names forever; only
        the user-facing ``read`` projects to logical names."""
        m = m or self.manifest(version)
        paths = self.file_paths(m)
        if not paths:
            if m.schema_json is None:
                raise ValueError(f"empty table at {self.path} (no schema recorded)")
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m.schema_json))
            return self.spark.createDataFrame([], schema)
        return self.apply_dv(self._reader(m).parquet(*paths), m)

    # ---------- column-rename mapping (metadata-only RENAME COLUMN) ----------
    def _to_logical(self, df: DataFrame, m: Manifest) -> DataFrame:
        """Project physical column names to logical ones (no-op without
        a rename mapping — the overwhelmingly common case)."""
        if not m.rename_map:
            return df
        return df.select(
            *[F.col(c).alias(m.rename_map.get(c, c)) for c in df.columns]
        )

    def to_physical(self, name: str, m: Manifest | None = None) -> str:
        """Logical → physical column name (identity when unmapped)."""
        m = m or self.manifest()
        if m.rename_map:
            for phys, logical in m.rename_map.items():
                if logical == name:
                    return phys
        return name

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename: no file is read or written — the
        new manifest version maps the column's PHYSICAL name to the new
        logical name (Delta-style column mapping). Readers project the
        rename; mutation writers translate it back, so merges after a
        rename still hit the same physical column. Returns the new
        manifest version."""
        from pyspark.sql.types import StructType

        m = self.manifest()
        if m.schema_json is None:
            raise ValueError("rename_column requires a stored schema")
        rm = dict(m.rename_map or {})
        phys_fields = [
            f.name for f in StructType.fromJson(json.loads(m.schema_json)).fields
        ]
        logical_to_phys = {rm.get(p, p): p for p in phys_fields}
        if old not in logical_to_phys:
            raise KeyError(f"no column named {old!r}")
        if new in logical_to_phys:
            raise ValueError(f"column {new!r} already exists")
        p = logical_to_phys[old]
        rm.pop(p, None)
        if new != p:
            rm[p] = new
        self._commit_manifest(
            Manifest(
                version=m.version + 1,
                key=m.key,
                files=m.files,
                schema_json=m.schema_json,
                stats_cols=m.stats_cols,
                dv_files=list(m.dv_files),
                operation=f"rename column ({old} -> {new})",
                rename_map=rm,
            )
        )
        return m.version + 1

    # ---------- merge-on-read deletion vectors ----------
    def dv_keys(
        self, m: Manifest | None = None, files: set[str] | None = None
    ) -> DataFrame | None:
        """The snapshot's tombstoned keys as a (file, <key>) DataFrame,
        or None when the snapshot carries no deletion vectors.
        ``files`` restricts to tombstones of those data files (smaller
        build side when only a file subset is being read/merged)."""
        m = m or self.manifest()
        if not m.dv_files or (files is not None and not files):
            return None
        dv = self.spark.read.parquet(
            *[os.path.join(self.path, p) for p in m.dv_files]
        )
        if files is not None:
            dv = dv.filter(F.col("file").isin(sorted(files)))
        return dv

    def apply_dv(self, df: DataFrame, m: Manifest | None = None) -> DataFrame:
        """Drop tombstoned rows from a snapshot scan (one anti-join on
        the key; correct table-wide because keys are unique, so a
        tombstone can only ever match the row it was written for). The
        DV set is tiny relative to the table — Spark auto-broadcasts it
        under the usual threshold, so at scale this is a broadcast anti
        join on the scan, not a shuffle."""
        m = m or self.manifest()
        dv = self.dv_keys(m)
        if dv is None:
            return df
        return df.join(dv.select(m.key).distinct(), on=m.key, how="left_anti")

    def _reader(self, m: Manifest):
        """Reader pinned to the snapshot's stored schema: files written
        before an additive schema evolution lack the newer columns and
        the parquet source null-fills them; also skips footer schema
        inference entirely (one less driver-side file open at scale)."""
        if m.schema_json is None:
            return self.spark.read
        from pyspark.sql.types import StructType

        return self.spark.read.schema(
            StructType.fromJson(json.loads(m.schema_json))
        )

    def read_range(
        self,
        lower: Any = None,
        upper: Any = None,
        version: int | None = None,
    ) -> DataFrame:
        """Key-range scan with MANIFEST pruning — the reference's primary
        read pattern (``seekToKey`` + stats skip, ParquetRewriter.java:
        253-301) as a query-time operator. Files whose [key_min, key_max]
        misses the bound are dropped on the DRIVER, before Spark ever
        lists them: at a million-file manifest the scan job only sees the
        overlapping handful (parquet row-group stats then prune further
        inside each file). Bounds are inclusive; either side may be None.
        """
        m = self.manifest(version)
        entries = [
            e
            for e in m.files
            if (upper is None or e.key_min <= upper)
            and (lower is None or e.key_max >= lower)
        ]
        if not entries:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m.schema_json))
            return self.spark.createDataFrame([], schema)
        df = self.apply_dv(
            self._reader(m).parquet(
                *[os.path.join(self.path, e.name) for e in entries]
            ),
            m,
        )
        # residual predicate (pushed to the parquet scan) — manifest
        # pruning is file-granular, rows outside the bound remain
        if lower is not None:
            df = df.filter(F.col(m.key) >= lower)
        if upper is not None:
            df = df.filter(F.col(m.key) <= upper)
        return self._to_logical(df, m)

    def read_where(
        self,
        predicates: dict[str, tuple[Any, Any]],
        version: int | None = None,
    ) -> DataFrame:
        """Scan with driver-side file pruning on SECONDARY zone maps.

        ``predicates`` maps column → (lower, upper) inclusive range
        bounds (either side may be None). Files whose manifest-recorded
        min/max for a predicate column miss the range are dropped on the
        driver before Spark lists them — the key's zone-map trick
        (ParquetRewriter.java:253-301) generalized to any column the
        table tracks via ``stats_cols``. Pruning selectivity depends on
        the physical layout: clustered/Z-ordered columns prune well,
        uncorrelated columns not at all — correctness never depends on
        it, because a file with no recorded stats is always kept and the
        residual predicate is pushed into the parquet scan.
        """
        m = self.manifest(version)
        entries = [e for e in m.files if self.zone_keep(m, e, predicates)]
        if not entries:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m.schema_json))
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.apply_dv(
                self._reader(m).parquet(
                    *[os.path.join(self.path, e.name) for e in entries]
                ),
                m,
            )
        for col, (lo, hi) in predicates.items():
            pcol = self.to_physical(col, m)
            if lo is not None:
                df = df.filter(F.col(pcol) >= lo)
            if hi is not None:
                df = df.filter(F.col(pcol) <= hi)
        return self._to_logical(df, m)

    def zone_keep(self, m: "Manifest", e: "ManifestEntry",
                  predicates: dict[str, tuple[Any, Any]]) -> bool:
        """THE per-file zone-map keep decision — read_where prunes with
        it and the scan router reports with it, so a report can never
        silently diverge from actual pruning.

        Footer timestamp bounds are tz-AWARE (parquet isAdjustedToUTC)
        while query bounds are session-local naive — render aware bounds
        naive in the session zone before comparing (same mismatch
        plan_dirty_files handles)."""
        tz = self.spark.conf.get("spark.sql.session.timeZone", None) or "UTC"

        def _norm(v: Any) -> Any:
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                from zoneinfo import ZoneInfo

                return v.astimezone(ZoneInfo(tz)).replace(tzinfo=None)
            return v

        # predicates arrive with LOGICAL names; stats are physical
        predicates = {self.to_physical(c, m): b for c, b in predicates.items()}
        for col, (lo, hi) in predicates.items():
            if col == m.key:
                cmin, cmax = e.key_min, e.key_max
            else:
                mm = e.col_stats.get(col)
                if mm is None:
                    continue  # no stats: cannot prune this file on this column
                cmin, cmax = mm
            cmin, cmax = _norm(cmin), _norm(cmax)
            if (hi is not None and cmin > _norm(hi)) or (
                lo is not None and cmax < _norm(lo)
            ):
                return False
        return True

    # ---------- write internals ----------
    def _write_sorted(
        self,
        df: DataFrame,
        key: str,
        max_records_per_file: int,
        num_files: int | None = None,
        prepartitioned: bool = False,
        bucket_col: str | None = None,
    ) -> str:
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        # INT96 timestamps (Spark's legacy default) carry no usable footer
        # min/max — a timestamp KEY would hard-fail stats collection.
        # Write INT64 micros; set here (not only the session factory) so
        # externally-built sessions get correct tables too.
        self.spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        writer = df
        if bucket_col is not None:
            # Manifest-bucketed merge write: the caller hash-partitioned
            # on identity-remapped bucket ids, so each task holds
            # exactly one bucket VALUE (distinct values occupy distinct
            # partitions by remap construction; indexes that SHARE a
            # value land together, where sorting by (bucket, key) is
            # just the key sort). Files therefore come out key-sorted,
            # and maxRecordsPerFile rolls keep each one a contiguous
            # chunk. Sorting on (bucket, key) instead of (key) lets
            # Catalyst elide the sort entirely: the merge window
            # upstream already ordered partitions exactly that way. A
            # partitionBy(bucket) write would pin file boundaries to the
            # bucket cuts, but the dynamic-partition writer costs ~20%
            # extra wall time (measured) for boundary alignment pruning
            # never needs.
            (
                writer.sortWithinPartitions(bucket_col, key)
                .drop(bucket_col)
                .write.option("maxRecordsPerFile", str(max_records_per_file))
                .mode("overwrite")
                .parquet(staging)
            )
            return staging
        if prepartitioned:
            # Caller guarantees df is already range-clustered on the key
            # (merge range-partitions BEFORE its dedup window, so one
            # exchange serves both) — adding another repartitionByRange
            # here would shuffle the whole merge output a second time.
            # The sortWithinPartitions below stays: it's optimized away
            # when the upstream already sorted by key.
            pass
        elif num_files is not None:
            writer = writer.repartitionByRange(num_files, F.col(key))
        else:
            writer = writer.repartitionByRange(F.col(key))
        (
            writer.sortWithinPartitions(key)
            .write.option("maxRecordsPerFile", str(max_records_per_file))
            .mode("overwrite")
            .parquet(staging)
        )
        return staging

    def _adopt_staged(
        self,
        staging: str,
        key: str,
        stats_cols: list[str] | None = None,
    ) -> list[ManifestEntry]:
        """Move staged part-files into the table dir under fresh names.

        ``stats_cols=None`` means "inherit the current manifest's" — so
        merge/compact propagate secondary zone maps without every call
        site threading them. Sidecar rows for the new files are built
        by the commit (``_commit_manifest``), not here.
        """
        if stats_cols is None:
            try:
                stats_cols = self.manifest().stats_cols
            except FileNotFoundError:
                stats_cols = []
        entries: list[ManifestEntry] = []
        staged = list_parquet_files(staging)
        stats = collect_file_stats(
            self.spark, staging, key, files=staged, stats_cols=stats_cols
        )
        for st in stats:
            if st.num_rows == 0:
                continue
            new_name = f"part-{uuid.uuid4().hex}.parquet"
            os.replace(st.path, os.path.join(self.path, new_name))
            entries.append(
                ManifestEntry(
                    name=new_name,
                    rows=st.num_rows,
                    bytes=st.num_bytes,
                    key_min=st.key_min,
                    key_max=st.key_max,
                    col_stats={c: list(mm) for c, mm in st.col_stats.items()},
                )
            )
        shutil.rmtree(staging, ignore_errors=True)
        return entries

    def clone(
        self, dst_path: str, version: "int | str | None" = None
    ) -> "SortedTable":
        """Zero-copy snapshot clone: hard-link the snapshot's data
        files into ``dst_path`` and write a fresh v0 manifest.
        ``version`` (number or tag) clones a RETAINED historical
        snapshot — how catalog branches fork from pinned versions.

        O(files) metadata work, no bytes moved — cheap dev/test copies
        and branch-like workflows. Safe because data files are immutable
        (merges write NEW files; vacuum unlinks, which leaves the
        clone's links intact). On an object store the equivalent is a
        manifest copy over shared immutable objects. Sidecars are not
        cloned and their registrations dropped — re-enable to rebuild;
        secondary zone maps ride along in the manifest itself.
        """
        m = self.manifest(version)
        os.makedirs(dst_path, exist_ok=True)
        for e in m.files:
            os.link(
                os.path.join(self.path, e.name), os.path.join(dst_path, e.name)
            )
        for rel in m.dv_files:  # DV sidecars are dirs of immutable parts
            src_dir, dst_dir = os.path.join(self.path, rel), os.path.join(dst_path, rel)
            os.makedirs(dst_dir, exist_ok=True)
            for part in os.listdir(src_dir):
                if not part.startswith(("_", ".")):
                    os.link(os.path.join(src_dir, part), os.path.join(dst_dir, part))
        t = SortedTable(self.spark, dst_path)
        t._commit_manifest(
            Manifest(
                version=0,
                key=m.key,
                files=list(m.files),
                schema_json=m.schema_json,
                stats_cols=list(m.stats_cols),
                bloom_cols=[],  # sidecar not cloned; re-enable to rebuild
                dv_files=list(m.dv_files),
                operation=f"clone of {self.path}@v{m.version}",
                # pure-metadata state MUST carry: the cloned files hold
                # PHYSICAL column names, so dropping rename_map would
                # surface them (different columns than the source);
                # txns keep exactly-once replay skipping intact when a
                # stream is pointed at the clone (WAP stages, branches)
                rename_map=dict(m.rename_map or {}),
                txns=dict(m.txns or {}),
                # a v0 commit has no parent to inherit from, so sketch/
                # drift registrations do not carry either
            )
        )
        return t

    # ---------- metadata-only DDL ----------
    def restore(self, version: int) -> int:
        """Roll the table back to snapshot ``version`` as a NEW commit
        (the prior history stays intact — restore is itself
        time-travelable and vacuum-safe). No data file is rewritten:
        the commit re-lists the old snapshot's immutable files (and,
        like any commit, builds registered sidecar rows for the
        re-listed files the current snapshot lacks)."""
        target = self.manifest(version)
        cur = self.manifest()
        self._commit_manifest(
            Manifest(
                version=cur.version + 1,
                key=target.key,
                files=list(target.files),
                schema_json=target.schema_json,
                stats_cols=list(target.stats_cols),
                bloom_cols=list(target.bloom_cols),
                dv_files=list(target.dv_files),
                operation=f"restore-v{version}",
            )
        )
        return cur.version + 1

    def add_column(self, name: str, dtype: str) -> int:
        """Metadata-only ADD COLUMN: append a nullable field to the
        manifest schema. No file is touched — the pinned-schema reader
        (_reader) null-fills the column for every existing file; the
        next merge writes it physically for rewritten files."""
        from pyspark.sql.types import StructField, StructType

        from pyspark.sql.types import _parse_datatype_string  # public-API parser

        m = self.manifest()
        if m.schema_json is None:
            raise ValueError("table has no recorded schema")
        schema = StructType.fromJson(json.loads(m.schema_json))
        phys = {f.name for f in schema.fields}
        logical = {(m.rename_map or {}).get(pn, pn) for pn in phys}
        if name in phys or name in logical:
            # physical clash: files already carry bytes under this name;
            # logical clash: the read-side rename would emit duplicates
            raise ValueError(f"column {name!r} already exists")
        schema = StructType(
            list(schema.fields) + [StructField(name, _parse_datatype_string(dtype), True)]
        )
        return self._commit_schema(m, schema, f"add-column {name}")

    def drop_column(self, name: str) -> int:
        """Metadata-only DROP COLUMN: remove the field from the manifest
        schema. Bytes stay in place; the pinned-schema reader simply
        never projects them (and merges physically shed the column from
        files they rewrite). Caveat of parquet-by-name resolution: re-
        adding the SAME name with a DIFFERENT type later would clash
        with old files' physical type — re-add with the original type,
        or compact first."""
        from pyspark.sql.types import StructType

        m = self.manifest()
        pname = self.to_physical(name, m)  # drop accepts the LOGICAL name
        if pname == m.key:
            raise ValueError(f"cannot drop the table key {name!r}")
        if m.schema_json is None:
            raise ValueError("table has no recorded schema")
        old_fields = StructType.fromJson(json.loads(m.schema_json)).fields
        schema_fields = [f for f in old_fields if f.name != pname]
        if len(schema_fields) == len(old_fields):
            raise ValueError(f"no such column {name!r}")
        rm = dict(m.rename_map or {})
        rm.pop(pname, None)  # a dropped column's mapping must not linger
        return self._commit_schema(
            m, StructType(schema_fields), f"drop-column {name}", rename_map=rm
        )

    def _commit_schema(
        self, m: Manifest, schema, operation: str,
        rename_map: dict[str, str] | None = None,
    ) -> int:
        self._commit_manifest(
            Manifest(
                version=m.version + 1,
                key=m.key,
                files=list(m.files),
                schema_json=schema.json(),
                stats_cols=[c for c in m.stats_cols if c in {f.name for f in schema.fields}],
                bloom_cols=[c for c in m.bloom_cols if c in {f.name for f in schema.fields}],
                sketch_cols=[
                    c for c in (m.sketch_cols or [])
                    if c in {f.name for f in schema.fields}
                ],
                dv_files=list(m.dv_files),
                operation=operation,
                rename_map=rename_map,
            )
        )
        return m.version + 1

    # ---------- maintenance ----------
    def vacuum(
        self,
        retain_versions: int = 1,
        retain_asof: "datetime.datetime | str | None" = None,
    ) -> list[str]:
        """Garbage-collect: drop snapshot manifests beyond the retention
        policy and delete data files referenced by no retained snapshot.

        Two policies, combinable (a snapshot survives if EITHER keeps
        it): ``retain_versions`` keeps the newest N (=1 is the
        pre-time-travel behavior); ``retain_asof`` keeps every snapshot
        committed at or after the given instant PLUS the newest one
        before it — the Delta-style time-based retention, preserving
        ``read_asof(t)`` for every t ≥ retain_asof (the straddling
        snapshot is what an as-of read at exactly ``retain_asof``
        resolves to, so it must survive)."""
        retain_versions = max(1, retain_versions)
        versions = self.versions()
        keep_versions = versions[-retain_versions:] if versions else []
        if retain_asof is not None:
            cut = self._parse_ts(retain_asof)
            straddler = None
            for v in versions:
                at = self._parse_ts(self.manifest(v).committed_at)
                if at >= cut:
                    if v not in keep_versions:
                        keep_versions.append(v)
                elif straddler is None or v > straddler:
                    straddler = v
            if straddler is not None and straddler not in keep_versions:
                keep_versions.append(straddler)
            keep_versions.sort()
        # tags pin their snapshots (and files) through any GC policy —
        # a tag IS the promise that read(tag) stays reproducible; branch
        # fork points pin the same way so a branch can always diff /
        # rebase against the exact snapshot it forked from
        pinned = list(self.tags().values()) + [
            b["base_version"] for b in self.branches().values()
        ]
        for v in pinned:
            if v in versions and v not in keep_versions:
                keep_versions.append(v)
        keep_versions.sort()
        for v in versions:
            if v not in keep_versions:
                os.remove(os.path.join(self.path, f"_manifest.v{v}.json"))
        live = {e.name for e in self.manifest().files}
        live_dv: set[str] = set(self.manifest().dv_files)
        for v in keep_versions:
            mv = self.manifest(v)
            live.update(e.name for e in mv.files)
            live_dv.update(mv.dv_files)
        removed = []
        for p in list_parquet_files(self.path):
            name = os.path.basename(p)
            if name not in live:
                os.remove(p)
                removed.append(name)
        # DV sidecars referenced by no retained snapshot are dead weight
        dv_root = os.path.join(self.path, "_dv")
        if os.path.isdir(dv_root):
            for name in os.listdir(dv_root):
                rel = f"_dv/{name}"
                if rel not in live_dv:
                    shutil.rmtree(os.path.join(dv_root, name), ignore_errors=True)
                    removed.append(rel)
        if removed:
            self._vacuum_sidecars(live)
        return removed

    def validate(self, version: int | None = None) -> dict:
        """Data-invariant audit — the DATA complement of ``fsck``'s
        filesystem audit, checking the reference's storage contract
        (ParquetRewriter.java:35-37) on an actual scan:

        - every file internally sorted by the key;
        - no key appears twice anywhere in the snapshot;
        - every manifest entry's (key_min, key_max, rows) exactly
          matches its file's contents.

        One distributed pass: per-file sortedness and bounds come from
        a window keyed by source file (one shuffle); duplicate keys
        from one groupBy. Returns violation COUNTS (empty table → all
        zeros); a healthy table returns {"ok": True, ...}."""
        m = self.manifest(version)
        if not m.files:
            return {"ok": True, "files": 0, "unsorted_files": 0,
                    "duplicate_keys": 0, "manifest_mismatches": 0}
        key = m.key
        df = self._reader(m).parquet(
            *[os.path.join(self.path, e.name) for e in m.files]
        ).select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__f"),
            F.col(key).alias("__k"),
        )
        per_file = df.groupBy("__f").agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("__k").alias("kmin"),
            F.max("__k").alias("kmax"),
        )
        stats = {r["__f"]: r for r in per_file.collect()}
        mismatches = 0
        for e in m.files:
            r = stats.get(e.name)
            if r is None or r["rows"] != e.rows or (
                r["kmin"] != e.key_min or r["kmax"] != e.key_max
            ):
                mismatches += 1
        dups = (
            self.read_physical(version)
            .groupBy(key).count().filter(F.col("count") > 1).count()
        )
        # physical in-file ORDER: a distributed scan cannot observe row
        # order portably, but the footers can — row groups of a sorted
        # file have monotonically non-overlapping key stats, and keys
        # are unique, so (rows, min, max, rg-monotonicity) pins content.
        # Footer walk runs on the driver below the distributed-stats
        # threshold and as one executor pass above it (same policy as
        # stats.collect_file_stats — a million-footer audit must not
        # serialize on the driver).
        def _file_unsorted(path: str) -> bool:
            try:
                import pyarrow.parquet as pq

                md = pq.ParquetFile(path).metadata
                idx = {md.schema.column(i).name: i
                       for i in range(md.num_columns)}.get(key)
                if idx is None:
                    return False
                prev_max = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        continue
                    if prev_max is not None and st.min < prev_max:
                        return True
                    prev_max = st.max
                return False
            except OSError:  # pragma: no cover
                return True

        from parquet_rewriter_spark.stats import DISTRIBUTED_THRESHOLD

        # an in-flight rekey (operators/rekey.py) legitimately holds
        # files clustered by the NEW key under a manifest still keyed
        # by the old one — exempt those from the in-file-order audit
        # (their bounds/rows/dup checks above still apply) instead of
        # reporting the transition itself as corruption
        rekey_done: set[str] = set()
        try:
            with open(os.path.join(self.path, "_rekey.json")) as fh:
                rekey_done = set(json.load(fh).get("done", []))
        except (FileNotFoundError, ValueError):
            pass
        paths = [os.path.join(self.path, e.name) for e in m.files
                 if e.name not in rekey_done]
        if len(paths) <= DISTRIBUTED_THRESHOLD:
            unsorted = sum(1 for p_ in paths if _file_unsorted(p_))
        else:  # pragma: no cover - needs a huge manifest
            sc = self.spark.sparkContext
            unsorted = (
                sc.parallelize(paths, max(1, len(paths) // 64))
                .map(_file_unsorted).filter(bool).count()
            )
        out = {
            "ok": mismatches == 0 and dups == 0 and unsorted == 0,
            "files": len(m.files),
            "unsorted_files": unsorted,
            "duplicate_keys": dups,
            "manifest_mismatches": mismatches,
        }
        return out

    def fsck(self, repair: bool = False, min_age_s: float = 3600.0) -> dict:
        """Storage-integrity check (and optional repair) for write
        debris no snapshot references — the operational complement of
        ``vacuum``, which only collects files RETIRED by commits:

        - ``orphan_staging``: ``_staging-*`` dirs from a writer that
          crashed between the write job and ``_adopt_staged``;
        - ``orphan_tmp``: ``_splice-*`` / ``*.patch`` / ``*.tmp-*`` /
          ``*.heal-*`` leftovers of interrupted splices and commits;
        - ``orphan_data``: ``part-*.parquet`` referenced by NO retained
          manifest (e.g. adopted by a commit that lost its version
          race and was never retried);
        - ``missing``: manifest-referenced files absent on disk —
          REPORTED, never repaired (that is data loss, not debris).

        ``repair=True`` deletes the orphan categories, but only items
        older than ``min_age_s`` — an in-flight writer's staging dir
        looks identical to a crashed one until it goes stale.
        Everything here is driver-side file metadata: O(files), no
        Spark job, safe to run concurrently with readers (orphans are
        by definition invisible to them)."""
        import time as _time

        live: set[str] = set()
        for v in self.versions():
            try:
                live.update(e.name for e in self.manifest(v).files)
            except FileNotFoundError:  # pragma: no cover - race with vacuum
                continue
        now = _time.time()

        def _stale(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) >= min_age_s
            except OSError:
                return False

        report: dict[str, list[str]] = {
            "orphan_staging": [], "orphan_tmp": [],
            "orphan_data": [], "missing": [],
        }
        for name in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, name)
            if name.startswith("_staging-") and os.path.isdir(full):
                report["orphan_staging"].append(name)
            elif (
                name.startswith("_splice-")
                or name.endswith(".patch")
                or ".tmp-" in name
                or ".heal-" in name
                or ".old-" in name
            ):
                # ``.old-*`` dirs are sidecar-vacuum debris: a crash
                # between _vacuum_sidecars' two renames leaves the
                # retired sidecar under its .old- name forever.
                report["orphan_tmp"].append(name)
            elif (
                name.startswith("part-")
                and name.endswith(".parquet")
                and name not in live
            ):
                report["orphan_data"].append(name)
        report["missing"] = sorted(
            n for n in {e.name for e in self.manifest().files}
            if not os.path.exists(os.path.join(self.path, n))
        )
        # branch debris lives BESIDE the table dir ({path}_branch_<name>):
        # a crash between delete_branch's ref drop and its rmtree (or
        # mid-rebase, leaving .rebasing/.delta) orphans a whole clone's
        # worth of hard links. Paths are recorded RELATIVE to the
        # parent, prefixed "../", so repair below can address them.
        parent = os.path.dirname(os.path.abspath(self.path.rstrip("/"))) or "."
        prefix = os.path.basename(self.path.rstrip("/")) + "_branch_"
        refs = set(self.branches())
        report["orphan_branch"] = []
        try:
            siblings = sorted(os.listdir(parent))
        except OSError:  # pragma: no cover - exotic table paths
            siblings = []
        for name in siblings:
            if not name.startswith(prefix):
                continue
            rest = name[len(prefix):]
            in_flight = rest.endswith((".rebasing", ".delta"))
            if in_flight or rest not in refs:
                report["orphan_branch"].append(name)
        if repair:
            repaired = []
            for name in report["orphan_branch"]:
                full = os.path.join(parent, name)
                if _stale(full):
                    shutil.rmtree(full, ignore_errors=True)
                    repaired.append(name)
            for name in report["orphan_staging"]:
                full = os.path.join(self.path, name)
                if _stale(full):
                    shutil.rmtree(full, ignore_errors=True)
                    repaired.append(name)
            for name in report["orphan_tmp"] + report["orphan_data"]:
                full = os.path.join(self.path, name)
                if _stale(full):
                    try:
                        # tmp debris can be directory-shaped (sidecar
                        # vacuum writes parquet DIRS as .tmp-*/.old-*)
                        if os.path.isdir(full):
                            shutil.rmtree(full, ignore_errors=True)
                        else:
                            os.remove(full)
                        repaired.append(name)
                    except OSError:  # pragma: no cover
                        pass
            report["repaired"] = repaired
        return report

    def _vacuum_sidecars(self, live: set[str]) -> None:
        """Rewrite every per-file sidecar log in the registry
        (operators/sidecar.py:SIDECAR_DIRS) keeping only live files'
        rows — the append-only logs would otherwise accrete rows for
        vacuumed files forever (they are ignored by probes via
        live-file filters, but cost scan time, unboundedly on
        high-churn tables). Each log keys rows by the ``file`` column,
        so one keep-filter rewrite per sidecar covers them all. The
        keep filter is a broadcast semi-join, never an
        O(live-file-count) IN-list literal."""
        from parquet_rewriter_spark.operators.sidecar import (
            SIDECAR_DIRS,
            semi_join_files,
        )

        for sidecar in SIDECAR_DIRS:
            side = os.path.join(self.path, sidecar)
            if not os.path.isdir(side):
                continue
            tmp = side + f".tmp-{uuid.uuid4().hex}"
            kept = semi_join_files(self.spark.read.parquet(side), live)
            kept.write.parquet(tmp)
            old = side + f".old-{uuid.uuid4().hex}"
            os.rename(side, old)
            os.rename(tmp, side)
            shutil.rmtree(old, ignore_errors=True)

    def stats(self) -> dict[str, Any]:
        m = self.manifest()
        dv_rows = sum(e.dv_rows for e in m.files)
        return {
            "version": m.version,
            "key": m.key,
            "num_files": len(m.files),
            "rows": sum(e.rows for e in m.files) - dv_rows,  # live rows
            "bytes": sum(e.bytes for e in m.files),
            "dv_rows": dv_rows,
            "dv_files": len(m.dv_files),
        }
